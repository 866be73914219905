package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder("graft-verify")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.CodegenFallbacks.install()
    new java.io.File(outDir).mkdirs()
    // Targeted mode (local triage, mirrors SPARK_GRAFT_BENCH_ONLY): dump
    // and declare only the named comma-separated queries
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        val (_, fallbacks) = graft.core.CodegenFallbacks.during(
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name"))
        if (fallbacks > 0) System.err.println(
          s"[verify] $name codegen fallbacks: $fallbacks")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // 250+ queries in one JVM: release each query's cached blocks and
      // keep the ContextCleaner queue drained (see SessionHygiene) so the
      // tail of the run isn't taxed by the head's debris
      graft.core.SessionHygiene.drain(spark): Unit
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
