package perfbench

import java.io.File

import scala.collection.mutable

import graft.core.SessionHygiene
import perfbench.Main.{OpResult, Workload}

/** Writes `expected.json`: the row count and checksum of every operation
  * the workloads run, from two runs in each of two sessions (all
  * processors, and two). A checksum that differs between those four runs
  * is not pinned; that operation is then checked by its row count only.
  * Run it on a known-good engine build:
  * `python3 perfbench/run.py --pin 1`.
  */
object Pinning {
  def pinAll(benchDir: File, dataDir: String, workloads: Seq[Workload]): Int = {
    val queries = graft.SparkEntry.queries
    val names = workloads.filter(_.kind == "queries")
      .flatMap(w => Main.resolve(w.ops, queries.keys)).distinct.sorted
    val cores = Seq(Main.cores, 2).distinct
    val seen = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[OpResult]]
    def note(r: OpResult, n: Int): Unit = {
      seen.getOrElseUpdate(r.name, mutable.ArrayBuffer.empty) += r
      System.err.println(f"[pin] local[$n] ${r.name} build ${r.build}%.3f plan ${r.plan}%.3f " +
        f"action ${r.action}%.3f rows ${r.rows} ${r.note}")
    }
    cores.foreach { n =>
      val spark = Main.newSession(n)
      for (name <- names; _ <- 1 to 2) {
        note(Ops.query(spark, name, queries(name), dataDir, _ => ()), n)
        SessionHygiene.drain(spark)
      }
      (1 to 2).foreach { i =>
        val out = new File(benchDir, s"out/pin-corpus-$i")
        note(Ops.parseBack(spark, out, Ops.corpus(spark, out, _ => ())), n)
        Ops.deleteTree(out)
      }
      spark.stop()
    }
    val bad = seen.collect { case (k, rs) if !rs.forall(_.ok) || rs.map(_.rows).distinct.size != 1 => k }
    if (bad.nonEmpty) {
      System.err.println(s"[pin] failing or unstable row counts: ${bad.mkString(", ")}")
      return 1
    }
    val outputs = seen.map { case (k, rs) =>
      val sums = rs.map(_.checksum).distinct
      k -> mutable.LinkedHashMap("rows" -> rs.head.rows,
        "checksum" -> (if (sums.size == 1) Some(sums.head) else None))
    }
    val countOnly = outputs.collect { case (k, o) if o("checksum") == None => k }
    java.nio.file.Files.writeString(new File(benchDir, "expected.json").toPath,
      Json.render(mutable.LinkedHashMap(
        "pinned_with_cores" -> cores, "count_only" -> countOnly, "outputs" -> outputs)) + "\n")
    0
  }
}
