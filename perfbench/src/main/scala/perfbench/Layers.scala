package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.core.{SessionHygiene, Tables}
import graft.functions.{CosineSim, MinHashSig, QDigestCompress, ShingleHashes}
import perfbench.Main.Pass

/** Per-layer metrics of a traced run. Times are seconds per pass, job
  * counts are per operation; `open` jobs are parquet schema-inference jobs
  * (`parquet at …`), `materialize` jobs are `localCheckpoint at …`, and
  * `write` jobs are text sinks (`text at …`).
  */
object Layers {

  def metrics(
      traced: Seq[Pass], untraced: Seq[Pass], kernels: Map[String, Double],
      calib: Map[String, Double], cores: Int): Seq[(String, Double, String)] = {
    val np = traced.size.toDouble
    val ops = traced.flatMap(_.ops)
    val nOps = math.max(1, ops.size).toDouble
    val jobs = traced.flatMap(_.jobs)
    def phase(p: String) = jobs.collect { case (l, j) if l.endsWith("/" + p) => j }
    def ofKind(k: String) = jobs.collect { case (_, j) if j.kind == k => j }
    val buildJobs = phase("build")
    val actionJobs = phase("action")
    val passS = traced.map(_.seconds).sum / np
    val buildS = ops.map(_.build).sum / np
    val planS = ops.map(_.plan).sum / np
    val actionS = ops.map(_.action).sum / np
    val taskS = actionJobs.map(_.taskMs).sum / 1e3 / np
    val writers = ops.filter(_.filesWritten > 0)
    Seq(
      ("core.tables.open_jobs", ofKind("open").size / nOps, "count/op"),
      ("core.tables.open_s", ofKind("open").map(_.seconds).sum / np, "s/pass"),
      ("queries.build_s", buildS, "s/pass"),
      ("queries.build_jobs", buildJobs.size / nOps, "count/op"),
      ("queries.materialize_jobs", ofKind("materialize").size / nOps, "count/op"),
      ("queries.jobs_per_op", jobs.size / nOps, "count/op"),
      ("queries.build_share", buildS / passS, "fraction"),
      ("plan.plan_s", planS, "s/pass"),
      ("action.s", actionS, "s/pass"),
      ("action.share", actionS / passS, "fraction"),
      ("action.jobs", actionJobs.size / nOps, "count/op"),
      ("action.stages", actionJobs.map(_.stages).sum / nOps, "count/op"),
      ("action.tasks", actionJobs.map(_.tasks).sum / nOps, "count/op"),
      ("action.task_s", taskS, "s/pass"),
      ("action.util", taskS / (actionS * cores), "fraction"),
      ("action.shuffle_write_mb", actionJobs.map(_.shuffleWriteBytes).sum / 1048576.0 / np, "MB/pass"),
      ("action.spill_mb", actionJobs.map(_.spillBytes).sum / 1048576.0 / np, "MB/pass"),
      ("action.codegen_fallbacks", traced.map(_.codegenFallbacks).sum / np, "count/pass"),
    ) ++ Kernels.names.map(k => (s"functions.$k.ns_per_row", kernels(k), "ns/row")) ++ Seq(
      ("sources.kvblock.write_s", ofKind("write").map(_.seconds).sum / np, "s/pass"),
      ("sources.kvblock.files_written", writers.map(_.filesWritten).sum / nOps, "count/op"),
      ("sources.kvblock.bytes_per_record",
        if (writers.isEmpty) 0.0 else writers.map(_.bytesWritten).sum.toDouble / writers.map(_.rows).sum,
        "B/record"),
      ("core.hygiene.drain_s", traced.map(_.drainS).sum / np, "s/pass"),
      ("core.hygiene.gc_forced", traced.map(_.gcForced).sum / np, "count/pass"),
      ("jvm.gc_s", traced.map(_.gcS).sum / np, "s/pass"),
      ("trace.overhead_s",
        Main.passSeconds(traced) - Main.passSeconds(untraced), "s/pass"),
      ("calib.jvm_loop_ms", calib("jvm_loop_ms"), "ms"),
      ("calib.spark_job_ms", calib("spark_job_ms"), "ms"),
      ("calib.cpu_steal_frac", calib("cpu_steal_frac"), "fraction"))
  }

  /** Spans of one traced pass: pass → op → build/plan/action → job, plus
    * the drains between operations.
    */
  def recordPass(spans: Spans, p: Pass): Unit = {
    val start = p.ops.headOption.map(_.marks(0)).getOrElse(0L)
    val end = (p.ops.map(_.marks(3)) ++ p.drains.map(_._2)).maxOption.getOrElse(start)
    val passId = spans.add(0, "pass", s"pass ${p.index}", spans.us(start), spans.us(end))
    val phaseIds = p.ops.zipWithIndex.flatMap { case (o, i) =>
      val opId = spans.add(passId, "op", o.name, spans.us(o.marks(0)), spans.us(o.marks(3)))
      Seq("build", "plan", "action").zipWithIndex.collect {
        case (ph, k) if o.marks(k + 1) > o.marks(k) =>
          s"${p.index}.$i/$ph" -> spans.add(opId, ph, o.name, spans.us(o.marks(k)), spans.us(o.marks(k + 1)))
      }
    }.toMap
    p.drains.foreach { case (s, e) => spans.add(passId, "drain", "", spans.us(s), spans.us(e)) }
    p.jobs.foreach { case (label, j) =>
      val parent = phaseIds.getOrElse(label, passId)
      val op = p.ops(label.takeWhile(_ != '/').split('.')(1).toInt).name
      spans.add(parent, s"job.${j.kind}", op, j.startMs * 1000L, j.endMs * 1000L)
    }
  }
}

/** ns/row of compiled kernels the compute-heavy queries call. Each kernel
  * is evaluated through its public Column in one task over the sf0.1
  * documents or embeddings, each row repeated a fixed number of times so
  * that the kernel, not the job around it, sets the scan time. Its cost is
  * the time of that scan minus a pass-through scan that computes and
  * touches the same input columns. Best of `Reps` for both, interleaved.
  */
object Kernels {
  val names: Seq[String] = Seq("shingle_hashes", "minhash_sig", "cosine_sim", "qdigest_compress")
  private val Reps = 3

  def nsPerRow(spark: SparkSession, dataDir: String): Map[String, Double] = {
    def copies(t: String, n: Int): DataFrame = Tables.load(spark, dataDir, t).coalesce(1)
      .crossJoin(spark.range(0, n, 1, 1).toDF("rep"))
    val text = col("text")
    val shingles = ShingleHashes.shingleHashes(spark, text, 5)
    val nodes = transform(sequence(lit(1), lit(32)), i => struct(
      lit(0).as("lvl"),
      pmod(hash(col("doc_id"), col("rep"), i), lit(1024)).cast("long").as("cell"),
      lit(1L).as("cnt")))
    val (a, b) = (col("embedding"), reverse(col("embedding")))
    // (name, table, copies of each row, kernel inputs, kernel)
    val specs: Seq[(String, String, Int, Seq[Column], Column)] = Seq(
      ("shingle_hashes", "documents", 4, Seq(text), shingles),
      ("minhash_sig", "documents", 4, Seq(shingles), MinHashSig.expr(shingles, 64)),
      ("cosine_sim", "embeddings", 400, Seq(a, b), CosineSim.cosineSim(spark, a, b)),
      ("qdigest_compress", "documents", 2, Seq(nodes), QDigestCompress.expr(nodes, 10, 16)))
    val out = specs.map { case (name, table, n, inputs, kernel) =>
      val df = copies(table, n)
      val rows = df.count().toDouble
      def scan(cs: Seq[Column]): DataFrame = {
        val probe = df.select(cs.zipWithIndex.map { case (c, i) => c.as(s"v$i") }: _*)
        probe.select(sum(probe.schema.fields.toSeq.map { f =>
          f.dataType match {
            case _: ArrayType => size(col(f.name)).cast("double")
            case StringType => length(col(f.name)).cast("double")
            case _ => col(f.name).cast("double")
          }
        }.reduce(_ + _)))
      }
      def time(q: DataFrame): Long = {
        val t0 = System.nanoTime()
        q.collect()
        System.nanoTime() - t0
      }
      val (withKernel, through) = (scan(Seq(kernel)), scan(inputs))
      val pairs = (1 to Reps).map(_ => (time(withKernel), time(through)))
      val ns = (pairs.map(_._1).min - pairs.map(_._2).min) / rows
      System.err.println(f"[perfbench] kernel $name rows ${rows}%.0f kernel ${pairs.map(_._1).min / 1e6}%.1f ms " +
        f"pass-through ${pairs.map(_._2).min / 1e6}%.1f ms -> $ns%.1f ns/row")
      name -> ns
    }.toMap
    SessionHygiene.drain(spark)
    out
  }
}

/** A fixed amount of pure-JVM work and a fixed tiny Spark job, timed at
  * the start and end of every run, and the share of the machine's CPU time
  * that the hypervisor stole during the run. None of them touches the
  * engine: they tell a slower machine apart from slower code.
  */
object Calibration {
  @volatile private var sink = 0L

  /** Each is the best of three, so that the first, not yet compiled
    * iterations do not count.
    */
  def measure(spark: SparkSession): Map[String, Double] = {
    def bestMs(work: => Unit): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      work
      System.nanoTime() - t0
    }.min / 1e6
    Map(
      "jvm_loop_ms" -> bestMs {
        var x = 88172645463325252L
        var acc = 0L
        var i = 0
        while (i < 50000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += x
          i += 1
        }
        sink = acc
      },
      "spark_job_ms" -> bestMs {
        spark.range(0, 2000000, 1, Main.cores).select(sum(hash(col("id")).cast("long"))).collect()
      })
  }

  /** The machine's cumulative (steal, total) CPU time in clock ticks, from
    * the first line of `/proc/stat`; (0, 0) where that cannot be read.
    */
  def cpuTicks(): (Long, Long) =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
      // cpu user nice system idle iowait irq softirq steal ...
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length == 8) f(7) else 0L, f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Share of CPU time stolen between two [[cpuTicks]] readings. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}
