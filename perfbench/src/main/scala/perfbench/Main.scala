package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, SessionHygiene}

/** Closed-loop benchmark of the graft engine: one client, one JVM,
  * `local[N]` with N = available processors.
  *
  * A run sets the session up several times (`setup_s` is the median), runs
  * the workload's warm-up passes over its frozen operation list, then timed
  * passes: at least the workload's `passes`, and more until `--seconds`
  * have gone by. The seed sets the order of operations in each pass. A
  * query operation is timed in three parts, each a call into the engine's
  * public surface: build (`SparkEntry.queries`), plan
  * (`queryExecution.executedPlan` of the checksum action) and action
  * (collecting the row count and checksum). `SessionHygiene.drain` runs
  * between operations, outside the timed part.
  *
  * With `--trace 1` the timed passes alternate between untraced and traced;
  * traced passes attach a `SparkListener` and label every job with its
  * operation and phase, so each operation splits into table opens, builder
  * jobs, planning and action jobs. Only per-layer metrics are printed then;
  * end-to-end metrics come from untraced runs.
  *
  * The last line of standard output is the result JSON. A full record of
  * the run (calibration, every operation, spans) goes to
  * `<out>/records/<workload>-seed<seed>-trace<t>.json`.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      pin: Boolean, benchDir: File, outDir: File)

  /** `passes`: the fewest timed passes a run makes. */
  final case class Workload(name: String, kind: String, ops: Seq[String], warmups: Int, passes: Int)

  /** Pinned output of a query: row count, and checksum unless it does not
    * repeat across runs (then only the row count is compared).
    */
  final case class Pin(rows: Long, checksum: Option[Long])

  /** One operation. `marks` are the nanoTime stamps at build start, plan
    * start, action start and action end.
    */
  final case class OpResult(
      name: String, marks: Array[Long], ok: Boolean, note: String,
      rows: Long, checksum: Long, filesWritten: Int = 0, bytesWritten: Long = 0L) {
    def build: Double = (marks(1) - marks(0)) / 1e9
    def plan: Double = (marks(2) - marks(1)) / 1e9
    def action: Double = (marks(3) - marks(2)) / 1e9
    def total: Double = (marks(3) - marks(0)) / 1e9
  }

  final case class Pass(
      index: Int, timed: Boolean, traced: Boolean, ops: Seq[OpResult],
      drains: Seq[(Long, Long)], gcForced: Int, gcS: Double, codegenFallbacks: Long,
      jobs: Seq[(String, JobRec)]) {
    def drainS: Double = drains.map { case (s, e) => e - s }.sum / 1e9
    def seconds: Double = ops.map(_.total).sum
  }

  val SetupRepeats = 5
  /** A run stops starting passes this long after the JVM started. */
  val DeadlineS = 120.0

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parseArgs(argv))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def parseArgs(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come as --name value pairs")
    val m = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.get("trace").contains("1"),
      m.get("pin").contains("1"), new File(m("bench-dir")), new File(m("out")))
  }

  def loadWorkloads(benchDir: File): (String, Map[String, Workload]) = {
    val j = Json.read(new File(benchDir, "workloads.json"))
    val ws = j.get("workloads").elements().asScala.map { w =>
      val name = w.get("name").asText()
      name -> Workload(name, w.get("kind").asText(),
        Option(w.get("queries")).map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Seq(Ops.CorpusOp)),
        w.get("warmups").asInt(), w.get("passes").asInt())
    }.toMap
    (new File(benchDir, j.get("data").asText()).getPath, ws)
  }

  def loadPins(benchDir: File): Map[String, Pin] = {
    val f = new File(benchDir, "expected.json")
    if (!f.exists) return Map.empty
    Json.read(f).get("outputs").fields().asScala.map { e =>
      val c = e.getValue.get("checksum")
      e.getKey -> Pin(e.getValue.get("rows").asLong(),
        if (c == null || c.isNull) None else Some(c.asLong()))
    }.toMap
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def newSession(n: Int): SparkSession = {
    val s = GraftSession.builder("perfbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Starts a session `repeats` times, stopping all but the last, and
    * returns it with each start's seconds (session up and one job run).
    */
  def setUp(n: Int, repeats: Int): (SparkSession, Seq[Double]) = {
    var s: SparkSession = null
    val times = (1 to repeats).map { _ =>
      if (s != null) s.stop()
      val t0 = System.nanoTime()
      s = newSession(n)
      s.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }
    (s, times)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Each operation's median seconds across `passes`. */
  def opMedians(passes: Seq[Pass]): Map[String, Double] =
    passes.flatMap(_.ops).groupBy(_.name).map { case (k, os) => k -> median(os.map(_.total)) }

  /** A pass's seconds from per-operation medians, so one slow repetition
    * of one operation does not move it.
    */
  def passSeconds(passes: Seq[Pass]): Double = opMedians(passes).values.sum

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    }

  /** The names of the engine's declared queries, by `qNN` prefix. */
  def resolve(prefixes: Seq[String], all: Iterable[String]): Seq[String] =
    prefixes.map { p =>
      val hits = all.filter(_.startsWith(p + "_")).toSeq
      require(hits.size == 1, s"query prefix $p matches ${hits.mkString(",")}")
      hits.head
    }

  def run(a: Args): Int = {
    val jvmStart = System.nanoTime()
    val (dataDir, workloads) = loadWorkloads(a.benchDir)
    if (a.pin) return Pinning.pinAll(a.benchDir, dataDir, workloads.values.toSeq)
    val w = workloads.getOrElse(a.workload, {
      System.err.println(s"unknown workload '${a.workload}'; known: ${workloads.keys.mkString(", ")}")
      return 2
    })
    val pins = loadPins(a.benchDir)
    val queries = graft.SparkEntry.queries
    val opNames = if (w.kind == "corpus") w.ops else resolve(w.ops, queries.keys)
    val scratch = new File(a.outDir, s"work-${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")

    val (spark, setupTimes) = setUp(cores, SetupRepeats)
    CodegenFallbacks.install()
    val calibStart = Calibration.measure(spark)
    val ticksStart = Calibration.cpuTicks()
    System.err.println(s"[perfbench] calibration start ${Json.render(calibStart)}")

    val listener = new JobListener
    val spans = new Spans
    var attempted = 0
    var failed = 0
    val passes = mutable.ArrayBuffer.empty[Pass]
    var lastOutput: Option[File] = None

    def runPass(index: Int, timed: Boolean, traced: Boolean): Pass = {
      val order = new scala.util.Random(a.seed * 1000003L + index).shuffle(opNames)
      if (traced) spark.sparkContext.addSparkListener(listener)
      val gc0 = gcSeconds()
      val cg0 = CodegenFallbacks.count
      val drains = mutable.ArrayBuffer.empty[(Long, Long)]
      var gcForced = 0
      val results = order.zipWithIndex.map { case (name, i) =>
        val opId = s"$index.$i"
        def label(phase: String): Unit =
          if (traced) spark.sparkContext.setLocalProperty(JobListener.SpanKey,
            if (phase == null) null else s"$opId/$phase")
        val r =
          if (w.kind == "corpus") {
            // each run's output replaces the previous one; the last is parsed back
            lastOutput.foreach(Ops.deleteTree)
            lastOutput = Some(new File(scratch, opId))
            Ops.verify(Ops.corpus(spark, lastOutput.get, label),
              pins.get(name).map(_.copy(checksum = None)))
          } else Ops.verify(Ops.query(spark, name, queries(name), dataDir, label), pins.get(name))
        attempted += 1
        if (!r.ok) {
          failed += 1
          System.err.println(s"[perfbench] $name FAILED: ${r.note}")
        }
        val d0 = System.nanoTime()
        if (SessionHygiene.drain(spark).gcRan) gcForced += 1
        drains += ((d0, System.nanoTime()))
        r
      }
      val gcS = gcSeconds() - gc0
      val cg = CodegenFallbacks.count - cg0
      val jobs =
        if (!traced) Nil
        else {
          JobListener.waitForEvents(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          listener.drain().map(j => j.span -> j)
        }
      val p = Pass(index, timed, traced, results, drains.toSeq, gcForced, gcS, cg, jobs)
      if (traced) Layers.recordPass(spans, p)
      p
    }

    (0 until w.warmups).foreach(i => passes += runPass(i, timed = false, traced = false))
    val t0 = System.nanoTime()
    var i = w.warmups
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def timedCount: Int = passes.count(_.timed)
    // A traced run alternates untraced and traced passes (untraced, traced,
    // untraced, ...), so a pass-to-pass warm-up trend cancels out of the
    // tracing overhead.
    val minTimed = if (a.trace) math.max(3, w.passes) else w.passes
    while (timedCount < minTimed ||
        (elapsed < a.seconds && (System.nanoTime() - jvmStart) / 1e9 < DeadlineS)) {
      passes += runPass(i, timed = true, traced = a.trace && timedCount % 2 == 1)
      i += 1
    }

    lastOutput.foreach { out =>
      val last = passes.last.ops.last
      val r = Ops.verify(Ops.parseBack(spark, out, last), pins.get(last.name))
      if (last.ok && !r.ok) {
        failed += 1
        System.err.println(s"[perfbench] ${r.name} parse-back FAILED: ${r.note}")
      }
    }
    val kernels = if (a.trace) Kernels.nsPerRow(spark, dataDir) else Map.empty[String, Double]
    val stealFrac = Calibration.stealFrac(ticksStart, Calibration.cpuTicks())
    val calibEnd = Calibration.measure(spark)
    System.err.println(s"[perfbench] calibration end ${Json.render(calibEnd)}")

    val untraced = passes.filter(p => p.timed && !p.traced).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setupTimes), "s"),
        ("pass_s", passSeconds(untraced), "s"),
        ("op_p50_s", median(opMedians(untraced).values.toSeq), "s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else Layers.metrics(passes.filter(p => p.timed && p.traced).toSeq, untraced,
        kernels, calibStart + ("cpu_steal_frac" -> stealFrac), cores)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> cores, "setup_s" -> setupTimes,
      "calibration" -> Map("start" -> calibStart, "end" -> calibEnd, "cpu_steal_frac" -> stealFrac),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "passes" -> passes.map { p =>
        mutable.LinkedHashMap("index" -> p.index, "timed" -> p.timed, "traced" -> p.traced,
          "pass_s" -> p.seconds, "drain_s" -> p.drainS,
          "codegen_fallbacks" -> p.codegenFallbacks,
          "ops" -> p.ops.map(o => mutable.LinkedHashMap("name" -> o.name, "build_s" -> o.build,
            "plan_s" -> o.plan, "action_s" -> o.action, "ok" -> o.ok, "note" -> o.note)))
      },
      "spans" -> spans.all.map(s => Seq(s.id, s.parent, s.layer, s.op, s.startUs, s.endUs)))
    val recDir = new File(a.outDir, "records")
    recDir.mkdirs()
    java.nio.file.Files.writeString(
      new File(recDir, s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json").toPath,
      Json.render(record) + "\n")

    spark.stop()
    Ops.deleteTree(scratch)
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }: _*))))
    0
  }
}
