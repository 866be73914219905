package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark: every declared query on SPARK_GRAFT_SF_DIR, plus
  * the reference's headline workload — the full ~62.7k-record institution
  * corpus (6,272 pages × 10) through ingest → KV render/parse → rule
  * filter → aggregate → partitioned write, which the reference clocks at
  * ~180 s (BASELINE.md, fast_tuoyu_scraper.py:115-116; ours is compute-only
  * where theirs is network-bound, but it exercises the same operator
  * chain at the same record count).
  *
  * Prints ONE JSON line: {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}.
  *
  * Diagnostics (r7 verdict task 1 — the q86–q93 driver-env inflation):
  * every query row in BENCH_DETAIL.json carries a `diag` record with the
  * JVM/OS deltas accumulated across its timed runs — GC time/count, heap
  * used before/after, PHYSICAL disk reads and major page faults from
  * /proc/self (a jump here = page-cache eviction, the environmental
  * hypothesis), plus post-query ContextCleaner queue depth and
  * shuffle-spill disk usage (a climb here = accumulated-session-state
  * hypothesis), and the whole-stage codegen fallbacks its runs caused
  * (graft.core.CodegenFallbacks: each is a rejected 64 KB compile).
  * `SPARK_GRAFT_BENCH_ISOLATE=k` re-runs the suite with a FRESH
  * SparkSession (new SparkContext) per group of k queries — if
  * inflation vanishes under isolation it is accumulated JVM state; if it
  * persists it is the environment.
  */
object Bench {

  def corpusPipeline(spark: SparkSession, outDir: String): Long = {
    import graft.sources.KvBlock
    val raw = spark.read.format("graft-paged")
      .option("pages", "6272").option("pagesize", "10")
      .option("pagesperpartition", "64").load()
    // S14/S1 round trip: render each record as a 键：值 block, parse back.
    // parseFields hands the fields out of a one-row generator: through
    // plain projections the optimizer would push the rule filter below
    // them, inlining kv_parse(kv_render(…)) into its condition, and every
    // row would render and parse again in the projections above it.
    val parsed = KvBlock.parseFields(raw,
      KvBlock.renderBlock(Seq(
        "机构名称" -> col("name"),
        "统一社会信用代码" -> col("credit_code"),
        "机构类型" -> col("institution_type"),
        "区域编号" -> col("region_code"))),
      Seq("institution_type" -> "机构类型", "region_code" -> "区域编号"))
    // Rule filter (P6/P10 analog): province prefix + type dispatch.
    val filtered = parsed
      .withColumn("province_code", substring(col("region_code"), 1, 2))
      .filter(col("institution_type") === "非营利性" || col("province_code") === "14")
    // A5 + S14: per-province aggregate and partitioned text sink. The
    // record count rides the write job via Observation — exactly ONE
    // execution of the pipeline, no cache pressure.
    val obs = org.apache.spark.sql.Observation("corpus_n")
    // coalescePartitions=false: this corpus is single-province (maximally
    // skewed) — tasks must shard the hot partition value, not collapse it;
    // the sink coalesces to one write task per core
    KvBlock.writePartitioned(
      filtered.observe(obs, count(lit(1)).as("n")),
      col("block"), Seq("province_code"), outDir, coalescePartitions = false)
    obs.get("n").asInstanceOf[Long]
  }

  // ---- JVM/OS diagnostics ---------------------------------------------------

  /** (total GC millis, total GC count) across all collector beans. */
  private def gcStats(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  private def heapUsedMb(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed >> 20

  /** (read_bytes, write_bytes) from /proc/self/io — PHYSICAL disk I/O
    * actually issued by this process (page-cache hits do not count), the
    * direct signal for "the environment evicted the parquet page cache".
    */
  private def procIo(): (Long, Long) =
    try {
      val m = scala.io.Source.fromFile("/proc/self/io").getLines()
        .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.toLong }
        .toMap
      (m.getOrElse("read_bytes", -1L), m.getOrElse("write_bytes", -1L))
    } catch { case _: Throwable => (-1L, -1L) }

  /** Major page faults (field 12 of /proc/self/stat) — disk-backed faults,
    * the second page-cache-pressure signal.
    */
  private def majFaults(): Long =
    try {
      val s = scala.io.Source.fromFile("/proc/self/stat").mkString
      // comm (field 2) may contain spaces — split after the closing paren
      s.substring(s.lastIndexOf(')') + 2).split(" ")(9).toLong
    } catch { case _: Throwable => -1L }

  /** ContextCleaner reference-buffer depth (see SessionHygiene — the
    * canonical home; a queue that climbs across the suite = broadcast/
    * shuffle artifacts awaiting a GC to be released).
    */
  private def cleanerQueueDepth(spark: SparkSession): Long =
    graft.core.SessionHygiene.cleanerQueueDepth(spark)

  /** (file count, total MB) under THIS app's blockmgr dirs — shuffle/
    * spill debris on disk. Diagnostics only; never on a timed path.
    *
    * Scoped to the current SparkContext's own DiskBlockManager dirs
    * (reflection — `localDirs` is private[spark], which is public in
    * bytecode), NOT every blockmgr-* under /tmp: this walk runs after
    * every query, and a DEAD sibling JVM's undeleted blockmgr dir (a
    * killed test run left 1.7M files once) turns each diagnostic into a
    * million-lstat storm whose page-cache eviction bleeds into the NEXT
    * query's timed reps — foreign debris must never tax the bench.
    * A 200k-file cap bounds the walk even against our own worst case;
    * a capped count reports the cap (read it as ">= cap").
    */
  private def shuffleDiskUsage(): (Long, Long) = {
    import java.nio.file._
    val cap = 200000L
    try {
      val roots: Seq[Path] = {
        val bm = org.apache.spark.SparkEnv.get.blockManager
        val dbm = bm.getClass.getMethod("diskBlockManager").invoke(bm)
        dbm.getClass.getMethod("localDirs").invoke(dbm)
          .asInstanceOf[Array[java.io.File]].toSeq.map(_.toPath)
      }
      var files = 0L; var bytes = 0L
      roots.distinct.filter(Files.isDirectory(_)).foreach { root =>
        // close the walk stream — an unclosed walk holds an open fd
        scala.util.Using.resource(Files.walk(root)) { w =>
          val it = w.iterator()
          while (it.hasNext && files < cap) {
            val p = it.next()
            if (Files.isRegularFile(p)) { files += 1; bytes += Files.size(p) }
          }
        }
      }
      (files, bytes >> 20)
    } catch { case _: Throwable => (-1L, -1L) }
  }

  private case class Diag(
      times: Seq[Double], gcMs: Long, gcN: Long,
      heapBeforeMb: Long, heapAfterMb: Long,
      diskReadMb: Long, majFlt: Long,
      cleanerQueue: Long, shuffleFiles: Long, shuffleMb: Long,
      codegenFallbacks: Long,
      drain: Option[graft.core.SessionHygiene.DrainStats] = None) {
    def json: String = {
      val ts = times.map(t => BigDecimal(t)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP)).mkString("[", ",", "]")
      s"""{"times":$ts,"gc_ms":$gcMs,"gc_n":$gcN,""" +
        s""""heap_before_mb":$heapBeforeMb,"heap_after_mb":$heapAfterMb,""" +
        s""""disk_read_mb":$diskReadMb,"majflt":$majFlt,""" +
        s""""cleaner_queue":$cleanerQueue,"shuffle_files":$shuffleFiles,""" +
        s""""shuffle_mb":$shuffleMb,"codegen_fallbacks":$codegenFallbacks""" +
        drain.map(d => s""","drain":${d.json}""").getOrElse("") + "}"
    }
  }

  /** Run one query's timed repetitions and collect the JVM/OS deltas
    * spanning them. The diagnostic reads themselves are microseconds of
    * proc-file parsing — outside the timed windows, and the disk-walk
    * runs only after the last rep.
    *
    * Tail entries get EXTRA reps (r12 verdict task 1): same-HEAD driver
    * runs bounce single heavy entries ±40-70% (q275 read 2.85-5.08 s
    * across four runs) while totals move ±5%, so a min-of-2 on a >1 s
    * entry is one unlucky page-cache stall away from a phantom
    * regression. Any query whose min-so-far is >= `tailSec` after the
    * base reps keeps running up to `tailRuns` total reps — min-of-N on
    * exactly the entries where the 3.5 s bar is adjudicated, bounded
    * cost on the ~2-second tail (~15-20 entries x 1 extra rep).
    */
  private def timedWithDiag(
      spark: SparkSession, runs: Int, tailRuns: Int = 0,
      tailSec: Double = Double.MaxValue)(body: => Unit): Diag = {
    val (gc0, gn0) = gcStats()
    val heap0 = heapUsedMb()
    val (rd0, _) = procIo()
    val mf0 = majFaults()
    val cg0 = graft.core.CodegenFallbacks.count
    val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
    def rep(): Unit = {
      val t0 = System.nanoTime()
      body
      buf += (System.nanoTime() - t0) / 1e9
    }
    (1 to runs).foreach(_ => rep())
    while (buf.size < tailRuns && buf.min >= tailSec) rep()
    val times = buf.toSeq
    val (gc1, gn1) = gcStats()
    val (rd1, _) = procIo()
    val (sf, smb) = shuffleDiskUsage()
    Diag(times, gc1 - gc0, gn1 - gn0, heap0, heapUsedMb(),
      if (rd0 < 0 || rd1 < 0) -1 else (rd1 - rd0) >> 20,
      { val mf1 = majFaults(); if (mf0 < 0 || mf1 < 0) -1 else mf1 - mf0 },
      cleanerQueueDepth(spark), sf, smb,
      graft.core.CodegenFallbacks.count - cg0)
  }

  // ---- harness --------------------------------------------------------------

  private def newSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder("graft-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // after the first session: Spark's logging bootstrap may replace the
    // log4j configuration, appenders included
    graft.core.CodegenFallbacks.install()
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // min of N runs per query (SPARK_GRAFT_BENCH_RUNS, default 2): the
    // first execution of a plan shape carries codegen/JIT warmup that
    // measured 3-10x steady state; min-of-N reports reproducible cost.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // Tail entries (min-so-far >= SPARK_GRAFT_BENCH_TAIL_SEC seconds
    // after the base reps) run to SPARK_GRAFT_BENCH_TAIL_RUNS total reps
    // — min-of-3 where the 3.5 s bar is adjudicated (see timedWithDiag).
    val tailRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAIL_RUNS", "3").toInt
    val tailSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAIL_SEC", "1.2").toDouble
    // SPARK_GRAFT_BENCH_ONLY=q87,q41 → time just those prefixes (and skip
    // the corpus pipeline) — for targeted min-of-N regression confirmation.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // SPARK_GRAFT_BENCH_ISOLATE=k → fresh SparkSession (new SparkContext)
    // per group of k queries, each warmed untimed before its group.
    val isolate = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE")
      .map(_.toInt).filter(_ > 0)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }

    var spark = newSession()
    // Warm the JVM/codegen path once so the first timed query isn't
    // charged for session bootstrap.
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()

    // Cross-query hygiene (untimed, runs BETWEEN queries): a 250-query
    // suite in one JVM accumulates state no single query sees — leaked
    // cached/localCheckpoint blocks pin storage memory (evicting the next
    // query's iteration caches), and broadcast/shuffle artifacts only
    // release via ContextCleaner *after a GC*, which an idle-heap JVM may
    // not run for the whole suite. Round 8's mitigation (System.gc() every
    // 8 queries) proved insufficient on the driver box: the GC enqueues
    // thousands of dead refs but the cleaner drains them ASYNCHRONOUSLY,
    // one blocking block-manager RPC at a time, while the next timed
    // queries run (cleaner_queue 6,918 at q88, which measured 10.9 s
    // in-suite vs 0.98 s isolated, gc=0 during the slow window).
    // SessionHygiene.drain GCs only when the queue passes a threshold and
    // then WAITS for it to settle, so the removal storm completes between
    // queries — each query measures ITS OWN cost, not its predecessors'
    // debris. The per-query DrainStats receipt rides the diag record.
    // SPARK_GRAFT_BENCH_NO_CLEANUP=1 disables (A/B knob for attributing
    // environment-level drift vs cleanup cost).
    val noCleanup = sys.env.get("SPARK_GRAFT_BENCH_NO_CLEANUP").contains("1")
    def interQueryCleanup(): Option[graft.core.SessionHygiene.DrainStats] =
      if (noCleanup) None else Some(graft.core.SessionHygiene.drain(spark))

    val diags = scala.collection.mutable.LinkedHashMap.empty[String, Diag]
    def runGroup(group: Seq[(String, (SparkSession, String) => DataFrame)])
        : Seq[(String, Double)] =
      group.map { case (name, fn) =>
        try {
          val d = timedWithDiag(spark, runs, tailRuns, tailSec) {
            fn(spark, sfDir).count(): Unit
          }
          diags(name) = d.copy(drain = interQueryCleanup())
          name -> d.times.min
        } catch {
          case e: Throwable =>
            // surface failures as -1, never as a plausible timing — and
            // STILL drain: a failed query's pinned blocks and dead refs
            // would otherwise contaminate the next timed query, exactly
            // the cross-query pollution the drain exists to prevent
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            interQueryCleanup(): Unit
            name -> -1.0
        }
      }

    val results: Seq[(String, Double)] = isolate match {
      case None => runGroup(selected)
      case Some(k) =>
        // fresh context per group: stop the current one, build anew, warm
        // untimed — accumulated broadcast/shuffle/codegen-cache state from
        // prior groups cannot leak into this group's numbers
        selected.grouped(k).toSeq.zipWithIndex.flatMap { case (group, gi) =>
          if (gi > 0 || spark.sparkContext.isStopped) {
            spark.stop()
            spark = newSession()
            SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
          }
          runGroup(group)
        }
    }

    if (only.isDefined) {
      // targeted mode: report just the selected queries, no corpus run
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val dj = diags.map { case (k, d) => "\"" + k + "\":" + d.json }
        .mkString("{", ",", "}")
      println(s"""{"metric":"only","queries":$qs,"runs":$runs}""")
      try {
        // targeted runs must NOT clobber the committed full-suite
        // BENCH_DETAIL.json with a partial "only" payload
        val out = sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL_only.json")
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (s"""{"metric":"only","queries":$qs,"runs":$runs,""" +
            s""""isolate":${isolate.getOrElse(0)},"diag":$dj}""" + "\n")
            .getBytes("UTF-8"))
      } catch { case _: Throwable => () }
      spark.stop()
      return
    }

    // Same min-of-N methodology as the queries: the corpus plan runs only
    // here, so its first execution carries the full codegen/JIT warmup for
    // the sink path (measured ~7x steady state).
    // Untimed warmup at 1% of the page count: compiles/JITs the whole
    // ingest→KV→filter→sink path (measured ~6-7x one-shot inflation on a
    // cold JVM), so even a single timed run reports steady-state cost.
    locally {
      val warmOut = java.nio.file.Files.createTempDirectory("graft_corpus_warm").toString
      val warm = spark.read.format("graft-paged")
        .option("pages", "64").option("pagesize", "10")
        .option("pagesperpartition", "64").load()
        .withColumn("block", graft.sources.KvBlock.renderBlock(Seq(
          "机构名称" -> col("name"), "区域编号" -> col("region_code"))))
        .withColumn("province_code", substring(col("region_code"), 1, 2))
      graft.sources.KvBlock.writePartitioned(
        warm, col("block"), Seq("province_code"), warmOut,
        coalescePartitions = false)
    }
    val corpusDiag = timedWithDiag(spark, runs, tailRuns, tailSec) {
      val corpusOut = java.nio.file.Files.createTempDirectory("graft_corpus").toString
      corpusPipeline(spark, corpusOut): Unit
    }
    diags("corpus_62k_pipeline") = corpusDiag
    val corpus = ("corpus_62k_pipeline", corpusDiag.times.min)

    val all = results :+ corpus
    val total = all.map(_._2).filter(_ >= 0).sum

    // Full-precision, full-name detail to a side file (the driver only
    // captures a bounded tail of stdout — round 1's 2.1k-char line
    // overflowed its 2000-char buffer and parsed as null).
    val detail = all.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val dj = diags.map { case (k, d) => "\"" + k + "\":" + d.json }
      .mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$detail,""" +
        s""""runs":$runs,"isolate":${isolate.getOrElse(0)},""" +
        s""""diag":$dj,"sf":"$sfDir"}"""
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (detailJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }

    // The ONE stdout JSON line, kept well under the tail buffer: keys are
    // the stable qNN prefixes (qNN -> full name is 1:1, see SparkEntry).
    // r12's line was truncated in the driver's captured tail (152/301
    // entries survived; PERF_r13 lost its whole prev-comparison), so the
    // per-query values are now centisecond-rounded with trailing zeros
    // stripped — 3897 -> ~3650 bytes for 301 entries, comfortably inside
    // the ~4 KB capture window. Sub-0.1 s entries keep 3 dp so the
    // quantization error stays <= 5% everywhere (PERF's regression bar is
    // 10%); full 9-dp values remain in BENCH_DETAIL.json.
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def rShort(v: Double): String =
      if (v < 0) "-1"
      else {
        val dp = if (v < 0.1) 3 else 2
        val s = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.stripTrailingZeros.toPlainString
        if (s.isEmpty || s == "-0") "0" else s
      }
    def shortKey(name: String): String =
      if (name.startsWith("q") && name.contains("_")) name.takeWhile(_ != '_') else name
    val qs = all.map { case (k, v) => "\"" + shortKey(k) + "\":" + rShort(v) }
      .mkString("{", ",", "}")
    // strict number: "[0-9.]+" would capture a trailing dot from paths
    // like .../sf0.1.bak and emit invalid JSON on the one parsed line
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)".r
      .findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":$sfNum}""")
    spark.stop()
  }
}
