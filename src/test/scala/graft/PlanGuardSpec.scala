package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard over EVERY declared query: the r2 verdict's
  * scale-killer class — `WindowExec` with an empty partition spec ("Moving
  * all data to a single partition") — must never reappear. Checked on the
  * pre-AQE physical plan at sf0.001. Note the cost is NOT planning-only:
  * some query BUILDERS run real work before returning their DataFrame
  * (fixture writes, q86's component loop), so this spec re-executes that
  * slice of the suite at the smallest SF — a few seconds, accepted for the
  * breadth of the guarantee.
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** An unpartitioned window is exempt when a `MapPartitionsExec` sits
    * DIRECTLY below it (through pass-through nodes only — project /
    * filter / sort / exchange / object serialization): that is the
    * bounded-prune pattern (`Ranking.globalTopK`'s per-partition
    * `take(k)`), which caps the window's input at k × partitions
    * regardless of corpus size. A deep `exists` would also excuse a
    * window over the FULL output of any mapPartitions-based ingest
    * (WARC, archives, multimodal decode) — exactly the regression this
    * guard exists to catch.
    */
  @annotation.tailrec
  private def boundedPruneBelow(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.MapPartitionsExec => true
    // a TakeOrderedAndProject is itself bounding: output ≤ its limit
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case pass @ (_: org.apache.spark.sql.execution.ProjectExec |
                 _: org.apache.spark.sql.execution.FilterExec |
                 _: org.apache.spark.sql.execution.SortExec |
                 _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec |
                 _: org.apache.spark.sql.execution.SerializeFromObjectExec |
                 _: org.apache.spark.sql.execution.DeserializeToObjectExec) =>
      boundedPruneBelow(pass.children.head)
    case _ => false
  }

  private def unpartitionedWindows(plan: SparkPlan): Seq[String] =
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !boundedPruneBelow(w.child) => w.nodeName
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty &&
        !boundedPruneBelow(w.child) => w.nodeName
    }

  test("no query plans a single-partition (unpartitioned) window") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, SparkTestSession.Sf0001).queryExecution.sparkPlan
      unpartitionedWindows(plan).map(n => s"$name: $n")
    }
    assert(offenders.isEmpty,
      s"single-partition windows found:\n${offenders.mkString("\n")}")
  }

  test("q01 keeps its filter pushed into the parquet scan") {
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, SparkTestSession.Sf0001)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters: [Is") || plan.contains("PushedFilters: [Less") ||
      plan.matches("(?s).*PushedFilters: \\[[^\\]].*"),
      s"no pushed filters in q01 scan:\n${plan.take(1500)}")
  }

  test("q81 large-cap CSV read stays distributed (no driver-side row scan)") {
    // cap > Csv.DriverCapMax must take the distributed limit path: the
    // plan scans the CSV file directly — no LocalTableScan of data rows
    // rebuilt from a head() collect (the r3 verdict's S3 scale risk)
    val plan = SparkEntry.queries("q81_csv_roundtrip")(spark, SparkTestSession.Sf0001)
      .queryExecution.sparkPlan
    val localScans = plan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec if l.rows.nonEmpty => l
    }
    assert(localScans.isEmpty,
      s"q81 materialized rows on the driver: ${localScans.mkString(", ")}")
    assert(plan.toString.contains("csv") || plan.toString.contains("Csv"),
      "q81 plan lost its distributed CSV scan")
  }

  test("q66 hash split stays a zero-exchange projection") {
    val plan = SparkEntry.queries("q66_hash_split")(spark, SparkTestSession.Sf0001)
      .queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "q66 must not shuffle — split is a pure projection")
  }

  test("q122 within-doc line dedup stays a zero-exchange projection") {
    // per-row semantics: the first form of this operator exploded into a
    // corpus-wide (id, hash) SortAggregate pair + rejoin (8x slower at
    // sf0.1); the compiled PolyFirstOccurrence projection must never grow
    // an exchange back
    val plan = SparkEntry.queries("q122_line_dedup_doc")(spark, SparkTestSession.Sf0001)
      .queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      "q122 must not shuffle — within-doc dedup is a pure projection")
  }

  test("q251 builds its registers through one data-path exchange, no collect_list") {
    // scan + partial q-digest aggregate -> one hash exchange -> final
    // aggregate + explode; the leaf-count-then-collect form has two
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val df = SparkEntry.queries("q251_qdigest_registers")(spark, SparkTestSession.Sf0001)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning != SinglePartition => e
    }
    assert(exchanges.size == 1, s"q251 has ${exchanges.size} data-path exchanges:\n$plan")
    assert(!plan.toString.contains("collect_list"), s"q251 still collects:\n$plan")
  }

  /** The executed plans of the queries (writes included) that `body`
    * completes, as an execution listener reports them.
    */
  private def plansDuring(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      SparkTestSession.settle(plans.size)
      plans.toArray(Array.empty[SparkPlan]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("KV blocks render through the compiled kernel: no regex, no concat_ws, no fallback") {
    import org.apache.spark.sql.catalyst.expressions.{ConcatWs, RegExpReplace}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    graft.core.CodegenFallbacks.install()
    val helper = new AdaptiveSparkPlanHelper {}
    val out = java.nio.file.Files.createTempDirectory("plan_guard_corpus")
    // the render projection: the write of the corpus pipeline and of q83
    // (q83's read-back trims blocks with a regex, in a later query), and
    // q28's one query
    val renders = Seq[(String, () => Unit, SparkPlan => Boolean)](
      ("corpusPipeline write", () => Bench.corpusPipeline(spark, out.toString): Unit,
        p => helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty),
      ("q28", () => SparkEntry.queries("q28_kv_roundtrip")(spark, SparkTestSession.Sf0001)
        .collect(): Unit, _ => true),
      ("q83 write", () => SparkEntry.queries("q83_kv_sink_layout")(
        spark, SparkTestSession.Sf0001).collect(): Unit,
        p => helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty))
    try {
      renders.foreach { case (name, run, isRender) =>
        val (plans, fallbacks) =
          graft.core.CodegenFallbacks.during(plansDuring(run()).filter(isRender))
        assert(fallbacks == 0, s"$name: $fallbacks codegen fallbacks")
        assert(plans.nonEmpty, s"$name: no render plan captured")
        plans.foreach { plan =>
          val exprs = helper.flatMap(plan)(_.expressions.flatMap(_.collect { case e => e }))
          val offenders = exprs.collect {
            case e: RegExpReplace => e.prettyName
            case e: ConcatWs => e.prettyName
          }
          assert(offenders.isEmpty, s"$name renders with ${offenders.distinct}:\n$plan")
          assert(exprs.exists(_.isInstanceOf[graft.functions.KvRender]),
            s"$name has no kv_render:\n$plan")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }

  test("the corpus pipeline renders and parses each block once: its rule " +
      "filter reads parsed fields") {
    import graft.functions.{KvParse, KvRender}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    graft.core.CodegenFallbacks.install()
    val helper = new AdaptiveSparkPlanHelper {}
    val out = java.nio.file.Files.createTempDirectory("plan_guard_corpus_once")
    try {
      val (plans, fallbacks) = graft.core.CodegenFallbacks.during(
        plansDuring(Bench.corpusPipeline(spark, out.toString): Unit)
          .filter(p => helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty))
      assert(fallbacks == 0, s"$fallbacks codegen fallbacks")
      assert(plans.size == 1, s"${plans.size} write plans captured")
      val plan = plans.head
      val exprs = helper.flatMap(plan)(_.expressions.flatMap(_.collect { case e => e }))
      val renders = exprs.count(_.isInstanceOf[KvRender])
      val parses = exprs.count(_.isInstanceOf[KvParse])
      assert(renders == 1 && parses == 1,
        s"$renders kv_render and $parses kv_parse in the write plan:\n$plan")
      val filters = helper.collect(plan) { case f: FilterExec => f }
      assert(filters.nonEmpty, s"no rule filter in the write plan:\n$plan")
      filters.foreach { f =>
        assert(!f.condition.exists(e => e.isInstanceOf[KvRender] || e.isInstanceOf[KvParse]),
          s"the filter re-runs a kernel: ${f.condition}")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }
}
