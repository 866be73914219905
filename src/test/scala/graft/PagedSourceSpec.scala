package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S7 paginated DSv2 source: page fan-out as input partitions, filter and
  * limit pushdown pruning the page range at planning time.
  */
class PagedSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def read(pages: Int = 20, pageSize: Int = 10) =
    spark.read.format("graft-paged")
      .option("pages", pages.toString).option("pagesize", pageSize.toString)
      .load()

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  test("full scan: one partition per page, pages x pageSize rows") {
    val df = read(pages = 20, pageSize = 10)
    assert(df.count() == 200)
    assert(scanOf(df).inputRDD.getNumPartitions == 20)
    val r = df.filter(col("page") === 3 && col("idx") === 0).head()
    assert(r.getAs[String]("name") == "托育机构_30")
    assert(r.getAs[String]("credit_code") == "910000000000000030")
  }

  test("page filters prune partitions at planning time") {
    val df = read(pages = 20, pageSize = 10).filter(col("page") >= 5 && col("page") < 8)
    assert(scanOf(df).inputRDD.getNumPartitions == 3)
    assert(df.count() == 30)
    val eq = read(pages = 20, pageSize = 10).filter(col("page") === 7)
    assert(scanOf(eq).inputRDD.getNumPartitions == 1)
    assert(eq.count() == 10)
  }

  test("non-page filters are NOT pushed; Spark re-applies them") {
    val df = read(pages = 6, pageSize = 10).filter(col("institution_type") === "营利性")
    assert(scanOf(df).inputRDD.getNumPartitions == 6)     // no pruning
    assert(df.count() == 20)                              // ids % 3 == 0
  }

  test("limit pushdown caps the page fan-out") {
    val df = read(pages = 1000, pageSize = 10).limit(25)
    // 25 rows need ceil(25/10)=3 pages, not 1000
    assert(scanOf(df).inputRDD.getNumPartitions == 3)
    assert(df.count() == 25)
  }

  test("pagesperpartition batches contiguous pages into one task") {
    val df = spark.read.format("graft-paged")
      .option("pages", "100").option("pagesize", "10")
      .option("pagesperpartition", "32").load()
    assert(scanOf(df).inputRDD.getNumPartitions == 4)   // ceil(100/32)
    assert(df.count() == 1000)
    // pruning composes with batching
    val pruned = df.filter(col("page") >= 90)
    assert(scanOf(pruned).inputRDD.getNumPartitions == 1)
    assert(pruned.count() == 100)
  }

  test("combined: filter range + limit") {
    val df = read(pages = 100, pageSize = 10)
      .filter(col("page") >= 50).limit(12)
    assert(scanOf(df).inputRDD.getNumPartitions == 2)     // pages 50,51
    assert(df.collect().map(_.getAs[Int]("page")).toSet == Set(50, 51))
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from metadata, zero fetches") {
    import graft.sources.v2.PageFetcher
    val agg = read(pages = 100000, pageSize = 50)
      .filter(col("page") >= 10 && col("page") <= 5009)
      .agg(count(lit(1)).as("n"), min(col("page")).as("lo"),
        max(col("page")).as("hi"))
    val before = PageFetcher.fetchCount.get()
    val row = agg.head()
    assert(PageFetcher.fetchCount.get() == before,
      "pushed aggregate must fetch zero pages")
    assert(row.getLong(0) == 5000L * 50)
    assert(row.getInt(1) == 10 && row.getInt(2) == 5009)
    // the Aggregate node is planned away entirely (complete pushdown)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"))
    assert(scanOf(agg).scan.description().contains("PushedAggregation"))
    // value parity with the unpushed path on a registry small enough to scan
    val small = read(pages = 40, pageSize = 10)
      .filter(col("page") >= 3 && col("page") <= 17)
    val pushed = small.agg(count(lit(1)), min(col("page")), max(col("page"))).head()
    val scanned = small.collect()
    assert(pushed.getLong(0) == scanned.length)
    assert(pushed.getInt(1) == scanned.map(_.getAs[Int]("page")).min)
    assert(pushed.getInt(2) == scanned.map(_.getAs[Int]("page")).max)
  }

  test("aggregate pushdown declines group-bys and non-page min/max") {
    // group-by: the source refuses, Spark aggregates normally — and the
    // scan beneath is the ordinary paged scan (fetches happen)
    val grouped = read(pages = 6, pageSize = 10)
      .groupBy(col("institution_type")).agg(count(lit(1)).as("n"))
    val plan = grouped.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    assert(grouped.collect().map(_.getAs[Long]("n")).sum == 60L)
    // min over a string column: not translatable, normal scan
    val strAgg = read(pages = 6, pageSize = 10).agg(min(col("name")).as("m"))
    assert(strAgg.queryExecution.executedPlan.toString.contains("Aggregate"))
    assert(strAgg.head().getString(0) == "托育机构_0")
  }

  test("runtime filtering: broadcast join prunes the page fan-out to the joined pages") {
    import graft.sources.v2.PageFetcher
    // 13 wanted pages out of a 100k-page registry; the selective filter on
    // the build side is what makes Spark insert the pruning subquery
    val dim = spark.range(0, 25)
      .filter(pmod(col("id"), lit(2)) === 0)
      .select((col("id") * 40 + 7).cast("int").as("page"))
    val fact = read(pages = 100000, pageSize = 20)
    val j = fact.join(broadcast(dim), Seq("page"))
    val before = PageFetcher.fetchCount.get()
    val rows = j.collect()
    val fetched = PageFetcher.fetchCount.get() - before
    assert(rows.length == 13 * 20)
    assert(fetched == 13,
      s"runtime filter should prune the fetch to 13 pages, fetched $fetched")
    // and the non-joined form of the same scan is untouched (no leaked state)
    assert(read(pages = 30, pageSize = 2).count() == 60)
  }

  test("reported statistics: a small page window auto-broadcasts without " +
      "a hint; a huge registry does not") {
    // both joins are PLANNED only (never executed) — the assertion is on
    // the join strategy the reported stats buy. The fact side is sized
    // well past the 10 MB autoBroadcast threshold so only the paged
    // side's statistics decide.
    val fact = spark.range(0, 10000000L)
      .select(pmod(col("id"), lit(40)).cast("int").as("page"), col("id"))
    val small = read(pages = 40, pageSize = 25) // 1k rows ~ 88 KB reported
    val j = fact.join(small, Seq("page")) // NO broadcast() hint
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small paged side should auto-broadcast:\n${plan.take(800)}")
    val huge = read(pages = 200000, pageSize = 50) // 10M rows ~ 880 MB
    val j2 = fact.join(huge, Seq("page"))
    val plan2 = j2.queryExecution.executedPlan.toString
    assert(!plan2.contains("BroadcastHashJoin"),
      s"huge paged side must not broadcast:\n${plan2.take(800)}")
  }

  test("storage-partitioned join: two paged scans co-partitioned on page " +
      "join with ZERO exchanges (DSv2 KeyGroupedPartitioning)") {
    val conf = spark.conf
    val bucketing = "spark.sql.sources.v2.bucketing.enabled"
    val thresh = "spark.sql.autoBroadcastJoinThreshold"
    // capture SET-vs-UNSET, not the resolved value: restoring an
    // entry's built-in default as an explicit set would leak state
    // (v2 bucketing defaults TRUE; pinning it false here broke the
    // q300 SPJ plan for the rest of the suite)
    val b0 = conf.getOption(bucketing)
    val t0 = conf.getOption(thresh)
    conf.set(bucketing, "true")
    conf.set(thresh, "-1") // keep it a shuffle-class join: SPJ or exchange
    try {
      val a = read(pages = 40, pageSize = 25)
        .select(col("page"), col("name").as("a_name"))
      val b = spark.read.format("graft-paged")
        .option("pages", "40").option("pagesize", "10").load()
        .select(col("page"), col("credit_code").as("b_code"))
      val j = a.join(b, Seq("page"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-partitioned paged join must not shuffle:\n${plan.take(1000)}")
      assert(j.count() == 40L * 25 * 10) // every page: 25 x 10 pairs
      // batched scans (pagesPerPartition > 1) hold >1 page per partition
      // and must NOT claim key-grouped distribution — the join keeps its
      // exchanges rather than mis-clustering
      val c = spark.read.format("graft-paged")
        .option("pages", "40").option("pagesize", "10")
        .option("pagesperpartition", "4").load()
        .select(col("page"), col("credit_code").as("c_code"))
      val j2 = a.join(c, Seq("page"))
      assert(j2.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      assert(j2.count() == 40L * 25 * 10)
    } finally {
      b0.fold(conf.unset(bucketing))(conf.set(bucketing, _))
      t0.fold(conf.unset(thresh))(conf.set(thresh, _))
    }
  }

  test("top-N pushdown: ORDER BY page LIMIT narrows the window from the " +
      "matching end; non-page orderings decline") {
    import graft.sources.v2.PageFetcher
    // DESC: only the LAST ceil(25/10)=3 pages can contribute
    val desc = read(pages = 50, pageSize = 10)
      .orderBy(col("page").desc, col("idx")).limit(25)
    var before = PageFetcher.fetchCount.get()
    val rows = desc.collect()
    assert(PageFetcher.fetchCount.get() - before == 3,
      "DESC top-25 over 10-row pages must fetch exactly the last 3 pages")
    assert(rows.length == 25 && rows.head.getAs[Int]("page") == 49)
    assert(rows.map(_.getAs[Int]("page")).distinct.toSeq == Seq(49, 48, 47))
    // ASC: the FIRST 2 pages
    val asc = read(pages = 50, pageSize = 10).orderBy(col("page")).limit(12)
    before = PageFetcher.fetchCount.get()
    assert(asc.collect().length == 12)
    assert(PageFetcher.fetchCount.get() - before == 2)
    // ordering on a non-page column cannot be narrowed: all pages fetched
    val declined = read(pages = 6, pageSize = 4)
      .orderBy(col("credit_code").desc).limit(3)
    before = PageFetcher.fetchCount.get()
    assert(declined.collect().length == 3)
    assert(PageFetcher.fetchCount.get() - before == 6)
  }

  test("offset pushdown: whole-page offsets skip pages at the source; " +
      "ragged offsets stay in Spark") {
    import graft.sources.v2.PageFetcher
    // 100 rows / 10 per page: OFFSET 30 = skip pages 0-2 entirely
    val exact = read(pages = 10, pageSize = 10).offset(30)
    var before = PageFetcher.fetchCount.get()
    val rows = exact.collect()
    assert(rows.length == 70 && rows.map(_.getAs[Int]("page")).min == 3)
    assert(PageFetcher.fetchCount.get() - before == 7,
      "whole-page offset must be answered by the page window, not row skips")
    // ragged offset (not a page multiple) declines: full fan-out, Spark skips
    val ragged = read(pages = 10, pageSize = 10).offset(35)
    before = PageFetcher.fetchCount.get()
    assert(ragged.collect().length == 65)
    assert(PageFetcher.fetchCount.get() - before == 10)
    // offset past the window yields empty, not negative pages
    assert(read(pages = 4, pageSize = 5).offset(20).collect().isEmpty)
  }

  test("reported ordering: rows arrive (page, idx)-sorted per partition, " +
      "so sortWithinPartitions plans no Sort") {
    val df = read(pages = 12, pageSize = 5)
      .sortWithinPartitions("page", "idx")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort ["),
      s"reported (page, idx) ordering should eliminate the partition sort:\n" +
        plan.take(600))
    assert(df.count() == 60)
    // pruning page away also drops the ordering claim: idx alone is not
    // sorted across a multi-page partition — the sort must survive
    val pruned = spark.read.format("graft-paged")
      .option("pages", "12").option("pagesize", "5")
      .option("pagesperpartition", "4").load()
      .select("idx", "name").sortWithinPartitions("idx")
    assert(pruned.queryExecution.executedPlan.toString.contains("Sort ["))
  }

  test("column pruning: keys-only and empty projections cost ZERO fetches; " +
      "payload projections fetch and project correctly") {
    import graft.sources.v2.PageFetcher
    // payload projection: fetches once per page, values projected
    val payload = read(pages = 8, pageSize = 5).select("page", "credit_code")
    var before = PageFetcher.fetchCount.get()
    val rows = payload.collect()
    assert(PageFetcher.fetchCount.get() - before == 8)
    assert(rows.length == 40)
    assert(rows.find(r => r.getInt(0) == 3 && r.getString(1).endsWith("15"))
      .isDefined)
    // keys-only projection: (page, idx) are registry metadata — no fetch
    val keys = read(pages = 8, pageSize = 5).select("idx", "page")
    before = PageFetcher.fetchCount.get()
    val keyRows = keys.collect()
    assert(PageFetcher.fetchCount.get() - before == 0,
      "keys-only projection must not touch the transport")
    assert(keyRows.length == 40 && keyRows.count(_.getInt(0) == 0) == 8)
    // empty projection (the COUNT-shaped plan Bench builds): zero fetches
    val full = read(pages = 8, pageSize = 5)
    before = PageFetcher.fetchCount.get()
    assert(full.count() == 40)
    assert(PageFetcher.fetchCount.get() - before == 0,
      "count() must be answered from registry metadata, not page fetches")
    // the pruned read schema reaches the scan
    assert(scanOf(payload).scan.readSchema().fieldNames.toSeq ==
      Seq("page", "credit_code"))
  }

  test("bounded fan-out: a huge registry auto-batches to <= MaxFanOut tasks; " +
      "explicit pagesperpartition still wins") {
    import graft.sources.v2.PagedScan
    // 100k pages must NOT plan 100k tasks (driver scheduling is O(tasks))
    val big = read(pages = 100000, pageSize = 3)
    val n = scanOf(big).inputRDD.getNumPartitions
    assert(n <= PagedScan.MaxFanOut && n >= PagedScan.MaxFanOut / 2,
      s"expected ~${PagedScan.MaxFanOut} partitions, got $n")
    // row math survives batching (count = empty projection, zero fetch)
    assert(big.count() == 300000L)
    // explicit single-page override is honored (the SPJ precondition)
    val explicit = spark.read.format("graft-paged")
      .option("pages", "2000").option("pagesize", "2")
      .option("pagesperpartition", "1").load()
    assert(scanOf(explicit).inputRDD.getNumPartitions == 2000)
    // small scans keep one task per page without any option
    assert(scanOf(read(pages = 40, pageSize = 2)).inputRDD.getNumPartitions == 40)
  }

  test("q300: SPJ join + per-page aggregate runs with ZERO shuffle exchanges " +
      "(the aggregate reuses the scan's key-grouped clustering)") {
    val df = SparkEntry.queries("q300_paged_spj")(spark, "/unused")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"q300 must be exchange-free end to end:\n${plan.take(1200)}")
    assert(plan.contains("SortMergeJoin"),
      "the merge hint must hold off the auto-broadcast (SPJ demo)")
    assert(!plan.contains("Sort ["),
      "reported (page, idx) ordering must satisfy the merge join's sort")
    val rows = df.collect()
    assert(rows.length == 60)
    // every page joins 8 x 3 = 24 pairs
    assert(rows.forall(_.getAs[Long]("n_pairs") == 24L))
  }

  test("streaming micro-batches: rate-capped paginated ingest (S7 streaming analog)") {
    val dir = java.nio.file.Files.createTempDirectory("paged_ckpt").toString
    val q = spark.readStream.format("graft-paged")
      .option("pages", "10").option("pagesize", "5")
      .option("pagespertrigger", "3")
      .load()
      .writeStream.outputMode("append").format("memory")
      .queryName("paged_stream")
      .option("checkpointLocation", dir)
      .start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM paged_stream").head().getLong(0)
      assert(n == 50)   // all 10 pages x 5 records eventually ingested
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.nonEmpty)
      // rate cap: no micro-batch ingested more than 3 pages x 5 rows
      assert(batches.forall(_.numInputRows <= 15))
      assert(batches.length >= 4)   // ceil(10/3) batches with data
    } finally q.stop()
  }

  /** Every field of every record of the page, fetched and formatted by the
    * twin, byte for byte.
    */
  private def assertFetchMatchesTwin(page: Int, pageSize: Int): Unit = {
    import graft.sources.v2.PageFetcher
    val got = PageFetcher.fetch(page, pageSize)
    val want = ReferenceTwins.pageFetchFormatted(page, pageSize)
    assert(got.size == want.size)
    want.foreach { case (i, name, code, typ, region) =>
      Seq(name, code, typ, region).zipWithIndex.foreach { case (w, f) =>
        val bytes = got.field(i, f).getBytes
        assert(bytes.sameElements(w.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          s"page $page x $pageSize, record $i, field $f: " +
            s"'${new String(bytes, "UTF-8")}' != '$w'")
      }
    }
  }

  test("fetch writes the formatted fields byte for byte: every digit-width " +
      "boundary, Int.MaxValue, negative ids and a random sweep") {
    val boundaries = (0 to 9).map(k => math.pow(10, k).toInt)
    val ids = (Seq(0, Int.MaxValue, Int.MinValue, -1) ++
      boundaries.flatMap(b => Seq(b - 1, b, -b))).distinct
    ids.foreach(id => assertFetchMatchesTwin(id, 1))
    // the pages of 10 on either side of each boundary, and the last page
    // of 10 below Int.MaxValue with the 8 records that still fit
    boundaries.foreach { b =>
      assertFetchMatchesTwin(b / 10 - 1, 10); assertFetchMatchesTwin(b / 10, 10)
    }
    assertFetchMatchesTwin(Int.MaxValue / 10, 8)
    assert((Int.MaxValue / 10) * 10 + 7 == Int.MaxValue)
    val rnd = new scala.util.Random(20261020L)
    (1 to 2000).foreach(_ => assertFetchMatchesTwin(rnd.nextInt(), 1))
    (1 to 300).foreach { _ =>
      val size = 1 + rnd.nextInt(50)
      assertFetchMatchesTwin(rnd.nextInt(Int.MaxValue / size), size)
    }
    // empty pages hold no records
    assert(graft.sources.v2.PageFetcher.fetch(7, 0).size == 0)
  }

  test("reader rows equal the name-matching twin's for every subset and " +
      "order of the six columns, keys-only and empty included") {
    import graft.sources.v2.{PagedReader, PagedSource}
    import org.apache.spark.sql.types.StructType
    val fields = PagedSource.schema.fields.toSeq
    val schemas = (0 to fields.size).flatMap(k =>
      fields.combinations(k).flatMap(_.permutations)).map(StructType(_))
    assert(schemas.size == 1957)   // sum over k of 6!/(6-k)!
    def readAll(r: PagedReader, schema: StructType): Seq[Seq[Any]] = {
      val out = Seq.newBuilder[Seq[Any]]
      while (r.next()) out += r.get().toSeq(schema)
      r.close()
      out.result()
    }
    for (schema <- schemas; (first, last, size) <-
        Seq((3, 5, 4), (0, 2, 1), (4, 3, 5), (Int.MaxValue - 1, Int.MaxValue, 2))) {
      val got = readAll(new PagedReader(first, last, size, schema), schema)
      val want = ReferenceTwins.pagedReaderRows(first, last, size, schema)
        .map(_.toSeq(schema)).toSeq
      assert(got == want, s"cols=${schema.fieldNames.mkString(",")} pages $first..$last x $size")
    }
  }
}
