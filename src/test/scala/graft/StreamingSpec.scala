package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming surface: the same transforms run as a stream (MemoryStream →
  * memory sink) and as a batch; results must agree — the Structured
  * Streaming unification contract.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def eventsBatch = graft.core.Tables
    .load(spark, SparkTestSession.Sf0001, "events")

  test("tumbling window counts: stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsBatch
      .select(col("ts"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = stream.toDF.toDF("ts", "event_type", "value")
    val q = StreamingOps.tumblingCounts(streamDf, "1 hour")
      .writeStream.outputMode("complete").format("memory")
      .queryName("tumbling_test").start()
    try {
      // two micro-batches to exercise incremental state
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT window_start, event_type, n FROM tumbling_test")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      val batch = StreamingOps.tumblingCounts(eventsBatch, "1 hour")
        .select(col("window_start"), col("event_type"), col("n"))
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("session windows (built-in session_window): stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsBatch
      .select(col("ts"), col("user_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Double)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val streamDf = stream.toDF.toDF("ts", "user_id", "value")
    val q = StreamingOps.sessionWindowCounts(streamDf, "30 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("session_test").start()
    try {
      stream.addData(rows); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, session_start, n_events FROM session_test")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      val batch = StreamingOps.sessionWindowCounts(eventsBatch, "30 minutes")
        .select(col("user_id"), col("session_start"), col("n_events"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessionization agrees with the batch window implementation") {
    import spark.implicits._
    val evs = eventsBatch
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"), col("value"))
      .withColumn("tsMicros", col("sec") * 1000000L)
      .select(col("user_id"), col("tsMicros"), col("value"))
      .as[StreamingOps.Ev]
    val stateful = StreamingOps.statefulSessions(evs, gapSeconds = 1800)
      .collect()  // only CLOSED sessions are emitted
      .map(s => (s.user_id, s.startMicros / 1000000L, s.n)).toSet

    val batch = graft.operators.Sessionize
      .sessionStats(eventsBatch, col("user_id"), col("ts"), col("value"), 1800)
      .select(col("key"), unix_timestamp(col("session_start")).as("s"), col("n_events"))
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2, t._3)).toSet

    // every closed stateful session must exist in the batch result
    assert(stateful.nonEmpty)
    assert(stateful.subsetOf(batch))
    // and at most one open (unemitted) session per user can be missing
    val missingPerUser = (batch -- stateful).groupBy(_._1).map(_._2.size)
    assert(missingPerUser.forall(_ == 1))
  }

  test("batch sessionization splits on sub-second gap boundaries (µs precision)") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      (1L, t("2024-01-01 10:00:00.000"), 1.0),
      (1L, t("2024-01-01 10:30:00.100"), 1.0),  // gap 1800.1 s > 1800 → new session
      (2L, t("2024-01-01 10:00:00.200"), 1.0),
      (2L, t("2024-01-01 10:29:59.900"), 1.0),  // gap 1799.7 s → same session
      (3L, t("2024-01-01 10:00:00.000"), 1.0),
      (3L, t("2024-01-01 10:30:00.000"), 1.0)   // gap exactly 1800 s → same (strict >)
    ).toDF("user_id", "ts", "value")
    val maxSeq = graft.operators.Sessionize
      .sessionStats(evs, col("user_id"), col("ts"), col("value"), 1800)
      .groupBy(col("key")).agg(max(col("session_seq")).as("m"))
      .as[(Long, Long)].collect().toMap
    assert(maxSeq == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamingOps.tumblingCounts(
        stream.toDF.toDF("ts", "event_type", "value"),
        width = "5 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("late_test").start()
    try {
      // batch 1: events up to 10:30 -> watermark advances to 10:20
      stream.addData(Seq((ts(0), "a", 1.0), (ts(1), "a", 1.0), (ts(30), "a", 1.0)))
      q.processAllAvailable()
      // batch 2: a very late event (10:02, far below the 10:20 watermark)
      // plus a fresh one that pushes the watermark further and finalizes
      stream.addData(Seq((ts(2), "a", 99.0), (ts(45), "a", 1.0)))
      q.processAllAvailable()
      stream.addData(Seq((ts(59), "a", 1.0)))   // close remaining windows
      q.processAllAvailable()
      val out = spark.sql("SELECT window_start, n FROM late_test")
        .as[(java.sql.Timestamp, Long)].collect().toMap
      // the 10:00 window was finalized with its 2 on-time events; the late
      // 10:02 event (n would be 3) was DROPPED, not merged
      assert(out(ts(0)) == 2L)
      assert(out(ts(30)) == 1L)
    } finally q.stop()
  }

  test("streaming near-dup admission == batch form; near-dups rejected, novel admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val events = Seq(
      (ts(0), 1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (ts(1), 2L, "the quick brown fox jumps over the lazy dog near the river shore"), // near-dup of 1
      (ts(2), 3L, "completely different words about catalyst optimizer and exchange planning"),
      (ts(3), 4L, "the quick brown fox jumps over the lazy dog near the river bank"))  // exact dup of 1

    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamingOps.nearDupNovelWithinWatermark(
        stream.toDF.toDF("ts", "doc_id", "text"), "doc_id", "text", "ts",
        watermark = "30 minutes", windowWidth = "1 minute", shingleSize = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_test").start()
    try {
      // one micro-batch per event => arrival order == event-time order,
      // the determinism contract the batch form states
      events.foreach { e => stream.addData(e); q.processAllAvailable() }
      // close all windows so append mode emits
      stream.addData((ts(59), 99L, "window closer sentinel text here")); q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id FROM neardup_test")
        .as[Long].collect().toSet
      val batch = StreamingOps.nearDupNovelBatch(
          events.toDF("ts", "doc_id", "text"), "doc_id", "text", "ts",
          windowWidth = "1 minute", shingleSize = 2)
        .select("doc_id").as[Long].collect().toSet
      assert(batch == Set(1L, 3L))       // 2 and 4 collide with 1's buckets
      assert(streamed == batch)          // stream == batch admission
    } finally q.stop()
  }

  test("dedupWithinWatermark: in-horizon duplicates dropped, state evicted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamingOps.dedupWithinWatermark(
        stream.toDF.toDF("ts", "event_id", "payload"),
        keyCols = Seq("event_id"), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_test").start()
    try {
      // batch 1: id 1 twice in one batch, id 2 once
      stream.addData(Seq((ts(0), 1L, "a"), (ts(0), 1L, "a-dup"), (ts(1), 2L, "b")))
      q.processAllAvailable()
      // batch 2: id 1 again within the horizon -> dropped; id 3 new.
      // The ts(30) event advances the watermark to 10:20, evicting id 1/2.
      stream.addData(Seq((ts(2), 1L, "a-dup2"), (ts(30), 3L, "c")))
      q.processAllAvailable()
      // batch 3: id 1 REAPPEARS after eviction -> passes (bounded state:
      // horizon dedup, not global dedup — that's batch Dedup.exact's job)
      stream.addData(Seq((ts(31), 1L, "a-again")))
      q.processAllAvailable()
      val out = spark.sql("SELECT event_id, payload FROM dedup_test")
        .as[(Long, String)].collect().toSeq
      assert(out.count(_._1 == 1L) == 2, out)     // once per horizon
      assert(out.toSet.contains((1L, "a")))        // first won in batch 1
      assert(out.toSet.contains((1L, "a-again")))  // re-admitted post-eviction
      assert(!out.map(_._2).exists(_.startsWith("a-dup")))
      assert(out.toSet.filter(_._1 != 1L).map(_._1) == Set(2L, 3L))
    } finally q.stop()
  }

  test("composed corpus stream: paged source → KV render/parse → rule filter → KB sink") {
    // The §2.9 behaviors composed end-to-end: the registry MicroBatchStream
    // feeds the KV block path, the reference's non-profit rule filter, and
    // the knowledge-base sink under Trigger.AvailableNow — then the SAME
    // relational pipeline runs as a batch and must deliver the same corpus.
    import graft.sources.KvBlock
    import graft.streaming.Sinks
    import org.apache.spark.sql.DataFrame

    def corpus(records: DataFrame): DataFrame = {
      val block = KvBlock.renderBlock(Seq(
        "机构名称" -> col("name"),
        "统一社会信用代码" -> col("credit_code"),
        "机构性质" -> col("institution_type"),
        "区划代码" -> col("region_code")))
      records.withColumn("kv", KvBlock.parseBlock(block))
        .filter(KvBlock.field(col("kv"), "机构性质") === "非营利性")
        .select(KvBlock.field(col("kv"), "机构名称").as("name"),
          concat(lit("# "), KvBlock.field(col("kv"), "机构名称"), lit("\n\n信用代码: "),
            KvBlock.field(col("kv"), "统一社会信用代码")).as("md"))
    }

    // executor-side recording through the client seam (accumulators survive
    // closure serialization in local mode)
    val acc = spark.sparkContext.collectionAccumulator[String]("kb_stream_docs")
    class RecordingClient extends Sinks.KbClient {
      def createByText(batch: Seq[(String, String)]): Seq[String] = {
        batch.foreach { case (n, c) => acc.add(s"$n\t$c") }
        batch.map(_._1)
      }
    }
    val batchIds = scala.collection.mutable.Set.empty[Long]

    val streamDf = spark.readStream.format("graft-paged")
      .option("pages", "12").option("pagesize", "25").option("pagespertrigger", "4")
      .load()
    val q = corpus(streamDf).writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("kb_ckpt").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        batchIds.synchronized { batchIds += id }
        Sinks.kbStreamWriter("name", "md", new RecordingClient, batchSize = 7)(b, id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = acc.value.toArray(Array.empty[String]).toSet

    val batchDf = spark.read.format("graft-paged")
      .option("pages", "12").option("pagesize", "25").load()
    val expected = corpus(batchDf).collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}").toSet

    assert(streamed == expected)                  // stream == batch corpus
    assert(expected.size == 200)                  // 300 records, 2/3 pass rule
    assert(batchIds.nonEmpty)                     // sink saw real micro-batches
  }

  test("streaming boilerplate scrub == batch removal (flagged set as expression state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Seq("COOKIE BANNER", "real content zero", "TERMS FOOTER")),
      (1L, Seq("COOKIE BANNER", "real content one", "TERMS FOOTER")),
      (2L, Seq("COOKIE BANNER", "real content two")),
      (3L, Seq("COOKIE BANNER", "TERMS FOOTER"))
    ).toDF("doc_id", "lines")
    // batch side: learn the flagged head, and the reference output
    val flagged = graft.operators.Dedup.flaggedLineHashes(
      corpus, col("doc_id"), col("lines"), minDocs = 3)
    val batchOut = graft.operators.Dedup.removeBoilerplateLines(
        corpus, col("doc_id"), col("lines"), minDocs = 3)
      .select("id", "n_lines", "n_dropped", "text_clean")
      .as[(Long, Int, Long, String)].collect().toSet

    // stream side: the SAME operator shape over a MemoryStream
    val stream = MemoryStream[(Long, Seq[String])]
    val q = graft.operators.Dedup.applyFlaggedLineFilter(
        stream.toDF.toDF("doc_id", "lines"), col("doc_id"), col("lines"), flagged)
      .writeStream.outputMode("append").format("memory")
      .queryName("boilerplate_stream").start()
    try {
      stream.addData((0L, Seq("COOKIE BANNER", "real content zero", "TERMS FOOTER")),
        (1L, Seq("COOKIE BANNER", "real content one", "TERMS FOOTER")))
      q.processAllAvailable()
      stream.addData((2L, Seq("COOKIE BANNER", "real content two")),
        (3L, Seq("COOKIE BANNER", "TERMS FOOTER")))
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT id, n_lines, n_dropped, text_clean FROM boilerplate_stream")
        .as[(Long, Int, Long, String)].collect().toSet
      assert(streamed == batchOut)
      assert(streamed.contains((3L, 2, 2L, "")))  // fully-boilerplate doc survives as empty
    } finally q.stop()
  }

  test("applyFlaggedLineFilterJoin == applyFlaggedLineFilter incl. edge docs (batch)") {
    import spark.implicits._
    // the family's edge cases: fully-flagged doc, empty lines array, null line
    val corpus = Seq(
      (0L, Seq("COOKIE BANNER", "real content zero", "TERMS FOOTER")),
      (1L, Seq("COOKIE BANNER", "real content one", "TERMS FOOTER")),
      (2L, Seq("COOKIE BANNER", "real content two")),
      (3L, Seq("COOKIE BANNER", "TERMS FOOTER")),
      (4L, Seq.empty[String]),
      (5L, Seq("real content five", null))
    ).toDF("doc_id", "lines")
    val flagged = graft.operators.Dedup.flaggedLineHashes(
      corpus, col("doc_id"), col("lines"), minDocs = 3)
    val exprForm = graft.operators.Dedup.applyFlaggedLineFilter(
        corpus, col("doc_id"), col("lines"), flagged)
      .as[(Long, Int, Long, String)].collect().toSet
    val joinForm = graft.operators.Dedup.applyFlaggedLineFilterJoin(
        corpus, col("doc_id"), col("lines"), flagged.toSeq.toDF("h"))
      .as[(Long, Int, Long, String)].collect().toSet
    assert(joinForm == exprForm)
    assert(joinForm.contains((3L, 2, 2L, "")))  // fully-flagged survives empty
    assert(joinForm.contains((4L, 0, 0L, "")))  // empty array survives
    assert(joinForm.contains((5L, 2, 1L, "real content five"))) // null dropped+counted
    // duplicate hashes on the build side must not corrupt counts
    val dupFlagged = (flagged ++ flagged).toSeq.toDF("h")
    assert(graft.operators.Dedup.applyFlaggedLineFilterJoin(
        corpus, col("doc_id"), col("lines"), dupFlagged)
      .as[(Long, Int, Long, String)].collect().toSet == exprForm)
  }

  test("applyBoilerplateFilterAuto: identical output on both sides of the failover boundary") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq("COOKIE BANNER", "real content zero", "TERMS FOOTER")),
      (1L, Seq("COOKIE BANNER", "real content one", "TERMS FOOTER")),
      (2L, Seq("COOKIE BANNER", "real content two")),
      (3L, Seq("COOKIE BANNER", "TERMS FOOTER")),
      (4L, Seq.empty[String]),
      (5L, Seq("real content five", null))
    ).toDF("doc_id", "lines")
    // flagged head here = 2 hashes (banner + footer at minDocs=3)
    val expected = graft.operators.Dedup.applyFlaggedLineFilter(
        corpus, col("doc_id"), col("lines"),
        graft.operators.Dedup.flaggedLineHashes(
          corpus, col("doc_id"), col("lines"), minDocs = 3))
      .as[(Long, Int, Long, String)].collect().toSet
    // maxBroadcast=2: head fits exactly -> expression path
    val under = graft.operators.Dedup.applyBoilerplateFilterAuto(
        corpus, col("doc_id"), col("lines"), minDocs = 3, maxBroadcast = 2)
      .as[(Long, Int, Long, String)].collect().toSet
    // maxBroadcast=1: head overflows -> join path, same rows
    val over = graft.operators.Dedup.applyBoilerplateFilterAuto(
        corpus, col("doc_id"), col("lines"), minDocs = 3, maxBroadcast = 1)
      .as[(Long, Int, Long, String)].collect().toSet
    assert(under == expected && over == expected)
    // the guarded collected form fails LOUD past its bound instead of
    // silently pulling the head onto the driver (r7 advisory)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.flaggedLineHashes(
        corpus, col("doc_id"), col("lines"), minDocs = 3, maxFlagged = 1)
    }
    assert(e.getMessage.contains("applyFlaggedLineFilterJoin"))
  }

  test("applyFlaggedLineFilterJoin batch == real-doc expression form, and streams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("lines"))
    val flagged = graft.operators.Dedup.flaggedLineHashes(
      docs, col("doc_id"), col("lines"), minDocs = 50)
    val flaggedDf = flagged.toSeq.toDF("h")
    val batchOut = graft.operators.Dedup.applyFlaggedLineFilterJoin(
        docs, col("doc_id"), col("lines"), flaggedDf)
      .as[(Long, Int, Long, String)].collect().toSet
    assert(batchOut == graft.operators.Dedup.applyFlaggedLineFilter(
        docs, col("doc_id"), col("lines"), flagged)
      .as[(Long, Int, Long, String)].collect().toSet)

    // the SAME operator over a MemoryStream: stream-static left-outer join
    // + update-mode regroup (each doc finalizes within its micro-batch)
    val rows = docs.as[(Long, Seq[String])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[String])]
    val q = graft.operators.Dedup.applyFlaggedLineFilterJoin(
        stream.toDF.toDF("doc_id", "lines"), col("doc_id"), col("lines"),
        flaggedDf)
      .writeStream.outputMode("update").format("memory")
      .queryName("flagged_join_stream").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT id, n_lines, n_dropped, text_clean FROM flagged_join_stream")
        .as[(Long, Int, Long, String)].collect().toSet
      assert(streamed == batchOut)
    } finally q.stop()
  }

  test("line-family hash64 mode: all application forms agree; == poly31 off-collision") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("lines"))
    def collect(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "n_lines", "n_dropped", "text_clean")
      .as[(Long, Int, Long, String)].collect().toSet
    val hardened = collect(graft.operators.Dedup.removeBoilerplateLines(
      docs, col("doc_id"), col("lines"), minDocs = 50, hash64 = true))
    // single-token lines over a small vocabulary: far from poly31's
    // birthday horizon, so the 61-bit mode must agree exactly
    assert(hardened == collect(graft.operators.Dedup.removeBoilerplateLines(
      docs, col("doc_id"), col("lines"), minDocs = 50)))
    val flagged64 = graft.operators.Dedup.flaggedLineHashes(
      docs, col("doc_id"), col("lines"), minDocs = 50, hash64 = true)
    assert(flagged64.nonEmpty)
    // 61-bit hashes leave the poly31 range for multi-char lines
    assert(flagged64.exists(_ > 1000000007L))
    assert(collect(graft.operators.Dedup.applyFlaggedLineFilter(
      docs, col("doc_id"), col("lines"), flagged64, hash64 = true)) == hardened)
    assert(collect(graft.operators.Dedup.applyFlaggedLineFilterJoin(
      docs, col("doc_id"), col("lines"), flagged64.toSeq.toDF("h"),
      hash64 = true)) == hardened)
  }

  test("applyFlaggedLineFilter batch output == removeBoilerplateLines on real docs") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("lines"))
    val flagged = graft.operators.Dedup.flaggedLineHashes(
      docs, col("doc_id"), col("lines"), minDocs = 50)
    assert(flagged.nonEmpty)
    val a = graft.operators.Dedup.applyFlaggedLineFilter(
        docs, col("doc_id"), col("lines"), flagged)
      .select("id", "n_lines", "n_dropped", "text_clean")
      .as[(Long, Int, Long, String)].collect().toSet
    val b = graft.operators.Dedup.removeBoilerplateLines(
        docs, col("doc_id"), col("lines"), minDocs = 50)
      .select("id", "n_lines", "n_dropped", "text_clean")
      .as[(Long, Int, Long, String)].collect().toSet
    assert(a == b)
  }

  test("statefulFunnel: last update per user == batch funnel, shuffled arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{FunnelEv, FunnelOut}
    val stages = Seq("signup", "view", "click", "purchase")
    val batchEvents = eventsBatch
    val asFunnel = batchEvents
      .select(col("user_id"), expr("unix_micros(ts)").as("tsMicros"),
        col("event_type"))
      .as[(Long, Long, String)].collect()
      .flatMap { case (u, t, e) =>
        val si = stages.indexOf(e)
        if (si >= 0) Some(FunnelEv(u, t, si)) else None
      }.toSeq
    // shuffled, three batches — late stage-1 events WILL shift anchors
    val shuffled = new scala.util.Random(13).shuffle(asFunnel)
    val winUs = 259200L * 1000000L
    val stream = MemoryStream[FunnelEv]
    val q = graft.streaming.StreamingOps
      .statefulFunnel(stream.toDS(), stages.length, winUs)
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_stream_test").start()
    try {
      val third = shuffled.length / 3
      stream.addData(shuffled.take(third)); q.processAllAvailable()
      stream.addData(shuffled.slice(third, 2 * third)); q.processAllAvailable()
      stream.addData(shuffled.drop(2 * third)); q.processAllAvailable()
      // last emission per user (memory sink appends update rows in order)
      val streamed = spark.sql("SELECT * FROM funnel_stream_test")
        .as[FunnelOut].collect()
        .zipWithIndex.groupBy(_._1.user_id)
        .map { case (u, rows) => u -> rows.maxBy(_._2)._1 }
      val batch = graft.operators.Journey.funnel(batchEvents,
          col("user_id"), col("ts"), col("event_type"), stages, 259200L)
        .select("user_key", "depth", "anchor_us")
        .as[(Long, Int, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
      streamed.foreach { case (u, out) =>
        assert((out.depth, out.anchorMicros) == batch(u), s"user $u")
      }
    } finally q.stop()
  }

  test("sprtMonitor: last update per key == q288's batch verdicts, shuffled arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{SprtEv, SprtOut}
    import graft.operators.Journey
    // EXACTLY q288's frame: H0 p=0.20 vs H1 p=0.30 at α=β=0.05, per
    // event_type, success = value-cents over the per-type bar
    val (l1, l0, bound) = Journey.sprtConstants(0.20, 0.30, 0.05, 0.05)
    val batchEvents = eventsBatch.filter(col("value").isNotNull)
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val cut = when(col("event_type").isin("purchase", "signup"), 5000L)
      .otherwise(9000L)
    val asSprt = batchEvents
      .select(col("event_type"), expr("unix_micros(ts)").as("tsMicros"),
        col("event_id"), (cents >= cut).cast("long").as("success"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, t, tb, s) => SprtEv(k, t, tb, s) }.toSeq
    val shuffled = new scala.util.Random(29).shuffle(asSprt)
    val stream = MemoryStream[SprtEv]
    val q = graft.streaming.StreamingOps
      .sprtMonitor(stream.toDS(), l1, l0, bound)
      .writeStream.outputMode("update").format("memory")
      .queryName("sprt_stream_test").start()
    try {
      val third = shuffled.length / 3
      stream.addData(shuffled.take(third)); q.processAllAvailable()
      stream.addData(shuffled.slice(third, 2 * third)); q.processAllAvailable()
      stream.addData(shuffled.drop(2 * third)); q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM sprt_stream_test")
        .as[SprtOut].collect()
        .zipWithIndex.groupBy(_._1.key)
        .map { case (k, rows) => k -> rows.maxBy(_._2)._1 }
      val batch = Journey.sprt(batchEvents, Seq(col("event_type")),
          col("ts"), col("event_id"), cents >= cut, l1, l0, bound)
        .collect().map { r =>
          r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
            Option(r.get(4)).map(_.asInstanceOf[Number].longValue),
            Option(r.get(5)).map(_.asInstanceOf[Double]),
            r.getDouble(6)))
        }.toMap
      assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
      // the fixture must exercise BOTH verdicts, not just one arm
      assert(batch.values.map(_._3).toSet == Set("accept_h1", "accept_h0"))
      streamed.foreach { case (k, o) =>
        assert((o.n_events, o.n_success, o.decision, o.n_at_decision,
          o.llr_at_decision_bits, o.llr_final_bits) == batch(k), s"key $k")
      }
    } finally q.stop()
  }

  test("cusumMonitor: last update per key == q198's batch fold, shuffled arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{CusumEv, CusumOut}
    import graft.operators.Journey
    // EXACTLY q198's frame: value cents vs target 6000, threshold 30000
    val batchEvents = eventsBatch
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val asCusum = batchEvents
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts)").as("tsMicros"),
        col("event_id"), cents.as("x"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, t, tb, x) => CusumEv(u, t, tb, x) }.toSeq
    val shuffled = new scala.util.Random(31).shuffle(asCusum)
    val stream = MemoryStream[CusumEv]
    val q = graft.streaming.StreamingOps
      .cusumMonitor(stream.toDS(), target = 6000L, threshold = 30000L)
      .writeStream.outputMode("update").format("memory")
      .queryName("cusum_stream_test").start()
    try {
      val third = shuffled.length / 3
      stream.addData(shuffled.take(third)); q.processAllAvailable()
      stream.addData(shuffled.slice(third, 2 * third)); q.processAllAvailable()
      stream.addData(shuffled.drop(2 * third)); q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM cusum_stream_test")
        .as[CusumOut].collect()
        .zipWithIndex.groupBy(_._1.key)
        .map { case (k, rows) => k -> rows.maxBy(_._2)._1 }
      val batch = Journey.cusum(batchEvents, col("user_id"), col("ts"),
          col("event_id"), cents, target = 6000L, threshold = 30000L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
      // the fixture must actually alarm somewhere
      assert(batch.values.exists(_._2 > 0), "no alarms in the fixture")
      streamed.foreach { case (k, o) =>
        assert((o.n, o.n_alarms, o.final_s) == batch(k), s"key $k")
      }
    } finally q.stop()
  }

  test("ewmaMonitor: last update per key == q190's batch fold, shuffled arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{EwmaEv, EwmaOut}
    import graft.operators.Journey
    // EXACTLY q190's frame: value cents per user, alpha = 1/4
    val batchEvents = eventsBatch
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val asEwma = batchEvents
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts)").as("tsMicros"),
        col("event_id"), cents.as("x"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, t, tb, x) => EwmaEv(u, t, tb, x) }.toSeq
    val shuffled = new scala.util.Random(37).shuffle(asEwma)
    val stream = MemoryStream[EwmaEv]
    val q = graft.streaming.StreamingOps
      .ewmaMonitor(stream.toDS(), d = 4)
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma_stream_test").start()
    try {
      val third = shuffled.length / 3
      stream.addData(shuffled.take(third)); q.processAllAvailable()
      stream.addData(shuffled.slice(third, 2 * third)); q.processAllAvailable()
      stream.addData(shuffled.drop(2 * third)); q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM ewma_stream_test")
        .as[EwmaOut].collect()
        .zipWithIndex.groupBy(_._1.key)
        .map { case (k, rows) => k -> rows.maxBy(_._2)._1 }
      val batch = Journey.ewmaFixed(batchEvents, col("user_id"),
          col("ts"), col("event_id"), cents, d = 4)
        .select(col("key"), col("n"), col("ewma_fp"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
      // the recursion must actually recurse: some key needs n >= 3
      assert(batch.values.exists(_._1 >= 3), "fixture series too short")
      streamed.foreach { case (k, o) =>
        assert((o.n, o.ewma_fp) == batch(k), s"key $k")
      }
    } finally q.stop()
  }

  test("advanceEwma: finite lateness commits the prefix, level unchanged") {
    import graft.streaming.StreamingOps
    val rnd = new scala.util.Random(43)
    // 400 events, values in cents with a level shift halfway
    val evs = (1L to 400L).map(t =>
      (t * 1000000L, t, (if (t <= 200) 5000L else 9000L) + rnd.nextInt(500)))
    def run(lateness: Long, batches: Seq[Seq[(Long, Long, Long)]]) = {
      var st = StreamingOps.EwmaSt(0L, 0L, seededC = false,
        Long.MinValue, Nil)
      var last: (Long, Long, Boolean) = null
      batches.foreach { b =>
        val (st1, cur) = StreamingOps.advanceEwma(st, b, 4, lateness)
        st = st1; last = cur
      }
      (st, last)
    }
    // mildly disordered batches, within a 20-event lateness window
    val disordered = evs.grouped(50).toSeq.map(g =>
      new scala.util.Random(g.head._2).shuffle(g))
    val (stInf, exact) = run(Long.MaxValue, disordered)
    val (stFin, bounded) = run(20L * 1000000L, disordered)
    assert(bounded == exact, "finite-lateness fold diverged")
    assert(stInf.raw.length == 400 && stFin.raw.length < 400,
      "finite lateness did not shrink retained state")
  }

  test("advanceSprt: finite lateness commits the prefix, verdict unchanged") {
    import graft.streaming.StreamingOps
    import graft.operators.Journey
    val (l1, l0, bound) = Journey.sprtConstants(0.20, 0.30, 0.05, 0.05)
    val rnd = new scala.util.Random(41)
    // 400 events, ~27% success: crosses the lower bound somewhere inside
    val evs = (1L to 400L).map(t =>
      (t * 1000000L, t, if (rnd.nextInt(100) < 27) 1L else 0L))
    def run(lateness: Long, batches: Seq[Seq[(Long, Long, Long)]]) = {
      var st = StreamingOps.SprtSt(0L, 0L, 0L, 0L, 0L, Long.MinValue, Nil)
      var last: (Long, Long, Long, Long, Long) = null
      batches.foreach { b =>
        val (st1, cur) = StreamingOps.advanceSprt(st, b, l1, l0, bound,
          lateness)
        st = st1; last = cur
      }
      (st, last)
    }
    // mildly disordered batches, within a 20-event lateness window
    val disordered = evs.grouped(50).toSeq.map(g =>
      new scala.util.Random(g.head._2).shuffle(g))
    val (stInf, exact) = run(Long.MaxValue, disordered)
    val (stFin, bounded) = run(20L * 1000000L, disordered)
    assert(bounded == exact, "finite-lateness fold diverged")
    // and the finite run actually COMMITTED: state holds only the tail
    assert(stFin.raw.size < stInf.raw.size && stFin.nC > 0L)
    assert(stInf.raw.size == evs.size)
  }

  test("schema validation: stream == batch (narrow projection, no state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloads = Seq(
      """{"personal_info":{"gender":"男","education":"硕士","major":"m"}}""",
      """{"personal_info":{"gender":"x","education":"硕士","major":"m"}}""",
      """{"institution_info":[1]}""",
      "not json at all {",
      "{}")
    val batch = graft.operators.SchemaValidate.validate(
        payloads.toDF("j"), col("j"),
        graft.operators.SchemaValidate.surveySchema)
      .select(col("j"), array_join(col("violations"), "|").as("v"),
        col("is_valid"))
      .as[(String, String, Boolean)].collect().toSet
    val stream = MemoryStream[String]
    val q = graft.operators.SchemaValidate.validate(
        stream.toDS().toDF("j"), col("j"),
        graft.operators.SchemaValidate.surveySchema)
      .select(col("j"), array_join(col("violations"), "|").as("v"),
        col("is_valid"))
      .writeStream.outputMode("append").format("memory")
      .queryName("schema_stream_test").start()
    try {
      stream.addData(payloads.take(2)); q.processAllAvailable()
      stream.addData(payloads.drop(2)); q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM schema_stream_test")
        .as[(String, String, Boolean)].collect().toSet
      assert(streamed == batch)
      assert(streamed.exists(_._2 == "malformed:$"))
    } finally q.stop()
  }

  test("advanceFunnel: bounded lateness prunes state without changing results") {
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.FunnelSt
    val nStages = 3
    val winUs = 1000L
    val lateness = 50L
    val rnd = new scala.util.Random(7)
    // a long event stream with disorder bounded by `lateness`, duplicates
    // included, several complete funnels along the way
    val ordered = (0 until 400).flatMap { i =>
      val t = i.toLong * 10
      val si = i % 4 match { case 0 => 0; case 1 => 1; case 2 => 2; case _ => rnd.nextInt(nStages) }
      Seq((si, t)) ++ (if (i % 7 == 0) Seq((si, t)) else Nil) // dup
    }
    val jittered = ordered.map { case (si, t) => (si, t, t + rnd.nextInt(lateness.toInt)) }
      .sortBy(_._3).map(e => (e._1, e._2))
    // reference: the exact full-history fold
    def fullFold(evs: Seq[(Int, Long)]): Option[(Int, Long)] = {
      var reached = Vector.empty[Long]
      evs.sortBy(x => (x._2, x._1)).foreach { case (si, t) =>
        if (reached.size < nStages && si == reached.size &&
            (reached.isEmpty || (t > reached.last && t <= reached.head + winUs)))
          reached = reached :+ t
      }
      if (reached.nonEmpty) Some((reached.size, reached.head)) else None
    }
    var st = FunnelSt(Nil, Long.MinValue, Nil)
    var lastOut: Option[(Int, Long)] = None
    jittered.grouped(23).foreach { batch =>
      val (st2, out) = StreamingOps.advanceFunnel(st, batch, nStages, winUs, lateness)
      st = st2
      out.foreach(o => lastOut = Some(o))
      // retention bound: committed chain <= nStages; raw holds only
      // distinct events inside the lateness window of maxSeen (or is
      // empty once the committed chain is full)
      assert(st.committed.size <= nStages)
      assert(st.raw.distinct.size == st.raw.size)
      if (st.committed.size < nStages)
        assert(st.raw.forall(_._2 >= st.maxSeenMicros - lateness))
      else assert(st.raw.isEmpty)
    }
    assert(lastOut == fullFold(jittered), s"got $lastOut")
    // the full chain completed and the raw tail was dropped
    assert(st.committed.size == nStages && st.raw.isEmpty)
    // unbounded mode keeps every distinct event and matches too
    var stAll = FunnelSt(Nil, Long.MinValue, Nil)
    var lastAll: Option[(Int, Long)] = None
    jittered.grouped(23).foreach { batch =>
      val (s2, out) = StreamingOps.advanceFunnel(
        stAll, batch, nStages, winUs, Long.MaxValue)
      stAll = s2; out.foreach(o => lastAll = Some(o))
    }
    assert(lastAll == fullFold(jittered))
    assert(stAll.raw.size == jittered.distinct.size)
  }

  // ---- streaming sketches ---------------------------------------------------
  // Registers are sums (count-min) / maxes (HLL) — mergeable by
  // construction — so the SAME batch operators run unchanged as
  // streaming aggregations and micro-batch partials compose exactly.

  test("countMinRegisters: stream (complete mode) == batch registers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val items = (1L to 3000L).map(i => s"tok${i % 131}")
    val stream = MemoryStream[String]
    val q = graft.operators.Sketches
      .countMinRegisters(stream.toDF.toDF("w"), col("w"), depth = 3, width = 256)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cms_stream_test").start()
    try {
      val (a, b) = items.splitAt(items.length / 3)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.sql("SELECT d, idx, cnt FROM cms_stream_test")
        .as[(Int, Long, Long)].collect().toSet
      val batch = graft.operators.Sketches
        .countMinRegisters(items.toDF("w"), col("w"), depth = 3, width = 256)
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("kmvRegistersAgg: stream (complete mode) == batch registers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val items = (1L to 3000L).map(i => ("g" + (i % 3), s"v${i % 500}"))
    val stream = MemoryStream[(String, String)]
    // the register table derives from the streaming agg (posexplode over
    // the sketch column), so complete-mode output stays one row per rank
    val q = graft.operators.Sketches
      .kmvRegistersAgg(stream.toDF.toDF("g", "w"), Seq(col("g")), col("w"),
        k = 16)
      .writeStream.outputMode("complete").format("memory")
      .queryName("kmv_stream_test").start()
    try {
      val (a, b) = items.splitAt(1000)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.sql("SELECT g, rnk, h FROM kmv_stream_test")
        .as[(String, Long, Long)].collect().toSet
      val batch = graft.operators.Sketches
        .kmvRegistersAgg(items.toDF("g", "w"), Seq(col("g")), col("w"),
          k = 16)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch && batch.size == 48)
    } finally q.stop()
  }

  test("qdigest: streamed leaf counts -> compress == batch registers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val items = (1L to 4000L).map(i => ("g" + (i % 2), (i * 37) % 1024))
    val stream = MemoryStream[(String, Long)]
    // the digest is a deterministic function of the (g, value) leaf
    // counts: leaf counts maintained by the stream (complete mode),
    // compressed via merge() on lvl-0 nodes, are register-identical to
    // the batch build
    val q = stream.toDF.toDF("g", "v").groupBy("g", "v").count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("qd_stream_test").start()
    try {
      val (a, b) = items.splitAt(1500)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val leafTab = spark.sql("SELECT g, v, count FROM qd_stream_test")
        .select(col("g"), lit(0).as("lvl"), col("v").as("cell"),
          col("count").as("cnt"))
      val streamed = graft.operators.QuantileDigest
        .merge(leafTab, Seq(col("g")), bits = 10, k = 32)
        .as[(String, Int, Long, Long)].collect().toSet
      val batch = graft.operators.QuantileDigest
        .registers(items.toDF("g", "v"), Seq(col("g")), col("v"),
          bits = 10, k = 32)
        .as[(String, Int, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("qdigest: registers stream (complete mode) == batch registers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val items = (1L to 4000L).map(i => ("g" + (i % 2), (i * 37) % 1024))
    val stream = MemoryStream[(String, Long)]
    // the build is one aggregation (the q-digest buffer is its state), so
    // the registers themselves run as the streaming query
    val q = graft.operators.QuantileDigest
      .registers(stream.toDF.toDF("g", "v"), Seq(col("g")), col("v"),
        bits = 10, k = 32)
      .writeStream.outputMode("complete").format("memory")
      .queryName("qd_registers_stream_test").start()
    try {
      val (a, b) = items.splitAt(1500)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.sql("SELECT g, lvl, cell, cnt FROM qd_registers_stream_test")
        .as[(String, Int, Long, Long)].collect().toSet
      val batch = graft.operators.QuantileDigest
        .registers(items.toDF("g", "v"), Seq(col("g")), col("v"),
          bits = 10, k = 32)
        .as[(String, Int, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("hllRegisters: stream (complete mode) == batch registers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val items = (1L to 2000L).map(i => ("g" + (i % 3), s"v$i"))
    val stream = MemoryStream[(String, String)]
    val q = graft.operators.Sketches
      .hllRegisters(stream.toDF.toDF("g", "w"), Seq(col("g")), col("w"), p = 5)
      .writeStream.outputMode("complete").format("memory")
      .queryName("hll_stream_test").start()
    try {
      val (a, b) = items.splitAt(700)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.sql("SELECT g, bucket, rho_max FROM hll_stream_test")
        .as[(String, Long, Int)].collect().toSet
      val batch = graft.operators.Sketches
        .hllRegisters(items.toDF("g", "w"), Seq(col("g")), col("w"), p = 5)
        .as[(String, Long, Int)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("intervalJoin: stream-stream symmetric hash join == the SAME " +
      "plan on batch frames, shuffled 3-batch arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // based a day after epoch 0: a row whose event time EQUALS the
    // initial watermark (epoch 0) is dropped at ingestion by the
    // stream-stream join's late-row filter — a boundary artifact of
    // the fixture, not a semantic to pin
    def ts(min: Int) = new java.sql.Timestamp(86400000L + min * 60000L)
    // 7 users x impressions every few minutes; clicks land inside AND
    // outside the 10-minute horizon, plus clicks for users with no
    // impression at all
    val imps = (0 until 40).map(i => (i.toLong % 7, ts(i), s"imp$i"))
    val clks = (0 until 60).map(i => (i.toLong % 9, ts(i / 2 + 3), s"clk$i"))
    def run(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame) =
      StreamingOps.intervalJoin(l, r, "i_user", "c_user", "i_ts", "c_ts",
        horizon = "10 minutes", watermark = "2 hours")
    val batch = run(imps.toDF("i_user", "i_ts", "imp_id"),
        clks.toDF("c_user", "c_ts", "clk_id"))
      .select("imp_id", "clk_id")
      .as[(String, String)].collect().toSet
    assert(batch.nonEmpty)
    // the horizon must actually exclude some same-key pairs (otherwise
    // this tests an equi join, not an interval join)
    val allPairs = imps.toDF("i_user", "i_ts", "imp_id")
      .join(clks.toDF("c_user", "c_ts", "clk_id"),
        col("i_user") === col("c_user")).count()
    assert(allPairs > batch.size, "horizon excluded nothing")
    val si = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sc = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = run(si.toDF.toDF("i_user", "i_ts", "imp_id"),
        sc.toDF.toDF("c_user", "c_ts", "clk_id"))
      .select("imp_id", "clk_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("interval_join_test").start()
    try {
      // shuffled arrival across 3 micro-batches; the 2-hour watermark
      // exceeds the fixture's whole span so no state is evicted before
      // its partner can arrive — inner matches emit as they pair up
      val ri = new scala.util.Random(41).shuffle(imps)
      val rc = new scala.util.Random(43).shuffle(clks)
      si.addData(ri.take(13)); sc.addData(rc.take(20))
      q.processAllAvailable()
      si.addData(ri.slice(13, 26)); sc.addData(rc.slice(20, 40))
      q.processAllAvailable()
      si.addData(ri.drop(26)); sc.addData(rc.drop(40))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM interval_join_test")
        .as[(String, String)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }
}
