package graft

import graft.operators.{Dedup, Mixture, Packing, Sampling}
import org.apache.spark.sql.functions._

/** Scale receipts for the training-pipeline operators: synthetic inputs at
  * 10M+ rows (generated distributed via spark.range — nothing ever
  * collects), min-of-2 timings printed one per line. Not part of the
  * driver bench contract; run ad hoc per round and record in SCALE.md:
  *
  *   sbt -batch "runMain graft.Stress [rows] [all|core|neardup]"
  *
  * `neardup` runs only the end-to-end Dedup.removeNearDuplicates receipts:
  * LSH band join → CC rounds → semi-join at [rows] docs, a chain-topology
  * variant forcing deep label propagation, and a skewed hot-bucket variant
  * proving AQE's skew-join split engages.
  */
object Stress {

  private def time[A](name: String, runs: Int = 2)(body: => A): Unit = {
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[stress] $name%-24s ${times.min}%8.2f s (min of $runs)")
  }

  /** Aggregate shuffle bytes written across every task while `body` runs —
    * the "how much actually moved" side of a receipt. Listener-based, so it
    * observes the real exchanges, not a plan estimate.
    */
  private def shuffleBytes[A](
      sc: org.apache.spark.SparkContext)(body: => A): (A, Long) = {
    val (r, bytes, _) = shuffleWrites(sc)(body)
    (r, bytes)
  }

  /** [[shuffleBytes]] plus the shuffle records written. */
  private def shuffleWrites[A](
      sc: org.apache.spark.SparkContext)(body: => A): (A, Long, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      // the listener bus is async and its drain API is private[spark] —
      // settle-wait (bounded): stop once no event lands for 200 ms
      var last = -1L
      var waited = 0
      while (last != bytes.get() && waited < 25) {
        last = bytes.get(); Thread.sleep(200); waited += 1
      }
      (r, bytes.get(), records.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Composed curation-pipeline receipt (r10 verdict #6) — the q134 stage
    * chain (WARC → status gate → robots → per-domain quota → Gopher →
    * boilerplate-line removal → MinHash-LSH near-dup removal →
    * temperature mixture) run end-to-end at corpus scale with PER-STAGE
    * wall/rows/shuffle, the 数据获取架构.md:355 pipeline shape priced as
    * one program instead of per-operator receipts.
    *
    * Corpus: n docs over n/20 registrable domains (~20 docs each, so the
    * quota stage has real work), 5 languages, ~9% shipped as 404s, ~20%
    * of paths robots-banned for the '*' group (with the /private/pub
    * carve-out and the even-domain GraftBot /tmp ban exercising RFC 9309
    * group selection), ~6% Gopher-junk (under min token count), per-5000
    * -doc-group shared 3-token boilerplate head lines (removed at
    * minDocs = 5), and the nearDupReceipts cluster shape (first 20% of
    * ids in 3-doc near-dup clusters, hash-mixed tokens) feeding the LSH
    * stage. Each stage boundary is localCheckpoint-materialized inside
    * its own timing block — the between-phase barrier a production run
    * writes — so a stage's wall includes exactly its own work.
    */
  /** Writes the curation-pipeline corpus to `dir` (untimed, materialized
    * to parquet like a real crawl) and returns the reader. Shape shared by
    * the staged and fused pipeline receipts — see [[pipelineReceipt]].
    */
  private def pipelineCorpus(
      spark: org.apache.spark.sql.SparkSession, n: Long,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    val bpGroups = math.max(1L, n / 5000L) // ~5000 docs share a head line
    val clusters = n / 15                  // 20% of ids in 3-doc clusters
    val dupCount = clusters * 3
    val langs = array(Seq("en", "zh", "es", "fr", "de").map(lit): _*)
    val junk = pmod(col("id"), lit(17)) === 3 // < 50 tokens -> Gopher drop
    val nToks = when(junk, lit(20)).otherwise(lit(55))
    val token = (j: Column) => {
      val cluster = floor(col("id") / 3)
      val mixed = when(col("id") < dupCount,
        when(j === pmod(col("id"), lit(3)),
          concat(lit("m"), pmod(col("id"), lit(3)), lit("c"), cluster))
          .otherwise(concat(lit("c"),
            pmod(xxhash64(cluster, j), lit(9999L)), lit("t"), j)))
        .otherwise(concat(lit("u"),
          pmod(xxhash64(col("id"), j), lit(9999L)), lit("t"), j))
      // shared 3-token boilerplate head per group; stopwords keep the
      // Gopher gate honest (minStopwords = 1)
      when(j < 3, concat(lit("bp"), pmod(col("id"), lit(bpGroups)),
          lit("w"), j))
        .when(j === 4, lit("the")).when(j === 30, lit("and"))
        .otherwise(mixed)
    }
    spark.range(0, n, 1, 32).select(
        col("id").as("doc_id"),
        element_at(langs, (pmod(col("id"), lit(5)) + 1).cast("int"))
          .as("lang"),
        array_join(transform(sequence(lit(0), nToks - 1), token), " ")
          .as("text"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** The q134 stage chain as composable (name, input => output) transforms
    * over the [[pipelineCorpus]] shape — the staged receipt materializes
    * every boundary, the fused receipt composes them into one program.
    */
  private def pipelineStageFns(
      spark: org.apache.spark.sql.SparkSession,
      n: Long): Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = {
    import graft.functions.TextFunctions
    import graft.operators.{Dedup, Mixture, QualityRules, Sampling}
    import graft.queries.CurationQueries
    import graft.sources.{Robots, Warc}
    import org.apache.spark.sql.DataFrame
    val nDomains = math.max(20L, n / 20L)
    Seq(
      // ---- stage 0: WARC encode+parse + status gate (q134 stage 0 shape)
      "s0_warc" -> { (corpus: DataFrame) =>
        val sub = pmod(col("doc_id"), lit(5))
        val m = pmod(col("doc_id"), lit(nDomains))
        val path = concat(lit("/"), col("lang"),
          when(sub === 0, concat(lit("/private/x"), col("doc_id")))
            .when(sub === 1, concat(lit("/private/pub/"), col("doc_id")))
            .when(sub === 2, concat(lit("/tmp/doc"), col("doc_id")))
            .when(sub === 3, concat(lit("/keep/doc"), col("doc_id")))
            .otherwise(concat(lit("/ok"), col("doc_id"))))
        val params = corpus.select(
          floor(col("doc_id") / 25).cast("long").as("file_id"),
          col("doc_id"),
          concat(lit("http://site"), m, lit(".com"), path).as("uri"),
          when(pmod(col("doc_id"), lit(11)) === 0, lit(404))
            .otherwise(lit(200)).as("status"),
          col("text"),
          pmod(floor(col("doc_id") / 25), lit(2)).cast("int").as("gzip"))
        Warc.parseWarc(Warc.encodeWarc(params))
          .filter(col("warc_type") === "response" && col("http_status") === 200)
          .select(
            regexp_extract(col("target_uri"), "(\\d+)$", 1)
              .cast("long").as("doc_id"),
            regexp_extract(col("target_uri"), "^http://([^/]+)", 1).as("host"),
            regexp_extract(col("target_uri"), "^http://[^/]+(/.*)$", 1).as("path"),
            regexp_extract(col("target_uri"), "^http://[^/]+/([^/]+)/", 1).as("lang"),
            col("body_text").as("text"))
      },

      // ---- stage 1: robots gate (RFC 9309 group selection, q134 policy)
      "s1_robots" -> { (s0: DataFrame) =>
        val dcol = col("id")
        val robotsTxt = spark.range(0, nDomains).toDF("id")
          .select(concat(lit("site"), dcol, lit(".com")).as("domain"),
            concat(
              lit("User-Agent: *\nDisallow: /*/private/\nAllow: /*/private/pub\n"),
              when(pmod(dcol, lit(2)) === 0,
                lit("\nUser-Agent: GraftBot\nDisallow: /*/tmp/*\n"))
                .otherwise(lit("")))
              .as("content"))
        Robots.allowedUrls(s0, col("doc_id"), col("host"),
            col("path"), Robots.parseRobots(robotsTxt), agent = "graftbot")
          .filter(col("allowed") === 1)
          .drop("agent_group", "allowed")
      },

      // ---- stage 2: per-registrable-domain quota
      "s2_quota" -> { (s1: DataFrame) =>
        Sampling.kPerGroup(
          s1.withColumn("domain",
            TextFunctions.registrableDomain(col("host"))),
          Seq(col("domain")), col("doc_id"), 10)
      },

      // ---- stage 3: Gopher gate (narrow per-row predicate)
      "s3_gopher" -> { (s2: DataFrame) =>
        s2.filter(QualityRules.keepFlag(col("text"), minStopwords = 1))
      },

      // ---- stage 4: corpus-level boilerplate-line removal
      "s4_linededup" -> { (s3: DataFrame) =>
        Dedup.removeBoilerplateLines(
            s3, col("doc_id"),
            CurationQueries.tokenChunkLines(col("text"), 3),
            minDocs = 5, carry = Seq("lang" -> col("lang")))
          .select(col("id").as("doc_id"), col("lang"),
            col("text_clean").as("text"))
      },

      // ---- stage 5: MinHash-LSH near-dup removal (q86 knobs)
      "s5_neardup" -> { (s4: DataFrame) =>
        Dedup.removeNearDuplicates(s4, col("doc_id"),
          col("text"), shingleSize = 3, numHashes = 32, bands = 8,
          threshold = 0.3)
      },

      // ---- stage 6: temperature mixture (5 output rows)
      "s6_mixture" -> { (s5: DataFrame) =>
        Mixture.temperatureWeights(s5, Seq(col("lang")),
          alpha = 0.5, budget = 1000)
      })
  }

  /** Counts MemoryStore "Not enough space to cache" evictions logged while
    * `body` runs — the signal the 50M staged receipt attributed its
    * super-linear stages to. log4j2 appender on the root logger, so it
    * observes the real WARNs, not a heuristic.
    */
  private def countingEvictions[A](body: => A): (A, Long) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val hits = new java.util.concurrent.atomic.AtomicLong(0L)
    val app = new AbstractAppender(
        "graftEvictCounter", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("Not enough space to cache")) {
          hits.incrementAndGet(): Unit
        }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try (body, hits.get()) finally {
      cfg.getRootLogger.removeAppender("graftEvictCounter")
      ctx.updateLoggers()
      app.stop()
    }
  }

  /** spread() probe-cost receipt (r13 verdict #10): `Parallelism.spread`
    * reads `df.rdd.getNumPartitions` during QUERY CONSTRUCTION, which
    * plans an RDD per call site even when nothing executes — the receipt
    * pins that on a properly-split (1000-partition) input the probe
    * stays plan-time-only (zero jobs started) and construction wall is
    * negligible, while a 1-partition input still triggers the repair.
    */
  private def spreadProbeReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    val wide = spark.range(0, n, 1, 1000).toDF("id")
      .withColumn("text", concat(lit("tok "), col("id")))
    val t0 = System.nanoTime()
    var df = wide
    (1 to 8).foreach { _ =>
      df = graft.core.Parallelism.spread(df)
        .select(col("id"), col("text"))
    }
    df.queryExecution.executedPlan // force full planning of the chain
    val constructMs = (System.nanoTime() - t0) / 1e6
    Thread.sleep(1000) // listener bus is async — let events settle
    spark.sparkContext.removeSparkListener(l)
    val narrow = graft.core.Parallelism
      .spread(spark.range(0, 1000, 1, 1).toDF("id"))
      .rdd.getNumPartitions
    println(f"[stress] spreadprobe: 8 spread() call sites over a " +
      f"1000-split input planned in $constructMs%.1f ms, jobs started = " +
      f"${jobs.get}; 1-split input repaired to $narrow partitions")
    require(jobs.get == 0,
      s"spread() probe executed ${jobs.get} job(s) during construction")
    require(constructMs < 5000.0,
      f"spread() construction cost $constructMs%.1f ms — probe too heavy")
    require(narrow == spark.sparkContext.defaultParallelism,
      s"narrow input not repaired: $narrow")
  }

  /** AQE coalesce-shuffle-partitions receipt (r12 verdict #8b) — the one
    * AQE feature without a dedicated receipt. A 100 TB job sizes
    * `initialPartitionNum` for its BIGGEST shuffle; every smaller shuffle
    * in the same job then over-partitions, and the post-shuffle stage pays
    * one task per (mostly empty) partition. AQE's runtime coalesce folds
    * them back to `advisoryPartitionSizeInBytes`-sized reads. Receipt: the
    * same group-by at initialPartitionNum=2048, coalesce ON vs OFF —
    * post-shuffle task count, wall, and the executed plan's
    * `AQEShuffleRead coalesced` marker.
    */
  private def aqeCoalesceReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    val sc = spark.sparkContext
    val mLabel = if (n >= 1000000) s"${n / 1000000}M" else s"${n / 1000}k"
    // n/100 keys → a shuffle in the GBs at 100M+ rows: big enough that
    // the advisory size yields tens of coalesced reads, not one
    val keys = math.max(1000L, n / 100L)
    def run(name: String, coalesce: Boolean): Unit = {
      val confs = Map(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce.toString,
        // shuffle.partitions (not initialPartitionNum, which only applies
        // WITH coalesce on) so both arms start from 2048 reduce partitions
        "spark.sql.shuffle.partitions" -> "2048",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB")
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            tasks.incrementAndGet(): Unit
        }
        val agg = spark.range(0, n, 1, 32).select(
            pmod(xxhash64(col("id")), lit(keys)).as("k"), col("id").as("v"))
          .groupBy(col("k"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        agg.count(): Unit // warm (codegen + file-less fixture)
        sc.addSparkListener(listener)
        var out = 0L
        val t0 = System.nanoTime()
        // execute agg's OWN adaptive plan (count() would execute a clone
        // and leave agg's final plan — the AQEShuffleRead evidence —
        // unresolved)
        val (_, bytes) = shuffleBytes(sc) {
          out = agg.queryExecution.executedPlan.execute().count()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        sc.removeSparkListener(listener)
        val plan = agg.queryExecution.executedPlan.toString
        val coalesced = plan.contains("coalesced")
        println(f"[stress] aqecoalesce_${mLabel}_$name%-10s wall=$wall%6.2f s " +
          f"tasks=${tasks.get()}%5d shuffle=${bytes / 1e9}%6.3f GB " +
          s"groups=$out plan_coalesced=$coalesced")
        require(out == keys, s"group count drifted: $out != $keys")
        if (coalesce) {
          require(coalesced, "AQE must report a coalesced shuffle read")
          // 2048 post-shuffle partitions must fold to advisory-sized
          // reads: the task count collapses (32 map + a few hundred max)
          require(tasks.get() < 512,
            s"coalesce did not engage: ${tasks.get()} tasks")
        } else {
          require(tasks.get() > 1500,
            s"expected ~2048 post-shuffle tasks, saw ${tasks.get()}")
        }
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    run("off", coalesce = false)
    run("on", coalesce = true)
  }

  private def pipelineReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.DataFrame
    val sc = spark.sparkContext
    val mLabel = if (n >= 1000000) s"${n / 1000000}M" else s"${n / 1000}k"
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_pipe").toString
    try {
      val corpus = pipelineCorpus(spark, n, dir)

      val stages = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Double, Long)]
      def stage(name: String)(body: => DataFrame): DataFrame = {
        var out: DataFrame = null
        var rows = -1L
        val t0 = System.nanoTime()
        val (_, bytes) = shuffleBytes(sc) {
          out = body.localCheckpoint()
          rows = out.count()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        stages += ((name, rows, wall, bytes))
        println(f"[stress] pipeline_${mLabel}_$name%-12s rows=$rows%10d " +
          f"wall=$wall%8.2f s shuffle=${bytes / 1e9}%7.3f GB")
        out
      }

      var cur = corpus
      var evictions = 0L
      for ((name, fn) <- pipelineStageFns(spark, n)) {
        val (out, ev) = countingEvictions { stage(name)(fn(cur)) }
        evictions += ev
        cur = out
      }
      val s6 = cur

      val total = stages.map(_._3).sum
      println(f"[stress] pipeline_${mLabel}_total wall=$total%.2f s " +
        s"evictions=$evictions " +
        s"(stages: ${stages.map(s => f"${s._1}=${s._3}%.1f").mkString(", ")})")
      // sanity: every gate did real work and the pipe ends at 5 langs
      require(s6.count() == 5, "mixture must end at 5 language rows")
      val rows = stages.map(_._2)
      require(rows.sliding(2).forall(w => w(1) <= w(0)),
        s"stages must be monotonically narrowing: $rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** Fused composed-form receipt (r12 verdict #3): the SAME corpus and
    * stage chain as [[pipelineReceipt]], but run as q134's composed form —
    * ONE program with the single stage-owned localCheckpoint after
    * line-dedup (whose near-dup consumer reads it from four subtrees) and
    * NO other stage-boundary barrier. The narrow gates (status, robots
    * broadcast join, Gopher predicate) fuse into their neighbors' scans;
    * identical exchanges across subtrees dedup via ReusedExchange. The
    * staged 50M receipt attributed its s1/s3 super-linearity to 15
    * MemoryStore evictions of ~15 GB stage-boundary checkpoints; this run
    * measures whether the composed form actually dodges that toll:
    * composed wall vs the staged Σ-stages wall, total shuffle, and the
    * eviction count observed by [[countingEvictions]].
    */
  private def fusedPipelineReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    val sc = spark.sparkContext
    val mLabel = if (n >= 1000000) s"${n / 1000000}M" else s"${n / 1000}k"
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_fuse").toString
    try {
      val corpus = pipelineCorpus(spark, n, dir)
      val t0 = System.nanoTime()
      var mixture: Array[org.apache.spark.sql.Row] = null
      val ((_, bytes), evictions) = countingEvictions {
        shuffleBytes(sc) {
          var cur = corpus
          for ((name, fn) <- pipelineStageFns(spark, n)) {
            cur = fn(cur)
            // the ONE stage-owned barrier q134's composed form writes:
            // near-dup consumes the cleaned text from four subtrees
            if (name == "s4_linededup") cur = cur.localCheckpoint()
          }
          mixture = cur.collect()
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      require(mixture.length == 5, "mixture must end at 5 language rows")
      val survivors = mixture
        .map(r => r.getLong(r.fieldIndex("n_docs"))).sum
      println(f"[stress] pipeline_fused_${mLabel} wall=$wall%.2f s " +
        f"shuffle=${bytes / 1e9}%.3f GB evictions=$evictions " +
        s"survivors=$survivors")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** End-to-end near-dup removal receipts (r4 verdict #1).
    *
    * Corpus shape: `clusters = n/15` three-doc near-dup clusters (copies
    * differ in exactly one of 40 tokens → pairwise shingle Jaccard
    * 0.85-0.90, all above the 0.7 threshold) + `n - 3·clusters` unique
    * docs. Tokens are hash-mixed per (id, position), so distinct docs
    * share no shingle STRINGS and their 31-bit shingle-hash sets collide
    * only independently per window (full-set collision ~(2⁻³¹)³⁸ ≈ never)
    * — over-merging would be a precision bug, so `survivors ≥
    * n - 2·clusters` is asserted. Recall is the probabilistic side of LSH: a
    * cluster yields an extra survivor only when ≥2 of its 3 pairwise
    * edges miss every band (measured ~4·10⁻⁴ of clusters at these J's
    * with 32 hashes × 8 bands). The receipt asserts cluster-level recall
    * ≥ 99.9% — a banding/signature regression surfaces as a failed
    * receipt, not a quiet number.
    *
    * Skew variant: `hot` docs with IDENTICAL text all land in the same LSH
    * bucket in every band — the worst-case hot key for the band-bucket
    * self-join (hot²/2 candidate pairs from one bucket). The receipt runs
    * it with the AQE skew-join thresholds scaled to local fixture sizes
    * (at 100 TB the 256 MB default engages by itself) and asserts
    * `skew=true` appears in the executed join, i.e. the straggler
    * partition was actually split.
    */
  private def nearDupReceipts(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Dedup
    val sc = spark.sparkContext
    val clusters = n / 15 // 3 docs each → 20% of the corpus is near-dup
    val dupCount = clusters * 3
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_neardup").toString
    try {
      // Interpreted-HOF-heavy generation → materialize once (like a real
      // corpus on disk); receipts time the operator passes only.
      //
      // Tokens are xxhash-MIXED per (id, position), NOT the naive
      // "u{id}t{j}": with a single shared id substring in every token,
      // every one of a doc's 38 shingle windows embeds the same digit
      // string, so whenever two ids' digit-polynomials collide mod
      // 2³¹-1 (the portable poly31 hash space) ALL windows collide
      // together — hashed Jaccard 1.0 between unrelated docs (measured:
      // 21.5k full-set collisions at 10M docs). That is an artifact of
      // id-parameterized synthetic text — real corpora don't have whole
      // documents parameterized by one substring — so the fixture mixes
      // it away; see the minHashLsh scaladoc for the operator-side note.
      spark.range(0, n, 1, 32).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(39)), j => {
          val cluster = floor(col("id") / 3)
          val copy = pmod(col("id"), lit(3))
          when(col("id") < dupCount,
            when(j === copy, concat(lit("m"), copy, lit("c"), cluster))
              .otherwise(concat(lit("c"),
                pmod(xxhash64(cluster, j), lit(999999937L)), lit("t"), j)))
            .otherwise(concat(lit("u"),
              pmod(xxhash64(col("id"), j), lit(999999937L)), lit("t"), j))
        }), " ").as("text"))
        .write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)

      val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
      var survivors = -1L
      var shuffled = -1L
      time(s"neardup_removal_${n / 1000000}M") {
        val (s, b) = shuffleBytes(sc) {
          Dedup.removeNearDuplicates(corpus, col("doc_id"), col("text"),
            rounds = rounds).count()
        }
        survivors = s; shuffled = b
      }
      val ideal = n - 2 * clusters
      val missed = survivors - ideal // clusters split by an LSH recall miss
      println(s"[stress] neardup_removal_${n / 1000000}M: " +
        s"survivors=$survivors (ideal $ideal, split clusters $missed of " +
        s"$clusters), cc_rounds=${rounds.get}, " +
        f"shuffle_written=${shuffled / 1e9}%.2f GB")
      require(missed >= 0,
        s"near-dup removal OVER-merged: $survivors < $ideal — precision bug")
      require(missed * 1000 <= clusters,
        s"cluster-level recall below 99.9%: $missed of $clusters split")

      // --- chain-topology variant -------------------------------------
      // Near-clique clusters converge in 2 rounds and never exercise the
      // propagation loop's depth; this variant plants 6-doc CHAINS where
      // only ADJACENT docs clear the Jaccard threshold, so the min label
      // must walk diameter 5 — cc_rounds is asserted > 3 and the early
      // exit (not the maxIterations cap) must end the loop. Geometry:
      // 80-token docs, doc k of a chain rewrites token window
      // [6k, 6k+10) with (chain, k)-specific tokens → adjacent pairs
      // differ in a 16-token union (J = 60/96 ≈ 0.625 ≥ 0.6), skip pairs
      // in a 22-token union (J ≈ 0.529 < 0.6). At J ≈ 0.625 the 8×4
      // banding is too lossy, so the receipt runs 16 bands × 2 rows —
      // the (bands, rowsPerBand) knob doing exactly its job.
      val nChains = math.max(n / 100, 10000L)
      val chainDir = java.nio.file.Files.createTempDirectory("graft_stress_chain").toString
      try {
        spark.range(0, nChains * 6, 1, 32).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(0), lit(79)), j => {
            val chain = floor(col("id") / 6)
            val k = pmod(col("id"), lit(6))
            when(j >= k * 6 && j < k * 6 + 10,
              concat(lit("y"), pmod(xxhash64(chain, k, j), lit(999999937L)),
                lit("t"), j))
              .otherwise(concat(lit("b"),
                pmod(xxhash64(chain, j), lit(999999937L)), lit("t"), j))
          }), " ").as("text"))
          .write.mode("overwrite").parquet(chainDir)
        val chains = spark.read.parquet(chainDir)
        val chainRounds = new java.util.concurrent.atomic.AtomicInteger(-1)
        var chainSurvivors = -1L
        time(s"neardup_chain_${nChains * 6 / 1000}k", runs = 1) {
          // localEdgeThreshold = 0 pins the DISTRIBUTED propagation loop —
          // this receipt exists to assert the loop walks diameter 5, and
          // the ~5-edges-per-chain edge set would otherwise take the
          // size-gated local union-find path.
          chainSurvivors = Dedup.removeNearDuplicates(chains, col("doc_id"),
            col("text"), numHashes = 32, bands = 16, threshold = 0.6,
            rounds = chainRounds, localEdgeThreshold = 0).count()
        }
        val chainSplit = chainSurvivors - nChains
        println(s"[stress] neardup_chain: survivors=$chainSurvivors " +
          s"(ideal $nChains, split $chainSplit), cc_rounds=${chainRounds.get}")
        require(chainSplit >= 0, s"chain over-merge: $chainSurvivors < $nChains")
        require(chainSplit * 100 <= nChains,
          s"chain recall below 99%: $chainSplit of $nChains split")
        require(chainRounds.get > 3 && chainRounds.get < 25,
          s"diameter-5 chains should need >3 rounds and converge early, " +
            s"got ${chainRounds.get}")
      } finally rmrf(chainDir)

      // --- skewed hot-bucket variant ---------------------------------
      // Skew in the band-bucket join means ONE (band, bucket) key holds a
      // disproportionate share of the banded rows — at corpus scale, a
      // boilerplate cluster (site templates, legal footers) whose docs all
      // share every band. AQE's skew detector compares COMPRESSED shuffle-
      // partition bytes against factor × median (the hot partition's
      // near-identical rows lz4-compress ~3× better than the background,
      // so it takes ~15× the rows to read as 5× the bytes). The proof
      // fixture makes the 8 hot band keys dominate their partitions the
      // same way a 100s-of-GB boilerplate bucket dominates a 256 MB-median
      // shuffle at 100 TB: 10% of docs are one identical text, detection
      // cutoffs scaled to fixture bytes (hot ≈ 18.6 KB vs 2.2 KB median at
      // initialPartitionNum=4096), broadcast off so the join is the
      // shuffle join it would be at scale.
      val nSkew = 30000L
      val hot = 3000L
      val skewDir = java.nio.file.Files.createTempDirectory("graft_stress_skew").toString
      try {
        spark.range(0, nSkew, 1, 32).select(col("id").as("doc_id"),
          when(col("id") < hot, lit(((0 until 40).map(j => s"hotw$j")).mkString(" ")))
            .otherwise(array_join(transform(sequence(lit(0), lit(39)),
              j => concat(lit("u"), col("id"), lit("t"), j)), " ")).as("text"))
          .write.mode("overwrite").parquet(skewDir)
        val skewed = spark.read.parquet(skewDir)
        val conf = spark.conf
        val saved = Seq(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
          .map(k => k -> conf.getOption(k))
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
        conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "4096")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try {
          var nPairs = -1L
          var skewSplit = false
          time(s"neardup_skew_${nSkew / 1000}k_hot$hot", runs = 1) {
            val pairs = Dedup.minHashLsh(skewed, col("doc_id"), col("text"))
            // run THIS QueryExecution (count() would plan a fresh one and
            // the adaptive plan we inspect would never have executed)
            val qe = pairs.queryExecution
            nPairs = qe.toRdd.count()
            skewSplit = qe.executedPlan.toString.contains("SortMergeJoin(skew=true)")
          }
          println(s"[stress] neardup_skew: pairs=$nPairs " +
            s"(hot clique ${hot * (hot - 1) / 2}), aqe_skew_split=$skewSplit")
          require(nPairs == hot * (hot - 1) / 2,
            s"hot-clique pair count drift: $nPairs")
          require(skewSplit, "AQE skew-join split did not engage on the " +
            "band-bucket join — check adaptive.skewJoin confs")
        } finally {
          saved.foreach {
            case (k, Some(v)) => conf.set(k, v)
            case (k, None) => conf.unset(k)
          }
        }
      } finally rmrf(skewDir)
    } finally rmrf(dir)
  }

  private def rmrf(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  /** Exact-substring span receipts (q106's operator at corpus scale).
    *
    * Corpus shape: 40-token docs of xxhash-mixed unique tokens; every 10th
    * doc carries the SAME 12-token run at positions 10..21, so under n=8
    * grams each planted doc holds exactly the five shared windows
    * 10..14 → one merged span [10, 22). Ideal output: n/10 spans, all
    * shaped (10, 22, 12).
    *
    * The receipt runs `hash64 = true` — this is the knob the receipt
    * EXISTS to justify: at 10M docs the corpus holds 3.3·10⁸ grams, which
    * SATURATES the portable poly31 space (expected spurious birthday pairs
    * ≈ G²/2³¹ ≈ 2.5·10⁷ — every one a false duplicate mark), while the
    * 64-bit FNV space expects ≈ G²/2⁶⁵ ≈ 0.003. Exact span parity is
    * asserted, so a collision regression (or a hash64 plumbing bug)
    * fails the receipt rather than quietly inflating spans.
    */
  private def substringReceipts(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Dedup
    val sc = spark.sparkContext
    val planted = n / 10
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_substr").toString
    try {
      spark.range(0, n, 1, 32).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(39)), j => {
          when(pmod(col("id"), lit(10)) === 0 && j >= 10 && j < 22,
            concat(lit("dup"), j))
            .otherwise(concat(lit("u"),
              pmod(xxhash64(col("id"), j), lit(999999937L)), lit("t"), j))
        }), " ").as("text"))
        .write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)

      var spans = -1L
      var shuffled = -1L
      time(s"substring_spans_${n / 1000000}M") {
        val (s, b) = shuffleBytes(sc) {
          Dedup.substringSpans(corpus, col("doc_id"), col("text"),
            n = 8, hash64 = true).count()
        }
        spans = s; shuffled = b
      }
      // Shape audit: the planted span is [10, 22). Edges may extend by ONE
      // token on ~0.1% of planted docs — NOT a hash collision: the fixture
      // tokens "u{xxhash mod 2³⁰}t{j}" themselves birthday-collide across
      // 10⁶ planted docs at a fixed boundary position (E ≈ 500 pairs per
      // edge, measured 956+997 extended docs at 10M), making the boundary
      // 8-gram STRING-equal between two docs — real duplication the
      // operator is right to mark. The audit therefore pins: exact span
      // count, edges within one token, and ≥99.5% exactly-planted shapes.
      val shapes = Dedup.substringSpans(corpus, col("doc_id"), col("text"),
          n = 8, hash64 = true)
        .groupBy(col("span_start"), col("span_end")).count().collect()
      println(s"[stress] substring_spans_${n / 1000000}M: spans=$spans " +
        s"(ideal $planted), shapes=${shapes.mkString(",")}, " +
        f"shuffle_written=${shuffled / 1e9}%.2f GB")
      require(spans == planted,
        s"substring spans $spans != planted $planted — collision or recall bug")
      require(shapes.forall(r => (r.getInt(0) == 10 || r.getInt(0) == 9) &&
        (r.getInt(1) == 22 || r.getInt(1) == 23)),
        s"span shapes beyond one-token edge jitter: ${shapes.mkString(",")}")
      val exactShape = shapes.collectFirst {
        case r if r.getInt(0) == 10 && r.getInt(1) == 22 => r.getLong(2)
      }.getOrElse(0L)
      require(exactShape * 1000 >= spans * 995,
        s"only $exactShape of $spans spans match the planted shape")

      // Bloom-prefilter notch (r6 verdict #7): the singleton-dominated gram
      // tail (~97% of this fixture's 330M grams) drops at the projection
      // instead of riding the semi-join's probe exchange. Receipt pins
      // row-identical output (symmetric exceptAll) and reports the
      // shuffle-byte cut next to the plain mode's number.
      var bloomShuffled = -1L
      time(s"substring_spans_bloom_${n / 1000000}M") {
        val (s, b) = shuffleBytes(sc) {
          Dedup.substringSpans(corpus, col("doc_id"), col("text"),
            n = 8, hash64 = true, bloomPrefilter = true).count()
        }
        require(s == spans, s"bloom-mode span count $s != plain $spans")
        bloomShuffled = b
      }
      val plainSpans = Dedup.substringSpans(corpus, col("doc_id"), col("text"),
        n = 8, hash64 = true)
      val bloomSpans = Dedup.substringSpans(corpus, col("doc_id"), col("text"),
        n = 8, hash64 = true, bloomPrefilter = true)
      val diverged = plainSpans.exceptAll(bloomSpans).count() +
        bloomSpans.exceptAll(plainSpans).count()
      require(diverged == 0, s"bloom mode diverged on $diverged span rows")
      println(f"[stress] substring_bloom_${n / 1000000}M: spans identical, " +
        f"shuffle_written=${bloomShuffled / 1e9}%.2f GB " +
        f"(plain ${shuffled / 1e9}%.2f GB)")
    } finally rmrf(dir)
  }

  /** Archive-walk throughput: `nFiles × recsPerFile` records assembled
    * once into WARC / TAR / ZIP shards (payloads materialized to parquet —
    * the fixture build is excluded from timings, like the text receipts),
    * then each walker timed end to end with counts asserted. One task per
    * shard, zero shuffle — the 100 TB ingestion shape.
    */
  private def archiveReceipts(
      spark: org.apache.spark.sql.SparkSession,
      nFiles: Int, recsPerFile: Int): Unit = {
    import graft.sources.{Archives, Warc}
    val total = nFiles.toLong * recsPerFile
    val params = spark.range(0, total, 1, 32).toDF("doc_id")
      .select(
        floor(col("doc_id") / recsPerFile).cast("long").as("file_id"),
        col("doc_id"),
        concat(lit("http://ex.com/doc/"), col("doc_id")).as("uri"),
        concat(lit("a/doc_"), col("doc_id"), lit(".txt")).as("name"),
        lit(200).as("status"),
        concat(lit("record body "), col("doc_id"), lit(" "),
          repeat(concat(lit("w"), pmod(col("doc_id"), lit(997)), lit(" ")), 20))
          .as("text"),
        pmod(floor(col("doc_id") / recsPerFile), lit(2)).cast("int").as("gzip"),
        when(pmod(col("doc_id"), lit(5)) === 0, 0).otherwise(8).as("method"))
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_arch").toString
    try {
      Warc.encodeWarc(params).write.mode("overwrite").parquet(s"$dir/warc")
      Archives.encodeTar(params).write.mode("overwrite").parquet(s"$dir/tar")
      Archives.encodeZip(params).write.mode("overwrite").parquet(s"$dir/zip")
      val label = s"${total / 1000}k"
      time(s"warc_walk_$label") {
        val got = Warc.parseWarc(spark.read.parquet(s"$dir/warc"))
          .filter(col("warc_type") === "response").count()
        require(got == total, s"warc: $got != $total")
      }
      time(s"tar_walk_$label") {
        val got = Archives.parseTar(spark.read.parquet(s"$dir/tar")).count()
        require(got == total, s"tar: $got != $total")
      }
      time(s"zip_walk_$label") {
        val got = Archives.parseZip(spark.read.parquet(s"$dir/zip")).count()
        require(got == total, s"zip: $got != $total")
      }
    } finally rmrf(dir)
  }

  /** SemDeDup end-to-end at scale: `n` 64-dim vectors (per-dim xxhash64 —
    * genuinely distinct, unlike the periodic `vecs` generator above, whose
    * 97-vector identity classes would make duplicate-heavy clusters and
    * blow the within-cluster quadratic — the operator's documented
    * hazard), with every 10th vector an EXACT copy of its successor.
    * Identical vectors always share a cluster, so every planted pair is
    * examined: removed == planted exactly unless a random pair crosses
    * the 0.99 threshold (asserted not to happen at 64 dims). C ≈ √n keeps
    * assignment (n·C·d) and pairing (n²·d/2C) balanced.
    */
  private def semDedupReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Similarity
    val seed = col("id") - pmod(col("id"), lit(10)) +
      when(pmod(col("id"), lit(10)) === 0, 1L).otherwise(pmod(col("id"), lit(10)))
    // id%10==0 → seed id+1 (copy of successor); else seed = id
    val vecs = spark.range(0, n, 1, 32).toDF("id")
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => (pmod(xxhash64(seed, j), lit(1000)) / lit(1000.0)).cast("float"))
          .as("embedding"))
    val c = math.max(64, math.sqrt(n.toDouble).toInt)
    val planted = n / 10
    time(s"semdedup_${n / 1000000}M_c$c", runs = 1) {
      val survivors = Similarity.semDeDup(vecs, "vec_id", "embedding",
        nCentroids = c, threshold = 0.99).count()
      val removed = n - survivors
      require(removed == planted,
        s"removed $removed != planted $planted (precision or recall bug)")
    }
  }

  /** Line-level dedup receipts (r5): boilerplate removal and within-doc
    * collapse at `n` total lines (10 per doc), with EXACT planted
    * expectations — the receipt fails on any over- or under-drop.
    *
    * Corpus shape per doc (10 lines): line 0 = a single shared banner on
    * every 3rd doc; line 1 = one of 20 shared footers (docs/20 holders
    * each — far over the minDocs threshold); lines 2-9 unique to the
    * (doc, position). So removeBoilerplateLines at minDocs=1000 must drop
    * exactly docs/3 (banner holders, rounded up) + docs (footers), and
    * the only corpus-wide exchanges carry 8-byte hashes + the surviving
    * reassembly — the shuffle-bytes line makes that visible.
    */
  private def lineReceipts(spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    val docsN = math.max(1000L, n / 10)
    val docs = spark.range(0, docsN, 1, 32).toDF("doc_id")
      .select(col("doc_id"), transform(sequence(lit(0), lit(9)), i =>
        when(i === 0 && pmod(col("doc_id"), lit(3)) === 0,
            lit("SHARED COOKIE BANNER TEXT"))
          .when(i === 1,
            concat(lit("site footer variant "), pmod(col("doc_id"), lit(20))))
          .otherwise(concat(lit("unique line "), col("doc_id"), lit(" "),
            i))).as("lines"))
    val expectedDropped = (docsN + 2) / 3 + docsN
    val (_, shuffled) = shuffleBytes(spark.sparkContext) {
      time(s"boilerplate_${n / 1000000}M_lines") {
        val dropped = Dedup.removeBoilerplateLines(
            docs, col("doc_id"), col("lines"), minDocs = 1000)
          .agg(sum("n_dropped")).head().getLong(0)
        assert(dropped == expectedDropped,
          s"dropped $dropped != planted $expectedDropped")
      }
    }
    println(f"[stress] boilerplate_shuffle_mb ${shuffled / 1e6}%8.1f MB")

    // within-doc: 5 copies of one line + 5 unique -> exactly 6 survive/doc
    val dupDocs = spark.range(0, docsN, 1, 32).toDF("doc_id")
      .select(col("doc_id"), transform(sequence(lit(0), lit(9)), i =>
        when(pmod(i, lit(2)) === 0, lit("REPEATED NAV MENU LINE"))
          .otherwise(concat(lit("body line "), col("doc_id"), lit(" "), i)))
        .as("lines"))
    val (_, shuffled2) = shuffleBytes(spark.sparkContext) {
      time(s"linededup_${n / 1000000}M_lines") {
        val out = Dedup.dedupLinesWithinDoc(dupDocs, col("doc_id"), col("lines"))
          .agg(sum("n_lines_out")).head().getLong(0)
        assert(out == 6L * docsN, s"kept $out != expected ${6L * docsN}")
      }
    }
    // the only exchange is the receipt's own global sum(): 32 partial-agg
    // rows, a few KB. The operator itself moves nothing — anything beyond
    // 1 MB means a shuffle grew back into the projection (PlanGuard's
    // q122 pin is the plan-level twin of this runtime assertion).
    assert(shuffled2 < 1000000L,
      s"within-doc dedup shuffled $shuffled2 bytes — projection regressed")
    println(f"[stress] linededup_shuffle_kb  ${shuffled2 / 1e3}%8.1f KB (receipt's own 1-row agg)")
  }

  /** Flagged-line subtraction BEYOND the broadcast/driver-state bound
    * (r6 verdict #8): a 10⁷-entry flagged set held as a parquet-backed
    * DataFrame (never collected, never broadcast), applied by
    * [[graft.operators.Dedup.applyFlaggedLineFilterJoin]] to the same
    * corpus once as a batch frame and once as a file-source stream
    * (update-mode regroup, RocksDB state, foreachBatch parquet capture).
    *
    * Corpus: `docsN = n/10` docs × 10 lines — 5 pool lines drawn from a
    * 10⁷-line boilerplate pool so every pool line lands in EXACTLY two
    * docs (flagged at minDocs=2 by construction), 5 lines unique to the
    * (doc, position). Receipt pins: (a) the flagged frame holds ~10⁷
    * hashes; (b) every planted pool line drops — n_dropped ≥ 5·docsN
    * exactly, with the surplus bounded by poly31's predicted collision
    * envelope (at 10⁷ flagged hashes in a 2³⁰ space, ~1% of unique lines
    * false-drop — the documented reason hash64 modes exist elsewhere);
    * (c) batch ≡ streaming row-identical (symmetric exceptAll == 0).
    */
  private def flaggedJoinReceipt(spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Dedup
    import org.apache.spark.sql.streaming.Trigger
    val docsN = math.max(4000000L, n / 10)
    val pool = 10000000L
    require(docsN * 5 >= 2 * pool,
      s"need >= ${2 * pool / 5} docs for every pool line to appear twice")
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_flag").toString
    val src = s"$dir/src"; val flagDir = s"$dir/flagged"
    val outBatch = s"$dir/out_batch"; val outStream = s"$dir/out_stream"
    val chk = s"$dir/chk"
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      spark.range(0, docsN, 1, 32).toDF("doc_id")
        .select(col("doc_id"), transform(sequence(lit(0), lit(9)), i =>
          when(i < 5,
              concat(lit("boiler pool line "),
                pmod(col("doc_id") * 5 + i, lit(pool))))
            .otherwise(concat(lit("unique line "), col("doc_id"), lit(" "), i)))
          .as("lines"))
        .write.mode("overwrite").parquet(src)
      val docs = spark.read.parquet(src)
      // yesterday's head, written once and read back — the operator's
      // documented contract for a refreshable static side
      docs.select(col("doc_id"), explode(col("lines")).as("__line"))
        .select(col("doc_id"),
          graft.functions.PolyHash.polyStringHash(col("__line")).as("h"))
        .distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select(col("h"))
        .write.mode("overwrite").parquet(flagDir)
      val flagged = spark.read.parquet(flagDir)
      val flaggedCnt = flagged.count()
      // 10^7 distinct pool lines minus their own birthday merges in poly31's
      // ~2^30 space (E ≈ P²/2/1e9 ≈ 5·10⁴), PLUS unique-line pairs that
      // birthday-merge to a brand-new flagged hash (E ≈ U²/2/1e9 ≈ 2·10⁵
      // at U = 2·10⁷) — the measured head at 4M docs is ~10.14M
      val uniqueLines = 5L * docsN
      val pairSurplus = 4L * (uniqueLines * uniqueLines / 2 / 1000000007L + 1)
      require(flaggedCnt > pool * 99 / 100 && flaggedCnt <= pool + pairSurplus,
        s"flagged head $flaggedCnt outside [99% of $pool, $pool + $pairSurplus]")

      var droppedBatch = -1L
      time(s"flagged_join_batch_${docsN / 1000000}M_docs", runs = 1) {
        val out = Dedup.applyFlaggedLineFilterJoin(
          docs, col("doc_id"), col("lines"), flagged)
        out.write.mode("overwrite").parquet(outBatch)
        droppedBatch = spark.read.parquet(outBatch)
          .agg(sum("n_dropped")).head().getLong(0)
      }
      val planted = 5L * docsN
      // collision envelope: each of the 5·docsN unique lines false-drops
      // with p ≈ flaggedCnt / 1e9+7; allow 4× the expectation
      val envelope = 4L * (5L * docsN * flaggedCnt / 1000000007L + 1)
      require(droppedBatch >= planted && droppedBatch <= planted + envelope,
        s"dropped $droppedBatch outside [$planted, ${planted + envelope}]")

      time(s"flagged_join_stream_${docsN / 1000000}M_docs", runs = 1) {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 8).parquet(src)
        val q = Dedup.applyFlaggedLineFilterJoin(
            stream, col("doc_id"), col("lines"), flagged)
          .writeStream.outputMode("update")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.write.mode("append").parquet(outStream)
          }
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // Close RocksDB instances before the checkpoint dir is deleted and the
      // JVM exits: a native background-compaction thread logging through the
      // JNI callback after teardown is a SIGSEGV (observed on this box).
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      val a = spark.read.parquet(outBatch)
      val b = spark.read.parquet(outStream)
      val diverged = a.exceptAll(b).count() + b.exceptAll(a).count()
      require(diverged == 0, s"batch vs streaming diverged on $diverged rows")
      println(s"[stress] flagged_join_${docsN / 1000000}M_docs: " +
        s"flagged=$flaggedCnt dropped=$droppedBatch (planted $planted, " +
        s"envelope +$envelope), batch==stream")
    } finally rmrf(dir)
  }

  /** Streaming near-dup ADMISSION at corpus scale: `n` total docs as
    * n/3 planted 3-member clusters (identical text within a cluster),
    * members arriving in three successive micro-batches (file-source
    * mtime ordering + maxFilesPerTrigger), through
    * [[graft.streaming.StreamingOps.nearDupNovelWithinWatermark]] under
    * Trigger.AvailableNow with the RocksDB state store (the 100 TB
    * posture — band-bucket claim state does not fit a JVM heap at real
    * watermark widths).
    *
    * Receipt pins: (a) admitted ⊆ first-batch members EXACTLY (doc_id ≡ 0
    * mod 3 — later arrivals of a claimed cluster are never admitted);
    * (b) admitted count within the band-collision envelope of the cluster
    * count (two clusters sharing one of ~2³¹ buckets cost the later one
    * its unanimity — the documented recall trade of bucket-claim
    * admission); (c) state rows ≈ 8 × clusters (the claim set), from the
    * query's own progress metrics.
    */
  private def streamingDedupReceipt(spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.streaming.Trigger
    val clusters = n / 3
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_stream").toString
    val src = s"$dir/src"; val chk = s"$dir/chk"; val outDir = s"$dir/out"
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // Member event times: 0 min / 1 min / 15 min. Append-mode window
      // results only flush once the WATERMARK (max event time − 10 min)
      // passes a window's end, so the last batch must carry event time ≥
      // first-window-end + delay — the first fixture draft gave all
      // members one timestamp and NOTHING ever emitted (state full,
      // output empty): the receipt now also pins this flush semantic.
      // Members 1 and 2 are both processed while the member-0 claims are
      // inside the watermark, so both are rejected by bucket ownership.
      val memberMinutes = Seq(0L, 1L, 15L)
      val baseMtime = System.currentTimeMillis() - 3600 * 1000L
      (0 until 3).foreach { m =>
        val before = Option(new java.io.File(src).listFiles)
          .getOrElse(Array.empty).map(_.getName).toSet
        spark.range(0, clusters, 1, 32).select(
            (col("id") * 3 + m).as("doc_id"),
            (lit("2026-01-01 00:00:00").cast("timestamp") +
              expr(s"INTERVAL ${memberMinutes(m)} MINUTES")).as("ts"),
            array_join(transform(sequence(lit(0), lit(39)), j =>
              concat(lit("c"), pmod(xxhash64(col("id"), j), lit(999999937L)),
                lit("t"), j)), " ").as("text"))
          .coalesce(8)
          .write.mode("append").parquet(src)
        // member batch boundary = file mtime: the file source takes the
        // oldest maxFilesPerTrigger files per trigger
        Option(new java.io.File(src).listFiles).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("part-") && !before(f.getName))
          .foreach(f => { f.setLastModified(baseMtime + m * 60000L): Unit })
      }
      val schema = spark.read.parquet(src).schema
      var progressRows = -1L
      var stateBytes = -1L
      time(s"stream_neardup_admission_${n / 1000000}M", runs = 1) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 8).parquet(src)
        val q = StreamingOps.nearDupNovelWithinWatermark(
            stream, "doc_id", "text", "ts")
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val ops = q.recentProgress.flatMap(_.stateOperators)
        if (ops.nonEmpty) {
          progressRows = ops.map(_.numRowsTotal).max
          stateBytes = ops.map(_.memoryUsedBytes).max
        }
      }
      val admitted = spark.read.parquet(outDir)
      val total = admitted.count()
      val nonFirst = admitted.filter(pmod(col("doc_id"), lit(3)) =!= 0).count()
      println(s"[stress] stream_neardup: admitted=$total of $clusters clusters, " +
        s"late_members_admitted=$nonFirst, state_rows=$progressRows " +
        f"(~8x clusters = ${8 * clusters}), state_mem=${stateBytes / 1e6}%.1f MB")
      require(nonFirst == 0,
        s"$nonFirst later cluster members admitted — claim state leaked")
      require(total <= clusters, s"over-admission: $total > $clusters")
      require(total * 100 >= clusters * 95,
        s"admission recall below 95%: $total of $clusters")
    } finally rmrf(dir)
  }

  /** Aho–Corasick blocklist gate: the claim under receipt is that match
    * cost is FLAT in dictionary size (one automaton pass per doc) while
    * the naive per-pattern contains() chain scales linearly — so a 10k
    * badword list costs ~the same as 100 through the automaton, and the
    * naive plan is only run at 100 (at 10k it would re-scan the corpus
    * 10,000×). Patterns are drawn from the docs' own token space so real
    * hits occur.
    */
  private def blocklistReceipts(
      texts: org.apache.spark.sql.DataFrame, t: Long): Unit = {
    def blockPats(k: Int): Seq[String] =
      (0 until k).map(i =>
        s"w${i % 997} w${(i / 997 * 31 + i * 7 + 13) % 997}").distinct
    time(s"ac_blocklist_${t / 1000000}M_x100") {
      texts.select(graft.functions.MultiPatternHits
          .expr(col("text"), blockPats(100)).as("h"))
        .agg(sum(size(col("h")))).collect()
    }
    time(s"ac_blocklist_${t / 1000000}M_x10k") {
      texts.select(graft.functions.MultiPatternHits
          .expr(col("text"), blockPats(10000)).as("h"))
        .agg(sum(size(col("h")))).collect()
    }
    time(s"naive_contains_${t / 1000000}M_x100") {
      texts.select(blockPats(100)
          .map(p => col("text").contains(p).cast("long")).reduce(_ + _).as("c"))
        .agg(sum(col("c"))).collect()
    }
  }

  /** Receipts for the q172–q180 warehouse wave: funnel fold vs the
    * chained-join reference implementation at scale, the hub-vertex
    * triangle bound, sketch register invariants, and sentence-chunking's
    * zero-exchange claim.
    */
  private def warehouseReceipts(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import spark.implicits._
    import graft.operators.{Graph, Journey, Sketches}

    // ---- funnel: one-shuffle fold == chained-min joins, at n events -----
    // users = n/50 (~50 events each), 4 stages, ts deterministic
    val users = math.max(n / 50, 1000L)
    val events = spark.range(n).select(
      pmod(col("id") * 2654435761L, lit(users)).as("u"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(col("id") * 1103515245L + 12345L, lit(86400000000L * 30))).as("ts"),
      element_at(lit(Array("signup", "view", "click", "purchase", "other")),
        (pmod(col("id") * 31L + col("id") / 7, lit(5L)) + 1).cast("int")).as("e"))
    val stages = Seq("signup", "view", "click", "purchase")
    val winSec = 7L * 86400
    def depthsFold() = Journey.funnel(events, col("u"), col("ts"), col("e"),
      stages, winSec)
    time(s"funnel_fold_${n / 1000000}M") {
      depthsFold().groupBy(col("depth")).count().collect()
    }
    // independent implementation: the oracle's chained-min joins
    def chained(): org.apache.spark.sql.DataFrame = {
      val winUs = winSec * 1000000L
      val f = events.select(col("u"), unix_micros(col("ts")).as("t"),
        col("e")).filter(col("e").isin(stages: _*))
      var acc = f.filter(col("e") === stages.head)
        .groupBy(col("u")).agg(min(col("t")).as("t1"))
        .select(col("u"), col("t1"), col("t1").as("rt"), lit(1).as("depth"))
      var out = acc.select(col("u"), col("depth"))
      stages.zipWithIndex.drop(1).foreach { case (st, i) =>
        val nxt = f.filter(col("e") === st).join(acc, "u")
          .filter(col("t") > col("rt") && col("t") <= col("t1") + winUs)
          .groupBy(col("u")).agg(min(col("t1")).as("t1"), min(col("t")).as("rt"))
          .select(col("u"), col("t1"), col("rt"), lit(i + 1).as("depth"))
        acc = nxt
        out = out.unionAll(nxt.select(col("u"), col("depth")))
      }
      // deepest stage per user
      out.groupBy(col("u")).agg(max(col("depth")).as("depth"))
    }
    val foldMap = depthsFold().groupBy(col("depth")).count()
      .as[(Int, Long)].collect().toMap
    val joinMap = chained().groupBy(col("depth")).count()
      .as[(Int, Long)].collect().toMap
    require(foldMap == joinMap,
      s"funnel fold != chained joins: $foldMap vs $joinMap")
    println(s"[stress] funnel_depths ${foldMap.toSeq.sortBy(_._1)}  " +
      s"(fold == chained-join reference at ${n / 1000000}M events)")
    val (_, fb) = shuffleBytes(spark.sparkContext) {
      depthsFold().groupBy(col("depth")).count().collect()
    }
    println(f"[stress] funnel_shuffle ${fb / 1e6}%.1f MB " +
      f"(${n / 1000000}M events; (u, ts_us, si) longs only)")

    // ---- triangles: 1M-degree hub survives orientation ------------------
    // star 0—i (i in 1..V) + path i—i+1: exactly V−1 triangles (0,i,i+1),
    // every one through the hub. Naive hub wedges = C(V,2) ≈ 5·10¹¹ at
    // V=1M — the oriented plan forms wedges only at the degree-≤3 leaves.
    val v = math.max(n / 10, 1000000L)
    val star = spark.range(1, v + 1).select(lit(0L).as("src"), col("id").as("dst"))
    val path = spark.range(1, v).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val tri = Graph.triangleCount(star.unionAll(path), col("src"), col("dst"))
    time(s"triangles_hub_${v / 1000000}M") {
      val total = tri.agg(sum(col("n_tri"))).as[Long].head()
      require(total == 3 * (v - 1), s"expected ${3 * (v - 1)} corner rows, got $total")
    }
    println(s"[stress] triangles_exact ${v - 1} planted through a ${v}-degree hub")

    // ---- sketches: register invariants + tiny exchanges at n tokens -----
    val toks = spark.range(n).select(
      concat(lit("tok"), pmod(col("id") * 48271L, lit(5000000L))).as("w"))
    val (regSum, cb) = shuffleBytes(spark.sparkContext) {
      Sketches.countMinRegisters(toks, col("w"), depth = 4, width = 4096)
        .groupBy(col("d")).agg(sum(col("cnt")).as("s"))
        .as[(Int, Long)].collect().toMap
    }
    require(regSum.values.forall(_ == n), s"CMS mass != n: $regSum")
    println(f"[stress] countmin_${n / 1000000}%dM_shuffle ${cb / 1e6}%.2f MB " +
      "(register-sized, token strings never shuffle)")
    time(s"countmin_${n / 1000000}M") {
      Sketches.countMinRegisters(toks, col("w"), 4, 4096).count()
    }
    // HLL at p=12 (m=4096, rsd 1.6%): distinct = 5M by construction
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(toks.select(lit("g").as("g"), col("w")),
        Seq(col("g")), col("w"), p = 12),
      Seq(col("g")), p = 12).select(col("estimate")).as[Double].head()
    // planted distinct = min(n, 5M): id·48271 mod 5M is injective only
    // until the modulus wraps
    val planted = math.min(n, 5000000L).toDouble
    val rel = math.abs(est - planted) / planted
    require(rel <= 3 * 1.04 / math.sqrt(4096),
      f"HLL off by ${rel * 100}%.2f%% at p=12 (planted ${planted}%.0f)")
    println(f"[stress] hll_estimate ${est}%.0f vs planted ${planted}%.0f " +
      f"(rel err ${rel * 100}%.2f%%, 3-sigma bar 4.88%%)")

    // ---- interval overlap: binned join at 2×2M intervals ----------------
    // per-user intervals (~600s long, 300s bins → ≤3 bin rows each);
    // the theta form would be a per-key cartesian
    val nIv = math.max(n / 5, 1000000L)
    def ivSide(tag: String, salt: Long) = spark.range(nIv).select(
      col("id").as(s"${tag}_id"),
      pmod(col("id") * salt, lit(50000L)).as(s"${tag}_u"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(col("id") * 2654435761L + salt, lit(86400000000L)) ).as(s"${tag}_s"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(col("id") * 2654435761L + salt, lit(86400000000L)) +
        (lit(60L) + pmod(col("id"), lit(540L))) * 1000000L).as(s"${tag}_e"))
    // at this size Spark broadcasts the build side (verified: BHJ in the
    // plan) — measure the shuffle-partitioned shape the join takes once
    // both sides outgrow the broadcast threshold
    val bcThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (nPairs, ivB) = try shuffleBytes(spark.sparkContext) {
      graft.operators.RangeJoin.intervalOverlap(
        ivSide("l", 48271L), col("l_u"), col("l_s"), col("l_e"),
        ivSide("r", 69621L), col("r_u"), col("r_s"), col("r_e"),
        binWidthSeconds = 300).count()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThresh)
    println(f"[stress] interval_overlap_${nIv / 1000000}Mx${nIv / 1000000}M " +
      f"pairs=$nPairs shuffle=${ivB / 1e6}%.0f MB " +
      "((key,bin) shuffle equi-join, broadcast disabled; small sides broadcast)")
    time(s"interval_overlap_${nIv / 1000000}M") {
      graft.operators.RangeJoin.intervalOverlap(
        ivSide("l", 48271L), col("l_u"), col("l_s"), col("l_e"),
        ivSide("r", 69621L), col("r_u"), col("r_s"), col("r_e"),
        binWidthSeconds = 300).count()
    }

    // ---- equal-frequency bins at n rows ---------------------------------
    // skewed long-tail values; window state bounded by DISTINCT values,
    // bucket-prefix table bounded by range >> coarseShift
    val efb = spark.range(n).select(
      (pmod(col("id") * 48271L, lit(1000000L)) *
        pmod(col("id"), lit(7L))).as("v"))
    time(s"equal_freq_bins_${n / 1000000}M") {
      val bins = graft.operators.TableOps
        .equalFrequencyBins(efb, col("v"), 100, coarseShift = 16)
      val (rows, mass) = bins.agg(count(lit(1)), sum(col("n_rows")))
        .as[(Long, Long)].head()
      require(rows <= 100 && mass == n, s"bins=$rows mass=$mass")
    }

    // ---- geo radius pairs at n/2 points ---------------------------------
    // pair set must be IDENTICAL across cell sizes (both >= radius) —
    // the binning is a pruning detail, never a semantics knob
    // avalanche coords (xxhash64), NOT linear-in-id: linear generators
    // make pair distance a function of (i−j) alone, so whole deltas
    // qualify or none do — at some sizes that is exactly ZERO pairs
    // (the q169 synthetic-generator lesson, relearned here)
    val nGeo = math.max(n / 2, 1000000L)
    val geoPts = spark.range(nGeo).select(col("id"),
      (pmod(xxhash64(col("id")), lit(180001L)) - 90000L).as("lat_m"),
      (pmod(xxhash64(col("id"), lit(7L)), lit(360001L)) - 180000L).as("lng_m"))
    def geoPairs(bits: Int): org.apache.spark.sql.DataFrame = {
      val p = geoPts.select(col("id"), col("lat_m"), col("lng_m"),
        graft.functions.Geohash.latCell(col("lat_m"), bits).as("latc"),
        graft.functions.Geohash.lngCell(col("lng_m"), bits).as("lngc"))
      val l = p.select(col("id").as("l_id"), col("lat_m").as("l_lat"),
          col("lng_m").as("l_lng"),
          explode(array((for (a <- -1 to 1; b <- -1 to 1) yield
            struct((col("latc") + a).as("latc"), (col("lngc") + b).as("lngc"))): _*))
            .as("c"))
        .select(col("l_id"), col("l_lat"), col("l_lng"),
          col("c.latc").as("latc"), col("c.lngc").as("lngc"))
      val r = p.select(col("id").as("r_id"), col("lat_m").as("r_lat"),
        col("lng_m").as("r_lng"), col("latc"), col("lngc"))
      l.join(r, Seq("latc", "lngc")).filter(col("l_id") < col("r_id"))
        .select(col("l_id"), col("r_id"),
          ((col("l_lat") - col("r_lat")) * (col("l_lat") - col("r_lat")) +
            (col("l_lng") - col("r_lng")) * (col("l_lng") - col("r_lng")))
            .as("d2"))
        .filter(col("d2") <= 100L * 100L)
    }
    // time the agg that also feeds the invariant — one execution, not two
    var g9: (Long, Long) = null
    time(s"geo_radius_${nGeo / 1000000}M_b9", runs = 1) {
      g9 = geoPairs(9).agg(count(lit(1)), coalesce(sum(col("d2")), lit(0L)))
        .as[(Long, Long)].head()
    }
    val g8 = geoPairs(8).agg(count(lit(1)), coalesce(sum(col("d2")), lit(0L)))
      .as[(Long, Long)].head()
    require(g9 == g8, s"geo pair set diverged across cell sizes: $g9 vs $g8")
    require(g9._1 > 0, "geo receipt found zero pairs — generator degenerate")
    println(s"[stress] geo_radius_pairs ${g9._1} identical at 2^9 and 2^8 cells " +
      s"(${nGeo / 1000000}M points, 100-milli-deg radius)")

    // ---- label propagation: 3 rounds at ~2M edges -----------------------
    val lpaV = math.max(n / 10, 1000000L)
    val lpaEdges = spark.range(lpaV).select(col("id").as("src"),
      pmod(col("id") * 31L + 7L, lit(lpaV)).as("dst"))
      .unionAll(spark.range(lpaV / 2).select(col("id").as("src"),
        pmod(col("id") * 131L + 3L, lit(lpaV)).as("dst")))
    time(s"label_prop_3r_${lpaV / 1000000}M") {
      graft.operators.Graph.labelPropagation(
          spark.range(lpaV).select(col("id")), col("id"),
          lpaEdges, col("src"), col("dst"), rounds = 3)
        .agg(count_distinct(col("label"))).collect()
    }

    // ---- sentence chunking: ZERO exchanges ------------------------------
    val docs = spark.range(math.max(n / 10, 1000000L)).select(col("id"),
      concat_ws(" ", (0 until 60).map(i =>
        when(lit(i) % 7 === 6, concat(lit("w"), pmod(col("id") + i, lit(997)), lit(".")))
          .otherwise(concat(lit("w"), pmod(col("id") + i, lit(997))))): _*).as("text"))
    // a global agg would add its own 1-row-partial exchange — consume via
    // the noop sink so the measured bytes are the chunker's alone
    val (_, sb) = shuffleBytes(spark.sparkContext) {
      graft.operators.Chunker.sentenceChunks(docs, col("text"), 20)
        .write.format("noop").mode("overwrite").save()
    }
    require(sb == 0L, s"sentenceChunks shuffled $sb bytes — narrow claim broken")
    val chunkRows = graft.operators.Chunker
      .sentenceChunks(docs, col("text"), 20).count()
    println(s"[stress] sentence_chunks_${math.max(n / 10, 1000000L) / 1000000}M " +
      s"rows=$chunkRows shuffle=0 B (pure narrow projection)")
    time(s"sentence_chunks_${math.max(n / 10, 1000000L) / 1000000}M") {
      graft.operators.Chunker.sentenceChunks(docs, col("text"), 20)
        .agg(count(lit(1))).collect()
    }
  }

  /** Schema-as-contract validation at corpus scale (r8): n survey-shaped
    * JSON docs (6-in-7 carry one violation each, across the q201 dirt
    * modes — a violation-HEAVY corpus, so the timing is the conservative
    * upper bound: every dirty row materializes and sorts its violation
    * array) through the FULL compiled survey contract. The claim under
    * receipt: the whole
    * validation is ONE narrow projection — zero shuffle bytes — and
    * per-row cost stays flat, so 100 TB validates at scan speed × a
    * constant.
    */
  private def schemaReceipt(spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.SchemaValidate
    val k = col("id")
    val mode = pmod(k, lit(7))
    val docs = spark.range(0, n, 1, 32).select(k.as("doc_id"), concat(
      lit("{\"institution_info\":{"),
      when(mode === 2, lit(""))
        .otherwise(concat(lit("\"name\":\"inst-"), k.cast("string"), lit("\","))),
      lit("\"city\":\"c\",\"subject_type\":"),
      when(mode === 1, lit("\"私立\"")).otherwise(lit("\"公办\"")),
      lit(",\"specific_form\":\"其他\",\"is_puhui\":"),
      when(mode === 4, lit("\"yes\"")).otherwise(lit("true")),
      lit(",\"service_modes\":[\""),
      when(mode === 5, lit("夜托")).otherwise(lit("全日托")),
      lit("\"],\"total_capacity\":"),
      when(mode === 3, lit("\"10\"")).otherwise(lit("10")),
      lit(",\"current_enrollment\":5,\"staff_count\":3},"),
      lit("\"personal_info\":{\"gender\":\"男\",\"education\":\"硕士\",\"major\":"),
      when(mode === 6, lit("null")).otherwise(lit("\"护理\"")),
      lit("}}")).as("j"))
    val (_, bytes) = shuffleBytes(spark.sparkContext) {
      time(s"schema_validate_${n / 1000000}M") {
        SchemaValidate.validate(docs, col("j"), SchemaValidate.surveySchema)
          .agg(sum(when(col("is_valid"), 0L).otherwise(1L)).as("n_invalid"),
            sum(size(col("violations"))).as("n_viol"))
          .collect()
      }
    }
    println(f"[stress] schema_validate shuffle bytes: $bytes (expect ~0 — one narrow projection)")
  }

  /** The r8 narrow text kernels at corpus scale: Gopher repetition
    * signals and Gear-CDC chunking over n synthetic ~250-char docs
    * (xxhash-derived token streams — the q169 generator lesson — with
    * 1-in-5 docs carrying an injected repeated tail so the signals have
    * a live positive class). Claim under receipt: both are single
    * narrow projections — zero shuffle beyond the one-row agg — so
    * cost is scan speed × a constant at any corpus size.
    */
  private def textSignalsReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.QualityRules
    val words = typedLit((1 to 64).map(i => s"w$i"))
    val docs = spark.range(0, n, 1, 32).select(col("id").as("doc_id"),
      concat(
        array_join(transform(sequence(lit(0), lit(39)),
          j => element_at(words,
            (pmod(xxhash64(col("id") * 41L + j), lit(64)) + 1).cast("int"))),
          " "),
        when(pmod(col("id"), lit(5)) === 0,
          lit(". repeat me now. repeat me now. repeat me now."))
          .otherwise(lit(""))).as("text"))
    val (_, repBytes) = shuffleBytes(spark.sparkContext) {
      time(s"repetition_${n / 1000000}M") {
        QualityRules.repetitionSignals(docs, col("doc_id"), col("text"),
            split(col("text"), "\\."))
          .agg(sum(when(col("keep_repetition"), 0L).otherwise(1L)))
          .collect()
      }
    }
    println(s"[stress] repetition shuffle bytes: $repBytes (expect ~0)")
    val (_, cdcBytes) = shuffleBytes(spark.sparkContext) {
      time(s"cdc_chunks_${n / 1000000}M") {
        docs.select(graft.functions.CdcChunks
            .expr(col("text"), 32, 256, 6).as("c"))
          .agg(sum(size(col("c"))), sum(element_at(col("c"), 1).getField("hash")))
          .collect()
      }
    }
    println(s"[stress] cdc shuffle bytes: $cdcBytes (expect ~0)")
  }

  /** Kneser–Ney at corpus scale: n docs × 40 tokens over a 4096-word
    * vocabulary (bigram model tops out at 16.7M rows — vocabulary-
    * bounded regardless of n). Receipt: train+score runtime, shuffle
    * bytes, and the sanity bars (every doc scored, all means ≤ 0, oov
    * only where planted). A 64-word OOV stripe (ids ≡ 0 mod 17 swap in
    * words the reference slice never contains) keeps both scoring
    * branches live at scale.
    */
  private def knLmReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.KneserNey
    val words = typedLit((1 to 4096).map(i => s"w$i"))
    val oovWords = typedLit((1 to 64).map(i => s"x$i"))
    def body(vocab: org.apache.spark.sql.Column, salt: Long) =
      array_join(transform(sequence(lit(0), lit(39)),
        j => element_at(vocab,
          (pmod(xxhash64(xxhash64(col("id") + salt) + j), lit(4096))
            .cast("int") % size(vocab)) + 1)), " ")
    val docs = spark.range(0, n, 1, 32).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(17)) === 0, body(oovWords, 7L))
        .otherwise(body(words, 0L)).as("text"))
      .localCheckpoint() // price the operator, not the generator
    val ref = docs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
    val (cnt, bytes) = shuffleBytes(spark.sparkContext) {
      var out = 0L
      var m: graft.operators.KneserNey.Model = null
      time(s"kn_train_${n / 1000000}M", runs = 1) {
        m = KneserNey.trainBigramModel(ref, col("text"))
      }
      time(s"kn_score_${n / 1000000}M", runs = 1) {
        val scored = KneserNey.scoreDocs(docs, col("doc_id"), col("text"), m)
        val agg = scored.agg(count(lit(1)),
          sum(when(col("mean_log2p") > 0, 1).otherwise(0)),
          sum(when(col("oov_frac") > 0.5, 1).otherwise(0))).collect().head
        assert(agg.getLong(0) == n, s"scored ${agg.getLong(0)} of $n")
        assert(agg.getLong(1) == 0, "positive mean_log2p at scale")
        // the OOV stripe: x-words never train, so those docs are ~fully oov
        assert(agg.getLong(2) == (n + 16) / 17,
          s"oov stripe ${agg.getLong(2)} != ${(n + 16) / 17}")
        out = agg.getLong(0)
      }
      out
    }
    println(s"[stress] kn shuffle bytes: $bytes for $cnt docs")
  }

  /** Join-form decontamination at corpus scale: n docs × 40 tokens over
    * 4096 words; the bench side is n/10 docs over the FIRST 256 words
    * only — large enough that its gram set exceeds the broadcast
    * threshold (the regime the join form EXISTS for), while almost every
    * corpus gram misses it. Receipt: runtime + shuffle bytes with the
    * Bloom prefilter off vs on (off pays the full doc-gram probe
    * exchange; on prunes misses before the explode), plus hit-count
    * equality between the two modes (the filter must be
    * output-invisible).
    */
  private def contamJoinReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Contamination
    val words = typedLit((1 to 4096).map(i => s"w$i"))
    def body(mod: Int, salt: Long) =
      array_join(transform(sequence(lit(0), lit(39)),
        j => element_at(words,
          (pmod(xxhash64(xxhash64(col("id") + salt) + j), lit(mod)) + 1)
            .cast("int"))), " ")
    val docs = spark.range(0, n, 1, 32)
      .select(col("id").as("doc_id"), body(4096, 0L).as("text"))
      .localCheckpoint()
    val bench = spark.range(0, math.max(100000L, n / 10), 1, 32)
      .select(body(256, 11L).as("text"))
      .localCheckpoint()
    // The join form EXISTS for bench sets beyond broadcast; on this box
    // the 64 MB threshold + AQE would quietly broadcast the ~15M-gram
    // bench side and hide the probe exchange the Bloom is there to
    // erase. Pin the threshold down so the receipt measures the cluster
    // regime (a 10⁸-gram bench set does not broadcast to 1000
    // executors; an 18 MB Bloom bit array does).
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (8L * 1024 * 1024).toString)
    var offHits = -1L
    var onHits = -2L
    val (_, offBytes) = shuffleBytes(spark.sparkContext) {
      time(s"contam_join_off_${n / 1000000}M", runs = 1) {
        offHits = Contamination.overlapStatsJoin(docs, col("doc_id"),
            col("text"), bench, col("text"), k = 3)
          .agg(sum(col("n_hit"))).collect().head.getLong(0)
      }
    }
    val (_, onBytes) = shuffleBytes(spark.sparkContext) {
      time(s"contam_join_bloom_${n / 1000000}M", runs = 1) {
        onHits = Contamination.overlapStatsJoin(docs, col("doc_id"),
            col("text"), bench, col("text"), k = 3, bloomPrefilter = true)
          .agg(sum(col("n_hit"))).collect().head.getLong(0)
      }
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
    assert(offHits == onHits, s"bloom changed hits: $offHits vs $onHits")
    println(f"[stress] contam hits: $offHits; shuffle off=$offBytes " +
      f"on=$onBytes (${offBytes.toDouble / math.max(onBytes, 1)}%.1fx cut)")
  }

  /** CDC near-dup pairing at corpus scale: n/2 distinct ~250-char docs
    * (xxhash token streams) + their banner-shifted twins, plus a
    * 100k-doc identical boilerplate cluster that MUST be frequency-
    * capped out (uncapped it alone would fan out 5×10⁹ pairs). Receipt:
    * runtime, shuffle bytes (triples only), twin recall, zero
    * boilerplate pairs.
    */
  private def cdcPairsReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Dedup
    val half = n / 2
    val words = typedLit((1 to 64).map(i => s"w$i"))
    def bodyOf(idc: org.apache.spark.sql.Column) =
      // ~200 tokens ≈ 800 chars ≈ 8 chunks at 2^6 expected size — short
      // docs yield 1-2 chunks and cannot share minShared=2 re-synced
      // chunks (the first cdcpairs run found 0 pairs on 40-token docs)
      // nested avalanche (the q169 lesson, tripped AGAIN here first:
      // idc*37+j seeds make consecutive docs SHIFTED copies of one
      // stream — chunk df blows past the cap and twin recall reads 0)
      array_join(transform(sequence(lit(0), lit(199)),
        j => element_at(words,
          (pmod(xxhash64(xxhash64(idc) + j), lit(64)) + 1).cast("int"))), " ")
    val base = spark.range(0, half, 1, 32)
      .select(col("id"), bodyOf(col("id")).as("text"))
    // body FIRST, re-key SECOND: aliasing id in the same select would
    // capture the new value through Spark's lateral column alias
    // resolution — bodyOf(col("id")) would read id + 1e9 and the twins
    // would silently stop being twins (found the hard way: 0% recall)
    val twins = spark.range(0, half, 1, 32)
      .select(col("id"), bodyOf(col("id")).as("text"))
      .select((col("id") + 1000000000L).as("id"),
        concat(lit("BANNER NOISE HEADER INJECTED "), col("text")).as("text"))
    val boiler = spark.range(0, 100000, 1, 32)
      .select((col("id") + 2000000000L).as("id"),
        bodyOf(lit(-1L)).as("text"))
    val corpus = base.unionAll(twins).unionAll(boiler)
    val ((nPairs, nTwins, nBoiler), bytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L, 0L)
      time(s"cdc_pairs_${n / 1000000}M") {
        val p = Dedup.cdcNearDupPairs(corpus, col("id"), col("text"),
            minShared = 2, maxDf = 8)
          .agg(count(lit(1)),
            sum(when(col("id2") - col("id1") === 1000000000L, 1L).otherwise(0L)),
            sum(when(col("id1") >= 2000000000L || col("id2") >= 2000000000L, 1L)
              .otherwise(0L)))
          .head()
        r = (p.getLong(0), p.getLong(1), p.getLong(2))
      }
      r
    }
    println(f"[stress] cdc_pairs: $nPairs pairs, twin recall ${
      nTwins * 100.0 / half}%.1f%%, boiler pairs $nBoiler (expect 0), " +
      f"shuffle ${bytes / 1048576.0}%.1f MB")
    require(nBoiler == 0, "boilerplate cluster leaked into pairs")
  }

  /** Mining wave at corpus scale: vocabulary-overlap matrix, HITS, and
    * the Gini concentration audit. n = docs / edges / rows respectively.
    *
    * Receipt bars: overlap — 8 sources with PLANTED half-window vocab
    * overlap (source s draws tokens [2500·s, 2500·s+5000)): adjacent
    * pairs must report Jaccard ≈ 1/3, non-adjacent exactly 0, and the
    * shuffle stays vocabulary-bounded (map-side partial distinct
    * collapses the 20·n token stream to ≤40k incidence rows). HITS —
    * the deterministic mod-graph: all n/5 nodes scored, max hub at the
    * fixed-point scale. Gini — uniform integer values must audit at
    * ≈1/3 (the exact uniform-distribution Gini) through ONE group-keyed
    * exchange.
    */
  private def miningReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.{Divergence, Graph, TableOps}
    // 20 tokens/doc; source s ∈ [0,8) owns token window [2500s, 2500s+5000)
    val docs = spark.range(0, n, 1, 32).select(
      concat(lit("src"), pmod(col("id"), lit(8)).cast("string")).as("source"),
      array_join(transform(sequence(lit(0), lit(19)), j =>
        concat(lit("t"), (pmod(col("id"), lit(8)) * 2500 +
          pmod(xxhash64(col("id") * 23L + j), lit(5000))).cast("string"))),
        " ").as("text"))
      .localCheckpoint()
    val (ovr, oBytes) = shuffleBytes(spark.sparkContext) {
      var r: Array[org.apache.spark.sql.Row] = null
      time(s"vocab_overlap_${n / 1000000}M") {
        r = Divergence.vocabOverlap(docs, col("source"), col("text"))
          .collect()
      }
      r
    }
    val adj = ovr.filter(r => math.abs(
      r.getString(0).drop(3).toInt - r.getString(1).drop(3).toInt) == 1)
    val far = ovr.filter(r => math.abs(
      r.getString(0).drop(3).toInt - r.getString(1).drop(3).toInt) > 1)
    println(f"[stress] overlap: ${ovr.length} pairs, adjacent jaccard " +
      f"${adj.map(_.getAs[Double]("jaccard")).max}%.4f, " +
      f"shuffle ${oBytes / 1048576.0}%.1f MB")
    require(adj.forall(r => math.abs(r.getAs[Double]("jaccard") - 1.0 / 3) < 0.01),
      "adjacent sources must overlap at ~1/3 Jaccard")
    require(far.forall(_.getAs[Double]("jaccard") == 0.0),
      "non-adjacent sources share a disjoint vocabulary")

    // HITS over the deterministic mod-graph: n edges on n/5 nodes
    val nNodes = math.max(n / 5, 10L)
    val nodes = spark.range(0, nNodes, 1, 32).select(col("id"))
    val edges = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(nNodes)).as("src"),
      pmod(col("id") * 31L + 7L, lit(nNodes)).as("dst"))
    val (hOut, hBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L)
      time(s"hits_${n / 1000000}M_edges") {
        val m = Graph.hits(nodes, col("id"), edges, col("src"), col("dst"),
            iterations = 3)
          .agg(count(lit(1)), max(col("hub_fp"))).head()
        r = (m.getLong(0), m.getLong(1))
      }
      r
    }
    println(f"[stress] hits: ${hOut._1} nodes scored, max hub ${hOut._2}, " +
      f"shuffle ${hBytes / 1048576.0}%.1f MB")
    require(hOut._1 == nNodes && hOut._2 == 1000000L,
      s"every node scored with the max hub at scale: $hOut")

    // Gini over uniform integers: population Gini of U{0..m-1} ≈ 1/3
    val vals = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(32)).as("g"),
      pmod(xxhash64(col("id")), lit(1000000L)).as("x"))
    val (gOut, gBytes) = shuffleBytes(spark.sparkContext) {
      var r = 0.0
      time(s"concentration_${n / 1000000}M") {
        r = TableOps.concentration(vals, Seq(col("g")), col("x"))
          .agg(max(col("gini"))).head().getDouble(0)
      }
      r
    }
    println(f"[stress] gini: uniform audit $gOut%.4f, " +
      f"shuffle ${gBytes / 1048576.0}%.1f MB")
    require(math.abs(gOut - 1.0 / 3) < 0.01,
      s"uniform values must audit at Gini ~1/3: $gOut")

    // Poisson bootstrap: n rows / 8 groups / B=40 — the B-fold explode
    // must collapse map-side (shuffle stays |groups|·B-bounded, i.e. MBs
    // not GBs at 40× the input), and the interval must bracket the exact
    // uniform mean 499.5 with b_eff = 40 everywhere
    // x decoupled from the group key (id mod 1000 would correlate with
    // id mod 8): per group, (id div 8) sweeps [0, n/8) so x is exactly
    // uniform over 0..999 and every group mean is exactly 499.5
    val brows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(8)).as("g"), col("id").as("k"),
      pmod((col("id") / 8).cast("long"), lit(1000)).as("x"))
    val (bOut, bBytes) = shuffleBytes(spark.sparkContext) {
      var r: Array[org.apache.spark.sql.Row] = null
      time(s"bootstrap_${n / 1000000}M_b40") {
        r = graft.operators.TableOps.bootstrapMeanCi(brows, Seq(col("g")),
          col("k"), col("x"), b = 40).collect()
      }
      r
    }
    println(f"[stress] bootstrap: ${bOut.length} groups, widest CI " +
      f"${bOut.map(r => r.getAs[Double]("ci_hi") - r.getAs[Double]("ci_lo")).max}%.4f, " +
      f"shuffle ${bBytes / 1048576.0}%.1f MB")
    require(bOut.length == 8 && bOut.forall(_.getAs[Long]("b_eff") == 40L),
      "all 8 groups with the full 40 resamples")
    require(bOut.forall(r => r.getAs[Double]("ci_lo") <= 499.5 &&
      499.5 <= r.getAs[Double]("ci_hi")),
      "the interval must bracket the exact uniform mean")
    require(bBytes < 64L * 1048576,
      s"bootstrap shuffle must stay groups*B-bounded: $bBytes")

    // mutual information: planted exact independence (x ⊥ y when n is a
    // multiple of 512) must read 0.000000; a deterministic y = x mod 4
    // must read exactly H(Y) = 2 bits (power-of-two LUT path is exact)
    val n512 = n - n % 512
    val mrows = spark.range(0, n512, 1, 32).select(
      pmod(col("id"), lit(32)).as("x"),
      pmod(col("id") / 32, lit(16)).cast("long").as("y_ind"),
      pmod(pmod(col("id"), lit(32)), lit(4)).as("y_dep"))
    val (miPair, mBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0.0, 0.0)
      time(s"mutual_info_${n / 1000000}M") {
        val i = graft.operators.Divergence
          .mutualInformation(mrows, col("x"), col("y_ind"))
          .agg(max(col("mi_bits"))).head().getDouble(0)
        val d = graft.operators.Divergence
          .mutualInformation(mrows, col("x"), col("y_dep"))
          .agg(max(col("mi_bits"))).head().getDouble(0)
        r = (i, d)
      }
      r
    }
    println(f"[stress] mi: independent ${miPair._1}%.6f, deterministic " +
      f"${miPair._2}%.6f bits, shuffle ${mBytes / 1048576.0}%.1f MB")
    require(miPair._1 == 0.0, s"independent columns must read 0: $miPair")
    require(miPair._2 == 2.0, s"y = x mod 4 must read exactly 2 bits: $miPair")

    // RFM: n orders over n/10 customers — every axis scored 1..5 with
    // near-equal quintile mass (value-quantile ties only distort where
    // distinct values are few; recency/monetary here are fine-grained)
    val nCust = math.max(n / 10, 100L)
    val orders = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(nCust)).as("cust"),
      date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64(col("id")), lit(2000)).cast("int")).as("dt"),
      pmod(xxhash64(col("id") * 7L), lit(100000L)).as("cents"))
    val (rfmCounts, rBytes) = shuffleBytes(spark.sparkContext) {
      var r: Map[Long, Long] = null
      time(s"rfm_${n / 1000000}M") {
        r = graft.operators.Journey.rfmScores(orders, col("cust"),
            col("dt"), col("cents"))
          .groupBy(col("m_score")).agg(count(lit(1)).as("c"))
          .collect().map(x => x.getLong(0) -> x.getAs[Long]("c")).toMap
      }
      r
    }
    println(f"[stress] rfm: m_score counts $rfmCounts, " +
      f"shuffle ${rBytes / 1048576.0}%.1f MB")
    require(rfmCounts.keySet == Set(1L, 2L, 3L, 4L, 5L),
      s"all five monetary quintiles present: $rfmCounts")
    val per = nCust / 5.0
    require(rfmCounts.values.forall(c => c > per * 0.8 && c < per * 1.2),
      s"quintile mass within 20%% of n/5: $rfmCounts")

    // corrMatrix: n rows, planted exact dependence (b = 3a+7 → r² = 1)
    // next to hash-independent noise (r² ~ 0); two narrow aggregations,
    // so the shuffle is a few KB of partials
    val crows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(1000)).as("a"),
      (pmod(col("id"), lit(1000)) * 3 + 7).as("b"),
      pmod(xxhash64(col("id")), lit(1000)).as("c"))
    val (cOut, cBytes) = shuffleBytes(spark.sparkContext) {
      var r: Map[(String, String), (Double, Int)] = null
      time(s"corr_matrix_${n / 1000000}M") {
        r = graft.operators.TableOps.corrMatrix(crows,
            Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c")))
          .collect()
          .map(x => (x.getString(0), x.getString(1)) ->
            (x.getAs[Double]("r2"), x.getAs[Int]("sgn"))).toMap
      }
      r
    }
    println(f"[stress] corr: ab=${cOut(("a", "b"))}, ac=${cOut(("a", "c"))}, " +
      f"shuffle ${cBytes / 1048576.0}%.1f MB")
    require(cOut(("a", "b")) == ((1.0, 1)), s"planted line must read r2=1")
    require(cOut(("a", "c"))._1 < 0.001, s"hash noise must read r2~0: $cOut")

    // KMV: n rows / nCust planted distinct per 8 shards, k=1024 — the
    // estimate must land within ~4/sqrt(k) of truth, and merged
    // per-shard registers must equal the direct global sketch exactly
    val kRows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(8)).as("sh"),
      concat(lit("item"), pmod(xxhash64(col("id")), lit(1000000L))
        .cast("string")).as("w"))
    val (kEst, kBytes) = shuffleBytes(spark.sparkContext) {
      var r = 0L
      time(s"kmv_${n / 1000000}M_k1024") {
        val per = graft.operators.Sketches.kmvRegisters(kRows,
          Seq(col("sh")), col("w"), k = 1024).localCheckpoint()
        val merged = graft.operators.Sketches.kmvMerge(
          per.withColumn("g", lit(1)), Seq(col("g")), k = 1024)
        val direct = graft.operators.Sketches.kmvRegisters(
          kRows.withColumn("g", lit(1)), Seq(col("g")), col("w"), k = 1024)
        val mSel = merged.select(col("rnk"), col("h"))
        val dSel = direct.select(col("rnk"), col("h"))
        require(mSel.exceptAll(dSel).isEmpty && dSel.exceptAll(mSel).isEmpty,
          "merge law must hold exactly at scale (both directions)")
        r = graft.operators.Sketches.kmvEstimate(merged, Seq(col("g")),
          k = 1024).collect().head.getAs[Long]("distinct_est")
      }
      r
    }
    // truth: distinct item ids actually hit by 10M draws of hash mod 1M
    val truth = kRows.select(col("w")).distinct().count()
    println(f"[stress] kmv: est $kEst vs true $truth " +
      f"(${(kEst - truth) * 100.0 / truth}%.2f%%), " +
      f"shuffle ${kBytes / 1048576.0}%.1f MB")
    require(math.abs(kEst - truth) < truth / 8,
      s"KMV estimate within 12.5%%: $kEst vs $truth")

    // the two KMV builds head-to-head: the window form's exchange is
    // the distinct (group, hash) set (~1M rows here); BottomKAgg's is
    // one <=k buffer per (partition, group) — input-size-independent
    val (winRows, winBytes) = shuffleBytes(spark.sparkContext) {
      var r = 0L
      time(s"kmv_window_${n / 1000000}M") {
        r = graft.operators.Sketches.kmvRegisters(kRows,
          Seq(col("sh")), col("w"), k = 1024).count()
      }
      r
    }
    val (aggRows, aggBytes) = shuffleBytes(spark.sparkContext) {
      var r = 0L
      time(s"kmv_agg_${n / 1000000}M") {
        r = graft.operators.Sketches.kmvRegistersAgg(kRows,
          Seq(col("sh")), col("w"), k = 1024).count()
      }
      r
    }
    println(f"[stress] kmv builds: window $winRows rows " +
      f"${winBytes / 1048576.0}%.1f MB vs agg $aggRows rows " +
      f"${aggBytes / 1048576.0}%.1f MB " +
      f"(${winBytes.toDouble / math.max(aggBytes, 1)}%.1fx less shuffle)")
    require(winRows == aggRows, s"identical registers: $winRows vs $aggRows")
    require(aggBytes < winBytes / 4,
      s"buffer exchange must beat the distinct exchange: $aggBytes vs $winBytes")

    // Theil–Sen at the intended grain: n/1000 entities × 1000-point
    // series (planted slope 7 + bounded hash noise — the median must
    // read within noise/dx of 7); pair fan-out is per-SERIES O(m²),
    // so the wall is entities × 500k pairs, all group-local
    val nSeries = math.max(n / 1000, 10L)
    val tsRows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(nSeries)).as("g"),
      (col("id") / nSeries).cast("long").as("t"),
      ((col("id") / nSeries).cast("long") * 7L +
        pmod(xxhash64(col("id")), lit(100))).as("y"))
    val (tsOut, tsBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0.0, 0.0)
      time(s"theil_sen_${n / 1000000}M") {
        val m = graft.operators.Journey.theilSen(
            tsRows.filter(col("g") < 20), Seq(col("g")), col("t"), col("y"))
          .agg(count(lit(1)), min(col("slope")), max(col("slope"))).head()
        r = (m.getLong(0), m.getDouble(1), m.getDouble(2))
      }
      r
    }
    println(f"[stress] theil_sen: ${tsOut._1} series, slope range " +
      f"[${tsOut._2}%.4f, ${tsOut._3}%.4f], shuffle ${tsBytes / 1048576.0}%.1f MB")
    require(tsOut._1 == 20L && tsOut._2 > 6.9 && tsOut._3 < 7.1,
      s"planted slope 7 within noise: $tsOut")

    // top-N + other over n rows / 1M keys: ranks off a TakeOrdered,
    // the tail pooled; mass conservation is the exactness bar
    val tnRows = spark.range(0, n, 1, 32).select(
      pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
      when(pmod(col("id"), lit(1000)) === 0, lit(1000L)).otherwise(lit(1L))
        .as("w"))
    val (tnOut, tnBytes) = shuffleBytes(spark.sparkContext) {
      var r: Array[org.apache.spark.sql.Row] = null
      time(s"top_other_${n / 1000000}M") {
        r = graft.operators.TableOps.topNOther(tnRows, col("k"), col("w"),
          n = 20).collect()
      }
      r
    }
    val mass = tnOut.map(_.getLong(1)).sum
    val expectMass = n + (n / 1000) * 999
    println(f"[stress] top_other: ${tnOut.length} rows, mass $mass " +
      f"(expect $expectMass), shuffle ${tnBytes / 1048576.0}%.1f MB")
    require(tnOut.length == 21 && mass == expectMass,
      s"mass conservation: $mass vs $expectMass")

    // dispersion at n events / 32 types: uniform hash spread must read
    // near-Poisson (~1), the planted single-bucket type reads ~huge
    // type 31: everything in hour 0 plus ONE marker in hour 23 (a
    // single-bucket span would make the statistic null, not huge)
    val dRows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(32)).as("g"),
      when(pmod(col("id"), lit(32)) === 31,
        when(col("id") === 31, lit(86399000L)).otherwise(lit(0L)))
        .otherwise(pmod(xxhash64(col("id")), lit(86400L)) * 1000).as("t"))
    val (dOut, dBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0.0, 0.0)
      time(s"dispersion_${n / 1000000}M") {
        val m = graft.operators.Journey.dispersionIndex(dRows,
            Seq(col("g")), col("t"), step = 3600000L)
          .agg(max(when(col("g0") =!= 31, col("dispersion"))),
            max(when(col("g0") === 31, col("dispersion")))).head()
        r = (m.getDouble(0), m.getDouble(1))
      }
      r
    }
    println(f"[stress] dispersion: uniform max ${dOut._1}%.3f, planted " +
      f"burst ${dOut._2}%.1f, shuffle ${dBytes / 1048576.0}%.1f MB")
    require(dOut._1 < 3.0 && dOut._2 > 1000,
      s"burst must dwarf uniform: $dOut")

    // robust outliers at n rows / 32 groups: hash-uniform base with one
    // planted 100x spike per 10k rows — MAD flags exactly the spikes
    // (mean/sigma would drag the threshold toward them)
    val roRows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(32)).as("g"),
      when(pmod(col("id"), lit(10000)) === 7, lit(100000000L))
        .otherwise(pmod(xxhash64(col("id")), lit(1000000L))).as("x"))
    val (roOut, roBytes) = shuffleBytes(spark.sparkContext) {
      var r = 0L
      time(s"robust_outliers_${n / 1000000}M") {
        r = graft.operators.TableOps.robustOutliers(roRows,
            Seq(col("g")), col("x"))
          .agg(sum(col("n_outliers"))).head().getLong(0)
      }
      r
    }
    println(f"[stress] robust_outliers: $roOut flagged " +
      f"(planted ${n / 10000}), shuffle ${roBytes / 1048576.0}%.1f MB")
    require(roOut == n / 10000,
      s"exactly the planted spikes: $roOut vs ${n / 10000}")

    // skew profile over n rows: a planted hot key owning ~5% of rows
    // must dominate max_share while the uniform key column reads ~1/keys
    val skRows = spark.range(0, n, 1, 32).select(
      when(pmod(col("id"), lit(20)) === 0, lit(42L))
        .otherwise(pmod(xxhash64(col("id")), lit(100000L))).as("hot"),
      pmod(xxhash64(col("id") * 3L), lit(100000L)).as("flat"))
    val (skOut, skBytes) = shuffleBytes(spark.sparkContext) {
      var r: Map[String, Double] = null
      time(s"skew_profile_${n / 1000000}M") {
        r = graft.operators.TableOps.skewProfile(skRows,
            Seq("hot" -> col("hot"), "flat" -> col("flat")))
          .collect().map(x => x.getString(0) ->
            x.getAs[Double]("max_share")).toMap
      }
      r
    }
    println(f"[stress] skew: hot max_share ${skOut("hot")}%.4f, flat " +
      f"${skOut("flat")}%.6f, shuffle ${skBytes / 1048576.0}%.1f MB")
    require(skOut("hot") > 0.045 && skOut("flat") < 0.001,
      s"planted 5%% hot key must dominate: $skOut")

    // changepoint: n/10000 series × 10k points with a planted step at
    // position 6000 (+1000 level shift over U(0,100) noise) — every
    // series must split exactly there, one ordered window pass each
    val nCp = math.max(n / 10000, 4L)
    val cpRows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(nCp)).as("g"),
      (col("id") / nCp).cast("long").as("t"),
      (when((col("id") / nCp).cast("long") < 6000, lit(0L))
        .otherwise(lit(1000L)) +
        pmod(xxhash64(col("id")), lit(100))).as("y"))
    val (cpOut, cpBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L, 0L)
      time(s"changepoint_${n / 1000000}M") {
        val m = graft.operators.Journey.changepoint(
            cpRows.filter(col("g") < 20), Seq(col("g")), col("t"), col("y"))
          .agg(count(lit(1)), min(col("split_t")), max(col("split_t")))
          .head()
        r = (m.getLong(0), m.getLong(1), m.getLong(2))
      }
      r
    }
    println(f"[stress] changepoint: ${cpOut._1} series, split range " +
      f"[${cpOut._2}, ${cpOut._3}], shuffle ${cpBytes / 1048576.0}%.1f MB")
    require(cpOut._1 == 20L && cpOut._2 == 5999L && cpOut._3 == 5999L,
      s"every planted step found at t=5999: $cpOut")
  }

  /** Governance wave at corpus scale: section-aware chunking (doc-keyed
    * window fan-out), k-anonymity (partition-count window) and per-source
    * KL divergence (one corpus pass + vocab-bounded joins). n = docs/rows.
    *
    * Receipt bars: sections = exactly 4 per doc with 20 body lines (the
    * generator plants 4 headings per 24-line doc — any phantom/lost line
    * breaks the equality); k-anonymity suppression count = the planted
    * singleton stripe; KL spikes on the planted single-word source while
    * the 31 hash-flat sources sit near the corpus.
    */
  private def governanceReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.{Chunker, Divergence, TableOps}
    val words = typedLit((1 to 256).map(i => s"w$i"))
    def lineOf(seed: org.apache.spark.sql.Column) =
      array_join(transform(sequence(lit(0), lit(4)),
        k => element_at(words,
          (pmod(xxhash64(seed + k), lit(256)) + 1).cast("int"))), " ")
    // 24 lines; j%6==0 is a heading (j/6-th), 2:1 ##:# mix by (id+j/6)%3.
    // doc_id is a bijective odd-multiplier scatter of the range id: with
    // doc_id == id the checkpoint's preserved range partitioning PROVES
    // doc-clustering and Spark elides the window exchange entirely (real —
    // co-partitioned input pays zero shuffle — but a parquet corpus has
    // unknown partitioning, and the receipt must price that shape)
    val md = spark.range(0, n, 1, 32)
      .select(Seq(13, -7, 17).foldLeft(col("id")) { (x, s) =>
          if (s > 0) x.bitwiseXOR(shiftleft(x, s))
          else x.bitwiseXOR(shiftrightunsigned(x, -s))
        }.as("doc_id"), // xorshift64 bijection — overflow-free under ANSI
        col("id"))
      .select(col("doc_id"),
      array_join(transform(sequence(lit(0), lit(23)), j =>
        when(pmod(j, lit(6)) === 0,
          when(pmod(j / 6 + col("id"), lit(3)) === 0,
            concat(lit("# H"), (j / 6).cast("string")))
            .otherwise(concat(lit("## S"), (j / 6).cast("string"))))
          .otherwise(lineOf(col("id") * 37L + j * 7L))), "\n").as("md"))
      .localCheckpoint() // price the operator, not the generator
    val ((nSec, nLines), secBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L)
      time(s"section_chunks_${n / 1000000}M") {
        val p = Chunker.sectionChunks(md, col("doc_id"), col("md"))
          .agg(count(lit(1)), sum(col("n_lines"))).head()
        r = (p.getLong(0), p.getLong(1))
      }
      r
    }
    println(f"[stress] section_chunks: $nSec sections (${nSec / n} per doc), " +
      f"$nLines body lines, shuffle ${secBytes / 1048576.0}%.1f MB")
    require(nSec == 4 * n && nLines == 20 * n,
      s"section accounting broke: $nSec sections, $nLines lines for $n docs")

    // k-anonymity: 8-row classes + a singleton stripe every 101st row
    // (offset by n so stripe values never collide with a class value)
    val rows = spark.range(0, n, 1, 32).select(col("id"),
      when(pmod(col("id"), lit(101)) === 0, col("id") + n)
        .otherwise(pmod(col("id"), lit(n / 8))).as("quasi_a"),
      pmod(col("id"), lit(4)).as("quasi_b"))
      .localCheckpoint()
    val (nSupp, kBytes) = shuffleBytes(spark.sparkContext) {
      var r = 0L
      time(s"k_anonymity_${n / 1000000}M") {
        r = TableOps.kAnonymity(rows,
            Seq(col("quasi_a"), col("quasi_b")), k = 2)
          .agg(sum(col("suppressed"))).head().getLong(0)
      }
      r
    }
    val expSupp = (n + 100) / 101
    println(f"[stress] k_anonymity: $nSupp suppressed (expect $expSupp), " +
      f"shuffle ${kBytes / 1048576.0}%.1f MB")
    require(nSupp == expSupp, s"suppression count $nSupp != $expSupp")

    // per-source KL: 32 sources; source 31 only ever says "alpha"
    val docs = spark.range(0, n, 1, 32).select(
      concat(lit("src"), pmod(col("id"), lit(32)).cast("string")).as("source"),
      when(pmod(col("id"), lit(32)) === 31,
        array_join(transform(sequence(lit(0), lit(39)), _ => lit("alpha")), " "))
        .otherwise(array_join(transform(sequence(lit(0), lit(39)),
          j => element_at(words,
            (pmod(xxhash64(col("id") * 41L + j), lit(256)) + 1).cast("int"))),
          " ")).as("text"))
      .localCheckpoint()
    val ((klFlat, klSkew), klBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0.0, 0.0)
      time(s"source_kl_${n / 1000000}M") {
        val m = Divergence.klBySource(docs, col("source"), col("text"))
          .agg(max(when(col("source") =!= "src31", col("kl_bits"))),
            max(when(col("source") === "src31", col("kl_bits")))).head()
        r = (m.getDouble(0), m.getDouble(1))
      }
      r
    }
    println(f"[stress] source_kl: flat max $klFlat%.4f bits, " +
      f"skewed $klSkew%.4f bits, shuffle ${klBytes / 1048576.0}%.1f MB")
    require(klSkew > klFlat + 1.0,
      s"planted skew did not spike: flat $klFlat vs skew $klSkew")
  }

  /** Eval-metrics wave at scale: Zipf slope (corpus token exchange),
    * l-diversity (two-level agg) and rankingMetrics over a 10M-row gold
    * set. Sanity bars: the planted geometric source must fit far steeper
    * than the hash-flat sources; l-diversity's planted constant-sensitive
    * stripe counts exactly; rankingMetrics recovers the planted
    * recall/RR exactly at every query.
    */
  private def evalMetricsReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.{Divergence, EvalMetrics, TableOps}
    val words = typedLit((1 to 256).map(i => s"w$i"))
    val geoWords = typedLit((1 to 16).map(i => s"g$i"))
    // flat sources draw uniformly from 256 words; source 31 draws token
    // g_i with prob ~2^-i (trailing zeros of a masked hash are geometric)
    def geoIdx(h: org.apache.spark.sql.Column) = {
      val hm = h.bitwiseAND(lit((1L << 62) - 1)) // nonneg: ANSI-safe -hm
      least(lit(16), length(bin(hm.bitwiseAND(-hm))).cast("int"))
    }
    val docs = spark.range(0, n, 1, 32).select(
      concat(lit("src"), pmod(col("id"), lit(32)).cast("string")).as("source"),
      when(pmod(col("id"), lit(32)) === 31,
        array_join(transform(sequence(lit(0), lit(39)), j =>
          element_at(geoWords, geoIdx(xxhash64(col("id") * 41L + j)))), " "))
        .otherwise(array_join(transform(sequence(lit(0), lit(39)),
          j => element_at(words,
            (pmod(xxhash64(col("id") * 41L + j), lit(256)) + 1).cast("int"))),
          " ")).as("text"))
      .localCheckpoint()
    val ((slFlat, slSkew), zBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0.0, 0.0)
      time(s"zipf_slope_${n / 1000000}M") {
        val m = Divergence.zipfSlope(docs, col("source"), col("text"), 100)
          .agg(max(when(col("source") =!= "src31", col("zipf_slope"))),
            max(when(col("source") === "src31", col("zipf_slope")))).head()
        r = (m.getDouble(0), m.getDouble(1))
      }
      r
    }
    println(f"[stress] zipf: flat max $slFlat%.4f, geometric $slSkew%.4f, " +
      f"shuffle ${zBytes / 1048576.0}%.1f MB")
    require(slSkew < slFlat - 0.5,
      s"geometric source must fit steeper: flat $slFlat vs $slSkew")

    // l-diversity: (n/8)-class table, 4-valued sensitive cycling
    // deterministically within each class (member slot mod 4 — every
    // class diverse BY CONSTRUCTION; a hashed sensitive draw leaves
    // ~(1/4)^7 of classes constant by chance, which broke the first
    // exact-count bar); every 7th class planted constant (non-diverse)
    val nClasses = n / 8
    val rows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(nClasses)).as("cls"),
      when(pmod(pmod(col("id"), lit(nClasses)), lit(7)) === 0, lit(0L))
        .otherwise(pmod((col("id") / nClasses).cast("long"), lit(4)))
        .as("sens"))
      .localCheckpoint()
    val ((nCls, nFlag), lBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L)
      time(s"l_diversity_${n / 1000000}M") {
        val m = TableOps.lDiversity(rows, Seq(col("cls")), col("sens"), 2)
          .agg(count(lit(1)), sum(lit(1L) - col("diverse"))).head()
        r = (m.getLong(0), m.getLong(1))
      }
      r
    }
    val expFlag = (nClasses + 6) / 7
    println(f"[stress] l_diversity: $nCls classes, $nFlag non-diverse " +
      f"(expect $expFlag), shuffle ${lBytes / 1048576.0}%.1f MB")
    require(nCls == nClasses && nFlag == expFlag,
      s"class accounting broke: $nCls/$nFlag vs $nClasses/$expFlag")

    // rankingMetrics: 1000 queries x 10 ranked docs (rank i+1 holds doc
    // q*1e6 + 100i); gold = n rows, query q owns docs q*1e6 + [0, n/1000)
    // -> every ranked doc is gold: n_hits = 10, RR = 1, n_gold = n/1000
    val nq = 1000L
    val perQ = n / nq
    require(perQ > 1000, s"need n >= ~1e6 so ranked docs fall inside gold")
    val ranked = spark.range(0, nq * 10, 1, 32).select(
      (col("id") / 10).cast("long").as("query_id"),
      ((col("id") / 10).cast("long") * 1000000L +
        pmod(col("id"), lit(10)) * 100L).as("doc_id"),
      (pmod(col("id"), lit(10)) + 1).cast("long").as("rnk"))
    val gold = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(nq)).as("query_id"),
      (pmod(col("id"), lit(nq)) * 1000000L +
        (col("id") / nq).cast("long")).as("doc_id"))
    val ((okQ, totQ), rBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L)
      time(s"ranking_metrics_${n / 1000000}M") {
        val m = EvalMetrics.rankingMetrics(ranked, gold, 10)
          .agg(sum(when(col("n_hits") === 10 && col("rr") === 1.0 &&
            col("n_gold") === perQ, 1L).otherwise(0L)), count(lit(1))).head()
        r = (m.getLong(0), m.getLong(1))
      }
      r
    }
    println(f"[stress] ranking_metrics: $okQ/$totQ queries exact, " +
      f"shuffle ${rBytes / 1048576.0}%.1f MB")
    require(okQ == nq && totQ == nq,
      s"planted metrics not recovered: $okQ/$totQ of $nq")
  }

  /** q-digest mergeable quantile sketch at scale: n rows / 32 groups over
    * the 16-bit universe, built direct and via an 8-shard merge. The
    * receipt: each build is one aggregation whose exchange carries at most
    * one universe-bounded buffer per (map task, group) (records and
    * shuffle MB printed and checked), register tables stay O(k) per group,
    * and the median lands inside the t·bits rank envelope on uniform data
    * (k = 1024 → ε = bits/k ≈ 1.6%). The (group, shard) build has 256
    * groups per map task, past `ObjectHashAggregate`'s hash-map limit, so
    * it is timed separately: it runs on the sort-based path.
    */
  private def qdigestReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.QuantileDigest
    val bits = 16; val k = 1024
    val rows = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(32)).as("g"),
      // shard must vary WITHIN a group: id div 32 cycles independently
      // of g = id mod 32
      pmod((col("id") / 32).cast("long"), lit(8)).as("shard"),
      pmod(xxhash64(col("id")), lit(1L << bits)).as("v"))
      .localCheckpoint()
    val nGroup = n / 32
    val t = math.max(1L, nGroup / k)
    val slack = 2 * t * bits.toLong // rank envelope, doubled for hash skew
    def checkMedian(regs: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val med = QuantileDigest.quantiles(regs, Seq(col("g")), Seq(0.5))
      val bad = med.filter(
        abs(col("est") - (1L << (bits - 1))) * nGroup / (1L << bits) > slack)
        .count()
      require(bad == 0, s"$tag medians outside the t*bits envelope: $bad")
    }
    // warm untimed, then ONE measured run — wrapping a min-of-2 inside
    // shuffleBytes would sum BOTH executions' exchanges and report 2x
    def buildStats(): (Long, Long) = {
      val regs = QuantileDigest.registers(
        rows, Seq(col("g")), col("v"), bits, k)
      val m = regs.groupBy(col("g")).agg(count(lit(1)).as("sz"),
          sum(col("cnt")).as("mass"))
        .agg(max(col("sz")), sum(col("mass"))).head()
      (m.getLong(0), m.getLong(1))
    }
    buildStats(): Unit
    val (sz, bBytes, bRecords) = shuffleWrites(spark.sparkContext) {
      var r = (0L, 0L)
      time(s"qdigest_build_${n / 1000000}M", runs = 1) { r = buildStats() }
      r
    }
    // one buffer per (map task, group); the stats' groupBy(g) reuses the
    // registers' g partitioning, so its global max/sum adds one row per
    // shuffle partition (32) at most
    val mapTasks = rows.rdd.getNumPartitions.toLong
    val bufferBound = mapTasks * 32
    println(f"[stress] qdigest build: max group size ${sz._1} registers " +
      f"(3k+1 = ${3 * k + 1}), mass ${sz._2}, " +
      f"shuffle ${bBytes / 1048576.0}%.1f MB in $bRecords records " +
      f"(buffers <= $bufferBound)")
    require(sz._1 <= 3 * k + 1 && sz._2 == n,
      s"size/mass invariant broke at scale: $sz")
    require(bRecords <= bufferBound + 32,
      s"build exchanged $bRecords records, more than one buffer per (task, group)")
    checkMedian(QuantileDigest.registers(
      rows, Seq(col("g")), col("v"), bits, k), "direct")

    // shard -> merge: the merge exchange carries ONLY register rows
    var shardRegs: org.apache.spark.sql.DataFrame = null
    val (_, sBytes, sRecords) = shuffleWrites(spark.sparkContext) {
      time(s"qdigest_shard_build_${n / 1000000}M", runs = 1) {
        shardRegs = QuantileDigest.registers(
          rows, Seq(col("g"), col("shard")), col("v"), bits, k)
          .localCheckpoint() // isolate the merge's own shuffle in the receipt
      }
    }
    println(f"[stress] qdigest shard build: 256 groups, " +
      f"shuffle ${sBytes / 1048576.0}%.1f MB in $sRecords records " +
      f"(buffers <= ${mapTasks * 256})")
    require(sRecords <= mapTasks * 256,
      s"shard build exchanged $sRecords records, more than one buffer per (task, group)")
    def mergeStats(): (Long, Long) = {
      val merged = QuantileDigest.merge(shardRegs, Seq(col("g")), bits, k)
      val m = merged.agg(sum(col("cnt")), count(lit(1))).head()
      (m.getLong(0), m.getLong(1))
    }
    mergeStats(): Unit // warm; one measured run below (no 2x bytes)
    val (mOut, mBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L)
      time(s"qdigest_merge_${n / 1000000}M", runs = 1) { r = mergeStats() }
      r
    }
    println(f"[stress] qdigest merge: mass ${mOut._1}, ${mOut._2} registers " +
      f"total, shuffle ${mBytes / 1048576.0}%.1f MB (registers only)")
    require(mOut._1 == n, s"merge lost mass: ${mOut._1} != $n")
    checkMedian(QuantileDigest.merge(shardRegs, Seq(col("g")), bits, k),
      "merged")
  }

  /** The few-group/long-series Theil–Sen shape, flat vs blocked: g
    * groups × m points such that g·m²/2 ≈ n pairs. The flat form runs
    * each group's whole quadratic pair set as ONE task (the q243 wall:
    * 5 × 2,400 daily points = 24.8 s in-suite); the blocked form spreads
    * it over (group, block-pair) tasks and must agree bit-for-bit.
    */
  private def theilSenBlockedReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Journey
    // 2 groups: the flat form gets exactly TWO tasks for the whole pair
    // set, the shape the blocked form exists for
    val groups = 2L
    val m = math.max(64L, math.sqrt(2.0 * n / groups).toLong)
    // planted slope 7 per group with hash noise; t = 1..m unique
    val series = spark.range(0, groups * m, 1, 32).select(
      concat(lit("g"), pmod(col("id"), lit(groups)).cast("string")).as("g"),
      (col("id") / groups).cast("long").as("t"),
      ((col("id") / groups).cast("long") * 7L +
        pmod(xxhash64(col("id")), lit(100L))).as("y"))
      .localCheckpoint()
    def run(tag: String)(df: => org.apache.spark.sql.DataFrame): Map[String, Double] = {
      var out: Map[String, Double] = null
      // warm untimed (codegen-cold first run inflates 3-7x and this
      // receipt compares task SHAPES, not JIT warmup), then ONE measured
      // run — min-of-2 inside shuffleBytes would report 2x the bytes
      df.collect(): Unit
      val (_, bytes) = shuffleBytes(spark.sparkContext) {
        time(s"theilsen_${tag}_${n / 1000000}M_pairs", runs = 1) {
          out = df.collect()
            .map(r => r.getString(0) -> r.getAs[Double]("slope")).toMap
        }
      }
      println(f"[stress] theilsen_$tag: shuffle ${bytes / 1048576.0}%.1f MB")
      out
    }
    val blocked = run("blocked")(Journey.theilSenBlocked(
      series, Seq(col("g")), col("t"), col("y"), blockSize = 256))
    val flat = run("flat_1task")(Journey.theilSen(
      series, Seq(col("g")), col("t"), col("y")))
    require(blocked == flat, s"estimators diverged: $blocked vs $flat")
    require(blocked.values.forall(s => math.abs(s - 7.0) < 0.2),
      s"planted slope 7 not recovered: $blocked")
    // the paired Mann–Kendall gate over the same unit frame: one kernel
    // pass, planted trend must come back significant with tau ≈ 1
    var mk: Array[org.apache.spark.sql.Row] = null
    Journey.mannKendallBlocked(series, Seq(col("g")), col("t"), col("y"),
      blockSize = 256).collect(): Unit // warm untimed, like run()
    val (_, mkBytes) = shuffleBytes(spark.sparkContext) {
      time(s"mannkendall_${n / 1000000}M_pairs", runs = 1) {
        mk = Journey.mannKendallBlocked(series, Seq(col("g")), col("t"),
          col("y"), blockSize = 256).collect()
      }
    }
    println(f"[stress] mannkendall: shuffle ${mkBytes / 1048576.0}%.1f MB")
    require(mk.forall(_.getAs[Int]("significant") == 1) &&
      mk.forall(_.getAs[Double]("tau") > 0.95),
      s"planted trend not detected: ${mk.mkString(", ")}")
  }

  /** Survival family at scale (the q290/q294 operators): n subjects
    * across 100 cohorts, durations 0..364 — pins the "ONE
    * (group, duration) cell exchange + one ordered window pass" claim:
    * the exchange carries map-side-combined CELLS (groups × distinct
    * durations ≈ 36.5k here), so shuffle bytes must stay flat as the
    * subject count grows 10×. Runs both operators at n/10 and n and
    * fails loud if either one's shuffle moves with the subjects.
    */
  private def survivalReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Journey
    val groups = 100L
    def subjects(m: Long) = spark.range(0, m, 1, 32).select(
      pmod(col("id"), lit(groups)).as("cohort"),
      pmod(xxhash64(col("id")), lit(365L)).as("dur"),
      (pmod(xxhash64(col("id") + 7L), lit(100L)) < 60L)
        .cast("long").as("ev"))
      .localCheckpoint()
    def runOne(m: Long): (Long, Long) = {
      val subj = subjects(m)
      val tag = if (m >= 1000000L) s"${m / 1000000}M" else s"${m / 1000}k"
      // warm untimed (the theilsen receipt convention: task shapes, not
      // JIT), then one measured run inside the shuffle listener
      def km = Journey.kaplanMeier(subj, Seq(col("cohort")),
        col("dur"), col("ev"))
      km.collect(): Unit
      var kmRows: Array[org.apache.spark.sql.Row] = null
      val (_, kmBytes) = shuffleBytes(spark.sparkContext) {
        time(s"km_${tag}_subjects", runs = 1) { kmRows = km.collect() }
      }
      println(f"[stress] km_$tag: shuffle ${kmBytes / 1048576.0}%.2f MB, " +
        s"${kmRows.length} curve rows")
      // the curve is O(cells): every cohort × every duration it saw
      require(kmRows.length <= groups * 365,
        s"KM emitted ${kmRows.length} rows > cell bound")
      require(kmRows.forall(r => r.getLong(r.fieldIndex("n_risk")) > 0L),
        "KM at-risk count must be positive at every step")
      // log-rank, arm split by subject hash (~50/50 inside each cohort)
      def lr = Journey.logRank(
        subj.withColumn("__arm", pmod(xxhash64(col("dur") * 31L +
          col("cohort")), lit(2L)) === 0L),
        Seq(col("cohort")), col("__arm"), col("dur"), col("ev"))
      lr.collect(): Unit
      var lrRows: Array[org.apache.spark.sql.Row] = null
      val (_, lrBytes) = shuffleBytes(spark.sparkContext) {
        time(s"logrank_${tag}_subjects", runs = 1) { lrRows = lr.collect() }
      }
      println(f"[stress] logrank_$tag: shuffle ${lrBytes / 1048576.0}%.2f MB, " +
        s"${lrRows.length} test rows")
      require(lrRows.length == groups,
        s"log-rank must emit one row per cohort: ${lrRows.length}")
      (kmBytes, lrBytes)
    }
    val (kmSmall, lrSmall) = runOne(math.max(groups * 365, n / 10))
    val (kmBig, lrBig) = runOne(n)
    // the pin: 10× the subjects, ~1× the shuffle (cells don't grow).
    // 3× headroom covers partial-aggregate partials and listener noise.
    require(kmBig < kmSmall * 3 + (1L << 20),
      s"KM shuffle moved with subjects: $kmSmall -> $kmBig bytes")
    require(lrBig < lrSmall * 3 + (1L << 20),
      s"log-rank shuffle moved with subjects: $lrSmall -> $lrBig bytes")
    println(s"[stress] survival pin held: km $kmSmall -> $kmBig B, " +
      s"logrank $lrSmall -> $lrBig B at 10x subjects")
  }

  /** Weighted PageRank at scale (the q250 recurrence): n weighted edges
    * on n/5 nodes, 5 rounds — the edge list with its Σw outdegrees is
    * the only cached state, every exchange keyed on node ids.
    */
  private def wPageRankReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Graph
    val nNodes = math.max(n / 5, 10L)
    val nodes = spark.range(0, nNodes, 1, 32).select(col("id"))
    val edges = spark.range(0, n, 1, 32).select(
      pmod(col("id"), lit(nNodes)).as("src"),
      pmod(col("id") * 31L + 7L, lit(nNodes)).as("dst"),
      (pmod(col("id"), lit(3)) + 1).as("w"))
    val (out, bytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L, 0L)
      time(s"weighted_pagerank_${n / 1000000}M_edges", runs = 1) {
        val m = Graph.pageRankWeighted(nodes, col("id"),
            edges, col("src"), col("dst"), col("w"), iterations = 5)
          .agg(count(lit(1)), min(col("rank_fp")), max(col("rank_fp"))).head()
        r = (m.getLong(0), m.getLong(1), m.getLong(2))
      }
      r
    }
    println(f"[stress] weighted_pagerank: ${out._1} nodes, rank_fp " +
      f"[${out._2}, ${out._3}], shuffle ${bytes / 1048576.0}%.1f MB")
    require(out._1 == nNodes, s"every node must score: ${out._1} != $nNodes")
    require(out._2 >= 150000L && out._3 >= out._2,
      s"rank floor is the damping base: $out")
  }

  /** Corpus-diversity receipts at scale (r11): the q271/q280/q283
    * family over n synthetic ~16-token docs from a power-ish vocabulary
    * — measures (a) the hash64 vs gram-STRING cost gap that motivated
    * the q271 re-base, (b) the JS-divergence single-exchange shape,
    * (c) winnowing's fingerprint density and volume at 10M docs.
    */
  private def diversityReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.Divergence
    // ~16 tokens/doc; token ids through an avalanche hash (a bare
    // multiplicative fold leaves lattice structure that collapses gram
    // diversity — the r7 hyperplane-receipt lesson); 50k vocab. Odd
    // docs draw their back half from a SHIFTED vocabulary window so
    // the JS receipt has planted drift to detect.
    val docs = spark.range(0, n, 1, 32).select(
      col("id"),
      concat(lit("src"), pmod(col("id"), lit(20)).cast("string"))
        .as("source"),
      array_join(transform(sequence(lit(0L), lit(15L)), j =>
        concat(lit("w"),
          (pmod(xxhash64(col("id") * 16 + j), lit(50000)) +
            when(j >= 8 && pmod(expr("id div 20"), lit(2)) === 1, 50000L)
              .otherwise(0L)).cast("string"))), " ").as("text"))
      .localCheckpoint() // materialize once: three consumers below
    for (hashMode <- Seq(false, true)) {
      val tag = if (hashMode) "hash64" else "strings"
      val (rows, bytes) = shuffleBytes(spark.sparkContext) {
        var r = 0L
        time(f"ngram_div2_${n / 1000000}%dM_$tag", runs = 1) {
          r = Divergence.ngramDiversity(docs, col("source"), col("text"),
            2, hash64 = hashMode).count()
        }
        r
      }
      println(f"[stress] ngram_div2_$tag: $rows sources, " +
        f"shuffle ${bytes / 1048576.0}%.1f MB")
      require(rows == 20, s"expected 20 sources, got $rows")
    }
    val (jsOut, jsBytes) = shuffleBytes(spark.sparkContext) {
      var r: Array[org.apache.spark.sql.Row] = Array.empty
      time(f"js_divergence_${n / 1000000}%dM", runs = 1) {
        // the split mirrors the planted drift: (id div 20) parity —
        // id % 2 would be one-armed per source (id % 20 fixes parity)
        r = Divergence.jsDivergence(docs, col("source"),
          pmod(expr("id div 20"), lit(2)) === 1, col("text")).collect()
      }
      r
    }
    val jsVals = jsOut.map(_.getAs[Double]("js_bits"))
    println(f"[stress] js_divergence: ${jsOut.length} sources, " +
      f"shuffle ${jsBytes / 1048576.0}%.1f MB, js range " +
      f"[${jsVals.min}%.4f, ${jsVals.max}%.4f]")
    require(jsOut.length == 20 &&
      jsVals.forall(v => v > 0.1 && v <= 1.0),
      "planted back-half vocabulary shift not detected")
    val (fpStats, fpBytes) = shuffleBytes(spark.sparkContext) {
      var r = (0L, 0L)
      time(f"winnow_fp_${n / 1000000}%dM", runs = 1) {
        val m = Dedup.winnowedFingerprints(docs, col("id"), col("text"),
            k = 5, w = 8)
          .agg(count(lit(1)), count_distinct(col("h"))).head()
        r = (m.getLong(0), m.getLong(1))
      }
      r
    }
    val grams = n * 12 // 16 tokens -> 12 5-grams per doc
    println(f"[stress] winnow_fp: ${fpStats._1} fingerprints " +
      f"(density ${fpStats._1.toDouble / grams}%.3f vs 2/(w+1)=0.222), " +
      f"${fpStats._2} distinct, shuffle ${fpBytes / 1048576.0}%.1f MB")
    require(fpStats._1.toDouble / grams > 0.15 &&
      fpStats._1.toDouble / grams < 0.30, "density off the winnowing bar")
  }

  /** Composed §3.3 retrieval-pipeline receipt (r11 verdict #7) — the q50
    * flagship chain (ranked recall → RRF fusion → lexical rerank → task
    * distribution → metadata enrichment → nested assembly) over an
    * n-chunk store × 100 queries, per-stage wall/rows/shuffle. The scale
    * claim this receipt pins: the ONLY data-sized stage is the recall
    * scan (one pass over the chunk store + a per-query WindowGroupLimit
    * top-k); every downstream stage is candidate-bounded
    * (queries × depth), so the composed tail's cost is INDEPENDENT of
    * corpus size — exactly the property that makes the chain safe at
    * 100 TB. Needs n ≥ 1M so each query's recall bucket carries enough
    * planted rerank targets (~depth/7).
    */
  private def retrievalReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import graft.operators.{Ranking, Rrf}
    import graft.retrieval.Retrieval
    val sc = spark.sparkContext
    val mLabel = if (n >= 1000000) s"${n / 1000000}M" else s"${n / 1000}k"
    val nQ = 100
    val depth = 1000
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stress_retr").toString
    try {
      // ---- chunk store (untimed, materialized like a real index):
      // 10 databases, 50-chunk documents, ~12-token hashed-vocab text;
      // chunks in query-bucket q with id % 7 == 0 carry the rare planted
      // term qt<q> the rerank stage must surface
      def bucketOf(c: org.apache.spark.sql.Column) =
        pmod(xxhash64(c), lit(nQ.toLong))
      val bucket = bucketOf(col("id"))
      spark.range(0, n, 1, 32).select(
          col("id").as("chunk_id"),
          concat(lit("db"), pmod(col("id"), lit(10))).as("database_id"),
          concat(lit("doc"), floor(col("id") / 50).cast("long"))
            .as("document_id"),
          col("id").as("position"),
          concat(
            when(pmod(col("id"), lit(7)) === 0,
              concat(lit("qt"), bucket, lit(" "))).otherwise(lit("")),
            array_join(transform(sequence(lit(0), lit(11)),
              j => concat(lit("w"),
                pmod(xxhash64(col("id"), j), lit(5000L)))), " "))
            .as("text"))
        .write.mode("overwrite").parquet(dir)
      val chunks = spark.read.parquet(dir)

      val stages = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Double, Long)]
      def stage(name: String)(body: => org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        var out: org.apache.spark.sql.DataFrame = null
        var rows = -1L
        val t0 = System.nanoTime()
        val (_, bytes) = shuffleBytes(sc) {
          out = body.localCheckpoint()
          rows = out.count()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        stages += ((name, rows, wall, bytes))
        println(f"[stress] retrieval_${mLabel}_$name%-13s rows=$rows%9d " +
          f"wall=$wall%8.2f s shuffle=${bytes / 1e9}%7.3f GB")
        out
      }

      // ---- s0: ranked recall — the one data-sized pass. Each query's
      // candidate set is its hash bucket (~n/100 chunks); per-query
      // top-`depth` by a hash score rides WindowGroupLimit (k rows per
      // group per map partition cross the exchange, never the bucket).
      val recall = stage("s0_recall") {
        Ranking.topKPerGroup(
          chunks.select(col("chunk_id"), col("database_id"),
            col("document_id"), col("position"),
            bucketOf(col("chunk_id")).as("query_id"),
            pmod(xxhash64(col("chunk_id"), lit(7L)), lit(1000000L))
              .as("score")),
          Seq(col("query_id")),
          Seq(col("score").desc, col("chunk_id").asc), depth,
          rankCol = Some("rec_rank")).drop("rec_rank")
      }
      require(recall.count() == nQ.toLong * depth,
        s"recall must return $nQ x $depth rows")

      // ---- s1: RRF fusion + deterministic chunk representative (the
      // exact Retrieval.pipeline head)
      val scored = stage("s1_rrf") {
        val fused = Rrf.fuse(recall, col("query_id"), col("chunk_id"),
            col("score"), Rrf.DefaultK, col("chunk_id"))
          .withColumnRenamed("item", "chunk_id")
        Ranking.keepFirst(recall, Seq(col("chunk_id")),
            Seq(col("query_id").asc))
          .drop("score", "query_id")
          .join(fused, Seq("chunk_id"))
          .withColumnRenamed("rrf_score", "score")
      }

      // ---- s2: lexical rerank over the candidate texts (inverted-index
      // join, query-term postings only — the X8 deterministic half).
      // Candidate-bounded: the doc side is the fused set, never the store.
      val reranked = stage("s2_rerank") {
        // the candidate-id set is queries × depth — ALWAYS broadcast-size
        // by construction, so pin it: without the hint the optimizer saw
        // an over-threshold checkpoint frame and sort-merge-joined the
        // full text scan (0.6 GB text shuffle for a 100k-id probe)
        // … and checkpoint the candidate texts: rerankLexical references
        // its doc frame twice (token scan + n_docs), which re-ran the
        // 10M probe per reference (the q152 double-execution lesson)
        val candTexts = chunks
          .join(broadcast(scored.select(col("chunk_id"))), Seq("chunk_id"),
            "left_semi")
          .select(col("chunk_id"), col("text"))
          .localCheckpoint()
        val queriesDf = spark.range(0, nQ).select(
          col("id").as("query_id"),
          concat(lit("qt"), col("id")).as("query_text"))
        Retrieval.rerankLexical(candTexts, "chunk_id", "text",
          queriesDf, "query_id", "query_text", k = 10)
      }
      require(reranked.count() == nQ * 10L,
        "rerank must fill k=10 for every query")
      // every hit must be a PLANTED chunk (carries qt<q> for its query)
      val notPlanted = reranked
        .filter(!(pmod(xxhash64(col("doc_id")), lit(nQ.toLong))
          === col("query_id") && pmod(col("doc_id"), lit(7)) === 0))
        .count()
      require(notPlanted == 0L, s"$notPlanted rerank hits not planted")

      // ---- s3: task distribution (J4/J5/W2 — earliest task owns the
      // chunk, per-task top-k): 10 full-DB tasks + 50 segment tasks
      val distributed = stage("s3_distribute") {
        val segTasks = spark.range(0, 50).select(
          concat(lit("seg:doc"), col("id")).as("task_id"),
          concat(lit("db"), pmod(col("id"), lit(10))).as("database_id"),
          concat(lit("doc"), col("id")).as("document_id"),
          lit("segment_retrieval").as("retrieval_mode"),
          (col("id") + 1).as("task_order"), lit(5).as("top_k"))
        val fullTasks = spark.range(0, 10).select(
          concat(lit("full:db"), col("id")).as("task_id"),
          concat(lit("db"), col("id")).as("database_id"),
          lit(null).cast("string").as("document_id"),
          lit("full_database_retrieval").as("retrieval_mode"),
          (col("id") + 101).as("task_order"), lit(20).as("top_k"))
        Retrieval.distribute(scored, segTasks.unionByName(fullTasks), 20)
      }
      require(distributed.filter(col("rnk") > col("top_k")).count() == 0L,
        "distribute must respect per-task top_k")
      require(distributed.select(col("chunk_id")).distinct().count() ==
        distributed.count(), "earliest-task dedup must hold")

      // ---- s4: metadata enrichment — api_detail beats retrieve_snapshot
      // per (db, doc); the registry is RESULT-bounded (the reference
      // fetches detail per result doc), so this stays O(results) at any n
      val enriched = stage("s4_enrich") {
        val resultDocs = distributed
          .select(col("database_id"), col("document_id")).distinct()
        val meta = resultDocs.select(col("database_id"),
            col("document_id"), lit("api_detail").as("meta_source"),
            concat(lit("T:"), col("database_id"), lit("/"),
              col("document_id")).as("title"))
          .unionByName(resultDocs.select(col("database_id"),
            col("document_id"), lit("retrieve_snapshot").as("meta_source"),
            concat(lit("S:"), col("database_id"), lit("/"),
              col("document_id")).as("title")))
        Retrieval.enrich(distributed, meta)
      }
      require(enriched.filter(col("meta_source") =!= "api_detail")
        .count() == 0L, "api_detail precedence must win every doc")

      // ---- s5: nested assembly (A3: db → [doc → ordered blocks])
      val assembled = stage("s5_assemble") {
        // position == chunk_id in this store (the q51 convention);
        // distribute's contract drops the carried position column
        Retrieval.assembleNested(
          enriched.withColumn("position", col("chunk_id")))
      }
      val nChunks = assembled.agg(sum(col("n_chunks"))).head().getLong(0)
      require(nChunks == enriched.count(),
        "assembly must conserve every enriched chunk")

      val total = stages.map(_._3).sum
      println(f"[stress] retrieval_${mLabel}_total wall=$total%.2f s " +
        s"(stages: ${stages.map(s => f"${s._1}=${s._3}%.1f").mkString(", ")})")
    } finally rmrf(dir)
  }

  /** Join-skew receipt (r11 verdict #8): the same skewed fact⋈dim join
    * priced three ways at volume — (a) plain sort-merge with AQE skew
    * handling OFF (the trap: one straggler task carries the hot key),
    * (b) AQE skew-join ON with receipt-scaled thresholds (runtime
    * partition split — the zero-code path), (c) explicit salting
    * (deterministic hash salt on the fact side × dim replication — the
    * engine-controlled path SCALE.md's region-join posture names).
    * Fact: n rows, 30% on ONE hot key, the rest uniform over 100k keys;
    * dim: 100k keys, sort-merge pinned via hint (the dim would
    * broadcast at this receipt's size — real dims that skew-join are
    * the ones too big to broadcast). Reports wall, shuffle bytes and
    * MAX single-task wall — the straggler number the other two columns
    * exist to kill.
    */
  private def skewJoinReceipt(
      spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.DataFrame
    val sc = spark.sparkContext
    val mLabel = if (n >= 1000000) s"${n / 1000000}M" else s"${n / 1000}k"
    val nKeys = 100000L
    // salt count must be a few × shuffle partitions: 16 salts over 32
    // partitions birthday-collide (measured: one task re-accumulated
    // ~5 salt buckets of the hot key and the straggler came BACK,
    // 4.9 s max-task) — 64 spreads within ±6%
    val nSalt = 64
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stress_skew").toString
    def maxTaskMs[A](body: => A): (A, Long, Long) = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val maxMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
            // straggler metric = max wall among shuffle-READING tasks
            // (the join stage) — map/scan tasks would drown the signal
            if (te.taskInfo != null &&
                m.shuffleReadMetrics.totalBytesRead > 0)
              maxMs.getAndUpdate(x =>
                math.max(x, te.taskInfo.duration)): Unit
          }
        }
      }
      sc.addSparkListener(listener)
      try {
        val r = body
        var last = -1L; var waited = 0
        while (last != bytes.get() && waited < 25) {
          last = bytes.get(); Thread.sleep(200); waited += 1
        }
        (r, bytes.get(), maxMs.get())
      } finally sc.removeSparkListener(listener)
    }
    try {
      // fact: 30% of rows on key 0 (with a ~100-byte payload so the hot
      // partition is byte-heavy, not just row-heavy); dim: payload per key
      spark.range(0, n, 1, 32).select(
          when(pmod(col("id"), lit(10)) < 3, lit(0L))
            .otherwise(pmod(xxhash64(col("id")), lit(nKeys))).as("k"),
          col("id").as("fact_id"),
          lpad(hex(xxhash64(col("id"), lit(1L))), 96, "x").as("payload"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      spark.range(0, nKeys).select(col("id").as("k"),
          hex(xxhash64(col("id"))).as("dim_val"))
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      def run(name: String, conf: Map[String, String])(body: => DataFrame)
          : Unit = {
        val prev = conf.keys.map(k => k -> spark.conf.get(k)).toMap
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val t0 = System.nanoTime()
          val (rows, bytes, maxMs) = maxTaskMs {
            // touch BOTH payloads downstream of the join, or column
            // pruning strips the 96-byte fact payload at the scan and the
            // "skewed" shuffle carries 8-byte keys only
            body.agg(count(lit(1)),
                sum(length(col("payload")) + length(col("dim_val"))))
              .collect()(0).getLong(0)
          }
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"[stress] skewjoin_${mLabel}_$name%-12s rows=$rows%9d " +
            f"wall=$wall%7.2f s shuffle=${bytes / 1e9}%6.3f GB " +
            f"max_join_task=${maxMs / 1000.0}%6.2f s")
        } finally {
          prev.foreach { case (k, v) => spark.conf.set(k, v) }
          // each variant starts clean: the first in-suite run showed the
          // salted form paying 2.7x for the PREVIOUS variants' shuffle
          // debris (26.2 s in-suite vs 6.3 s alone)
          graft.core.SessionHygiene.drain(spark): Unit
        }
      }
      val aqeScaled = Map(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        // receipt-scaled thresholds: the defaults (256 MB) are sized for
        // executor-memory protection, not a 32-thread local box — scale
        // them to the receipt so the optimizer faces the same RELATIVE
        // skew a 100 TB shuffle shows at defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
          -> "16MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB")
      run("a_smj_noaqe", Map("spark.sql.adaptive.enabled" -> "false")) {
        fact.hint("merge").join(dim, Seq("k"))
      }
      run("b_aqe_skew", aqeScaled) {
        fact.hint("merge").join(dim, Seq("k"))
      }
      run("c_salted", Map("spark.sql.adaptive.enabled" -> "false")) {
        val sf = fact.withColumn("salt",
          pmod(xxhash64(col("fact_id")), lit(nSalt.toLong)))
        val sd = dim.withColumn("salt",
          explode(sequence(lit(0L), lit(nSalt - 1L))))
        sf.hint("merge").join(sd, Seq("k", "salt"))
      }
    } finally rmrf(dir)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val section = args.drop(1).headOption.getOrElse("all")
    val spark = graft.core.GraftSession.builder("graft-stress")
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (section == "diversity") {
      diversityReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "pipeline") {
      pipelineReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "pipelinefused") {
      fusedPipelineReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "aqecoalesce") {
      aqeCoalesceReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "spreadprobe") {
      spreadProbeReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "retrieval") {
      retrievalReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "skewjoin") {
      skewJoinReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "neardup") {
      nearDupReceipts(spark, n)
      spark.stop()
      return
    }

    if (section == "warehouse") {
      warehouseReceipts(spark, n)
      spark.stop()
      return
    }

    if (section == "substring") {
      substringReceipts(spark, n)
      spark.stop()
      return
    }

    if (section == "archives") {
      // n is the TOTAL record count; 2000 records per shard
      archiveReceipts(spark, math.max(1, (n / 2000).toInt), 2000)
      spark.stop()
      return
    }

    if (section == "schema") {
      schemaReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "textsignals") {
      textSignalsReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "knlm") {
      knLmReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "contamjoin") {
      contamJoinReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "evalmetrics") {
      evalMetricsReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "mining") {
      miningReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "qdigest") {
      qdigestReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "theilsen") {
      theilSenBlockedReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "survival") {
      survivalReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "wpagerank") {
      wPageRankReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "governance") {
      governanceReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "cdcpairs") {
      cdcPairsReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "semdedup") {
      semDedupReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "lines") {
      lineReceipts(spark, n)
      spark.stop()
      return
    }

    if (section == "flaggedjoin") {
      flaggedJoinReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "streamdedup") {
      streamingDedupReceipt(spark, n)
      spark.stop()
      return
    }

    if (section == "pq") {
      // 1M×64 synthetic float vectors, materialized like a real corpus.
      val m = math.max(n / 10, 1000000L)
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_pq").toString
      try {
        spark.range(0, m, 1, 32).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(63)),
              j => (pmod(col("id") * (j + 1L), lit(197)) / lit(98.5) - 1.0)
                .cast("float")).as("embedding"))
          .write.mode("overwrite").parquet(dir)
        val vecs = spark.read.parquet(dir)
        val queries = vecs.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val cands = vecs.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val cb = graft.operators.Similarity.pqCodebooks(
          cands, "cid", "cv", m = 8, ks = 16, dim = 64)
        time(s"pq_encode_${m / 1000000}M_x64") {
          vecs.select(graft.functions.PqEncode
              .expr(col("embedding"), cb).as("codes"))
            .agg(sum(element_at(col("codes"), 1))).collect()
        }
        time(s"pq_topk_${m / 1000000}M_q20") {
          graft.operators.Similarity.pqTopK(queries, "qid", "qv",
            cands, "cid", "cv", k = 10, dim = 64).count()
        }
        time(s"cosine_topk_${m / 1000000}M_q20") {
          graft.operators.Similarity.cosineTopK(queries, "qid", "qv",
            cands, "cid", "cv", k = 10).count()
        }
        time(s"ivfpq_topk_${m / 1000000}M_q20_p2of16") {
          graft.operators.Similarity.ivfPqTopK(queries, "qid", "qv",
            cands, "cid", "cv", k = 10, dim = 64,
            nCentroids = 16, nprobe = 2).count()
        }
      } finally rmrf(dir)
      spark.stop()
      return
    }

    if (section == "dsir") {
      // 10M-doc DSIR receipt: 1% of docs are "target-like" (tokens drawn
      // from a 64-word vocabulary; the rest from a 100k-word one). Train
      // the target histogram on that slice, the raw histogram on the full
      // pool, score everything, select a 10k quota. The receipt pins:
      // (a) wall-clock for both histogram passes and the score+select
      // pass, (b) shuffle bytes for score+select — which must stay in the
      // KB range at ANY corpus size: the only exchanges are dim-bounded
      // bucket partials and the ≤quota-per-partition top-k, (c) the
      // selection is ≥99% target-like docs (the estimator works).
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_dsir").toString
      try {
        val nTok = 12
        val tgt = (col("id") % 100) === 0
        val tokens = (0 until nTok).map { j =>
          val mix = pmod(col("id") * lit(2654435761L) + lit(j * 40503L),
            lit(2147483647L))
          when(tgt, concat(lit("t"), pmod(mix, lit(64))))
            .otherwise(concat(lit("r"), pmod(mix, lit(100000))))
        }
        spark.range(0, n, 1, 32)
          .select(col("id").as("doc_id"), tgt.as("is_tgt"),
            concat_ws(" ", tokens: _*).as("text"))
          .write.mode("overwrite").parquet(dir)
        val docs = spark.read.parquet(dir)
        var target: Array[Long] = null
        var raw: Array[Long] = null
        time(s"dsir_hist_target_${n / 1000000}M") {
          target = graft.operators.Dsir.bucketCounts(
            docs.filter(col("is_tgt")), col("text"))
        }
        time(s"dsir_hist_raw_${n / 1000000}M") {
          raw = graft.operators.Dsir.bucketCounts(docs, col("text"))
        }
        val delta = graft.operators.Dsir.logRatioTable(target, raw)
        val quota = 10000
        var selectedTgt = -1L
        val (_, sb) = shuffleBytes(spark.sparkContext) {
          time(s"dsir_score_select_${n / 1000000}M") {
            val scored = graft.operators.Dsir.importanceWeights(
              docs, col("doc_id"), col("text"), delta)
            // is_tgt is derivable from doc_id — a join back to the corpus
            // here would charge a 10M×10M exchange to the receipt
            val sel = graft.operators.Dsir.selectQuota(
                scored, col("log_ratio"), col("doc_id"), quota)
              .filter(col("selected") === 1)
            val agg = sel.agg(count(lit(1)),
                sum((col("doc_id") % 100 === 0).cast("long")))
              .collect().head
            require(agg.getLong(0) == quota,
              s"selected ${agg.getLong(0)} != quota $quota")
            selectedTgt = agg.getLong(1)
          }
        }
        println(f"[stress] dsir_select_tgt_frac   ${selectedTgt.toDouble / quota}%8.4f")
        println(f"[stress] dsir_score_shuffle     ${sb / 1024.0}%8.1f KB")
        require(selectedTgt >= quota * 99L / 100,
          s"target-like docs in selection: $selectedTgt / $quota")
      } finally rmrf(dir)
      spark.stop()
      return
    }

    if (section == "hyperplane") {
      // 1M×64 embedding near-dup via hyperplane signatures (the q166
      // operator at the embedding-family receipt scale, like SemDeDup/PQ).
      // 2% of vectors are planted near-dups: vec(id) for id ≡ 1 (mod 50)
      // is vec(id−1) with ONE coordinate nudged by 0.002 — cosine ≈
      // 0.999998. The receipt pins the signature pass wall-clock, the
      // banded-pair wall-clock, and planted recall at maxDist=3 / 4
      // bands. Blocking honesty: coincidental band-key candidates scale
      // m²/2^width per band, so the single-word (63-bit, ~16-bit bands)
      // form degrades quadratically — at 1M uniform vectors it already
      // shuffles ~7.6× more than the wide form and at 10M its candidate
      // stream exhausts local disk (measured). The receipt runs the WIDE
      // form (HyperplaneSigWords 2×62 bits, four 31-bit bands via
      // hammingNearDupPairsWords — coincidental candidates m²/2³¹ per
      // band, planted-pairs-sized join at 10M) and, at 1M only, the
      // single-word CONTRAST.
      val m = math.max(n / 10, 1000000L)
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_hp").toString
      try {
        val planted = (col("id") % 50) === 1
        val baseId = when(planted, col("id") - 1).otherwise(col("id"))
        // Coordinates need REAL avalanche mixing in id, not a linear
        // map: with coordinate_j linear in id (any per-coordinate
        // modular slope family s·(j+c)), every id-difference Δ whose
        // residue Δ·s mod p is small shifts ALL coordinates slightly —
        // thousands of unintended near-dup families (measured: 4M band
        // keys collapsing into 165k buckets). The PQ generator's
        // mod-197 lattice is fine for ADC scans but collapses any PAIR
        // join. Same chain as HyperplaneSig.coef.
        def mix(n: org.apache.spark.sql.Column) = {
          val a1 = pmod((n + 1L) * lit(2654435761L), lit(4294967296L))
          val a2 = a1.bitwiseXOR(shiftrightunsigned(a1, 16))
          val a3 = pmod(a2 * lit(1540483477L), lit(4294967296L))
          a3.bitwiseXOR(shiftrightunsigned(a3, 13))
        }
        spark.range(0, m, 1, 32).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(63)),
              j => ((pmod(mix(baseId * 64L + j), lit(1999L)) / lit(999.5) - 1.0) +
                when(planted && j === 0, lit(0.002)).otherwise(lit(0.0)))
                .cast("float")).as("embedding"))
          .write.mode("overwrite").parquet(dir)
        val vecs = spark.read.parquet(dir)
        time(s"hyperplane_sig_${m / 1000000}M") {
          vecs.select(graft.functions.HyperplaneSigWords
              .expr(col("embedding"), dim = 64).as("sig"))
            .agg(sum(bit_count(element_at(col("sig"), 1)))).collect()
        }
        if (m <= 1000000L) {
          // the single-word saturation CONTRAST (only at 1M — it grows
          // ~m² and is the thing being demonstrated as non-viable)
          val sigs1 = vecs.select(col("vec_id"), graft.functions.HyperplaneSig
            .expr(col("embedding"), dim = 64, nBits = 63).as("sig"))
          val pairs1 = Dedup.hammingNearDupPairs(sigs1, col("vec_id"), col("sig"),
            maxDist = 3, bands = 4)
          var n1 = -1L
          val (_, sb1) = shuffleBytes(spark.sparkContext) {
            time(s"hp_1word_pairs_${m / 1000000}M") { n1 = pairs1.count() }
          }
          println(f"[stress] hp_1word_pairs_n       $n1%8d")
          println(f"[stress] hp_1word_shuffle       ${sb1 / 1024.0 / 1024.0}%8.1f MB")
        }
        val sigs = vecs.select(col("vec_id"),
          graft.functions.HyperplaneSigWords.expr(col("embedding"), dim = 64).as("sig"))
        val pairs = Dedup.hammingNearDupPairsWords(sigs, col("vec_id"), col("sig"),
          bitsPerWord = 62, words = 2, maxDist = 3, bandsPerWord = 2)
        // time/measure the FULL pair computation; the recall probe runs
        // as a separate job because its planted-id predicate pushes
        // through the join and would prune the very work being measured
        var nPairs = -1L
        val (_, sb) = shuffleBytes(spark.sparkContext) {
          time(s"hyperplane_pairs_${m / 1000000}M") {
            nPairs = pairs.count()
          }
        }
        // planted pairs are (id-1, id) with id ≡ 1 (mod 50)
        val found = pairs
          .filter(col("id_b") === col("id_a") + 1 && col("id_b") % 50 === 1)
          .count()
        val plantedTotal = (m + 48) / 50  // ids 1, 51, 101, ... < m
        println(f"[stress] hyperplane_pairs_n      $nPairs%8d")
        println(f"[stress] hyperplane_recall        ${found.toDouble / plantedTotal}%8.4f")
        println(f"[stress] hyperplane_shuffle       ${sb / 1024.0 / 1024.0}%8.1f MB")
        require(found >= plantedTotal * 97L / 100,
          s"planted near-dup recall: $found / $plantedTotal")
      } finally rmrf(dir)
      spark.stop()
      return
    }

    if (section == "frequency") {
      // half the stream: 1000 hot items; other half: all-distinct tail.
      // T = n/10k → exactly the hot items qualify; the tail (the part a
      // full groupBy shuffles) never leaves its partition under the
      // pigeonhole prefilter.
      val half = n / 2
      val hot = spark.range(0, half, 1, 16)
        .select(concat(lit("hot_"), pmod(col("id"), lit(1000))).as("item"))
      val tail = spark.range(0, half, 1, 16)
        .select(concat(lit("tail_"), col("id")).as("item"))
      val stream = hot.unionByName(tail)
      val t = n / 10000
      time(s"freq_sketch_${n / 1000000}M_T$t") {
        val (cnt, sb) = shuffleBytes(spark.sparkContext) {
          graft.operators.Frequency.frequentItems(stream, col("item"), t).count()
        }
        require(cnt == 1000, s"expected 1000 heavy hitters, got $cnt")
        println(f"[stress]   freq_sketch shuffle bytes: ${sb / 1e6}%.1f MB")
      }
      time(s"freq_groupby_${n / 1000000}M_T$t") {
        val (cnt, sb) = shuffleBytes(spark.sparkContext) {
          stream.groupBy(col("item")).agg(count(lit(1)).as("n"))
            .filter(col("n") >= t).count()
        }
        require(cnt == 1000, s"expected 1000 heavy hitters, got $cnt")
        println(f"[stress]   freq_groupby shuffle bytes: ${sb / 1e6}%.1f MB")
      }
      spark.stop()
      return
    }

    if (section == "blocklist") {
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_bl").toString
      try {
        val t = math.max(n / 10, 1000000L)
        spark.range(0, t, 1, 32).select(col("id"),
            array_join(transform(sequence(lit(0), lit(39)),
              j => concat(lit("w"), pmod(col("id") * (j + 7L), lit(997)))), " ")
              .as("text"))
          .write.mode("overwrite").parquet(dir)
        blocklistReceipts(spark.read.parquet(dir), t)
      } finally rmrf(dir)
      spark.stop()
      return
    }

    val ids = spark.range(0, n, 1, 32).toDF("id")
    val docs = ids.select(col("id"),
      concat(lit("s"), pmod(col("id"), lit(32))).as("lang"),
      (pmod(col("id"), lit(1000)) + 50).as("n_chars"))

    time(s"hash_split_${n / 1000000}M") {
      Sampling.hashSplit(ids, col("id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split").count().collect()
    }
    time(s"systematic_sample_${n / 1000000}M") {
      Sampling.systematicSample(ids, col("id"), 0.05).count()
    }
    time(s"pack_grouped_${n / 1000000}M") {
      Packing.concatPack(docs, Seq(col("id")), col("n_chars"), 4096L,
          groupCols = Seq(col("lang")))
        .groupBy("lang").agg(max("pack_id")).collect()
    }
    time(s"mixture_1_5x_${n / 1000000}M") {
      Mixture.materializeCopies(
        Mixture.assignCopies(docs, col("id"), lit(1.5)), col("n_copies")).count()
    }
    time(s"shard_export_${n / 1000000}M_x1024") {
      // training-shard fan-out: deterministic shuffle order via one
      // hash-partitioned sort — the global-shuffle floor for export
      graft.operators.Export.shardAssignments(ids, col("id"), 1024)
        .groupBy("shard").agg(max("pos")).collect()
    }

    // compiled text-signature passes (the per-byte hot path of a corpus
    // run): 40-token synthetic docs. Generation itself is interpreted-HOF
    // heavy, so the input is MATERIALIZED once (parquet, like a real
    // corpus) and each receipt times only the operator pass over it.
    val t = math.max(n / 10, 1000000L)
    val textDir = java.nio.file.Files.createTempDirectory("graft_stress_texts").toString
    try {
    spark.range(0, t, 1, 32).select(col("id"),
        array_join(transform(sequence(lit(0), lit(39)),
          j => concat(lit("w"), pmod(col("id") * (j + 7L), lit(997)))), " ").as("text"))
      .write.mode("overwrite").parquet(textDir)
    val texts = spark.read.parquet(textDir)
    time(s"poly_shingles_${t / 1000000}M_x40tok") {
      texts.select(graft.functions.PolyHash
          .polyShingleHashes(col("text"), 3).as("hs"))
        .agg(sum(size(col("hs")))).collect()
    }
    time(s"minhash_sig32_${t / 1000000}M") {
      texts.select(graft.functions.PolyHash
          .polyShingleHashes(col("text"), 3).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(graft.functions.MinHashSig.expr(col("hs"), 32).as("sig"))
        .agg(sum(element_at(col("sig"), 1))).collect()
    }
    time(s"poly_simhash_${t / 1000000}M") {
      // signatures reach 2^60 — reduce before summing or the agg overflows
      texts.select(graft.functions.PolyHash.polySimHash(col("text")).as("s"))
        .agg(sum(pmod(col("s"), lit(1000003L)))).collect()
    }
    time(s"char_trigrams_${t / 1000000}M") {
      // LM-scorer hot path: one compiled pass per row, ~250 chars each
      texts.select(graft.functions.CharTrigramHashes.expr(col("text")).as("th"))
        .agg(sum(size(col("th")))).collect()
    }
    time(s"repetition_${t / 1000000}M") {
      texts.select(graft.functions.RepetitionStats.expr(col("text"), 2, 3).as("r"))
        .agg(sum(col("r.top_frac")), sum(col("r.dup_frac"))).collect()
    }

    blocklistReceipts(texts, t)

    val m = math.max(n / 10, 1000000L)
    val vecs = spark.range(0, m, 1, 32).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => pmod(col("id") * (j + 1L), lit(97)).cast("float")).as("embedding"))
    time(s"quantize_${m / 1000000}M_x64") {
      vecs.select(graft.functions.QuantizeStats.expr(col("embedding")).as("q"))
        .agg(sum(col("q.q_sum"))).collect()
    }
    time(s"l2norm_${m / 1000000}M_x64") {
      vecs.select(graft.functions.L2Norm.expr(col("embedding")).as("nrm"))
        .agg(sum(col("nrm"))).collect()
    }
    } finally {
      // the materialized text fixture is t × ~250 B — delete it even when
      // a timed pass throws, rather than leak hundreds of MB of tmpdir
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(textDir))
    }
    if (section == "all") nearDupReceipts(spark, n)
    spark.stop()
  }
}
