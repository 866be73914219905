package graft.queries

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Ranking, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` and `embeddings`:
  * text analysis (token stats, quality, language-ID, fingerprint),
  * deduplication (exact, n-gram Jaccard, MinHash LSH, SimHash), and
  * similarity search (brute-force cosine top-k, IVF-pruned variant, k-NN
  * label vote). The first-class 100 TB components of BASELINE.json's
  * north star.
  *
  * Since r3 the MinHash/SimHash/IVF queries are oracle-checked too: their
  * hash layer is portable arithmetic (graft.functions.PolyHash + the seeded
  * IVF codebook), so DuckDB reproduces signatures, candidates and scores
  * value-for-value; recall-vs-exact semantics stay spec-gated on top.
  */
object AnalyticsQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "embeddings")


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting + char stats per language.
    "q36_token_stats" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(length(col("text"))).as("sum_chars"),
          round(sum(col("n_tokens")) / count(lit(1)).cast("double"), 4).as("avg_tokens"))
    }),

    // Quality-score buckets (length / lexical diversity / stopword gates).
    "q37_quality_buckets" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("bucket", TextFunctions.qualityBucket(col("text")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // Language-ID heuristic vote per doc, tallied against the labeled lang.
    "q38_langid" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("lang_pred", TextFunctions.langIdHeuristic(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
    }),

    // Exact dedup via content digest (hash-groupBy; sf0.1 has planted dups).
    "q39_exact_dedup" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), col("doc_id"), col("text"))
        .agg(
          sum(col("n_copies")).as("n_docs"),
          count(lit(1)).as("n_unique"),
          sum(col("n_copies") - 1).as("n_redundant"))
    }),

    // Shingle statistics (the MinHash input layer, oracle-checked).
    "q40_shingle_stats" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          size(TextFunctions.distinctShingles(col("text"), 3)).as("n_shingles"))
    }),

    // Exact 3-gram Jaccard verify stage, run where it belongs at 100 TB:
    // DOWNSTREAM of LSH blocking (r3 verdict — the un-blocked
    // ngramJaccardPairs self-join is quadratic in bucket size and stays a
    // bounded-input-only operator). 16 bands × 2 rows is the high-recall
    // banding for the 0.3 threshold; the candidate self-join is bounded by
    // band-bucket size, never corpus size, and the oracle reproduces the
    // banding value-for-value so misses cost recall, not correctness.
    "q41_jaccard_pairs" -> ((s, dir) => {
      Dedup.minHashLsh(docs(s, dir), col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.3)
    }),

    // Exact-substring duplicate spans (Lee et al. 2021): token positions
    // whose 8-gram occurs >= 2 times corpus-wide, merged into maximal
    // [start, end) spans. Every hash is the portable poly31 gram fold, so
    // the DuckDB oracle reproduces the inverted index, the duplicated-gram
    // set, and the gaps-and-islands merge value-for-value.
    "q106_substring_spans" -> ((s, dir) => {
      Dedup.substringSpans(docs(s, dir), col("doc_id"), col("text"), n = 8)
    }),

    // The PRODUCTION hash sizing of q106: ordered 61-bit gram hashes
    // (`hash64 = true`, poly fold mod the Mersenne prime 2⁶¹−1) — the
    // mode a 100 TB run must use, since the portable poly31 space
    // saturates at ~10⁷ grams (SCALE.md). Unlike an engine-internal
    // 64-bit hash, the Mersenne fold is DuckDB-replayable in HUGEINT
    // arithmetic, so this mode is oracle-checked hash-for-hash — no
    // unchecked hash surface remains (r6 verdict #1). The 61-bit span
    // set is additionally pinned as the collision-free SUBSET of q106's
    // by spec (DedupSimilaritySpec): even the sf0.001 corpus sits at
    // poly31's birthday horizon and shows false single-gram duplicates
    // the 61-bit mode rejects.
    "q135_substring_spans64" -> ((s, dir) => {
      Dedup.substringSpans(docs(s, dir), col("doc_id"), col("text"), n = 8,
        hash64 = true)
    }),

    // Winnowed fingerprint audit (Schleimer et al. 2003, the MOSS
    // scheme): per source, fingerprint count, distinct hashes, and the
    // realized density — the paper's 2/(w+1) expected density is the
    // sanity bar (w = 8 → ~0.22). The fingerprint family sits between
    // q106's every-gram index (heavy, exact) and MinHash (whole-doc):
    // a guaranteed hit for any shared run of w + k − 1 tokens at ~1/4
    // the gram volume.
    "q283_winnow_fingerprints" -> ((s, dir) => {
      val d = docs(s, dir)
      val fps = Dedup.winnowedFingerprints(d, col("doc_id"), col("text"),
        k = 5, w = 8)
      val grams = d.select(col("source"),
          greatest(size(TextFunctions.tokens(col("text"))) - 4, lit(0))
            .cast("long").as("__ng"))
        .groupBy(col("source")).agg(sum(col("__ng")).as("n_grams"))
      fps.join(d.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_fp"),
          count_distinct(col("h")).as("n_distinct"))
        .join(grams, Seq("source"))
        .select(col("source"), col("n_grams"), col("n_fp"),
          col("n_distinct"),
          when(col("n_grams") > 0,
            graft.operators.EvalMetrics.microRound6(col("n_fp"),
              col("n_grams")).cast("double") / 1e6).as("density"))
    }),

    // Fingerprint-containment decontamination: what fraction of each
    // EVAL doc's winnowed fingerprints already sit in the TRAIN split —
    // the sub-document leak screen (q70's gram decontamination asks
    // "does this exact benchmark phrase appear"; this asks "how much of
    // this eval doc is effectively memorizable"). A verbatim copy of
    // every 30th doc-BLOCK — i.e. every 3rd eval doc, eval being every
    // 10th block — is planted in train, so the contaminated branch
    // (containment ≥ 0.8) stays live at a ~1/3 rate against the
    // near-zero baseline.
    "q287_winnow_containment" -> ((s, dir) => {
      import graft.operators.EvalMetrics.microRound6
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      // The planted-copy ids ride a baked +200000 offset and the oracle
      // splits eval/train on doc_id < 200000 — if the corpus ever grows
      // into that range the plant would collide SILENTLY on both
      // engines, so fail loud here instead. Cost: one narrow doc_id
      // column scan at construction time — the guard IS work, priced
      // into this query's bench entry deliberately. Null-safe: an
      // empty corpus has no ids and therefore no collision.
      val maxId = Option(d.agg(max(col("doc_id"))).head.get(0))
        .map(_.asInstanceOf[Long])
      require(maxId.forall(_ < 200000L),
        s"q287 planted-leak offset 200000 collides with corpus ids: " +
          s"max doc_id = ${maxId.get} — re-derive the offset in query " +
          "AND oracle")
      val isEval = pmod(expr("doc_id div 20"), lit(10)) === 0
      val train = d.filter(!isEval)
        .unionByName(d.filter(pmod(expr("doc_id div 20"), lit(30)) === 0)
          .withColumn("doc_id", col("doc_id") + 200000L))
      val evalD = d.filter(isEval)
      val evalFp = Dedup.winnowedFingerprints(evalD, col("doc_id"),
          col("text"), k = 5, w = 8)
        .select(col("id"), col("h")).distinct()
      val trainFp = Dedup.winnowedFingerprints(train, col("doc_id"),
          col("text"), k = 5, w = 8)
        .select(col("h")).distinct()
      val found = evalFp.join(trainFp, Seq("h"), "left_semi")
        .groupBy(col("id")).agg(count(lit(1)).as("__nf"))
      val per = evalFp.groupBy(col("id")).agg(count(lit(1)).as("__nt"))
        .join(found, Seq("id"), "left")
        .select(col("id"), microRound6(coalesce(col("__nf"), lit(0L)),
          col("__nt")).as("__cont"))
      per.join(d.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_eval"), sum(col("__cont")).as("__sc"),
          sum(when(col("__cont") >= 800000L, 1L).otherwise(0L))
            .as("n_contaminated"))
        .select(col("source"), col("n_eval"),
          // __sc sums MICRO values: the mean ratio's denominator carries
          // the 1e6 back out
          (microRound6(col("__sc"), col("n_eval") * 1000000L)
            .cast("double") / 1e6).as("mean_containment"),
          col("n_contaminated"))
    }),

    // Winnow-based near-dup recovery on the banner-twin corpus (the
    // q207 harness): every doc plus a noise-prefixed copy — the twins
    // share every fingerprint of the common tail (content hashes, not
    // positions), so the pair join recovers them while the df cap drops
    // boilerplate hashes before any fan-out.
    "q284_winnow_neardup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").as("id"), col("text"))
      // Same collision hazard as q287's guard: the twin ids bake +100000
      // and the oracle mirrors it — collide loud, not silent (null-safe
      // on an empty corpus; one narrow column scan, priced in).
      val maxId = Option(d.agg(max(col("id"))).head.get(0))
        .map(_.asInstanceOf[Long])
      require(maxId.forall(_ < 100000L),
        s"q284 twin-id offset 100000 collides with corpus ids: " +
          s"max doc_id = ${maxId.get} — re-derive the offset in query " +
          "AND oracle")
      val twins = d.select((col("id") + 100000L).as("id"),
        concat(lit("BANNER NOISE HEADER INJECTED "), col("text"))
          .as("text"))
      Dedup.winnowNearDupPairs(d.unionByName(twins), col("id"),
        col("text"), k = 5, w = 8, minShared = 3, maxDf = 8)
    }),

    // q135 under the beyond-broadcast Bloom-prefilter notch (r6 verdict
    // #7): the dup-gram set folds into a Bloom filter probed at the gram
    // projection, BEFORE the semi-join's probe exchange; the exact
    // semi-join behind it keeps output row-identical, so the oracle IS
    // q135's SQL — this row pins that invisibility hash-for-hash (the
    // 10M-doc shuffle-cut receipt is in SCALE.md).
    "q158_substring_spans_bloom" -> ((s, dir) => {
      Dedup.substringSpans(docs(s, dir), col("doc_id"), col("text"), n = 8,
        hash64 = true, bloomPrefilter = true)
    }),

    // Margin-based bitext/parallel-pair mining (the CCMatrix/LASER
    // shape): treat label<5 as the source "language" and label>=5 as the
    // target pool; for each source vector take its cosine top-4 in the
    // target pool and score the best hit by the MARGIN — cos₁ over the
    // mean of cos₂..₄ — so "best by a clear margin" wins over "best in a
    // dense neighborhood". The 3-value mean is summed in DECIMAL
    // (partition-order invariance); margin and acceptance replay exactly.
    // Scale: rides cosineTopK (broadcast query batch, zero candidate
    // shuffle) + one per-query agg.
    "q171_bitext_margin" -> ((s, dir) => {
      val e = emb(s, dir)
      val src = e.filter(col("label") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val tgt = e.filter(col("label") >= 5)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      Similarity.cosineTopK(src, "qid", "qv", tgt, "cid", "cv",
          k = 4, excludeSelf = false, rankCol = Some("rnk"))
        .groupBy(col("query_id"))
        .agg(
          first(when(col("rnk") === 1, col("cand_id")), ignoreNulls = true)
            .as("best_cand"),
          first(when(col("rnk") === 1, col("cos")), ignoreNulls = true)
            .as("__cos1"),
          sum(when(col("rnk") >= 2, col("cos").cast("decimal(18,9)")))
            .as("__sum23"),
          count(when(col("rnk") >= 2, lit(1))).as("__n23"))
        .select(col("query_id"), col("best_cand"),
          round(col("__cos1"), 4).as("cos1"),
          round((col("__cos1") / (col("__sum23").cast("double") / col("__n23")))
            .as("__m"), 4).as("margin"),
          when(col("__cos1") / (col("__sum23").cast("double") / col("__n23")) > 1.05, 1)
            .otherwise(0).as("accepted"))
    }),

    // Brute-force cosine top-5 for query vectors vec_id < 20.
    "q42_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.cosineTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv",
          e.select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid", "cv",
          k = 5, rankCol = Some("rnk"))
        .select(col("query_id"), col("cand_id"), col("rnk"),
          round(col("cos"), 4).as("cos"))
    }),

    // k-NN majority label vote (top-5 cosine neighbors, vec_id < 50).
    "q43_knn_vote" -> ((s, dir) => {
      val e = emb(s, dir)
      val nn = Similarity.cosineTopK(
        e.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv",
        e.select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid", "cv",
        k = 5)
      val votes = nn.join(emb(s, dir).select(col("vec_id"), col("label")),
          nn("cand_id") === col("vec_id"))
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      Ranking.keepFirst(votes, Seq(col("query_id")),
          Seq(col("votes").desc, col("label").asc))
        .select(col("query_id"), col("label").as("pred_label"), col("votes"))
    }),

    // Rolling-hash document fingerprint (mod-prime char/token fold — F8).
    "q44_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    }),

    // ---- portable-hash signature operators (oracle-checked since r3) ----

    // MinHash + banded LSH near-dup pairs, exact-Jaccard verified. Every
    // hash is portable arithmetic (PolyHash), so the oracle reproduces the
    // full pipeline — shingle hash, signature, banding, candidates, scores.
    "q45_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashLsh(docs(s, dir), col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.3)
    }),

    // Portable 60-bit SimHash signatures (near-dup docs share almost all
    // bits); compiled one-pass expression, value-checked by the oracle.
    "q46_simhash" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        graft.functions.PolyHash.polySimHash(col("text")).as("simhash"))
    }),

    // Hyperplane-LSH signature (signed random projections, Charikar
    // 2002): the cosine analog of q46's text SimHash, over embeddings —
    // near vectors flip few bits, so embedding near-dup rides the SAME
    // banded hamming machinery as image/audio/text signatures with no
    // clustering pass and no pair quadratic. Milli-quantized dots +
    // closed-form integer hyperplanes keep every bit oracle-exact; the
    // LSH property itself (within-label hamming < cross-label) is pinned
    // by HyperplaneSpec on this very table.
    "q166_hyperplane_sig" -> ((s, dir) => {
      emb(s, dir).select(col("vec_id"),
        graft.functions.HyperplaneSig.expr(col("embedding"), dim = 64).as("sig"))
    }),

    // The WIDE (corpus-scale) hyperplane signature: 2×62 bits from the
    // same closed-form hyperplane bank (word w's bit k = hyperplane
    // 62w+k), banded as four 31-bit keys. Single-word banding degrades
    // m²/2^width: measured 7.6× the shuffle at 1M uniform vectors and
    // disk exhaustion at 10M, where wide banding stays
    // planted-pairs-sized (SCALE.md). Every bit oracle-replayed, both
    // words.
    "q169_hyperplane_sig_wide" -> ((s, dir) => {
      emb(s, dir).select(col("vec_id"),
          graft.functions.HyperplaneSigWords.expr(col("embedding"), dim = 64).as("sig"))
        .select(col("vec_id"),
          element_at(col("sig"), 1).as("sig_w0"),
          element_at(col("sig"), 2).as("sig_w1"))
    }),

    // The operator a training pipeline actually runs: LSH pairs →
    // connected components → keep each cluster's min id. Oracle-checked
    // END TO END — the DuckDB side rebuilds the portable LSH pipeline and
    // closes the pair set with a recursive CTE.
    "q86_neardup_removal" -> ((s, dir) => {
      Dedup.removeNearDuplicates(docs(s, dir), col("doc_id"), col("text"),
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.3)
        .select(col("doc_id"))
    }),

    // Incremental ingestion: src1 arrives as the NEW shard against the
    // rest of the corpus; admit new docs near-duplicating neither an old
    // doc nor a smaller-id shard-mate. Old-vs-old pairs never computed —
    // the asymmetric band join is the per-shard scale path (16x2 banding,
    // q41's high-recall configuration).
    "q129_incremental_admission" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalNearDupAdmission(
          d.filter(col("source") =!= "src1"), d.filter(col("source") === "src1"),
          col("doc_id"), col("text"),
          shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.3)
        .select(col("doc_id"))
    }),

    // IVF-bucketed ANN with the SEEDED portable codebook (scan 1/C of
    // candidates per query).
    "q47_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopKSeeded(
        e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv",
        e.select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid", "cv",
        k = 5, dim = 64, nCentroids = 8, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("rnk"), col("cos"))
    }),

    // IVF routing-confidence audit: per cluster, the distribution of
    // assignment MARGINS (best minus second-best centroid dot, on the
    // milli-quantized integer surface) — thin margins mark the boundary
    // vectors a low nprobe mis-routes, so this is the data-driven way
    // to size nprobe before committing an index.
    "q286_assignment_margin" -> ((s, dir) =>
      Similarity.assignmentMargin(emb(s, dir), "vec_id", "embedding",
        nCentroids = 8, dim = 64)),

    // SemDeDup: seeded-codebook clustering + within-cluster cosine prune,
    // lower id survives each ≥-threshold pair. The cluster equi-join makes
    // the quadratic (N/C)² per cluster — the scale path vs q56's bounded
    // all-pairs form. Fully oracle-replayed: seeding, assignment
    // (ties → highest centroid index), pairing and the keep rule.
    "q114_semdedup" -> ((s, dir) => {
      Similarity.semDeDup(emb(s, dir), "vec_id", "embedding",
          nCentroids = 8, threshold = 0.35)
        .select(col("id").as("vec_id"), col("cluster").cast("int").as("cluster"))
    }),

    // Cluster-balanced diversity sample (DCLM-shaped selection): nearest
    // seeded centroid per embedding (q114's codebook + tie rule), then 20
    // per cluster in deterministic hash order (q78's pick rule) — the
    // sample spans embedding space instead of mirroring corpus density.
    // Assignment is a narrow compiled projection; the per-cluster cap
    // compiles to WindowGroupLimit.
    "q139_cluster_sample" -> ((s, dir) => {
      Similarity.clusterBalancedSample(emb(s, dir), "vec_id", "embedding",
          nCentroids = 8, k = 20)
        .select(col("vec_id"), col("cluster"))
    }),

    // IVF with the fixed-point TRAINED codebook: one Lloyd round whose
    // mean update is an exact BIGINT aggregation (floor(v[d]·1e6) sums),
    // so the oracle replays seeding, assignment, the centroid update and
    // the probe/score pipeline value-for-value.
    "q94_ivf_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopKTrained(
        e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv",
        e.select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid", "cv",
        k = 5, dim = 64, nCentroids = 8, nprobe = 2, iterations = 1)
        .select(col("query_id"), col("cand_id"), col("rnk"), col("cos"))
    }),

    // PageRank page authority over a link graph threaded through the REAL
    // href-extraction path: each doc renders an HTML page whose anchors
    // encode 1–3 deterministic out-links ((id·31+j) mod N, self-loops
    // bumped), the engine re-extracts the links from the HTML (the S8
    // regex-source family), and 5 rounds of integer fixed-point PageRank
    // run on the recovered edges. The oracle replays the link arithmetic
    // and the unrolled iterations — one dropped or invented edge in
    // extraction diverges every downstream rank.
    "q145_page_authority" -> ((s, dir) => {
      val d = docs(s, dir)
      val cnt = d.agg(count(lit(1)).cast("long").as("__n"))
      val pages = d.crossJoin(broadcast(cnt))
        .select(col("doc_id"),
          transform(sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(3L))),
            j => {
              val t0 = pmod(col("doc_id") * 31 + j, col("__n"))
              when(t0 === col("doc_id"), pmod(t0 + 1, col("__n"))).otherwise(t0)
            }).as("__targets"))
        .select(col("doc_id"),
          concat(lit("<html><body>"),
            array_join(transform(col("__targets"),
              t => concat(lit("<a href=\"/page/"), t.cast("string"),
                lit("\">x</a>"))), ""),
            lit("</body></html>")).as("__html"))
      val edges = pages
        .select(col("doc_id").as("src"),
          explode(regexp_extract_all(col("__html"),
            lit("href=\"/page/(\\d+)\""), lit(1))).as("dst_s"))
        .select(col("src"), col("dst_s").cast("long").as("dst"))
      graft.operators.Graph.pageRank(d.select(col("doc_id")), col("doc_id"),
          edges, col("src"), col("dst"), iterations = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // Anchor-text aggregation: the q145 pages' anchors, keeping the link
    // TEXTS this time — per-target description corpus (n_links, distinct
    // texts, modal text with deterministic tie-break, sorted text concat).
    // The engine recovers (href, anchor) pairs through the real regex
    // extraction (padded labels + a class attribute exercise the
    // attribute-tolerant pattern and the trim); the oracle replays the
    // render arithmetic and the aggregation — a dropped or untrimmed
    // anchor diverges the modal pick and every count.
    "q209_anchor_text" -> ((s, dir) => {
      val d = docs(s, dir)
      val cnt = d.agg(count(lit(1)).cast("long").as("__n"))
      val labels = array(lit("home"), lit("about"), lit("products"),
        lit("news"), lit("contact"), lit("archive"), lit("click here"),
        lit("read more"))
      val pages = d.crossJoin(broadcast(cnt))
        .select(col("doc_id"),
          concat(lit("<html><body>"),
            array_join(transform(
              sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(3L))),
              j => {
                val t0 = pmod(col("doc_id") * 31 + j, col("__n"))
                val t = when(t0 === col("doc_id"),
                  pmod(t0 + 1, col("__n"))).otherwise(t0)
                val lbl = element_at(labels,
                  (pmod(col("doc_id") + j, lit(8)) + 1).cast("int"))
                concat(lit("<a class=\"l\" href=\"/page/"), t.cast("string"),
                  lit("\"> "), lbl, lit(" </a>"))
              }), ""),
            lit("</body></html>")).as("__html"))
      val pairs = pages
        .select(explode(graft.operators.AnchorText.anchorPairs(col("__html"))).as("p"))
        .select(col("p.href").as("href"), col("p.anchor").as("anchor"))
      graft.operators.AnchorText.aggregateAnchors(
        pairs, col("href"), col("anchor"))
    }),

    // Johnson–Lindenstrauss random projection: 64-dim embeddings down to
    // 8 exact-integer coordinates over the q166 hyperplane bank (the
    // VALUES this time, not the signs — sig bit j == [p_j > 0] is
    // spec-pinned). The cheap distance-work prefilter: 8 longs per
    // vector instead of 64 floats. The oracle replays every dot term.
    "q215_random_projection" -> ((s, dir) => {
      val p = graft.functions.RandomProjection.expr(col("embedding"), 64, 8)
      emb(s, dir).select(col("vec_id"), p.as("__p"))
        .select(col("vec_id") +:
          (1 to 8).map(j => element_at(col("__p"), j).as(s"p$j")): _*)
    }),

    // Product-quantization top-k (Jégou et al. 2011): seeded milli-
    // quantized sub-codebooks, compiled PQ encoding (8 codes per 64-dim
    // vector — the 32× memory cut that keeps a 100 TB embedding corpus
    // scannable), exact-integer ADC scoring. The oracle replays seeding,
    // every per-subspace argmin (ties to lowest centroid) and every ADC
    // sum value-for-value.
    "q150_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv",
        e.select(col("vec_id").as("cid"), col("embedding").as("cv")),
        "cid", "cv",
        k = 5, dim = 64, m = 8, ks = 16)
    }),

    // IVF+PQ — the full FAISS index shape: seeded coarse buckets prune
    // the scan (nprobe=2 of 8), PQ codes + integer ADC score within the
    // probed buckets. The oracle replays coarse assignment, probing,
    // per-subspace argmins and every ADC sum.
    "q151_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqTopK(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv",
        e.select(col("vec_id").as("cid"), col("embedding").as("cv")),
        "cid", "cv",
        k = 5, dim = 64, nCentroids = 8, nprobe = 2, m = 8, ks = 16)
    }))

  // list_filter drops the [''] that string_split_regex yields on empty
  // input, matching Spark tokens() == [] for empty/whitespace-only text
  private[queries] val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
  private[queries] def shinglesSql(toks: String) =
    s"list_distinct(list_transform(range(1, len($toks)-1), i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))"

  /** poly31 char fold mod 1e9+7 of a string expression — the SQL mirror of
    * PolyHash.foldString / TextFunctions.tokenHash (q44's convention).
    */
  private[queries] def polyHashSql(s: String, mult: Long = 31L, prime: Long = 1000000007L) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ord(c) AS BIGINT))), " +
      s"(a, b) -> (a * $mult + b) % $prime)"

  /** The exact-substring span oracle (q106/q135): inverted gram index →
    * duplicated-hash set → position semi-join → gaps-and-islands merge,
    * parameterized by the per-gram hash expression (`toks`/`i` in scope).
    */
  private def substringSpansSql(gramHash: String) =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       g AS (SELECT doc_id, i - 1 AS pos,
           $gramHash AS h
         FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
         WHERE len(toks) >= 8),
       dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
       p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
       m AS (SELECT doc_id, pos,
           MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         FROM p),
       s AS (SELECT doc_id, pos,
           CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk
         FROM m),
       i AS (SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM s)
       SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
         CAST(MAX(pos) + 8 AS INT) AS span_end,
         CAST(MAX(pos) + 8 - MIN(pos) AS INT) AS span_tokens
       FROM i GROUP BY doc_id, island"""

  /** 61-bit char fold `(acc·131 + cp) mod 2⁶¹−1` — the SQL mirror of
    * PolyHash.foldString61 / PolyGramHashes61 (q135's production hash).
    * The accumulator rides HUGEINT: the pre-reduction intermediate peaks
    * below 2⁶⁹, far inside the 128-bit space, and the final value is
    * < 2⁶¹ so the BIGINT cast back is exact.
    */
  private[queries] def polyHash61Sql(s: String) =
    s"CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ord(c) AS HUGEINT))), " +
      s"(a, b) -> (a * ${graft.functions.PolyHash.M61Mult} + b) % " +
      s"${graft.functions.PolyHash.P61}) AS BIGINT)"

  /** The 32 seeded MinHash (a, b) coefficients as SQL literals — SAME
    * stream as the engine (MinHashSig.seededCoeffs, seed 42).
    */
  private[queries] def minhashSigSql(hs: String): String =
    graft.functions.MinHashSig.seededCoeffs(32).map { case (a, b) =>
      s"list_min(list_transform($hs, x -> (x * $a + $b) % 2147483647))"
    }.mkString("[", ",\n             ", "]")

  /** 60-bit hyperplane signature — SQL mirror of HyperplaneSig: bit k =
    * [Σ_i q(v_i)·c(k,i) > 0] with c(k,i) the Knuth-hash coefficient and
    * q the milli-quantization (`qv` is the quantized BIGINT[] column).
    * Callers guard null/mis-dimensioned vectors to NULL themselves —
    * the kernel's fail-visible contract; the term sum alone would
    * silently bucket them with the zero vector.
    */
  /** Milli-quantized embedding as BIGINT[] — the SQL twin of
    * PqOps.quantize (floor(x·1000 + 0.5)); ONE definition serves the
    * q166/q169/q215 oracles so the quantization contract cannot fork.
    */
  private def quantizedVecSql: String =
    """list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT))"""

  /** The hyperplane coefficient bank as a DuckDB list literal — the
    * oracle's copy of the table, generated ONCE from the same
    * `HyperplaneSig.coef` chain (the Log2Fixed-LUT discipline: embed the
    * closed-form table verbatim instead of re-deriving it per term —
    * inlining the avalanche chain into every lambda quadrupled the
    * expression and re-evaluated the multiply chain 4× per (row, bit,
    * element)). Callers add `hp AS (SELECT [..] AS hc)` and CROSS JOIN.
    */
  private def hyperplaneCoefListSql(nCoefs: Int): String =
    (0 until nCoefs).map(n => graft.functions.HyperplaneSig.coef(n.toLong))
      .mkString("[", ",", "]")

  /** Per-bit signature terms over the `hc` coefficient list (1-based:
    * coefficient index h·dim+(i−1) is list slot h·dim+i).
    */
  private def hyperplaneSigSql(qv: String, dim: Int, nBits: Int = 60,
      offset: Int = 0): String =
    (0 until nBits).map { k =>
      val h = offset + k
      s"CASE WHEN COALESCE(list_sum(list_transform(range(1, ${dim + 1}), i -> " +
        s"$qv[i] * hc[${h * dim} + i])), 0) > 0 " +
        s"THEN ${1L << k} ELSE 0 END"
    }.mkString("(", "\n           + ", ")")

  /** 60-bit portable SimHash as a sum of per-bit vote terms (PolySimHash). */
  private def simhashSql(h1s: String, h2s: String): String =
    (0 until 60).map { j =>
      val (hs, b) = if (j < 30) (h1s, j) else (h2s, j - 30)
      s"CASE WHEN COALESCE(list_sum(list_transform($hs, h -> " +
        s"CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0 " +
        s"THEN ${1L << j} ELSE 0 END"
    }.mkString("(", "\n           + ", ")")

  /** The LSH pipeline as shared CTEs (ending in `v` = verified pairs with
    * their Jaccard terms) — reused by q45 (8 bands × 4 rows), q41's
    * high-recall banding (16 × 2) and the q86 removal oracle.
    */
  private[queries] def lshCtes(bands: Int = 8, rows: Int = 4,
      src: String = "documents"): String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM $src),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(${shinglesSql("toks")}, s -> ${polyHashSql("s")}))
               AS hs
           FROM t WHERE len(toks) >= 3),
         sig AS (SELECT doc_id, hs, ${minhashSigSql("hs")} AS sig FROM sh),
         bb AS (SELECT doc_id, band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               sig[(CAST(band AS INT) * $rows + 1):(CAST(band AS INT) * $rows + $rows)]),
               (a, b) -> (a * 31 + b) % 1000000007) AS bucket
           FROM sig, (SELECT unnest(range(0, $bands)) AS band)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bb a JOIN bb b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         v AS (SELECT id_a, id_b,
             len(list_intersect(x.hs, y.hs)) AS inter, len(x.hs) AS na, len(y.hs) AS nb
           FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)"""

  private[queries] def pageRankStageSql(k: Int): String =
    s"""r$k AS (SELECT b.id, 150000 + (850 * COALESCE(s.c, 0)) // 1000 AS r
         FROM r${k - 1} b LEFT JOIN (
           SELECT e.dst, SUM(r.r // deg.dg) AS c
           FROM e JOIN r${k - 1} r ON e.src = r.id
           JOIN deg ON e.src = deg.src
           GROUP BY e.dst) s ON b.id = s.dst)"""

  /** The winnowed-fingerprint CTE chain (q283/q284's SQL twin of
    * [[graft.operators.Dedup.winnowedFingerprints]], k = 5, w = 8):
    * continues from a `$src(doc_id, toks)` CTE and ends at
    * `fp(doc_id, pos, m)` — gram rows via the flat unnest-range
    * pattern, window minima via a bounded BETWEEN join, the rightmost
    * minimal position via a max over the min-valued grams.
    */
  private def winnowFpCtes(src: String): String =
    s"""wg AS (SELECT doc_id, i AS j,
           ${polyHash61Sql("array_to_string(toks[i:i+4], ' ')")} AS h
         FROM $src, unnest(range(1, len(toks) - 3)) AS u(i)),
       wn AS (SELECT doc_id, GREATEST(len(toks) - 4, 0) AS ng FROM $src),
       ww AS (SELECT doc_id,
           unnest(range(1, CASE WHEN ng >= 8 THEN ng - 6
             WHEN ng >= 1 THEN 2 ELSE 1 END)) AS wi
         FROM wn),
       wm AS (SELECT ww.doc_id, ww.wi, MIN(wg.h) AS m
         FROM ww JOIN wg ON wg.doc_id = ww.doc_id
           AND wg.j BETWEEN ww.wi AND ww.wi + 7
         GROUP BY 1, 2),
       wp AS (SELECT wm.doc_id, wm.wi, wm.m, MAX(wg.j) AS pos
         FROM wm JOIN wg ON wg.doc_id = wm.doc_id AND wg.h = wm.m
           AND wg.j BETWEEN wm.wi AND wm.wi + 7
         GROUP BY 1, 2, 3),
       fp AS (SELECT DISTINCT doc_id, pos, m FROM wp)"""

  val oracles: Map[String, String] = Map(

    "q286_assignment_margin" ->
      s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576
               AS bk
           FROM embeddings),
         seeds AS (SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY bk, vec_id) AS rn
           FROM b QUALIFY rn <= 8),
         cn AS (SELECT rn - 1 AS cix,
             list_transform(
               list_transform(v, x -> x /
                 sqrt(list_sum(list_transform(v, y -> y * y)))),
               x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS qc
           FROM seeds),
         q AS (SELECT vec_id, $quantizedVecSql AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         d AS (SELECT q.vec_id, cn.cix,
             CAST(list_sum(list_transform(range(1, 65),
               i -> qv[i] * qc[i])) AS BIGINT) AS dot
           FROM q CROSS JOIN cn),
         a AS (SELECT vec_id, cix, dot,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dot DESC, cix DESC) AS r
           FROM d),
         m AS (SELECT o.vec_id, o.cix AS cluster, o.dot - s.dot AS mg
           FROM a o JOIN a s ON s.vec_id = o.vec_id AND s.r = 2
           WHERE o.r = 1),
         g AS (SELECT cluster, COUNT(*) AS n,
             CAST(SUM(mg) AS HUGEINT) AS sm,
             CAST(MIN(mg) AS BIGINT) AS min_margin,
             CAST(MAX(mg) AS BIGINT) AS max_margin
           FROM m GROUP BY 1)
         SELECT CAST(cluster AS INT) AS cluster, n,
           CAST((CASE WHEN sm < 0 THEN -1 ELSE 1 END) *
             ((2 * ABS(sm) * 1000000 + n) // (2 * CAST(n AS HUGEINT)))
             AS BIGINT) / 1000000.0 AS mean_margin,
           min_margin, max_margin
         FROM g""",

    "q283_winnow_fingerprints" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks
           FROM documents),
         ${winnowFpCtes("t")},
         gsum AS (SELECT source,
             CAST(SUM(GREATEST(len(toks) - 4, 0)) AS BIGINT) AS n_grams
           FROM t GROUP BY 1),
         fsum AS (SELECT t.source, COUNT(*) AS n_fp,
             COUNT(DISTINCT fp.m) AS n_distinct
           FROM fp JOIN t USING (doc_id) GROUP BY 1)
         SELECT source, n_grams, CAST(n_fp AS BIGINT) AS n_fp,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CASE WHEN n_grams > 0 THEN
             CAST((2 * CAST(n_fp AS HUGEINT) * 1000000 + n_grams)
               // (2 * CAST(n_grams AS HUGEINT)) AS BIGINT) / 1000000.0
           END AS density
         FROM fsum JOIN gsum USING (source)""",

    "q287_winnow_containment" ->
      s"""WITH d0 AS (
           SELECT doc_id, $toksSql AS toks FROM documents
           UNION ALL
           SELECT doc_id + 200000, $toksSql FROM documents
           WHERE (doc_id // 20) % 30 = 0),
         ${winnowFpCtes("d0")},
         ef AS (SELECT DISTINCT doc_id AS id, m AS h FROM fp
           WHERE (doc_id // 20) % 10 = 0 AND doc_id < 200000),
         tf AS (SELECT DISTINCT m AS h FROM fp
           WHERE (doc_id // 20) % 10 <> 0 OR doc_id >= 200000),
         fnd AS (SELECT id, COUNT(*) AS nf FROM ef
           WHERE h IN (SELECT h FROM tf) GROUP BY 1),
         tot AS (SELECT id, COUNT(*) AS nt FROM ef GROUP BY 1),
         per AS (SELECT tot.id,
             (2 * COALESCE(nf, 0) * 1000000 + nt) // (2 * nt) AS cont
           FROM tot LEFT JOIN fnd USING (id)),
         g AS (SELECT d.source, COUNT(*) AS n_eval,
             CAST(SUM(cont) AS HUGEINT) AS sc,
             CAST(SUM(CASE WHEN cont >= 800000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contaminated
           FROM per JOIN documents d ON d.doc_id = per.id GROUP BY 1)
         SELECT source, n_eval,
           CAST((2 * sc * 1000000 + CAST(n_eval AS HUGEINT) * 1000000)
             // (2 * CAST(n_eval AS HUGEINT) * 1000000) AS BIGINT)
             / 1000000.0 AS mean_containment,
           n_contaminated
         FROM g""",

    "q284_winnow_neardup" ->
      s"""WITH d0 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000,
             'BANNER NOISE HEADER INJECTED ' || text FROM documents),
         t AS (SELECT doc_id, $toksSql AS toks FROM d0),
         ${winnowFpCtes("t")},
         fh AS (SELECT DISTINCT doc_id AS id, m AS h FROM fp),
         pairable AS (SELECT h FROM fh GROUP BY h
           HAVING COUNT(*) >= 2 AND COUNT(*) <= 8),
         gated AS (SELECT id, h FROM fh JOIN pairable USING (h))
         SELECT a.id AS id1, b.id AS id2,
           CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM gated a JOIN gated b ON a.h = b.h AND a.id < b.id
         GROUP BY 1, 2
         HAVING COUNT(*) >= 3""",
    "q151_ivfpq_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, v,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576 AS bk
           FROM e),
         -- seed window mirrors the engine's seedRows (one collect shared
         -- with the PQ seeds, dim-checked): un-indexable rows are not
         -- seed material
         seeds AS (SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY bk, vec_id) AS rn
           FROM b WHERE v IS NOT NULL AND len(v) = 64 QUALIFY rn <= 8),
         cn AS (SELECT rn - 1 AS cix,
             list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS cv
           FROM seeds),
         asg AS (SELECT vec_id AS cid, cix FROM (
             SELECT e.vec_id, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, cn c) WHERE r = 1),
         probe AS (SELECT vec_id AS qid, cix FROM (
             SELECT e.vec_id, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, cn c WHERE e.vec_id < 20) WHERE r <= 2),
         eq AS (SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576 AS qbk
           FROM embeddings),
         cbk AS (SELECT q AS cq, ROW_NUMBER() OVER (ORDER BY qbk, vec_id) - 1 AS c
           FROM eq WHERE q IS NOT NULL AND len(q) = 64
           QUALIFY ROW_NUMBER() OVER (ORDER BY qbk, vec_id) <= 16),
         js(j) AS (SELECT unnest(range(0, 8))),
         dists AS (SELECT eqq.vec_id, js.j, cbk.c,
             list_sum(list_transform(range(1, 9), i ->
               (eqq.q[CAST(js.j*8 AS INT)+i] - cbk.cq[CAST(js.j*8 AS INT)+i]) *
               (eqq.q[CAST(js.j*8 AS INT)+i] - cbk.cq[CAST(js.j*8 AS INT)+i]))) AS d
           FROM eq eqq, js, cbk),
         enc AS (SELECT vec_id, j, c AS code FROM (
             SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
             FROM dists) WHERE rn = 1),
         sc AS (SELECT p.qid AS query_id, a.cid AS cand_id,
             CAST(SUM(qd.d) AS BIGINT) AS dist_fp
           FROM probe p JOIN asg a USING (cix)
           JOIN enc ON enc.vec_id = a.cid
           JOIN dists qd ON qd.vec_id = p.qid AND qd.j = enc.j AND qd.c = enc.code
           WHERE p.qid <> a.cid
           GROUP BY 1, 2),
         r AS (SELECT query_id, cand_id, dist_fp,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY dist_fp, cand_id) AS rnk
           FROM sc)
         SELECT query_id, cand_id, CAST(rnk AS INT) AS rnk, dist_fp
         FROM r WHERE rnk <= 5""",

    "q150_pq_topk" ->
      """WITH eq AS (SELECT vec_id,
             list_transform(embedding, v ->
               CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576 AS bk
           FROM embeddings),
         cbk AS (SELECT q AS cq, ROW_NUMBER() OVER (ORDER BY bk, vec_id) - 1 AS c
           FROM eq WHERE q IS NOT NULL AND len(q) = 64
           QUALIFY ROW_NUMBER() OVER (ORDER BY bk, vec_id) <= 16),
         js(j) AS (SELECT unnest(range(0, 8))),
         dists AS (SELECT e.vec_id, js.j, cbk.c,
             list_sum(list_transform(range(1, 9), i ->
               (e.q[CAST(js.j*8 AS INT)+i] - cbk.cq[CAST(js.j*8 AS INT)+i]) *
               (e.q[CAST(js.j*8 AS INT)+i] - cbk.cq[CAST(js.j*8 AS INT)+i]))) AS d
           FROM eq e, js, cbk),
         enc AS (SELECT vec_id, j, c AS code FROM (
             SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
             FROM dists) WHERE rn = 1),
         sc AS (SELECT qd.vec_id AS query_id, enc.vec_id AS cand_id,
             CAST(SUM(qd.d) AS BIGINT) AS dist_fp
           FROM enc JOIN dists qd ON qd.j = enc.j AND qd.c = enc.code
           WHERE qd.vec_id < 20 AND qd.vec_id <> enc.vec_id
           GROUP BY 1, 2),
         r AS (SELECT query_id, cand_id, dist_fp,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY dist_fp, cand_id) AS rnk
           FROM sc)
         SELECT query_id, cand_id, CAST(rnk AS INT) AS rnk, dist_fp
         FROM r WHERE rnk <= 5""",

    "q145_page_authority" ->
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
         e0 AS (SELECT doc_id AS src, u.j, n
           FROM documents, nn, unnest(range(1, 2 + doc_id % 3)) AS u(j)),
         e AS (SELECT src, CASE WHEN (src*31 + j) % n = src
             THEN ((src*31 + j) % n + 1) % n
             ELSE (src*31 + j) % n END AS dst FROM e0),
         deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY src),
         r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents),
         ${(1 to 5).map(pageRankStageSql).mkString(",\n         ")}
         SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r5""",

    "q209_anchor_text" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
         e0 AS (SELECT doc_id, u.j, n
           FROM documents, nn, unnest(range(1, 2 + doc_id % 3)) AS u(j)),
         lk AS (SELECT doc_id, j,
             CASE WHEN (doc_id*31 + j) % n = doc_id
               THEN ((doc_id*31 + j) % n + 1) % n
               ELSE (doc_id*31 + j) % n END AS tgt
           FROM e0),
         pairs AS (SELECT '/page/' || tgt AS dst,
             (['home','about','products','news','contact','archive',
               'click here','read more'])[CAST((doc_id + j) % 8 AS INT) + 1]
               AS anchor
           FROM lk),
         g1 AS (SELECT dst, anchor, COUNT(*) AS cnt
           FROM pairs GROUP BY 1, 2),
         r AS (SELECT dst, anchor, cnt,
             ROW_NUMBER() OVER (PARTITION BY dst
               ORDER BY cnt DESC, anchor) AS rk
           FROM g1)
         SELECT dst, CAST(SUM(cnt) AS BIGINT) AS n_links,
           CAST(COUNT(*) AS BIGINT) AS n_texts,
           MAX(CASE WHEN rk = 1 THEN anchor END) AS top_anchor,
           CAST(MAX(CASE WHEN rk = 1 THEN cnt END) AS BIGINT) AS top_cnt,
           array_to_string(list(anchor ORDER BY anchor), '|') AS all_texts
         FROM r GROUP BY 1""",

    "q129_incremental_admission" ->
      // replays the engine's 16x2 banding over the WHOLE corpus, then
      // applies the admission rule: a new doc is rejected when a verified
      // pair links it to any smaller-id doc (old or new — id_b side), or
      // to a larger-id OLD doc (id_a side)
      s"""WITH ${lshCtes(bands = 16, rows = 2)},
         pairs AS (SELECT id_a, id_b FROM v
           WHERE inter / CAST(na + nb - inter AS DOUBLE) >= 0.3),
         newdocs AS (SELECT doc_id FROM documents WHERE source = 'src1'),
         olddocs AS (SELECT doc_id FROM documents WHERE source <> 'src1'),
         rej AS (
           SELECT p.id_b AS doc_id FROM pairs p
             JOIN newdocs n ON p.id_b = n.doc_id
           UNION
           SELECT p.id_a FROM pairs p
             JOIN newdocs n ON p.id_a = n.doc_id
             JOIN olddocs o ON p.id_b = o.doc_id)
         SELECT doc_id FROM newdocs
         WHERE doc_id NOT IN (SELECT doc_id FROM rej)""",
    "q86_neardup_removal" ->
      s"""WITH RECURSIVE ${lshCtes()},
         pairs AS (SELECT id_a, id_b FROM v
           WHERE inter / CAST(na + nb - inter AS DOUBLE) >= 0.3),
         edges(a, b) AS (SELECT id_a, id_b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM edges
           UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS c FROM reach GROUP BY a)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE c < id)""",
    "q106_substring_spans" ->
      substringSpansSql(polyHashSql("array_to_string(toks[i:i+7], ' ')")),
    // Same CTE chain, 61-bit Mersenne fold: the production hash sizing is
    // checked hash-for-hash (r6 verdict #1 — this was the one unchecked
    // hash surface).
    "q135_substring_spans64" ->
      substringSpansSql(polyHash61Sql("array_to_string(toks[i:i+7], ' ')")),
    // The Bloom prefilter is correctness-invisible by construction (exact
    // semi-join behind the probe), so q158 replays q135's oracle verbatim.
    "q158_substring_spans_bloom" ->
      substringSpansSql(polyHash61Sql("array_to_string(toks[i:i+7], ' ')")),
    "q36_token_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len($toksSql)) AS BIGINT) AS sum_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
           ROUND(SUM(len($toksSql)) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_tokens
         FROM documents GROUP BY lang""",
    "q37_quality_buckets" ->
      s"""WITH d AS (SELECT $toksSql AS toks, text FROM documents),
         b AS (SELECT CASE
             WHEN len(toks) < 20 THEN 'too_short'
             WHEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) < 0.2 THEN 'repetitive'
             WHEN len(list_filter(toks, w -> list_contains(
               ['the','a','an','of','to','and','in','is','it','on'], w)))
               / CAST(len(toks) AS DOUBLE) > 0.5 THEN 'boilerplate'
             ELSE 'ok' END AS bucket
           FROM d)
         SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket""",
    "q38_langid" ->
      s"""WITH d AS (SELECT lang, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         s AS (SELECT lang, list_max([
             {'hits': len(list_filter(toks, w -> list_contains(['der','die','und','ist'], w))), 'lang': 'de'},
             {'hits': len(list_filter(toks, w -> list_contains(['the','and','of','is'], w))), 'lang': 'en'},
             {'hits': len(list_filter(toks, w -> list_contains(['el','los','y','es'], w))), 'lang': 'es'},
             {'hits': len(list_filter(toks, w -> list_contains(['le','la','et','est'], w))), 'lang': 'fr'},
             {'hits': len(list_filter(toks, w -> list_contains(['的','是','了','在'], w))), 'lang': 'zh'}
           ]) AS best
           FROM d)
         SELECT lang, CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
           COUNT(*) AS n
         FROM s GROUP BY 1, 2""",
    "q39_exact_dedup" ->
      """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_unique,
           COUNT(*) - COUNT(DISTINCT text) AS n_redundant
         FROM documents""",
    "q40_shingle_stats" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         SELECT doc_id, len(toks) AS n_tokens,
           CASE WHEN len(toks) < 3 THEN 0 ELSE len(${shinglesSql("toks")}) END AS n_shingles
         FROM t""",
    "q41_jaccard_pairs" ->
      // MUST mirror the engine's 16-band × 2-row banding: an un-banded
      // exact-pairs oracle would flag every banding miss as a hash
      // mismatch instead of the recall loss it actually is
      s"""WITH ${lshCtes(bands = 16, rows = 2)}
         SELECT id_a, id_b,
           ROUND(inter / CAST(na + nb - inter AS DOUBLE), 4) AS jaccard
         FROM v WHERE inter / CAST(na + nb - inter AS DOUBLE) >= 0.3""",
    "q215_random_projection" ->
      s"""WITH e AS (SELECT vec_id,
             ${quantizedVecSql} AS qv
           FROM embeddings),
         hp AS (SELECT ${hyperplaneCoefListSql(8 * 64)} AS hc)
         SELECT vec_id,
           ${(0 until 8).map { j =>
        s"CASE WHEN qv IS NULL OR len(qv) <> 64 THEN NULL " +
          s"ELSE CAST(list_sum(list_transform(range(1, 65), i -> " +
          s"qv[i] * hc[${j * 64} + i])) AS BIGINT) END AS p${j + 1}"
      }.mkString(",\n           ")}
         FROM e CROSS JOIN hp""",
    "q166_hyperplane_sig" ->
      s"""WITH e AS (SELECT vec_id,
             ${quantizedVecSql} AS qv
           FROM embeddings),
         hp AS (SELECT ${hyperplaneCoefListSql(60 * 64)} AS hc)
         SELECT vec_id,
           CASE WHEN qv IS NULL OR len(qv) <> 64 THEN NULL
                ELSE ${hyperplaneSigSql("qv", 64)} END AS sig
         FROM e CROSS JOIN hp""",
    "q169_hyperplane_sig_wide" ->
      s"""WITH e AS (SELECT vec_id,
             ${quantizedVecSql} AS qv
           FROM embeddings),
         hp AS (SELECT ${hyperplaneCoefListSql(124 * 64)} AS hc)
         SELECT vec_id,
           CASE WHEN qv IS NULL OR len(qv) <> 64 THEN NULL
                ELSE ${hyperplaneSigSql("qv", 64, nBits = 62, offset = 0)} END
             AS sig_w0,
           CASE WHEN qv IS NULL OR len(qv) <> 64 THEN NULL
                ELSE ${hyperplaneSigSql("qv", 64, nBits = 62, offset = 62)} END
             AS sig_w1
         FROM e CROSS JOIN hp""",
    "q171_bitext_margin" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE label < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE label >= 5),
         s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS cos FROM q, c),
         r AS (SELECT qid, cid, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
           FROM s),
         a AS (SELECT qid AS query_id,
             MIN(CASE WHEN rnk = 1 THEN cid END) AS best_cand,
             MIN(CASE WHEN rnk = 1 THEN cos END) AS cos1,
             SUM(CASE WHEN rnk BETWEEN 2 AND 4
               THEN CAST(cos AS DECIMAL(18,9)) END) AS sum23,
             COUNT(CASE WHEN rnk BETWEEN 2 AND 4 THEN 1 END) AS n23
           FROM r WHERE rnk <= 4 GROUP BY qid)
         SELECT query_id, best_cand, ROUND(cos1, 4) AS cos1,
           ROUND(cos1 / (CAST(sum23 AS DOUBLE) / n23), 4) AS margin,
           CAST(CASE WHEN cos1 / (CAST(sum23 AS DOUBLE) / n23) > 1.05
             THEN 1 ELSE 0 END AS INT) AS accepted
         FROM a""",
    "q42_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS cos
           FROM q, c WHERE qid <> cid),
         r AS (SELECT qid AS query_id, cid AS cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
           FROM s)
         SELECT query_id, cand_id, rnk, ROUND(cos, 4) AS cos FROM r WHERE rnk <= 5""",
    "q43_knn_vote" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 50),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
         s AS (SELECT qid, cid, label, list_cosine_similarity(qv, cv) AS cos
           FROM q, c WHERE qid <> cid),
         nn AS (SELECT qid, cid, label FROM (
             SELECT qid, cid, label,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
             FROM s) WHERE rnk <= 5),
         v AS (SELECT qid, label, COUNT(*) AS votes FROM nn GROUP BY 1, 2)
         SELECT qid AS query_id, label AS pred_label, votes FROM (
           SELECT qid, label, votes,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS rn
           FROM v) WHERE rn = 1""",
    "q45_minhash_lsh" ->
      s"""WITH ${lshCtes()}
         SELECT id_a, id_b,
           ROUND(inter / CAST(na + nb - inter AS DOUBLE), 4) AS jaccard
         FROM v WHERE inter / CAST(na + nb - inter AS DOUBLE) >= 0.3""",
    "q46_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         h AS (SELECT doc_id,
             list_transform(toks, w -> ${polyHashSql("w")}) AS h1s,
             list_transform(toks, w -> ${polyHashSql("w", 37L, 998244353L)}) AS h2s
           FROM t)
         SELECT doc_id,
           ${simhashSql("h1s", "h2s")} AS simhash
         FROM h""",
    "q47_ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, v,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576 AS bk
           FROM e),
         seeds AS (SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY bk, vec_id) AS rn
           FROM b QUALIFY rn <= 8),
         cn AS (SELECT rn - 1 AS cix,
             list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS cv
           FROM seeds),
         asg AS (SELECT vec_id AS cid, v AS cvv, cix FROM (
             SELECT e.vec_id, e.v, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, cn c) WHERE r = 1),
         probe AS (SELECT vec_id AS qid, v AS qv, cix FROM (
             SELECT e.vec_id, e.v, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, cn c WHERE e.vec_id < 20) WHERE r <= 2),
         s AS (SELECT p.qid, a.cid, list_cosine_similarity(p.qv, a.cvv) AS cos
           FROM probe p JOIN asg a USING (cix) WHERE p.qid <> a.cid),
         r AS (SELECT qid AS query_id, cid AS cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
           FROM s)
         SELECT query_id, cand_id, rnk, ROUND(cos, 4) AS cos FROM r WHERE rnk <= 5""",
    "q114_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, v,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576 AS bk
           FROM e),
         seeds AS (SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY bk, vec_id) AS rn
           FROM b QUALIFY rn <= 8),
         cn AS (SELECT rn - 1 AS cix,
             list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS cv
           FROM seeds),
         asg AS (SELECT vec_id, v, cix FROM (
             SELECT e.vec_id, e.v, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, cn c) WHERE r = 1),
         rm AS (SELECT DISTINCT b.vec_id
           FROM asg a JOIN asg b ON a.cix = b.cix AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
         SELECT a.vec_id, CAST(a.cix AS INT) AS cluster
         FROM asg a WHERE a.vec_id NOT IN (SELECT vec_id FROM rm)""",
    "q139_cluster_sample" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, v,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576 AS bk
           FROM e),
         seeds AS (SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY bk, vec_id) AS rn
           FROM b QUALIFY rn <= 8),
         cn AS (SELECT rn - 1 AS cix,
             list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS cv
           FROM seeds),
         asg AS (SELECT vec_id, bk, cix FROM (
             SELECT b.vec_id, b.bk, c.cix,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                 ORDER BY list_dot_product(b.v, c.cv) DESC, c.cix DESC) AS r
             FROM b, cn c) WHERE r = 1),
         r AS (SELECT vec_id, cix,
             ROW_NUMBER() OVER (PARTITION BY cix ORDER BY bk, vec_id) AS rk
           FROM asg)
         SELECT vec_id, CAST(cix AS INT) AS cluster FROM r WHERE rk <= 20""",
    "q94_ivf_trained" -> {
      val dim = 64
      val scale = "1000000.0"
      // exact per-dimension BIGINT sums of floor(v[d]*scale) — the
      // order-invariant half of the Lloyd mean update
      val sumCols = (1 to dim)
        .map(d => s"SUM(CAST(FLOOR(v[$d] * $scale) AS BIGINT)) AS s$d")
        .mkString(",\n             ")
      val meanList = (1 to dim).map(d => s"s$d / ($scale * n)")
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, v,
             ((vec_id % 2147483647) * 2654435761) % 2147483647 % 1048576 AS bk
           FROM e),
         seeds AS (SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY bk, vec_id) AS rn
           FROM b QUALIFY rn <= 8),
         c0 AS (SELECT rn - 1 AS cix,
             list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS cv
           FROM seeds),
         asg0 AS (SELECT vec_id, v, cix FROM (
             SELECT e.vec_id, e.v, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, c0 c) WHERE r = 1),
         sums AS (SELECT cix, COUNT(*) AS n,
             $sumCols
           FROM asg0 GROUP BY cix),
         m AS (SELECT cix, $meanList AS mv FROM sums),
         cn AS (SELECT c0.cix,
             CASE WHEN m.cix IS NULL THEN c0.cv
               ELSE list_transform(m.mv,
                 x -> x / sqrt(list_sum(list_transform(m.mv, y -> y * y)))) END AS cv
           FROM c0 LEFT JOIN m ON m.cix = c0.cix),
         asg AS (SELECT vec_id AS cid, v AS cvv, cix FROM (
             SELECT e.vec_id, e.v, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, cn c) WHERE r = 1),
         probe AS (SELECT vec_id AS qid, v AS qv, cix FROM (
             SELECT e.vec_id, e.v, c.cix,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cix DESC) AS r
             FROM e, cn c WHERE e.vec_id < 20) WHERE r <= 2),
         s AS (SELECT p.qid, a.cid, list_cosine_similarity(p.qv, a.cvv) AS cos
           FROM probe p JOIN asg a USING (cix) WHERE p.qid <> a.cid),
         r AS (SELECT qid AS query_id, cid AS cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
           FROM s)
         SELECT query_id, cand_id, rnk, ROUND(cos, 4) AS cos FROM r WHERE rnk <= 5"""
    },
    "q44_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         h AS (SELECT doc_id, list_transform(toks, w ->
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(w, ''), c -> CAST(ord(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007)) AS tok_hashes
           FROM t)
         SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), tok_hashes),
             (a, b) -> (a * 31 + b) % 1000000007) AS fp
         FROM h""")
}
