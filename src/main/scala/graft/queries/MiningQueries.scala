package graft.queries

import graft.core.Tables
import graft.operators.{Divergence, Graph, Journey, TableOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-mining & corpus-comparison queries (q231+): cross-source overlap
  * matrices, link-graph hub/authority ranking, concentration audits —
  * the second-order questions a platform asks AFTER the per-table
  * statistics are green ("how do my sources relate to each other, and
  * where is the mass concentrated?").
  */
object MiningQueries {

  import graft.functions.Log2Fixed
  import CurationQueries.log2fpStages

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val toksSql = AnalyticsQueries.toksSql

  /** Shared by q239 (window build) and q242 (BottomKAgg build): the two
    * engines' register tables are identical by contract. */
  private def kmvRegistersSql: String =
    s"""WITH t AS (SELECT lang, UNNEST($toksSql) AS w FROM documents),
       d AS (SELECT DISTINCT lang,
           CAST(CONCAT('0x', SUBSTRING(md5(w), 1, 15)) AS BIGINT) AS h
         FROM t WHERE w IS NOT NULL),
       r AS (SELECT lang, h,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rnk
         FROM d)
       SELECT lang, CAST(rnk AS BIGINT) AS rnk, h FROM r
       WHERE rnk <= 64"""

  /** q238's column set and its oracle-side SQL — generated from one list
    * so the Spark call and the DuckDB replay cannot drift. */
  private val corrCols = Seq(
    "qty" -> "ROUND(l_quantity)",
    "price" -> "ROUND(l_extendedprice / 100)", // hundreds of dollars:
    // keeps 2·num²·10⁶ inside HUGEINT/decimal(38,0) at bench scale
    "disc" -> "ROUND(l_discount * 100)",
    "tax" -> "ROUND(l_tax * 100)")

  /** One weighted-PageRank iteration as an oracle CTE — q145's
    * [[AnalyticsQueries.pageRankStageSql]] with edge weights threaded:
    * deg is Σw and the gather term is w·(r div deg). */
  private def wprStageSql(k: Int): String =
    s"""r$k AS (SELECT b.id, 150000 + (850 * COALESCE(s.c, 0)) // 1000 AS r
         FROM r${k - 1} b LEFT JOIN (
           SELECT e.dst, SUM(e.w * (r.r // deg.dg)) AS c
           FROM ew e JOIN r${k - 1} r ON e.src = r.id
           JOIN deg ON e.src = deg.src
           GROUP BY e.dst) s ON b.id = s.dst)"""

  /** q247's key columns — one list for both engines. */
  private val skewKeys = Seq("l_suppkey", "l_partkey", "l_orderkey")

  /** Oracle twin of [[graft.operators.TableOps.skewProfile]] over the
    * lineitem keys: per key, the q234 concentration math on the
    * key-frequency distribution plus the heaviest key's share. */
  private def skewProfileSql: String = {
    val ctes = skewKeys.map { k =>
      s"""cnt_$k AS (SELECT $k AS key, COUNT(*) AS x FROM lineitem
           WHERE $k IS NOT NULL GROUP BY 1),
         r_$k AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS i
           FROM cnt_$k),
         a_$k AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS HUGEINT) AS s,
             SUM(CAST(i AS HUGEINT) * x) AS t, MAX(x) AS mx
           FROM r_$k HAVING COUNT(*) > 0),
         tm_$k AS (SELECT CAST(SUM(r.x) AS HUGEINT) AS topm
           FROM r_$k r, a_$k a WHERE r.i > a.n - (a.n + 9) // 10)"""
    }.mkString(",\n         ")
    val rows = skewKeys.map { k =>
      s"""SELECT '$k' AS key_col, CAST(a.n AS BIGINT) AS n_keys,
           CAST(a.s AS BIGINT) AS n_rows, CAST(a.mx AS BIGINT) AS max_cnt,
           CAST((2 * a.mx * 1000000 + a.s) // (2 * a.s) AS BIGINT)
             / 1000000.0 AS max_share,
           CASE WHEN a.s > 0 THEN
             CAST((2 * (2 * a.t - (a.n + 1) * a.s) * 1000000 + a.n * a.s)
               // (2 * a.n * a.s) AS BIGINT) / 1000000.0
           END AS gini,
           CASE WHEN a.s > 0 THEN
             CAST((2 * tm.topm * 1000000 + a.s) // (2 * a.s) AS BIGINT)
               / 1000000.0
           END AS top_decile_share
         FROM a_$k a, tm_$k tm"""
    }.mkString("\n         UNION ALL ")
    s"WITH $ctes\n         $rows"
  }

  private def corrMatrixSql: String = {
    val ns = corrCols.map(_._1)
    val allPairs =
      for { i <- ns.indices; j <- i until ns.size } yield (ns(i), ns(j))
    val pairs = allPairs.filter { case (a, b) => a != b }
    val baseCols = corrCols.map { case (n, e) =>
      s"CAST($e AS BIGINT) AS $n" }.mkString(",\n             ")
    val notNull = corrCols.map { case (_, e) =>
      s"$e IS NOT NULL" }.mkString(" AND ")
    val meanCols = ns.map(n =>
      s"SUM(CAST($n AS HUGEINT)) // COUNT(*) AS m_$n")
      .mkString(",\n             ")
    val centered = ns.map(n => s"$n - m_$n AS $n").mkString(", ")
    val tSums = ns.map(n => s"SUM(CAST($n AS HUGEINT)) AS t_$n")
    val sSums = allPairs.map { case (a, b) =>
      s"SUM(CAST($a AS HUGEINT) * $b) AS s_${a}_$b" }
    val pRows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, m.n,
             CAST(m.n AS HUGEINT) * s_${a}_$b - t_$a * t_$b AS num,
             CAST(m.n AS HUGEINT) * s_${a}_$a - t_$a * t_$a AS d1,
             CAST(m.n AS HUGEINT) * s_${b}_$b - t_$b * t_$b AS d2
           FROM st, m""" }.mkString("\n           UNION ALL ")
    s"""WITH b AS (SELECT $baseCols
           FROM lineitem WHERE $notNull),
         m AS (SELECT COUNT(*) AS n,
             $meanCols
           FROM b),
         c AS (SELECT $centered FROM b, m),
         st AS (SELECT ${(tSums ++ sSums).mkString(",\n             ")}
           FROM c),
         p AS ($pRows),
         q AS (SELECT col_a, col_b, n,
             CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
               AS INT) AS sg,
             CASE WHEN gt THEN ABS(num) // n ELSE ABS(num) END AS numr,
             CASE WHEN gt THEN d1 // n ELSE d1 END AS d1r,
             CASE WHEN gt THEN d2 // n ELSE d2 END AS d2r
           FROM (SELECT *, GREATEST(d1, d2) > 5000000000000000
               AND LEAST(d1, d2) > CAST(n AS HUGEINT) * 1000 AS gt
             FROM p))
         SELECT col_a, col_b, n,
           CASE WHEN d1r > 0 AND d2r > 0 THEN
             CAST((2 * numr * numr * 1000000 + d1r * d2r)
               // (2 * d1r * d2r) AS BIGINT) / 1000000.0
           END AS r2,
           CASE WHEN d1r > 0 AND d2r > 0 THEN sg END AS sgn
         FROM q"""
  }

  /** One HITS iteration as oracle CTEs: authority gather+normalize from
    * h{k-1}, then hub gather+normalize from a{k} — the SQL unroll of
    * [[graft.operators.Graph.hits]] (max-normalized, HUGEINT product).
    */
  private def hitsStageSql(k: Int): String =
    s"""ar$k AS (SELECT d.doc_id AS id, COALESCE(s.c, 0) AS raw
         FROM documents d LEFT JOIN (
           SELECT e.dst AS id, SUM(h.h) AS c
           FROM e JOIN h${k - 1} h ON e.src = h.id GROUP BY 1) s
           ON d.doc_id = s.id),
       am$k AS (SELECT MAX(raw) AS m FROM ar$k),
       a$k AS (SELECT id, CASE WHEN m > 0
           THEN CAST(CAST(raw AS HUGEINT) * 1000000 // m AS BIGINT)
           ELSE 0 END AS a
         FROM ar$k, am$k),
       hr$k AS (SELECT d.doc_id AS id, COALESCE(s.c, 0) AS raw
         FROM documents d LEFT JOIN (
           SELECT e.src AS id, SUM(a.a) AS c
           FROM e JOIN a$k a ON e.dst = a.id GROUP BY 1) s
           ON d.doc_id = s.id),
       hm$k AS (SELECT MAX(raw) AS m FROM hr$k),
       h$k AS (SELECT id, CASE WHEN m > 0
           THEN CAST(CAST(raw AS HUGEINT) * 1000000 // m AS BIGINT)
           ELSE 0 END AS h
         FROM hr$k, hm$k)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cramér's V between a document's language and its source — the
    // effect-size leg the chi-square family was missing (q259 gates "is
    // the association real?"; this publishes "how big is it?" on the
    // scale-free [0, 1] axis a feature audit thresholds): V =
    // sqrt(chi2 / (N·min(R−1, C−1))) from the same summed-rounded-terms
    // chi-square, final sqrt/divide in IEEE exactly-rounded doubles.
    "q231_cramers_v" -> ((s, dir) =>
      graft.operators.EvalMetrics.cramersV(docs(s, dir),
        col("lang"), col("source"))),

    // Distinct-1/distinct-2 diversity per source — the generated-data
    // repetition audit (Li et al. 2016): distinct n-grams over total
    // n-grams, exact micro-rounded ratios. Catches phrase-looping
    // sources whose token marginals still look natural (q223's Zipf and
    // q219's KL both read marginals only).
    "q271_ngram_diversity" -> ((s, dir) => {
      val d = docs(s, dir)
      // hash64: grams ride the compiled 61-bit fold — no bigram string
      // is ever built or hashed (measured ~2× on this query's wall; the
      // oracle replays the same fold in HUGEINT)
      Divergence.ngramDiversity(d, col("source"), col("text"), 1,
          hash64 = true)
        .unionByName(
          Divergence.ngramDiversity(d, col("source"), col("text"), 2,
            hash64 = true))
    }),

    // Jensen–Shannon divergence between two interleaved halves of each
    // source — the SYMMETRIC bounded drift screen next to q219's KL:
    // same feed, no privileged direction, reads in [0,1] bits. Exact
    // fixed-point logs; one-sided tokens land lg 2 exactly. The split
    // is (doc_id div 20) % 2: doc ids are round-robin over the 20
    // sources, so raw parity would put every source entirely in one arm
    // — the stride-20 quotient alternates WITHIN each source.
    "q280_js_divergence" -> ((s, dir) =>
      Divergence.jsDivergence(docs(s, dir), col("source"),
        pmod(expr("doc_id div 20"), lit(2)) === 1, col("text"))),

    // Chao1 + Good–Turing vocabulary richness per source — "is the
    // long tail still growing?": singleton/doubleton type counts, the
    // bias-corrected Chao1 total-vocabulary estimate and the unseen
    // probability mass, all exact rationals.
    "q282_vocab_richness" -> ((s, dir) =>
      Divergence.vocabRichness(docs(s, dir), col("source"), col("text"))),

    // Exact vocabulary-overlap matrix between the 5 language slices:
    // distinct-token supports, pairwise intersection and exact Jaccard —
    // the cross-source contamination screen. The pair fan-out is keyed on
    // the TOKEN (C(k,2) rows per token, k = sources containing it), never
    // on documents.
    "q232_vocab_overlap" -> ((s, dir) =>
      Divergence.vocabOverlap(docs(s, dir), col("lang"), col("text"))),

    // HITS hubs & authorities over the q145 arithmetic link graph —
    // PageRank's sibling slot: link-directory pages (high hub) vs content
    // pages (high authority). 3 rounds of integer fixed-point iteration,
    // max-normalized; the oracle unrolls all six half-steps.
    "q233_hits" -> ((s, dir) => {
      val d = docs(s, dir)
      Graph.hits(d.select(col("doc_id")), col("doc_id"),
          WarehouseQueries.docLinkEdges(d), col("src"), col("dst"),
          iterations = 3)
        .withColumnRenamed("id", "doc_id")
    }),

    // Revenue-concentration audit: exact Gini + top-decile share of order
    // totals (in cents) per order priority — the "is the mean a lie?"
    // screen. One window pass + one rollup per group; rank ties carry
    // equal values, so the integer statistic is tie-permutation-invariant.
    "q234_concentration" -> ((s, dir) =>
      TableOps.concentration(Tables.load(s, dir, "orders"),
          Seq(col("o_orderpriority")),
          round(col("o_totalprice") * 100).cast("long"))
        .select(col("g0").as("o_orderpriority"), col("n"), col("total"),
          col("gini"), col("top_decile_share"))),

    // Poisson-bootstrap CI for the mean order value (cents) per priority —
    // the deterministic-integer resampling scheme that distributes: the
    // B-fold explode collapses map-side to |groups|·B rows; the oracle
    // replays every draw, weight and rank.
    "q235_bootstrap_ci" -> ((s, dir) =>
      TableOps.bootstrapMeanCi(Tables.load(s, dir, "orders"),
          Seq(col("o_orderpriority")), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long"), b = 40)
        .select(col("g0").as("o_orderpriority"), col("n"), col("mean"),
          col("ci_lo"), col("ci_hi"), col("b_eff"))),

    // RFM customer segmentation: value-quantile scores (ties share a
    // score — no positional NTILE window), segment = r·100 + f·10 + m.
    "q236_rfm" -> ((s, dir) =>
      Journey.rfmScores(Tables.load(s, dir, "orders"), col("o_custkey"),
          col("o_orderdate"), round(col("o_totalprice") * 100).cast("long"))
        .withColumnRenamed("customer", "o_custkey")),

    // Mutual information between market segment and nation — the
    // column-dependence audit; per-cell PMI plus the table MI in-band.
    "q237_pmi" -> ((s, dir) =>
      Divergence.mutualInformation(Tables.load(s, dir, "customer"),
          col("c_mktsegment"), col("c_nationkey").cast("long"))
        .select(col("x").as("c_mktsegment"), col("y").as("c_nationkey"),
          col("n_xy"), col("pmi_bits"), col("mi_bits"))),

    // One-pass Pearson matrix over the lineitem numerics (exact r² +
    // covariance sign; the sqrt is the reader's) — price in HUNDREDS of
    // dollars and rates ×100 keep n·σ² inside the decimal(38,0) pipeline.
    // The column expressions come from corrCols via expr(): ONE list
    // feeds both engines, so the Spark call and the oracle cannot drift.
    "q238_corr_matrix" -> ((s, dir) =>
      TableOps.corrMatrix(Tables.load(s, dir, "lineitem"),
        corrCols.map { case (n, e) => n -> expr(e) })),

    // KMV bottom-64 distinct-sketch registers per language — the third
    // mergeable sketch (min-k) next to count-min (sums) and HLL (maxes);
    // fully deterministic registers, every row on the oracle surface.
    "q239_kmv_registers" -> ((s, dir) => {
      // per-doc array_distinct before the explode (r14): the sketch
      // distincts (lang, hash) anyway, so hashing each repeated token
      // once per DOC instead of once per occurrence drops ~2/3 of the
      // per-row md5 folds without touching the register set
      val d = docs(s, dir).select(col("lang"),
        explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("w"))
      graft.operators.Sketches.kmvRegisters(d, Seq(col("lang")), col("w"),
        k = 64)
    }),

    // The SAME KMV registers through the single-pass BottomKAgg UDAF —
    // the exchange carries k-bounded buffers instead of the distinct
    // (lang, hash) set, and the build streams; one oracle serves both.
    "q242_kmv_agg" -> ((s, dir) => {
      // same per-doc dedup as q239 — the bottom-k buffer keeps distinct
      // hashes, so per-occurrence repeats only cost md5 folds
      val d = docs(s, dir).select(col("lang"),
        explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("w"))
      graft.operators.Sketches.kmvRegistersAgg(d, Seq(col("lang")),
        col("w"), k = 64)
    }),

    // TextRank keywords: pageRank composed over the token co-occurrence
    // graph (in-window token pairs, multiplicity = weight), top-20 by rank.
    "q241_textrank" -> ((s, dir) =>
      Graph.textRank(docs(s, dir), col("text"),
        window = 2, iterations = 3, topK = 20)),

    // Theil–Sen robust revenue-trend slope per priority over the WEEKLY
    // series — median of exact micro-quantized pairwise slopes. Weekly,
    // not daily: with only 5 groups the per-group O(m²) pair build is
    // one task per group (2400 daily points → 5.8M single-task pairs);
    // ~345 weekly points keep the suite entry honest while the 10M-pair
    // Stress receipt prices the heavy per-entity shape.
    "q243_theil_sen" -> ((s, dir) => {
      val weekly = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
        .groupBy(col("o_orderpriority"),
          graft.operators.EvalMetrics.idivPos(
            datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date")), lit(7L)).as("wk"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      Journey.theilSen(weekly, Seq(col("o_orderpriority")), col("wk"),
          col("rev"))
        .select(col("g0").as("o_orderpriority"), col("n_points"),
          col("n_pairs"), col("slope"))
    }),

    // The DAILY series q243 re-based away from, run head-on: ~2,400
    // points per priority → ~14.8M pairs, block-decomposed so the
    // quadratic pair build spreads over (group, block-pair) tasks
    // instead of one task per group (24.8 s → multi-task; same
    // estimator bit-for-bit, same oracle shape minus the //7).
    "q253_theil_sen_daily" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      Journey.theilSenBlocked(daily, Seq(col("o_orderpriority")),
          col("day"), col("rev"), blockSize = 256)
        .select(col("g0").as("o_orderpriority"), col("n_points"),
          col("n_pairs"), col("slope"))
    }),

    // Mann–Kendall trend test on the same daily series — q253's paired
    // significance gate (MK: IS there a monotone trend; Theil–Sen: how
    // steep). Same blocked unit frame, ONE kernel pass, tie-corrected
    // variance and continuity-corrected z² in exact integers.
    "q262_mann_kendall" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      Journey.mannKendallBlocked(daily, Seq(col("o_orderpriority")),
          col("day"), col("rev"), blockSize = 256)
        .select(col("g0").as("o_orderpriority"), col("n_points"),
          col("n_pairs"), col("s"), col("var18"), col("tau"), col("z2"),
          col("significant"))
    }),

    // OLS line fit on the daily revenue series (DOLLARS, not cents —
    // the r² cross-product n²·var_x·var_y must clear decimal(38,0);
    // cents would sit within ~2 decades of the ceiling) — the
    // parametric fit next to the robust q253 slope: when the two
    // disagree, the residuals aren't well-behaved and Theil–Sen is
    // telling the truth.
    "q265_linear_fit" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("o_totalprice")).cast("long")).as("rev"))
      TableOps.linearFit(daily, Seq(col("o_orderpriority")),
          col("day"), col("rev"))
        .select(col("g0").as("o_orderpriority"), col("n"), col("slope"),
          col("intercept"), col("r2"))
    }),

    // Spearman rank correlation on the same daily series — the third
    // correlation on one grain (q265 Pearson r² = linear, q262
    // Mann–Kendall = concordance, this = monotone association): exact
    // ρ² + sign from integral 2·midranks.
    "q268_spearman" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      graft.operators.EvalMetrics.spearman(daily,
        Seq(col("o_orderpriority")), col("day"), col("rev"))
    }),

    // Quantile normalization of document length across sources — the
    // cross-source score harmonization step (source A's p90 and source
    // B's p90 land on the same pooled value) as an exact deterministic
    // mapping table; position lookup via a binned interval join, the
    // pooled inverse CDF via the two-stage prefix sum.
    "q266_quantile_normalize" -> ((s, dir) => {
      val d = docs(s, dir)
      TableOps.quantileNormalize(d, col("source"),
        col("n_chars").cast("long"))
    }),

    // Top-10 parts by shipped quantity with the long tail pooled into
    // one __other__ row — rank via bounded broadcast self-join, never a
    // global window.
    "q244_top_other" -> ((s, dir) =>
      TableOps.topNOther(Tables.load(s, dir, "lineitem"),
        col("l_partkey"), col("l_quantity").cast("long"), n = 10)),

    // Integer-weighted PageRank over the arithmetic link graph with
    // deterministic edge weights 1..3 — the weighted recurrence itself
    // on the oracle surface (q241 exercises it only via the multigraph
    // equivalence).
    "q250_weighted_pagerank" -> ((s, dir) => {
      val d = docs(s, dir)
      val e = WarehouseQueries.docLinkEdges(d)
        .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(3)))
      Graph.pageRankWeighted(d.select(col("doc_id")), col("doc_id"), e,
          col("src"), col("dst"), col("w"), iterations = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // Collocation extraction: top-20 adjacent bigrams by fixed-point
    // PMI with a min-support gate — phrase/merge-candidate mining.
    "q249_collocations" -> ((s, dir) =>
      Divergence.collocations(docs(s, dir), col("doc_id"), col("text"),
        minCount = 5L, topK = 20)),

    // Single changepoint per event type over the hourly count series:
    // the split maximizing the exact integer SSE-reduction gain.
    "q248_changepoint" -> ((s, dir) => {
      val hourly = Tables.load(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(col("event_type"),
          graft.operators.EvalMetrics.idivPos(unix_millis(col("ts")),
            lit(3600000L)).as("hb"))
        .agg(count(lit(1)).as("cnt"))
      Journey.changepoint(hourly, Seq(col("event_type")), col("hb"),
          col("cnt"))
        .select(col("g0").as("event_type"), col("n_points"),
          col("split_t"), col("left_n"), col("mean_diff"))
    }),

    // Robust outlier audit on the median/MAD scale — the heavy-tail
    // companion to the exact z-score screen.
    "q246_robust_outliers" -> ((s, dir) =>
      TableOps.robustOutliers(Tables.load(s, dir, "orders"),
          Seq(col("o_orderpriority")),
          round(col("o_totalprice") * 100).cast("long"))
        .select(col("g0").as("o_orderpriority"), col("n"), col("median"),
          col("mad"), col("n_outliers"))),

    // Join-key skew pre-flight over the lineitem keys: distinct keys,
    // heaviest-key share, Gini/top-decile of the frequency distribution.
    "q247_skew_profile" -> ((s, dir) =>
      TableOps.skewProfile(Tables.load(s, dir, "lineitem"),
        skewKeys.map(k => k -> col(k)))),

    // Burstiness audit: variance-to-mean ratio of hourly event counts
    // per type, empty buckets counted without materialization.
    "q245_dispersion" -> ((s, dir) =>
      Journey.dispersionIndex(Tables.load(s, dir, "events"),
          Seq(col("event_type")), unix_millis(col("ts")), step = 3600000L)
        .select(col("g0").as("event_type"), col("n_events"),
          col("n_buckets"), col("dispersion"))),

    // The KMV merge law ON the oracle surface: per-language sketches
    // merged to one global bottom-64, then the integer estimator —
    // the shape a 100 TB distinct profile actually runs (per-shard
    // sketches + k-bounded merge, never a raw-value re-shuffle).
    "q240_kmv_estimate" -> ((s, dir) => {
      import graft.operators.Sketches
      // same per-doc dedup as q239/q242 — registers distinct hashes
      val d = docs(s, dir).select(col("lang"),
        explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("w"))
      val perLang = Sketches.kmvRegisters(d, Seq(col("lang")), col("w"),
        k = 64)
      val merged = Sketches.kmvMerge(perLang.withColumn("g", lit(1)),
        Seq(col("g")), k = 64)
      Sketches.kmvEstimate(merged, Seq(col("g")), k = 64)
        .select(col("n_seen"), col("kth_h"), col("distinct_est"))
    }))

  val oracles: Map[String, String] = Map(

    "q280_js_divergence" -> {
      def h(s: String) = AnalyticsQueries.polyHash61Sql(s)
      s"""WITH t AS (SELECT source, (doc_id // 20) % 2 AS bb,
             $toksSql AS toks
           FROM documents),
         hx AS (SELECT source, bb, ${h("toks[i]")} AS hh
           FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         c AS (SELECT source, hh,
             CAST(SUM(CASE WHEN bb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN bb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cq
           FROM hx GROUP BY 1, 2),
         ns AS (SELECT source, CAST(SUM(cp) AS BIGINT) AS np,
             CAST(SUM(cq) AS BIGINT) AS nq, COUNT(*) AS vu
           FROM c GROUP BY 1),
         j AS (SELECT c.source, cp, cq, np, nq, vu,
             cp * nq + cq * np AS mix
           FROM c JOIN ns USING (source)),
         ${Log2Fixed.lutCteSql},
         ${CurationQueries.log2fpStages("j",
        "source, cp, cq, np, nq, vu, mix",
        "GREATEST(2 * cp * nq, 1)", "lgp", "jsa")},
         ${CurationQueries.log2fpStages("jsal",
        "source, cp, cq, np, nq, vu, mix, lgp",
        "GREATEST(2 * cq * np, 1)", "lgq", "jsb")},
         ${CurationQueries.log2fpStages("jsbl",
        "source, cp, cq, np, nq, vu, mix, lgp, lgq",
        "GREATEST(mix, 1)", "lgm", "jsc")},
         s2 AS (SELECT source, MAX(np) AS np, MAX(nq) AS nq,
             MAX(vu) AS vu,
             SUM(CASE WHEN cp > 0
               THEN CAST(cp AS HUGEINT) * (lgp - lgm) ELSE 0 END) AS sp,
             SUM(CASE WHEN cq > 0
               THEN CAST(cq AS HUGEINT) * (lgq - lgm) ELSE 0 END) AS sq
           FROM jscl GROUP BY 1),
         f AS (SELECT source, np, nq, vu,
             sp * nq + sq * np AS num,
             2 * CAST(np AS HUGEINT) * nq * 1048576 AS den
           FROM s2)
         SELECT source, np AS n_p, nq AS n_q, vu AS v_union,
           CASE WHEN np > 0 AND nq > 0 THEN
             CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
               ((2 * ABS(num) * 1000000 + den) // (2 * den)) AS BIGINT)
               / 1000000.0
           END AS js_bits
         FROM f"""
    },

    "q282_vocab_richness" -> {
      def h(s: String) = AnalyticsQueries.polyHash61Sql(s)
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         hx AS (SELECT source, ${h("toks[i]")} AS hh
           FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         c AS (SELECT source, hh, COUNT(*) AS cc FROM hx GROUP BY 1, 2),
         g AS (SELECT source, CAST(SUM(cc) AS BIGINT) AS n_tokens,
             COUNT(*) AS v_obs,
             CAST(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
             CAST(SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2
           FROM c GROUP BY 1)
         SELECT source, n_tokens, v_obs, f1, f2,
           CAST((2 * (CAST(v_obs AS HUGEINT) * (f2 + 1) * 2 +
               CAST(f1 AS HUGEINT) * (f1 - 1)) * 1000000 +
               (f2 + 1) * 2)
             // (2 * CAST((f2 + 1) * 2 AS HUGEINT)) AS BIGINT)
             / 1000000.0 AS chao1,
           CASE WHEN n_tokens > 0 THEN
             CAST((2 * CAST(f1 AS HUGEINT) * 1000000 + n_tokens)
               // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) / 1000000.0
           END AS gt_unseen
         FROM g"""
    },

    "q231_cramers_v" ->
      """WITH cells AS (SELECT lang AS x, source AS y, COUNT(*) AS n_obs
           FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL
           GROUP BY 1, 2),
         r AS (SELECT x, SUM(n_obs) AS rx FROM cells GROUP BY 1),
         cc AS (SELECT y, SUM(n_obs) AS cy FROM cells GROUP BY 1),
         t AS (SELECT CAST(SUM(n_obs) AS HUGEINT) AS nn FROM cells),
         sz AS (SELECT (SELECT COUNT(*) FROM r) AS nr,
             (SELECT COUNT(*) FROM cc) AS ncc),
         f AS (SELECT r.x, cc.y, rx, cy, COALESCE(n_obs, 0) AS n_obs
           FROM r CROSS JOIN cc
           LEFT JOIN cells ON cells.x = r.x AND cells.y = cc.y),
         terms AS (SELECT x, y,
             CAST((2 * ((nn * n_obs - CAST(rx AS HUGEINT) * cy) *
                 (nn * n_obs - CAST(rx AS HUGEINT) * cy)) * 1000000 +
                 nn * rx * cy) // (2 * nn * rx * cy) AS BIGINT) AS tm
           FROM f, t),
         agg AS (SELECT
             (SELECT CAST(nn AS BIGINT) FROM t) AS n,
             (SELECT CAST(nr AS BIGINT) FROM sz) AS r_cats,
             (SELECT CAST(ncc AS BIGINT) FROM sz) AS c_cats,
             (SELECT CAST(SUM(tm) AS BIGINT) FROM terms) / 1000000.0 AS chi2,
             (SELECT CAST((nr - 1) * (ncc - 1) AS BIGINT) FROM sz) AS dof)
         SELECT n, r_cats, c_cats, chi2, dof,
           CASE WHEN LEAST(r_cats, c_cats) > 1 THEN
             chi2 / CAST(n * (LEAST(r_cats, c_cats) - 1) AS DOUBLE) END AS v2,
           CASE WHEN LEAST(r_cats, c_cats) > 1 THEN
             SQRT(chi2 / CAST(n * (LEAST(r_cats, c_cats) - 1) AS DOUBLE)) END
             AS v
         FROM agg""",

    "q271_ngram_diversity" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         g1 AS (SELECT source,
             ${AnalyticsQueries.polyHash61Sql("toks[i]")} AS g
           FROM t, unnest(range(1, len(toks) + 1)) AS u1(i)
           WHERE len(toks) >= 1),
         a1 AS (SELECT t.source,
             COALESCE(c.n_grams, 0) AS n_grams,
             COALESCE(c.n_distinct, 0) AS n_distinct
           FROM (SELECT DISTINCT source FROM t) t
           LEFT JOIN (SELECT source, COUNT(*) AS n_grams,
               COUNT(DISTINCT g) AS n_distinct FROM g1 GROUP BY 1) c
             USING (source)),
         g2 AS (SELECT source,
             ${AnalyticsQueries.polyHash61Sql("toks[i] || ' ' || toks[i + 1]")}
               AS g
           FROM t, unnest(range(1, len(toks))) AS u2(i)
           WHERE len(toks) >= 2),
         a2 AS (SELECT t.source,
             COALESCE(c.n_grams, 0) AS n_grams,
             COALESCE(c.n_distinct, 0) AS n_distinct
           FROM (SELECT DISTINCT source FROM t) t
           LEFT JOIN (SELECT source, COUNT(*) AS n_grams,
               COUNT(DISTINCT g) AS n_distinct FROM g2 GROUP BY 1) c
             USING (source)),
         u AS (SELECT source, CAST(1 AS INT) AS n, n_grams, n_distinct
             FROM a1
           UNION ALL
           SELECT source, CAST(2 AS INT) AS n, n_grams, n_distinct FROM a2)
         SELECT source, n, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CASE WHEN n_grams > 0 THEN
             CAST((2 * CAST(n_distinct AS HUGEINT) * 1000000 + n_grams)
               // (2 * CAST(n_grams AS HUGEINT)) AS BIGINT) / 1000000.0
           END AS distinct_ratio
         FROM u""",

    "q232_vocab_overlap" ->
      s"""WITH inc AS (SELECT DISTINCT lang AS source, unnest($toksSql) AS tok
           FROM documents),
         szl AS (SELECT lang AS source FROM documents GROUP BY 1),
         szc AS (SELECT source, COUNT(*) AS v FROM inc GROUP BY 1),
         sz AS (SELECT szl.source, COALESCE(szc.v, 0) AS v
           FROM szl LEFT JOIN szc USING (source)),
         it AS (SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS inter
           FROM inc a JOIN inc b ON a.tok = b.tok AND a.source < b.source
           GROUP BY 1, 2),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
             a.v AS v_a, b.v AS v_b
           FROM sz a JOIN sz b ON a.source < b.source),
         j AS (SELECT source_a, source_b, v_a, v_b,
             COALESCE(inter, 0) AS inter,
             v_a + v_b - COALESCE(inter, 0) AS u
           FROM p LEFT JOIN it USING (source_a, source_b))
         SELECT source_a, source_b, CAST(v_a AS BIGINT) AS v_a,
           CAST(v_b AS BIGINT) AS v_b, CAST(inter AS BIGINT) AS inter,
           CAST(u AS BIGINT) AS n_union,
           CASE WHEN u > 0 THEN
             CAST((2 * inter * 1000000 + u) // (2 * u) AS BIGINT) / 1000000.0
           END AS jaccard
         FROM j""",

    "q233_hits" ->
      s"""WITH ${WarehouseQueries.linkEdgeCtesSql},
         h0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS h
           FROM documents),
         ${(1 to 3).map(hitsStageSql).mkString(",\n         ")}
         SELECT h3.id AS doc_id, h3.h AS hub_fp, a3.a AS auth_fp
         FROM h3 JOIN a3 USING (id)""",

    "q234_concentration" ->
      """WITH v AS (SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
           FROM orders WHERE o_totalprice IS NOT NULL),
         r AS (SELECT g, x,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS i
           FROM v WHERE x >= 0),
         a AS (SELECT g, COUNT(*) AS n, CAST(SUM(x) AS HUGEINT) AS s,
             SUM(CAST(i AS HUGEINT) * x) AS t
           FROM r GROUP BY 1),
         tm AS (SELECT r.g, CAST(SUM(r.x) AS HUGEINT) AS topm
           FROM r JOIN a ON r.g = a.g
           WHERE r.i > a.n - (a.n + 9) // 10
           GROUP BY 1)
         SELECT a.g AS o_orderpriority, CAST(a.n AS BIGINT) AS n,
           CAST(a.s AS BIGINT) AS total,
           CASE WHEN a.s > 0 THEN
             CAST((2 * (2 * a.t - (a.n + 1) * a.s) * 1000000 + a.n * a.s)
               // (2 * a.n * a.s) AS BIGINT) / 1000000.0
           END AS gini,
           CASE WHEN a.s > 0 THEN
             CAST((2 * tm.topm * 1000000 + a.s) // (2 * a.s) AS BIGINT)
               / 1000000.0
           END AS top_decile_share
         FROM a JOIN tm ON a.g = tm.g""",

    // Replays every deterministic draw: the LCG uniform, the Poisson
    // inverse-CDF ladder (TableOps.PoissonCumMicro verbatim), the
    // micro-rounded resample means and the ceil-rank interval.
    "q235_bootstrap_ci" ->
      """WITH v AS (SELECT o_orderpriority AS g, o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
         p AS (SELECT g, COUNT(*) AS n,
             CAST((2 * SUM(CAST(x AS HUGEINT)) * 1000000 + COUNT(*))
               // (2 * COUNT(*)) AS BIGINT) AS mean_fp
           FROM v GROUP BY 1),
         r AS (SELECT g, u.r AS r, x,
             ((k % 1000003) * 2654435761 + u.r * 40503) % 1000000 AS uu
           FROM v, unnest(range(0, 40)) AS u(r)),
         w AS (SELECT g, r, x,
             CASE WHEN uu < 367879 THEN 0 WHEN uu < 735759 THEN 1
                  WHEN uu < 919699 THEN 2 WHEN uu < 981012 THEN 3
                  WHEN uu < 996340 THEN 4 WHEN uu < 999406 THEN 5
                  WHEN uu < 999917 THEN 6 WHEN uu < 999990 THEN 7
                  ELSE 8 END AS w
           FROM r),
         m AS (SELECT g, r, SUM(CAST(x AS HUGEINT) * w) AS wx,
             SUM(w) AS sw
           FROM w GROUP BY 1, 2),
         mm AS (SELECT g,
             CAST((2 * wx * 1000000 + sw) // (2 * sw) AS BIGINT) AS mfp
           FROM m WHERE sw > 0),
         c AS (SELECT g, COUNT(*) AS b_eff, list_sort(list(mfp)) AS s
           FROM mm GROUP BY 1)
         SELECT p.g AS o_orderpriority, p.n,
           CAST(p.mean_fp AS DOUBLE) / 1000000.0 AS mean,
           CAST(c.s[CAST((c.b_eff * 25 + 999) // 1000 AS INT)] AS DOUBLE)
             / 1000000.0 AS ci_lo,
           CAST(c.s[CAST((c.b_eff * 975 + 999) // 1000 AS INT)] AS DOUBLE)
             / 1000000.0 AS ci_hi,
           c.b_eff
         FROM p JOIN c ON p.g = c.g""",

    // Value-quantile scores: (rank-1)*5 // n + 1 — ties share a score,
    // exactly the valueQuantileBins strictly-smaller-count semantics.
    "q236_rfm" ->
      """WITH c AS (SELECT o_custkey,
             CAST(DATEDIFF('day', DATE '1970-01-01',
               CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary
           FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
             AND o_totalprice IS NOT NULL
           GROUP BY 1),
         n AS (SELECT COUNT(*) AS n FROM c),
         s AS (SELECT o_custkey, recency_days, frequency, monetary,
             CAST((RANK() OVER (ORDER BY recency_days) - 1) * 5 // n + 1
               AS BIGINT) AS r_score,
             CAST((RANK() OVER (ORDER BY frequency) - 1) * 5 // n + 1
               AS BIGINT) AS f_score,
             CAST((RANK() OVER (ORDER BY monetary) - 1) * 5 // n + 1
               AS BIGINT) AS m_score
           FROM c, n)
         SELECT o_custkey, recency_days, frequency, monetary, r_score,
           f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS segment
         FROM s""",

    "q237_pmi" ->
      s"""WITH ${Log2Fixed.lutCteSql},
         b AS (SELECT c_mktsegment AS x, CAST(c_nationkey AS BIGINT) AS y
           FROM customer
           WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
         j AS (SELECT x, y, COUNT(*) AS n_xy FROM b GROUP BY 1, 2),
         nx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM j GROUP BY 1),
         ny AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM j GROUP BY 1),
         nn AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM j),
         e AS (SELECT j.x, j.y, j.n_xy, nx.n_x, ny.n_y, nn.n
           FROM j JOIN nx USING (x) JOIN ny USING (y), nn),
         ${log2fpStages("e", "x, y, n_xy, n", "n * n_xy", "lnum", "pa")},
         ${log2fpStages("e", "x, y", "n_x * n_y", "lden", "pb")},
         d AS (SELECT pal.x, pal.y, pal.n_xy, pal.n,
             pal.lnum - pbl.lden AS dd
           FROM pal JOIN pbl ON pal.x = pbl.x AND pal.y = pbl.y),
         mi AS (SELECT CAST((CASE WHEN SUM(CAST(n_xy AS HUGEINT) * dd) < 0
               THEN -1 ELSE 1 END) *
             ((2 * ABS(SUM(CAST(n_xy AS HUGEINT) * dd)) * 1000000
                 + CAST(MAX(n) AS HUGEINT) * 1048576)
               // (2 * CAST(MAX(n) AS HUGEINT) * 1048576)) AS BIGINT)
             AS mi_fp FROM d)
         SELECT d.x AS c_mktsegment, d.y AS c_nationkey,
           CAST(d.n_xy AS BIGINT) AS n_xy,
           CAST((CASE WHEN dd < 0 THEN -1 ELSE 1 END) *
             ((2 * ABS(CAST(dd AS HUGEINT)) * 1000000 + 1048576)
               // 2097152) AS BIGINT) / 1000000.0 AS pmi_bits,
           CAST(mi.mi_fp AS DOUBLE) / 1000000.0 AS mi_bits
         FROM d, mi""",

    "q238_corr_matrix" -> corrMatrixSql,

    // Every half of the composition replayed: position pairs (the lead
    // window's join twin), the doubled-direction multigraph, md5 node
    // ids, and the q145 PageRank recurrence unrolled 3 times.
    "q241_textrank" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         p AS (SELECT doc_id, u.i AS i, toks[CAST(u.i AS INT)] AS w
           FROM t0, unnest(range(1, len(toks) + 1)) AS u(i)),
         h1 AS (SELECT a.w AS wa, b.w AS wb
           FROM p a JOIN p b
             ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 2
           WHERE a.w <> b.w),
         eh AS (SELECT
             CAST(CONCAT('0x', SUBSTRING(md5(wa), 1, 15)) AS BIGINT) AS ha,
             CAST(CONCAT('0x', SUBSTRING(md5(wb), 1, 15)) AS BIGINT) AS hb
           FROM h1),
         e AS (SELECT ha AS src, hb AS dst FROM eh
           UNION ALL SELECT hb, ha FROM eh),
         deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY src),
         dict AS (SELECT DISTINCT w AS token FROM p),
         nodes AS (SELECT token,
             CAST(CONCAT('0x', SUBSTRING(md5(token), 1, 15)) AS BIGINT)
               AS id
           FROM dict),
         r0 AS (SELECT DISTINCT id, CAST(1000000 AS BIGINT) AS r
           FROM nodes),
         ${(1 to 3).map(AnalyticsQueries.pageRankStageSql)
             .mkString(",\n         ")}
         SELECT token, CAST(r AS BIGINT) AS rank_fp
         FROM nodes JOIN r3 ON nodes.id = r3.id
         ORDER BY rank_fp DESC, token LIMIT 20""",

    "q239_kmv_registers" -> kmvRegistersSql,

    // identical registers by contract: the window build and the
    // BottomKAgg build share one oracle
    "q242_kmv_agg" -> kmvRegistersSql,

    // The weighted recurrence unrolled: deg = Σw per source, the gather
    // term w·(r div deg) — q145's stages with weights threaded through.
    "q250_weighted_pagerank" ->
      s"""WITH ${WarehouseQueries.linkEdgeCtesSql},
         ew AS (SELECT src, dst, 1 + (src + dst) % 3 AS w FROM e),
         deg AS (SELECT src, SUM(w) AS dg FROM ew GROUP BY src),
         r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r
           FROM documents),
         ${(1 to 5).map(wprStageSql).mkString(",\n         ")}
         SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r5""",

    "q249_collocations" ->
      s"""WITH ${Log2Fixed.lutCteSql},
         t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         p AS (SELECT doc_id, u.i AS i, toks[CAST(u.i AS INT)] AS w
           FROM t0, unnest(range(1, len(toks) + 1)) AS u(i)),
         bi AS (SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_pair
           FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           GROUP BY 1, 2),
         lft AS (SELECT w1, SUM(n_pair) AS cx FROM bi GROUP BY 1),
         rgt AS (SELECT w2, SUM(n_pair) AS cy FROM bi GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS b FROM bi),
         e AS (SELECT bi.w1, bi.w2, bi.n_pair,
             CAST(lft.cx AS BIGINT) AS cx, CAST(rgt.cy AS BIGINT) AS cy,
             tot.b
           FROM bi JOIN lft USING (w1) JOIN rgt USING (w2), tot
           WHERE bi.n_pair >= 5),
         ${log2fpStages("e", "w1, w2, n_pair", "b * n_pair", "lnum", "ca")},
         ${log2fpStages("e", "w1, w2", "cx * cy", "lden", "cb")},
         d AS (SELECT cal.w1, cal.w2, cal.n_pair,
             cal.lnum - cbl.lden AS dd
           FROM cal JOIN cbl ON cal.w1 = cbl.w1 AND cal.w2 = cbl.w2)
         SELECT w1, w2, n_pair,
           CAST((CASE WHEN dd < 0 THEN -1 ELSE 1 END) *
             ((2 * ABS(CAST(dd AS HUGEINT)) * 1000000 + 1048576)
               // 2097152) AS BIGINT) / 1000000.0 AS pmi_bits
         FROM d ORDER BY pmi_bits DESC, w1, w2 LIMIT 20""",

    // Prefix sums, the exact floor-divided micro-gain, earliest-k tie
    // break, and the sign-inverted mean gap — all replayed.
    "q248_changepoint" ->
      """WITH hb AS (SELECT event_type AS g, epoch_ms(ts) // 3600000 AS t,
             COUNT(*) AS y
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT g, t, y,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY t) AS k,
             SUM(y) OVER (PARTITION BY g ORDER BY t
               ROWS UNBOUNDED PRECEDING) AS sk,
             COUNT(*) OVER (PARTITION BY g) AS n,
             SUM(y) OVER (PARTITION BY g) AS sn
           FROM hb),
         c AS (SELECT g, n, t, k,
             CAST(n AS HUGEINT) * sk - CAST(k AS HUGEINT) * sn AS a,
             CAST(k AS HUGEINT) * (n - k) AS den
           FROM r WHERE k < n),
         s AS (SELECT g, n, t, k,
             (a * a) // den AS gain,
             -((CASE WHEN a < 0 THEN -1 ELSE 1 END) *
               ((2 * ABS(a) * 1000000 + den) // (2 * den))) AS gapfp
           FROM c),
         b AS (SELECT g, n AS n_points, t, k, gapfp,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY gain DESC, k) AS rn
           FROM s)
         SELECT g AS event_type, CAST(n_points AS BIGINT) AS n_points,
           CAST(t AS BIGINT) AS split_t, CAST(k AS BIGINT) AS left_n,
           CAST(gapfp AS DOUBLE) / 1000000.0 AS mean_diff
         FROM b WHERE rn = 1""",

    "q246_robust_outliers" ->
      """WITH v AS (SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
           FROM orders WHERE o_totalprice IS NOT NULL),
         r1 AS (SELECT g, x,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS cnt
           FROM v),
         med AS (SELECT g, x AS median FROM r1 WHERE rn = (cnt + 1) // 2),
         d AS (SELECT v.g, ABS(v.x - med.median) AS dev, med.median
           FROM v JOIN med ON v.g = med.g),
         r2 AS (SELECT g, dev,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS cnt
           FROM d),
         mad AS (SELECT g, dev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
         SELECT d.g AS o_orderpriority, COUNT(*) AS n,
           MAX(d.median) AS median, MAX(mad.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev * 1000 > 4448 * mad.mad
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM d JOIN mad ON d.g = mad.g GROUP BY 1""",

    "q247_skew_profile" -> skewProfileSql,

    // Sign-split micro-slopes, lower median at rank (p+1)//2, the same
    // left join keeping single-point groups with a null slope.
    "q243_theil_sen" ->
      """WITH d0 AS (SELECT o_orderpriority AS g,
             CAST(DATEDIFF('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS t,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
         se AS (SELECT g, t, SUM(v) AS y FROM d0 GROUP BY 1, 2),
         pr AS (SELECT a.g,
             (CASE WHEN b.y < a.y THEN -1 WHEN b.y > a.y THEN 1 ELSE 0 END)
               * CAST((ABS(CAST(b.y AS HUGEINT) - a.y) * 1000000)
                 // (b.t - a.t) AS BIGINT) AS s
           FROM se a JOIN se b ON a.g = b.g AND a.t < b.t),
         r AS (SELECT g, s,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS cnt
           FROM pr),
         m AS (SELECT g, cnt AS n_pairs,
             CAST(s AS DOUBLE) / 1000000.0 AS slope
           FROM r WHERE rn = (cnt + 1) // 2),
         np AS (SELECT g, COUNT(*) AS n_points FROM se GROUP BY 1)
         SELECT np.g AS o_orderpriority, np.n_points,
           COALESCE(m.n_pairs, 0) AS n_pairs, m.slope
         FROM np LEFT JOIN m ON np.g = m.g""",

    // q243's oracle on the daily grain (no //7): the oracle replays the
    // flat per-group pair join — block decomposition is a Spark
    // execution concern, the estimator is identical
    "q253_theil_sen_daily" ->
      """WITH d0 AS (SELECT o_orderpriority AS g,
             CAST(DATEDIFF('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
         se AS (SELECT g, t, SUM(v) AS y FROM d0 GROUP BY 1, 2),
         pr AS (SELECT a.g,
             (CASE WHEN b.y < a.y THEN -1 WHEN b.y > a.y THEN 1 ELSE 0 END)
               * CAST((ABS(CAST(b.y AS HUGEINT) - a.y) * 1000000)
                 // (b.t - a.t) AS BIGINT) AS s
           FROM se a JOIN se b ON a.g = b.g AND a.t < b.t),
         r AS (SELECT g, s,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS cnt
           FROM pr),
         m AS (SELECT g, cnt AS n_pairs,
             CAST(s AS DOUBLE) / 1000000.0 AS slope
           FROM r WHERE rn = (cnt + 1) // 2),
         np AS (SELECT g, COUNT(*) AS n_points FROM se GROUP BY 1)
         SELECT np.g AS o_orderpriority, np.n_points,
           COALESCE(m.n_pairs, 0) AS n_pairs, m.slope
         FROM np LEFT JOIN m ON np.g = m.g""",

    "q262_mann_kendall" ->
      """WITH d0 AS (SELECT o_orderpriority AS g,
             CAST(DATEDIFF('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
         se AS (SELECT g, t, SUM(v) AS y FROM d0 GROUP BY 1, 2),
         p AS (SELECT a.g,
             SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
               ELSE 0 END) AS s,
             COUNT(*) AS n_pairs
           FROM se a JOIN se b ON a.g = b.g AND a.t < b.t GROUP BY 1),
         np AS (SELECT g, COUNT(*) AS n_points FROM se GROUP BY 1),
         tie AS (SELECT g,
             SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)) AS tcorr
           FROM (SELECT g, y, COUNT(*) AS c FROM se GROUP BY 1, 2)
           GROUP BY 1),
         j AS (SELECT np.g, np.n_points AS n,
             COALESCE(p.s, 0) AS s, COALESCE(p.n_pairs, 0) AS n_pairs,
             COALESCE(tie.tcorr, 0) AS tcorr
           FROM np LEFT JOIN p USING (g) LEFT JOIN tie USING (g)),
         f AS (SELECT g, n, n_pairs, s,
             CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tcorr AS var18,
             CASE WHEN ABS(s) > 0
               THEN 18 * (CAST(ABS(s) AS HUGEINT) - 1) * (ABS(s) - 1)
               ELSE 0 END AS z2n
           FROM j)
         SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n_points,
           CAST(n_pairs AS BIGINT) AS n_pairs, CAST(s AS BIGINT) AS s,
           CASE WHEN n >= 2 THEN CAST(var18 AS BIGINT) END AS var18,
           CASE WHEN n >= 2 THEN
             CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
               ((2 * ABS(CAST(s AS HUGEINT) * 2) * 1000000 +
                 CAST(n AS HUGEINT) * (n - 1))
                 // (2 * CAST(n AS HUGEINT) * (n - 1))) AS BIGINT)
               / 1000000.0 END AS tau,
           CASE WHEN n >= 2 AND var18 > 0 THEN
             CAST((2 * z2n * 1000000 + var18) // (2 * var18) AS BIGINT)
               / 1000000.0 END AS z2,
           CASE WHEN n >= 2 AND var18 > 0 THEN
             CASE WHEN z2n * 1000000 > var18 * 3841459 THEN 1 ELSE 0 END
           END AS significant
         FROM f""",

    "q265_linear_fit" ->
      """WITH d0 AS (SELECT o_orderpriority AS g,
             CAST(DATEDIFF('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(ROUND(o_totalprice) AS BIGINT) AS v
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
         se AS (SELECT g, x, SUM(v) AS y FROM d0 GROUP BY 1, 2),
         a AS (SELECT g, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
           FROM se GROUP BY 1),
         f AS (SELECT g, n, n * sxy - sx * sy AS cov,
             n * sxx - sx * sx AS varx, n * syy - sy * sy AS vary_,
             sy * sxx - sx * sxy AS inum
           FROM a)
         SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n,
           CASE WHEN varx > 0 THEN
             CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END) *
               ((2 * ABS(cov) * 1000000 + varx) // (2 * varx)) AS BIGINT)
               / 1000000.0 END AS slope,
           CASE WHEN varx > 0 THEN
             CAST((CASE WHEN inum < 0 THEN -1 ELSE 1 END) *
               ((2 * ABS(inum) * 1000000 + varx) // (2 * varx)) AS BIGINT)
               / 1000000.0 END AS intercept,
           CASE WHEN varx > 0 AND vary_ > 0 THEN
             CAST((2 * cov * cov * 1000000 + varx * vary_)
               // (2 * varx * vary_) AS BIGINT) / 1000000.0 END AS r2
         FROM f""",

    "q268_spearman" ->
      """WITH d0 AS (SELECT o_orderpriority AS g,
             CAST(DATEDIFF('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
         se AS (SELECT g, x, SUM(v) AS y FROM d0 GROUP BY 1, 2),
         cx AS (SELECT g, x, COUNT(*) AS c FROM se GROUP BY 1, 2),
         wx AS (SELECT g, x,
             2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2x
           FROM cx),
         cy AS (SELECT g, y, COUNT(*) AS c FROM se GROUP BY 1, 2),
         wy AS (SELECT g, y,
             2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2y
           FROM cy),
         r AS (SELECT se.g, wx.r2x, wy.r2y
           FROM se JOIN wx ON se.g = wx.g AND se.x = wx.x
           JOIN wy ON se.g = wy.g AND se.y = wy.y),
         a AS (SELECT g, COUNT(*) AS n,
             SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy,
             SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
             SUM(CAST(r2y AS HUGEINT) * r2y) AS syy
           FROM r GROUP BY 1),
         f AS (SELECT g, n,
             sxy - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS cov,
             sxx - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS vx,
             syy - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS vy
           FROM a)
         SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n,
           CASE WHEN vx > 0 AND vy > 0 THEN
             CASE WHEN cov < 0 THEN -1 WHEN cov > 0 THEN 1 ELSE 0 END
           END AS rho_sign,
           CASE WHEN vx > 0 AND vy > 0 THEN
             CAST((2 * (cov * cov) * 1000000 + vx * vy)
               // (2 * vx * vy) AS BIGINT) / 1000000.0 END AS rho2
         FROM f""",

    "q266_quantile_normalize" ->
      """WITH sv AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
             COUNT(*) AS n
           FROM documents WHERE n_chars IS NOT NULL
           GROUP BY 1, 2),
         r AS (SELECT source, v, n,
             SUM(n) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rr,
             SUM(n) OVER (PARTITION BY source) AS ns
           FROM sv),
         p AS (SELECT v, SUM(n) AS cnt FROM sv GROUP BY 1),
         pc AS (SELECT v AS pooled_v, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM p),
         t AS (SELECT CAST(SUM(cnt) AS HUGEINT) AS nn FROM p)
         SELECT r.source, r.v, CAST(r.n AS BIGINT) AS n, pc.pooled_v
         FROM r CROSS JOIN t
         JOIN pc ON ((r.rr * t.nn + r.ns - 1) // r.ns)
           BETWEEN pc.cb + 1 AND pc.cb + pc.cnt""",

    "q244_top_other" ->
      """WITH a AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
             SUM(CAST(l_quantity AS BIGINT)) AS total
           FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_quantity IS NOT NULL
           GROUP BY 1),
         r AS (SELECT key, total,
             ROW_NUMBER() OVER (ORDER BY total DESC, key) AS rank
           FROM a),
         t AS (SELECT key, total, CAST(1 AS BIGINT) AS n_keys,
             CAST(rank AS BIGINT) AS rank
           FROM r WHERE rank <= 10),
         o AS (SELECT '__other__' AS key, SUM(total) AS total,
             COUNT(*) AS n_keys, CAST(11 AS BIGINT) AS rank
           FROM r WHERE rank > 10 HAVING COUNT(*) > 0)
         SELECT key, CAST(total AS BIGINT) AS total, n_keys, rank FROM t
         UNION ALL
         SELECT key, CAST(total AS BIGINT) AS total, n_keys, rank FROM o""",

    "q245_dispersion" ->
      """WITH b AS (SELECT event_type AS g,
             epoch_ms(ts) // 3600000 AS bk
           FROM events WHERE ts IS NOT NULL),
         c AS (SELECT g, bk, COUNT(*) AS c FROM b GROUP BY 1, 2),
         a AS (SELECT g, CAST(SUM(c) AS BIGINT) AS sc,
             SUM(CAST(c AS HUGEINT) * c) AS sc2,
             MAX(bk) - MIN(bk) + 1 AS m
           FROM c GROUP BY 1)
         SELECT g AS event_type, sc AS n_events,
           CAST(m AS BIGINT) AS n_buckets,
           CASE WHEN m > 1 THEN
             CAST((CASE WHEN CAST(m AS HUGEINT) * sc2
                 - CAST(sc AS HUGEINT) * sc < 0 THEN -1 ELSE 1 END) *
               ((2 * ABS(CAST(m AS HUGEINT) * sc2
                   - CAST(sc AS HUGEINT) * sc) * 1000000
                 + CAST(m AS HUGEINT) * sc)
                // (2 * CAST(m AS HUGEINT) * sc)) AS BIGINT) / 1000000.0
           END AS dispersion
         FROM a""",

    // The merge is replayed literally: per-language bottom-64s unioned,
    // re-min-k'd, then the (k-1)*2^60 div h_(k) estimator in HUGEINT.
    "q240_kmv_estimate" ->
      s"""WITH t AS (SELECT lang, UNNEST($toksSql) AS w FROM documents),
         d AS (SELECT DISTINCT lang,
             CAST(CONCAT('0x', SUBSTRING(md5(w), 1, 15)) AS BIGINT) AS h
           FROM t),
         r AS (SELECT lang, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rnk
           FROM d),
         u AS (SELECT DISTINCT h FROM r WHERE rnk <= 64),
         mk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rnk FROM u),
         ks AS (SELECT h FROM mk WHERE rnk <= 64),
         e AS (SELECT COUNT(*) AS n_seen, MAX(h) AS kth_h FROM ks)
         SELECT n_seen, kth_h,
           CASE WHEN n_seen < 64 THEN n_seen
                ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976
                  // kth_h AS BIGINT)
           END AS distinct_est
         FROM e""")
}
