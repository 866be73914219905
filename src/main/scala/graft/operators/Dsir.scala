package graft.operators

import graft.functions.{DsirScore, Log2Fixed, PolyHash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): select the slice of a raw pool whose hashed n-gram distribution
  * looks like a target corpus. The published estimator, made exact:
  *
  *  1. Features: unigram + bigram poly31 hashes mod `dim` buckets.
  *  2. Two bucket unigram models (add-one smoothed): target slice, raw
  *     pool. Each is a `dim`-bounded histogram — driver state the size of
  *     an IVF codebook, NEVER data-proportional.
  *  3. Per-bucket fixed-point log-likelihood ratio
  *     `Δ_b = log2fp(t_b+1) − log2fp(N_t+dim) − log2fp(r_b+1) + log2fp(N_r+dim)`
  *     ([[Log2Fixed]] scale 2^20 — the same bit-portable log kernel as the
  *     q102 perplexity gate, so the q161 oracle replays every integer).
  *  4. Per-doc importance weight = Σ_grams Δ_bucket(gram), one compiled
  *     map-side pass ([[DsirScore]] — no explode, no join, no shuffle).
  *  5. Selection: deterministic top-`quota` by mean log-ratio. The paper
  *     resamples with Gumbel noise; a seeded-noise variant would not be
  *     cross-engine replayable, so the engine takes the noise-free top-k
  *     (the paper's temperature→0 limit) and documents the divergence.
  *
  * Scale posture at 100 TB: two histogram scans (map-side partial counts,
  * ≤ dim rows per partition cross the exchange) + one scoring scan. The
  * selection quota rides the WindowGroupLimit compile (top-k per partition
  * before the single-partition final), and the full-pool `selected` flag
  * is a broadcast one-row cutoff join — no global sort of the pool, no
  * window over the full output.
  *
  * Reference analog: the rule-mode document filter of
  * `retrieve.py:1356-1499` — keep the records that match a target profile
  * — upgraded to the published importance-weight estimator.
  */
object Dsir {

  val DefaultDim = 4096

  /** The gram-bucket stream as columns — composition form used for model
    * training; MUST stay hash-identical to [[DsirScore]]'s fold (spec-pinned).
    */
  private def gramHashes(textCol: Column): Column =
    concat(
      PolyHash.polyGramHashes(textCol, 1),
      PolyHash.polyGramHashes(textCol, 2))

  /** Bucket histogram of a corpus slice: `dim` longs of driver state.
    * Map-side partial aggregation means ≤ `dim` rows per partition reach
    * the exchange regardless of corpus size.
    */
  def bucketCounts(df: DataFrame, textCol: Column, dim: Int = DefaultDim): Array[Long] = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val rows = df
      .select(explode(gramHashes(textCol)).as("h"))
      .select(pmod(col("h"), lit(dim.toLong)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .collect()
    val arr = new Array[Long](dim)
    rows.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Per-bucket fixed-point log-likelihood-ratio table from two
    * histograms (add-one smoothing keeps every log argument positive).
    */
  def logRatioTable(target: Array[Long], raw: Array[Long]): Array[Long] = {
    require(target.length == raw.length,
      s"histogram dims differ: ${target.length} vs ${raw.length}")
    val dim = target.length
    val lgNt = Log2Fixed(target.sum + dim)
    val lgNr = Log2Fixed(raw.sum + dim)
    Array.tabulate(dim) { b =>
      (Log2Fixed(target(b) + 1) - lgNt) - (Log2Fixed(raw(b) + 1) - lgNr)
    }
  }

  /** Score every document: (doc_id, n_grams, sum_fp, log_ratio) where
    * log_ratio = mean per-gram fixed-point log ratio (6 dp; null for
    * gram-less docs). One narrow projection.
    */
  def importanceWeights(df: DataFrame, idCol: Column, textCol: Column,
      deltaFp: Array[Long]): DataFrame =
    df.select(idCol.as("doc_id"), DsirScore.expr(textCol, deltaFp.toSeq).as("s"))
      .select(col("doc_id"), col("s.n_grams").as("n_grams"),
        col("s.sum_fp").as("sum_fp"),
        when(col("s.n_grams") > 0,
          round(col("s.sum_fp") / (col("s.n_grams") * lit(Log2Fixed.One.toDouble)), 6))
          .as("log_ratio"))

  /** Flag the top-`quota` rows by (ratio desc, id asc) with `selected` ∈
    * {0, 1} WITHOUT sorting the full pool: [[Ranking.globalTopK]] (the
    * threshold-independent two-level top-k — zero-exchange per-partition
    * prune, bounded global rank) finds the quota subset, its boundary
    * row becomes a one-row broadcast cutoff, and the flag is a pointwise
    * comparison. Null ratios are never selected. Equivalent to
    * `row_number() over (order by ratio desc, id) <= quota` — the form
    * the oracle replays. (Quotas far beyond ~10⁵ should switch to a
    * quantile-estimated cutoff instead of an exact global rank; not
    * needed yet.)
    */
  def selectQuota(scored: DataFrame, ratioCol: Column, idCol: Column,
      quota: Int): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    // The cutoff branch and the flag branch both consume `scored`; without
    // a barrier, projection collapse re-runs the scoring expression over
    // the full corpus on EACH branch (the q152 double-execution trap).
    // One eager materialization of the slim scored frame — id + a few
    // numbers, never the text — is strictly cheaper than a second scan.
    val scoredC = scored.localCheckpoint()
    val ranked = Ranking.globalTopK(scoredC.filter(ratioCol.isNotNull),
      Seq(ratioCol.desc, idCol.asc), quota, rankCol = Some("__rk"))
    val cutoff = ranked.agg(
      max_by(struct(ratioCol.as("__cut_ratio"), idCol.as("__cut_id")),
        col("__rk")).as("c"))
      .select(col("c.__cut_ratio"), col("c.__cut_id"))
    scoredC.crossJoin(broadcast(cutoff))
      .withColumn("selected",
        when(ratioCol.isNotNull &&
          (ratioCol > col("__cut_ratio") ||
            (ratioCol === col("__cut_ratio") && idCol <= col("__cut_id"))), 1)
          .otherwise(0))
      .drop("__cut_ratio", "__cut_id")
  }
}
