package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source-mixture weighting for training corpora: each row carries a
  * sampling weight w (typically per source/domain — "2.5 epochs of
  * Wikipedia, 0.25 of CommonCrawl"), and the operator materializes
  * `floor(w)` full copies plus one extra copy for a deterministic
  * `frac(w)` share of rows.
  *
  * The fractional share reuses `Sampling.hashBucket`, so which rows get
  * the extra copy is a pure function of the row id — partition-order
  * independent, reproducible across engines (the q71 oracle recomputes it
  * in SQL), and NESTED across weights: raising a source's weight from 0.25
  * to 0.5 keeps every previously-selected row selected.
  *
  * All of this is a narrow projection plus (for materialization) a
  * generator — no shuffle at any scale; downstream shuffles see the
  * already-replicated stream.
  */
object Mixture {

  /** Adds `n_copies` (≥ 0 always: negative weights clamp to 0). `weight`
    * may be fractional; weight 0 → row dropped at materialization,
    * weight 1 → pass-through. The fractional threshold is
    * `round(frac(w)·buckets)` — the same integer rule as
    * `Sampling.systematicSample`, so "sample 29%" and "weight 0.29" select
    * the identical row set.
    */
  def assignCopies(
      df: DataFrame, id: Column, weight: Column,
      buckets: Int = 10000, salt: Long = 0L): DataFrame = {
    val w = greatest(lit(0.0), weight.cast("double"))
    val fracThreshold = round((w - floor(w)) * buckets, 0)
    df.withColumn("n_copies",
      floor(w).cast("long") +
        when(Sampling.hashBucket(id, buckets, salt).cast("double") < fracThreshold,
          lit(1L)).otherwise(lit(0L)))
  }

  /** Explodes rows into their copies: one output row per copy, with a
    * 1-based `copy_idx` so downstream packing/shuffling can decorrelate
    * copies (e.g. salt a shuffle key with it). Rows with `n_copies` = 0
    * disappear.
    */
  def materializeCopies(df: DataFrame, copies: Column): DataFrame =
    df.filter(copies > 0)
      .withColumn("copy_idx", explode(sequence(lit(1L), copies)))

  /** Temperature-scaled group sampling weights — the multilingual-corpus
    * balancing rule of XLM-R/mT5 (Conneau et al. 2020 §3.1, Raffel et al.):
    * p_g ∝ n_g^alpha, so alpha=1 keeps the natural distribution, alpha→0
    * flattens it, and low-resource groups are up-weighted in between.
    *
    * Output per group: (groupCols..., n_docs, weight, quota) with
    * Σ weight = 1 and quota = round(budget · weight). One hash aggregate
    * over the corpus; the normalization window runs on the GROUP table
    * (|groups| rows — languages/sources, bounded), so the single-partition
    * exchange it needs is constant-size at any corpus scale. Feed the
    * weights to [[assignCopies]] (broadcast join back on the group key)
    * to materialize the schedule.
    */
  def temperatureWeights(
      df: DataFrame, groupCols: Seq[Column], alpha: Double,
      budget: Long): DataFrame = {
    val counts = df.groupBy(groupCols: _*).agg(count(lit(1)).as("n_docs"))
    // alpha = 0.5 → sqrt: IEEE-754 correctly-rounded (identical bits in
    // every engine), where pow carries libm ulp slop — so the portable
    // square-root-sampling temperature is the oracle-checkable default.
    // The normalizer sums DECIMAL so it is partition-order invariant, and
    // rides a 1-row broadcast (q54's global-agg pattern) rather than a
    // single-partition window — PlanGuardSpec forbids those.
    val p = if (alpha == 0.5) sqrt(col("n_docs").cast("double"))
      else pow(col("n_docs").cast("double"), lit(alpha))
    val z = counts.agg(sum(p.cast("decimal(28,12)")).as("__z"))
    counts.crossJoin(broadcast(z))
      .withColumn("weight", p / col("__z").cast("double"))
      .withColumn("quota", round(col("weight") * budget, 0).cast("long"))
      .drop("__z")
  }

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** EXACT α = 0.5 temperature allocation with largest-remainder
    * (Hamilton) apportionment — the production twin of
    * [[temperatureWeights]]: that one publishes float weights and
    * per-group ROUNDED quotas (which need not sum to the budget); this
    * one keeps the whole schedule on the integer surface and guarantees
    * Σ quota = budget STRUCTURALLY, so the downstream sampler never has
    * to reconcile an off-by-k schedule.
    *
    * Weights: w_g = isqrt(n_g · 10¹²) — the exact integer square root
    * (≡ floor(10⁶·√n_g)), computed as a float seed + a ±2 exact-decimal
    * correction (fail-loud, [[EvalMetrics.withIsqrt]]) so both engines
    * land the same integer no matter how their sqrt rounds. Quotas:
    * base_g = floor(B·w_g / W), then the B − Σ base leftovers (always
    * < #groups) go to the largest remainders B·w_g mod W, ties on the
    * group key ascending.
    *
    * Scale posture: ONE count aggregation over the corpus; every later
    * frame is group-bounded (the remainder rank is a broadcast
    * triangular self-join on the group table — no unpartitioned
    * window). Envelope: B·w ≤ 1e38 needs B·√n ≤ 1e32 — unreachable.
    *
    * @return (g…, n_docs, w_sqrt, base_quota, quota, share) with
    *         share = quota/B micro-rounded and Σ quota = B exactly
    */
  def temperatureAllocationExact(df: DataFrame, groupCols: Seq[Column],
      budget: Long): DataFrame = {
    require(groupCols.nonEmpty, "needs >= 1 group column")
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import graft.operators.EvalMetrics.{idivPos, microRound6, withIsqrt}
    val counts = df.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_docs")).localCheckpoint()
    val gNames = counts.columns.dropRight(1).toSeq
    val weighted = withIsqrt(counts,
      dec(col("n_docs")) * 1000000000000L, "w_sqrt", "temperature")
    val z = weighted.agg(sum(dec(col("w_sqrt"))).as("__W"))
    val alloc = weighted.crossJoin(broadcast(z))
      .withColumn("base_quota",
        when(col("__W") > 0,
          idivPos(dec(col("w_sqrt")) * budget, col("__W")))
          .otherwise(0L))
      .withColumn("__rem",
        when(col("__W") > 0,
          pmod(dec(col("w_sqrt")) * budget, col("__W")))
          .otherwise(lit(0L).cast("decimal(38,0)")))
      .localCheckpoint()
    // remainder rank via a broadcast triangular self-join on the
    // group-bounded table (the q187/q200 pattern — no global window);
    // the group key string is the deterministic tiebreak
    val keyStr = concat_ws("", gNames.map(col): _*)
    val peers = alloc.select(keyStr.as("__k2"), col("__rem").as("__r2"))
    val ranked = alloc.withColumn("__k", keyStr)
      .join(broadcast(peers),
        col("__r2") > col("__rem") ||
          (col("__r2") === col("__rem") && col("__k2") < col("__k")),
        "left")
      .groupBy((gNames.map(col) ++ Seq(col("n_docs"), col("w_sqrt"),
        col("base_quota"), col("__rem"))): _*)
      .agg(count(col("__k2")).as("__ahead"))
    val leftover = alloc
      .agg((lit(budget) - sum(col("base_quota"))).as("__L"))
    ranked.crossJoin(broadcast(leftover))
      .select((gNames.map(col) ++ Seq(col("n_docs"), col("w_sqrt"),
        col("base_quota"),
        (col("base_quota") +
          when(col("__ahead") < col("__L"), 1L).otherwise(0L)).as("quota"),
        (microRound6(
          col("base_quota") +
            when(col("__ahead") < col("__L"), 1L).otherwise(0L),
          lit(math.max(budget, 1L))).cast("double") / 1e6).as("share"))): _*)
  }
}
