package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling / dataset splitting for
  * training pipelines. The split of a row depends ONLY on its id — not on
  * partitioning, row order, executor count, or Spark's RNG — so the same
  * row lands in the same split on a laptop and on a 1000-executor cluster,
  * across reruns, and in any other engine that can do modular arithmetic
  * (the DuckDB oracle computes the identical assignment, q66).
  *
  * Hash: Fibonacci multiplicative hashing, `((id mod P) * K) mod P mod B`
  * with P = 2^31 − 1 (Mersenne prime) and K = 2654435761 (Knuth's
  * golden-ratio constant). Intermediates stay below 2^63 (P·K < 5.7e18) —
  * no overflow under ANSI mode, no wrap-around dependence. This is a
  * narrow map-side projection: no shuffle, no state, fully codegen'd.
  */
object Sampling {

  val Prime = 2147483647L // 2^31 - 1
  val Knuth = 2654435761L // floor(2^32 / golden ratio)

  /** Stable bucket in [0, buckets) for an integral id. `salt` decorrelates
    * independent splits drawn over the same ids (e.g. a second holdout) by
    * selecting a DIFFERENT multiplier — an additive salt would only shift
    * the hash (`h_salt = h_0 + c mod P`), leaving bucket agreement between
    * two salts highly structured; distinct multipliers equidistribute
    * (measured ~1/buckets agreement). salt = 0 is exactly the Knuth hash
    * the q66 oracle mirrors.
    */
  def hashBucket(id: Column, buckets: Int, salt: Long = 0L): Column = {
    require(buckets > 0, "buckets must be positive")
    val multiplier = saltedMultiplier(salt, Prime)
    pmod(pmod(pmod(id, lit(Prime)) * lit(multiplier), lit(Prime)), lit(buckets))
  }

  /** The salted-multiplier derivation shared by every decorrelated hash
    * row in the repo: `Knuth·(2·salt+1) mod prime`, falling back to the
    * raw Knuth constant when `2·salt+1 ≡ 0 (mod prime)` degenerates.
    * Also the count-min depth stream (Sketches.cmMultipliers).
    */
  def saltedMultiplier(salt: Long, prime: Long): Long = {
    val m = ((BigInt(Knuth) * (2 * BigInt(salt) + 1)) mod BigInt(prime)).toLong
    if (m == 0L) Knuth else m
  }

  /** Adds `bucket` and `split` columns. `weights` are integer shares of
    * `buckets` in declaration order, e.g. Seq(train→80, val→10, test→10)
    * with buckets=100.
    */
  private def splitFromBucket(
      weights: Seq[(String, Int)], buckets: Int): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    require(weights.map(_._2).sum == buckets,
      s"weights must sum to buckets=$buckets (got ${weights.map(_._2).sum})")
    val thresholds = weights.scanLeft(0)(_ + _._2).tail
    weights.zip(thresholds).foldLeft(lit(null).cast("string")) {
      case (acc, ((name, _), cum)) =>
        coalesce(acc, when(col("bucket") < cum, lit(name)))
    }
  }

  def hashSplit(
      df: DataFrame, id: Column, weights: Seq[(String, Int)],
      buckets: Int = 100, salt: Long = 0L): DataFrame =
    df.withColumn("bucket", hashBucket(id, buckets, salt))
      .withColumn("split", splitFromBucket(weights, buckets))

  /** Anti-leakage split: the split is a FUNCTION of a string group key
    * (domain, repository, author) — no group ever straddles
    * train/val/test. This is the property a per-row hash split cannot
    * give: near-duplicate documents cluster WITHIN groups (mirrors,
    * re-crawls, forks), and a row-level split leaks them across the
    * train/eval boundary. Same bucket arithmetic as [[hashSplit]] over
    * the portable poly31 string hash, so the oracle replays every
    * assignment; still a narrow map-side projection — the group key is
    * hashed in place, never shuffled or joined.
    */
  def groupAwareSplit(
      df: DataFrame, group: Column, weights: Seq[(String, Int)],
      buckets: Int = 100, salt: Long = 0L): DataFrame = {
    val h = graft.functions.PolyHash.polyStringHash(group)
    df.withColumn("bucket", hashBucket(h, buckets, salt))
      .withColumn("split", splitFromBucket(weights, buckets))
  }

  /** Efraimidis–Spirakis (2006) weighted sampling WITHOUT replacement,
    * deterministic: row i draws u_i ∈ (0,1] from the seeded hash of its
    * id (20 fixed-point bits) and the k rows with the largest
    * u_i^(1/w_i) are the sample — ranked equivalently by
    * key_i = log2(u_i)/w_i. log2(u) is an exact integer
    * ([[graft.functions.Log2Fixed]]: log2fp(h+1) − 20·2^20) and the ONE
    * division by the integer per-mille weight yields the same IEEE
    * double on every engine, so the q170 oracle replays the exact
    * ranking. Rows with null or non-positive weight never enter the
    * sample. Selection rides [[Ranking.globalTopK]] — a zero-exchange
    * per-partition prune then a bounded rank, no full sort at any k.
    */
  def weightedSample(df: DataFrame, idCol: Column, weightPermille: Column,
      k: Int, salt: Long = 0L, keyCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = hashBucket(idCol, 1 << 20, salt)
    val lg = graft.functions.Log2Fixed.expr(h + 1) -
      lit(20L * graft.functions.Log2Fixed.One)
    val keyed = df.withColumn("__wkey",
      when(weightPermille > 0, lg.cast("double") / weightPermille))
    val out = Ranking.globalTopK(keyed.filter(col("__wkey").isNotNull),
      Seq(col("__wkey").desc, idCol.asc), k)
    keyCol match {
      case Some(name) => out.withColumnRenamed("__wkey", name)
      case None => out.drop("__wkey")
    }
  }

  /** Keeps ~`fraction` of rows, deterministically by id. The threshold is
    * `round(fraction·buckets)` — truncation would undershoot on inexact
    * doubles (0.29·10000 = 2899.999…), diverging from Mixture's fractional
    * rule over the same buckets.
    */
  def systematicSample(
      df: DataFrame, id: Column, fraction: Double,
      buckets: Int = 10000, salt: Long = 0L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(hashBucket(id, buckets, salt) < math.round(fraction * buckets))
  }

  /** Per-stratum fractions via Spark's `sampleBy` (seeded Bernoulli —
    * deterministic for a fixed seed+partitioning but engine-specific, so
    * spec-verified rather than oracle-checked).
    */
  def stratified(
      df: DataFrame, stratum: String, fractions: Map[String, Double],
      seed: Long): DataFrame =
    df.stat.sampleBy(stratum, fractions, seed)

  /** Exactly `k` rows per group (fewer if the group is smaller), chosen by
    * hash order of the id — a deterministic, engine-independent quota
    * sample ("500 docs per language") that any SQL engine reproduces, and
    * which compiles to WindowGroupLimit: only k rows per group survive the
    * exchange, not whole groups.
    */
  def kPerGroup(
      df: DataFrame, groupCols: Seq[Column], id: Column, k: Int,
      buckets: Int = 1 << 20, salt: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(groupCols: _*)
          .orderBy(hashBucket(id, buckets, salt).asc, id.asc)))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }
}
