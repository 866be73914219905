package graft.operators

import graft.functions.Log2Fixed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation and audit metrics over pipeline outputs — the statistics a
  * training-data platform publishes about its OWN artifacts: retrieval
  * quality (nDCG/recall/RR of a ranker against a gold set), inter-rater
  * agreement between quality filters (Cohen's kappa), and classifier
  * calibration (ECE). Every metric is computed in exact integer/fixed-point
  * arithmetic (Log2Fixed for the DCG discounts, micro-unit half-away-from-
  * zero rounding for every displayed ratio) so the whole surface sits on
  * the DuckDB oracle — float-accumulated metrics never hash-match across
  * engines.
  */
object EvalMetrics {

  private[operators] def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** floor(x / y), x >= 0, y > 0. Envelope: the numerator is exact to
    * decimal(38,0) ≈ 1e38, but the quotient passes through Spark decimal
    * '/' whose result type is decimal(38,6) — an integer quotient above
    * ~1e32 overflows THERE, before the final long cast (~9.2e18) even
    * applies. Both ceilings fail loud under ANSI; the binding one for
    * this helper is the long cast.
    */
  private[graft] def idivPos(x: Column, y: Column): Column =
    ((dec(x) - pmod(dec(x), dec(y))) / dec(y)).cast("long")

  /** round(num/den * 1e6), half away from zero, DECIMAL(38,0) internals —
    * the portable-rounding convention (engine ROUND on a double quotient
    * diverges at representation boundaries; a long-built numerator would
    * wrap at ~1e13 on corpus-scale counts). den > 0. Envelope: the
    * 2·|num|·1e6 + den numerator must fit 1e38 AND the micro quotient a
    * long (see [[idivPos]] — the decimal-'/' intermediate holds to ~1e32,
    * wider than the long cast; all overflows are loud under ANSI).
    */
  private[graft] def microRound6(num: Column, den: Column): Column = {
    val a = dec(abs(num)) * 2000000L + dec(den)
    val b = dec(den) * 2L
    val q = ((a - pmod(a, b)) / b).cast("long")
    when(num < 0, -q).otherwise(q)
  }

  /** Appends `out` = isqrt(radicand >= 0) as a long: a float seed plus a
    * ±2 exact-DECIMAL correction (every engine lands the same integer),
    * failing loud ("<what> isqrt seed off") if the seed misses — it cannot
    * for roots below 2⁵². The radicand (__t), seed (__s0) and root each
    * sit behind an explode(array(…)) Generate barrier, evaluated ONCE per
    * row (why: wilsonLowerBound).
    */
  private[graft] def withIsqrt(df: DataFrame, radicand: Column, out: String,
      what: String): DataFrame = {
    require(!df.columns.exists(Seq("__t", "__s0", out).contains),
      s"input carries an isqrt working column: ${df.columns.mkString(", ")}")
    def once(d: DataFrame, name: String, e: Column) =
      d.withColumn(name, explode(array(e)))
    def sq(c: Column) = dec(c) * dec(c)
    val (v, s0, rt) = (col("__t"), col("__s0"), col(out))
    val seeded = once(once(df, "__t", dec(radicand)), "__s0",
      floor(sqrt(v.cast("double"))).cast("long"))
    once(seeded, out, when(sq(s0 + 2) <= v, s0 + 2)
        .when(sq(s0 + 1) <= v, s0 + 1)
        .when(sq(s0) <= v, s0)
        .when(sq(s0 - 1) <= v, s0 - 1)
        .otherwise(s0 - 2))
      .filter(when(sq(rt) <= v && sq(rt + 1) > v, lit(true))
        .otherwise(raise_error(concat(lit(s"$what isqrt seed off: "),
          s0.cast("string"))).cast("boolean")))
      .drop("__t", "__s0")
  }

  /** micro long -> displayed double (micro/1e6 is the same IEEE double in
    * every engine). */
  private def asRatio(micro: Column): Column = micro.cast("double") / 1e6

  /** DCG discount weight at rank r in micro units:
    * floor(1e6 * 2^20 / log2fp(r + 1)) — exact integers end to end, so
    * w(1) = 1e6 and the oracle replays the same LUT interpolation.
    */
  private def rankWeight(r: Column): Column =
    idivPos(lit(1000000L * Log2Fixed.One), Log2Fixed.expr(r.cast("long") + 1))

  /** Per-query ranking quality against a binary-relevance gold set:
    * recall@k, reciprocal rank of the first relevant hit, and nDCG@k
    * (binary gains, log2 discount). Queries with an empty gold set report
    * null metrics — there is nothing to normalize against.
    *
    * Inputs: `ranked` = (query_id, doc_id, rnk) with rnk 1-based;
    * `gold` = (query_id, doc_id). Rows of `ranked` beyond rank k are
    * ignored.
    *
    * The output has one row per query id appearing in `ranked` OR `gold`
    * — a query the ranker returned nothing for still reports its zeros
    * (dropping it would overstate mean quality by excluding exactly the
    * worst queries).
    *
    * Scale posture: the ranked side is |queries|*k rows and rides a
    * broadcast into the gold join — the (possibly corpus-sized) gold
    * frame is never shuffled on the pair key; the ideal-DCG runs as a
    * per-row fold over min(n_gold, k) terms. Per-query aggregates are
    * |queries|-bounded. Both inputs are consumed twice (hits + counts /
    * universe), so both are localCheckpoint-materialized — an
    * unmaterialized gold plan would re-run its whole upstream subtree
    * (in q220, a corpus tokenize + three joins) per consumer.
    */
  def rankingMetrics(ranked: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rankedK = ranked.select(col("query_id"), col("doc_id"),
      col("rnk").cast("long").as("rnk")).filter(col("rnk") <= k)
      .localCheckpoint()
    val goldM = gold.localCheckpoint()
    val hits = goldM.join(broadcast(rankedK), Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("__nh"),
        sum(rankWeight(col("rnk"))).as("__dcg"),
        min(col("rnk")).as("__minrnk"))
    val goldN = goldM.groupBy(col("query_id")).agg(count(lit(1)).as("n_gold"))
    val idcg = aggregate(
      sequence(lit(1L), least(col("n_gold"), lit(k.toLong))),
      lit(0L), (acc, i) => acc + rankWeight(i))
    rankedK.select(col("query_id"))
      .union(goldM.select(col("query_id"))).distinct()
      .join(goldN, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("__nh"), lit(0L)).as("n_hits"),
        col("__dcg"), col("__minrnk"))
      .select(
        col("query_id"), col("n_gold"), col("n_hits"),
        when(col("n_gold") > 0,
          asRatio(microRound6(col("n_hits"), col("n_gold"))))
          .as("recall_at_k"),
        when(col("n_gold") > 0,
          coalesce(asRatio(microRound6(lit(1L), col("__minrnk"))), lit(0.0)))
          .as("rr"),
        when(col("n_gold") > 0,
          asRatio(microRound6(coalesce(col("__dcg"), lit(0L)), idcg)))
          .as("ndcg_at_k"))
  }

  /** Cohen's kappa between two binary raters (0/1 columns) — the
    * agreement-beyond-chance statistic for a pair of quality filters or
    * annotators: kappa = (N*agree - sum r_i*c_i) / (N^2 - sum r_i*c_i),
    * an exact integer rational from the confusion counts. Null when the
    * chance term equals N^2 (a constant rater — kappa undefined).
    * One row out; one 4-counter aggregation in (map-side combined).
    */
  def cohenKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val a = aCol.cast("long")
    val b = bCol.cast("long")
    def cnt(av: Int, bv: Int) =
      sum(when(a === av && b === bv, 1L).otherwise(0L))
    val counts = df.agg(
      cnt(1, 1).as("n11"), cnt(1, 0).as("n10"),
      cnt(0, 1).as("n01"), cnt(0, 0).as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val chance = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))
    val num = n * (col("n11") + col("n00")) - chance
    val den = n * n - chance
    counts.select(col("n11"), col("n10"), col("n01"), col("n00"),
      when(den =!= 0, asRatio(microRound6(num, den))).as("kappa"))
  }

  /** Two-proportion z-test as its square (the chi-square form — squaring
    * clears the square root, so the statistic is an exact integer
    * rational and sits on the oracle surface):
    * z^2 = (cA*nB - cB*nA)^2 * N / (nA * nB * c * (N - c)), with
    * c = cA + cB, N = nA + nB — the A/B-test gate a warehouse runs on
    * conversion rates. `significant` compares the UNROUNDED rational to
    * the 95% chi-square critical value 3.841459 in cross-multiplied
    * exact integers (never the rounded display value). Null z^2 when an
    * arm is empty or conversions are all/none (variance 0).
    * One 4-counter aggregation; one row out. Envelope: num^2*N*1e6 must
    * fit DECIMAL(38,0) — exact to ~1e6 users per arm at a 10pp gap
    * (num < ~1.6e12); beyond, the ANSI session throws
    * SparkArithmeticException (and the HUGEINT oracle errors too) —
    * never a silently wrong verdict. Subsample arms past that.
    */
  def twoProportionTest(df: DataFrame, isB: Column,
      converted: Column): DataFrame = {
    val b = isB.cast("long")
    val conv = converted.cast("long")
    val counts = df.agg(
      sum(lit(1L) - b).as("n_a"), sum((lit(1L) - b) * conv).as("conv_a"),
      sum(b).as("n_b"), sum(b * conv).as("conv_b"))
    val n = col("n_a") + col("n_b")
    val c = col("conv_a") + col("conv_b")
    // widen BEFORE multiplying: per-factor DECIMAL keeps the products
    // exact to 1e38; under the ANSI session a breach throws loudly
    val num = dec(col("conv_a")) * dec(col("n_b")) -
      dec(col("conv_b")) * dec(col("n_a"))
    val den = dec(col("n_a")) * dec(col("n_b")) * dec(c) * dec(n - c)
    val defined = col("n_a") > 0 && col("n_b") > 0 && c > 0 && c < n
    counts.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(col("n_a") > 0,
        asRatio(microRound6(col("conv_a"), col("n_a")))).as("rate_a"),
      when(col("n_b") > 0,
        asRatio(microRound6(col("conv_b"), col("n_b")))).as("rate_b"),
      when(defined,
        asRatio(microRound6(num * num * dec(n), den))).as("z2"),
      when(defined,
        when(num * num * dec(n) * 1000000L > den * 3841459L, 1).otherwise(0))
        .as("significant"))
  }

  /** Mann–Whitney U rank-sum test per group — the nonparametric A/B
    * companion to [[twoProportionTest]] (that one gates conversion RATES;
    * this one gates a continuous metric without assuming normality).
    * Tie-corrected, exact to the end: with c(v) the combined count at
    * value v and cum0(v) the count strictly below, 2·avgRank(v) =
    * 2·cum0 + c + 1 is an integer, so 2·R_A and 2·U_A are exact; the
    * z² statistic (squared normal approximation — squaring clears the
    * square root, the [[twoProportionTest]] trick) is the exact rational
    * 3·(2U − n_A·n_B)² over idiv(n_A·n_B·(n(n−1)(n+1) − Σ(t³−t)),
    * n(n−1)) — the single truncating division is replicated verbatim in
    * the oracle, so parity is bit-exact. Null z² when an arm is empty or
    * every value ties (variance 0). `significant` compares the unrounded
    * rational to the 95% normal² = chi-square(1) critical value 3.841459
    * in cross-multiplied integers.
    *
    * `groupCols` must be non-empty plain column references (same
    * unpartitioned-window argument as `Drift.ksTest`).
    *
    * Scale posture: one (group, value) count aggregation (map-side
    * combined) then a group-keyed running-sum window over DISTINCT
    * values. Envelope: 3·(2U−n_An_B)² ≤ 3n⁴ and the variance product
    * ≤ n⁵ hold DECIMAL(38,0)-exact to ~4·10⁷ rows per group; the
    * displayed `tie_cubes` long additionally binds when ONE value ties
    * ~2.1·10⁶ times (t³ > 2⁶³). Past either bound both engines fail
    * loud (ANSI / HUGEINT) — subsample arms past that.
    */
  def mannWhitneyU(df: DataFrame, groupCols: Seq[Column], isB: Column,
      valueCol: Column): DataFrame =
    mwCore(df, groupCols, isB, valueCol).drop("__u2a")

  /** [[mannWhitneyU]] plus the EXACT integral 2·U_A as decimal `__u2a` —
    * the column [[aucFromScores]] consumes so AUC never round-trips U
    * through the displayed double (which would cap exactness at
    * 2U ≤ 2⁵³ for no reason).
    */
  private def mwCore(df: DataFrame, groupCols: Seq[Column], isB: Column,
      valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "mannWhitneyU needs >= 1 group column (see scaladoc)")
    val reserved = Seq("n_a", "n_b", "u_a", "tie_cubes", "z2", "significant")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    import org.apache.spark.sql.expressions.Window
    val b = isB.cast("long")
    val c = df.filter(valueCol.isNotNull)
      .groupBy((groupCols :+ valueCol.cast("long").as("__v")): _*)
      .agg(sum(lit(1L) - b).as("__a"), sum(b).as("__b"))
    val w = Window.partitionBy(groupCols: _*)
    val tie = col("__a") + col("__b")
    val cum0 = coalesce(sum(tie).over(w.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val g = c.withColumn("__r2", cum0 * 2 + tie + 1)
      .groupBy(groupCols: _*)
      .agg(sum(col("__a")).as("n_a"), sum(col("__b")).as("n_b"),
        sum(dec(col("__a")) * dec(col("__r2"))).as("__r2a"),
        sum(dec(tie) * dec(tie) * dec(tie) - dec(tie)).as("__t3"))
    val nA = col("n_a"); val nB = col("n_b"); val n = nA + nB
    val u2a = col("__r2a") - dec(nA) * dec(nA + 1) // exact 2·U_A
    val diff = u2a - dec(nA) * dec(nB)             // exact 2·(U_A − μ)
    val varFull = dec(nA) * dec(nB) *
      (dec(n) * dec(n - 1) * dec(n + 1) - col("__t3"))
    // the one inexact step, truncation error < 1 on a ≥ n_An_B-sized
    // denominator — replicated with the same idiv in the oracle
    val varRed = idivPos(varFull, dec(n) * dec(n - 1))
    val z2num = lit(3L) * diff * diff
    val defined = nA > 0 && nB > 0 && varFull > 0
    g.select((groupCols ++ Seq(nA, nB,
      (u2a.cast("double") / 2).as("u_a"),
      col("__t3").cast("long").as("tie_cubes"),
      when(defined, asRatio(microRound6(z2num, dec(varRed)))).as("z2"),
      when(defined,
        when(z2num * 1000000L > dec(varRed) * 3841459L, 1).otherwise(0))
        .as("significant"),
      u2a.as("__u2a"))): _*)
  }

  /** Kruskal–Wallis rank test per group — the k-arm generalization of
    * [[mannWhitneyU]] (the one-way "did ANY arm's distribution shift?"
    * gate an experiment platform runs before pairwise drill-downs; with
    * exactly 2 arms H equals the MW z², spec-pinned): combined tie-
    * averaged ranks over all arms (2·avgRank = 2·cum0 + c + 1, integral
    * as in MW), per-arm rank sums 2R_j, then
    * H = 12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1), tie-corrected by
    * (N³−N)/((N³−N) − Σ(t³−t)). Each per-arm fraction (2R_j)²/(4n_j) is
    * micro-rounded before the sum (the chi-square summed-rounded-terms
    * convention), and the tie factor is micro-quantized before it
    * scales the denominator (multiplying the exact N³ factors through
    * would overflow DECIMAL(38,0) at ~10⁴ rows/group; the quantized
    * form is deterministic on both engines and sits within ~1e-6
    * relative of exact) — every division is replicated verbatim in the
    * oracle.
    * `dof` = arms − 1 rides along for the reader's chi-square lookup
    * (variable dof — no baked critical value, the
    * [[chiSquareIndependence]] precedent). Null h when n < 2, fewer
    * than 2 arms, or every value tied (zero variance).
    *
    * Scale posture: one (group, arm, value) count aggregation (map-side
    * combined), a (group, value) marginal for the shared ranks (one
    * group-keyed running window over DISTINCT values), one join back on
    * (group, value), and group/arm-bounded aggregates after. Envelope:
    * the binding term is the per-arm (2R_j)² ≤ 4N⁴ inside microRound6 —
    * DECIMAL(38,0)-exact to ~1.9·10⁷ rows per group; overflows are loud
    * (ANSI / HUGEINT) — subsample past it.
    *
    * @return (g…, n, k_arms, h, dof)
    */
  def kruskalWallis(df: DataFrame, groupCols: Seq[Column], armCol: Column,
      valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "kruskalWallis needs >= 1 group column (see mannWhitneyU)")
    val reserved = Seq("n", "k_arms", "h", "dof")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    import org.apache.spark.sql.expressions.Window
    val c1 = df.filter(valueCol.isNotNull && armCol.isNotNull)
      .groupBy((groupCols ++ Seq(armCol.as("__arm"),
        valueCol.cast("long").as("__v"))): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(groupCols: _*)
    // (group, value) marginal: the shared rank base and the tie counts
    val cv = c1.groupBy((groupCols :+ col("__v")): _*)
      .agg(sum(col("__c")).as("__t"))
      .withColumn("__cum0", coalesce(sum(col("__t")).over(
        w.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val gNamesJoin = cv.select(groupCols: _*).columns.toSeq :+ "__v"
    val ranked = c1.join(cv, gNamesJoin)
      .withColumn("__r2", col("__cum0") * 2 + col("__t") + 1)
    // per-arm: n_j and the integral 2R_j; per-arm micro term
    // (2R_j)²/(4n_j) rounded before the sum
    val arms = ranked
      .groupBy((groupCols :+ col("__arm")): _*)
      .agg(sum(col("__c")).as("__nj"),
        sum(dec(col("__c")) * dec(col("__r2"))).as("__r2j"))
      .withColumn("__mj",
        microRound6(col("__r2j") * col("__r2j"), dec(col("__nj")) * 4))
    val ties = cv.groupBy(groupCols: _*)
      .agg(sum(dec(col("__t")) * dec(col("__t")) * dec(col("__t")) -
        dec(col("__t"))).as("__tc"))
    val g = arms.groupBy(groupCols: _*)
      .agg(sum(col("__nj")).as("n"), count(lit(1)).as("k_arms"),
        sum(col("__mj")).as("__sm"))
      .join(ties, cv.select(groupCols: _*).columns.toSeq)
    val n = col("n")
    val cube = dec(n) * n * n - dec(n) // N³ − N
    val hNum = lit(12L) * dec(col("__sm")) -
      dec(n) * (n + 1) * (n + 1) * 3000000L
    val hDen = dec(n) * (n + 1) * 1000000L
    // tie factor (cube − T)/cube micro-quantized, then folded into the
    // denominator — the two idivs keep every product inside
    // DECIMAL(38,0) to ~10⁷ rows/group (see scaladoc)
    val factorMicro = idivPos((cube - col("__tc")) * 1000000L, cube)
    val den2 = idivPos(hDen * factorMicro, lit(1000000L))
    g.select((groupCols ++ Seq(n, col("k_arms"),
      when(n >= 2 && col("k_arms") >= 2 && cube > col("__tc"),
        when(dec(den2) > 0,
          asRatio(microRound6(hNum, dec(den2))))).as("h"),
      (col("k_arms") - 1).as("dof"))): _*)
  }

  /** Spearman rank correlation per group — the third leg of the
    * correlation family (Pearson = linear association, Kendall/MK =
    * pairwise concordance, Spearman = monotone association): Pearson
    * computed on tie-averaged MIDRANKS, kept exact end to end because
    * 2·midrank is integral (the [[mannWhitneyU]] cum trick, applied to
    * both axes) and Σ(2·midranks) = n(n+1) EXACTLY even under ties —
    * so centering by the exact mean (n+1) makes the covariance and
    * variances plain integer sums. Follows the corrMatrix output
    * convention: the exact ρ² (micro-rounded) plus the covariance sign
    * — the sqrt is the reader's; ρ² and sign carry every decision a
    * threshold makes. Null when either axis is constant (zero rank
    * variance).
    *
    * Scale posture: one (group, x) and one (group, y) count
    * aggregation, each with a group-keyed running window over DISTINCT
    * values, joined back on the narrow (group, value) keys; one
    * five-sum aggregation after. Envelope: centered 2-rank products
    * sum to ≤ n³, so ρ²'s cross-product n⁶·2·10⁶ binds DECIMAL(38,0)
    * at ~1.9·10⁵ rows per group — loud past it (ANSI / HUGEINT);
    * pre-aggregate the series grain (the q268 daily shape) or
    * subsample beyond.
    *
    * @return (g…, n, rho_sign, rho2)
    */
  def spearman(df: DataFrame, groupCols: Seq[Column], xCol: Column,
      yCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "spearman needs >= 1 group column (see mannWhitneyU)")
    val reserved = Seq("n", "rho_sign", "rho2")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select((groupCols ++ Seq(xCol.cast("long").as("__x"),
        yCol.cast("long").as("__y"))): _*)
    val w = Window.partitionBy(groupCols: _*)
    val gJoin = base.select(groupCols: _*).columns.toSeq
    // 2·midrank per distinct value of one axis (2·cum0 + c + 1)
    def ranks(axis: String): DataFrame =
      base.groupBy((groupCols :+ col(axis)): _*)
        .agg(count(lit(1)).as("__c"))
        .withColumn(s"__r$axis",
          coalesce(sum(col("__c")).over(w.orderBy(col(axis))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) * 2 +
            col("__c") + 1)
        .drop("__c")
    val ranked = base
      .join(ranks("__x"), gJoin :+ "__x")
      .join(ranks("__y"), gJoin :+ "__y")
    val agg = ranked.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__r__x")) * dec(col("__r__y"))).as("__sxy"),
        sum(dec(col("__r__x")) * dec(col("__r__x"))).as("__sxx"),
        sum(dec(col("__r__y")) * dec(col("__r__y"))).as("__syy"))
    // exact-mean centering: Σ2r = n(n+1) on both axes, so
    // cov = Σ rx·ry − n(n+1)², var = Σ r² − n(n+1)²
    val m2 = dec(col("n")) * (col("n") + 1) * (col("n") + 1)
    val cov = col("__sxy") - m2
    val vx = col("__sxx") - m2
    val vy = col("__syy") - m2
    agg.select((groupCols ++ Seq(col("n"),
      when(vx > 0 && vy > 0, signum(cov).cast("int")).as("rho_sign"),
      when(vx > 0 && vy > 0,
        asRatio(microRound6(cov * cov, vx * vy))).as("rho2"))): _*)
  }

  /** Gini-impurity information gain of a categorical feature about a
    * binary label — the CART split criterion as a feature audit ("does
    * `lang` carry signal about the keep decision?"): gain =
    * Σ_v (c0_v² + c1_v²)/(N·n_v) − (C0² + C1²)/N², each per-value term
    * an exact integer rational micro-rounded before the sum (the chi-
    * square convention), the parent term exact. Pure rational — no
    * logs, so the whole surface replays in SQL without the fixed-point
    * LUT machinery entropy needs. Output: one row per feature value
    * (v, n, n_pos, gini — the value's own impurity, 6 dp) with the
    * table-level `gain` and the parent impurity `gini_parent` repeated
    * from a one-row broadcast. Null-feature or null-label rows are
    * excluded.
    *
    * Scale posture: one (feature value) count aggregation over the
    * input (map-side combined, the only row-weight exchange);
    * everything after is value-bounded. Envelope: N·n_v products and
    * C² terms hold DECIMAL(38,0)-exact to ~10¹⁵ rows — unreachable.
    *
    * @return (v, n, n_pos, gini, gini_parent, gain)
    */
  def giniGain(df: DataFrame, featureCol: Column,
      labelCol: Column): DataFrame = {
    val cells = df.filter(featureCol.isNotNull && labelCol.isNotNull)
      .groupBy(featureCol.as("v"))
      .agg(count(lit(1)).as("n"), sum(labelCol.cast("long")).as("n_pos"))
      .localCheckpoint() // value-bounded; feeds per-value rows + totals
    val c0 = col("n") - col("n_pos")
    // per-value impurity 1 − (c0² + c1²)/n² and the micro child term
    // (c0² + c1²)/(N·n_v)
    val sq = dec(c0) * dec(c0) + dec(col("n_pos")) * dec(col("n_pos"))
    val totals = cells.agg(sum(col("n")).as("__N"),
      sum(col("n_pos")).as("__P"))
    val withN = cells.crossJoin(broadcast(totals))
      .withColumn("__tm", microRound6(sq, dec(col("__N")) * dec(col("n"))))
      .localCheckpoint() // feeds per-value rows + the gain total
    val p0 = col("__N") - col("__P")
    val parentSq = dec(p0) * dec(p0) + dec(col("__P")) * dec(col("__P"))
    val gain = withN
      .agg(sum(col("__tm")).as("__s"), max(col("__N")).as("__N2"),
        max(col("__P")).as("__P2"))
      .select(
        ((col("__s") - microRound6(
          dec(col("__N2") - col("__P2")) * dec(col("__N2") - col("__P2")) +
            dec(col("__P2")) * dec(col("__P2")),
          dec(col("__N2")) * dec(col("__N2"))))
          .cast("double") / 1e6).as("gain"),
        asRatio(microRound6(
          dec(col("__N2")) * dec(col("__N2")) -
            (dec(col("__N2") - col("__P2")) * dec(col("__N2") - col("__P2")) +
              dec(col("__P2")) * dec(col("__P2"))),
          dec(col("__N2")) * dec(col("__N2")))).as("gini_parent"))
    withN.select(col("v"), col("n"), col("n_pos"),
        asRatio(microRound6(dec(col("n")) * dec(col("n")) - sq,
          dec(col("n")) * dec(col("n")))).as("gini"))
      .crossJoin(broadcast(gain))
  }

  /** ROC AUC per group via the rank-sum identity: AUC =
    * (#(score_pos > score_neg) + ½·ties) / (n_pos·n_neg) — exactly the
    * tie-averaged Mann–Whitney U, so this delegates to [[mannWhitneyU]]
    * (label = 1 is arm B) and inherits its exactness end to end: auc is
    * the micro-rounded exact rational (2·n_pos·n_neg − 2·U_neg) /
    * (2·n_pos·n_neg), recovered from the integral 2U. The z²/significant
    * columns gate "discriminates better than chance" — the same test,
    * read as a ROC statement. Null auc when either class is absent.
    * Exact end to end: 2U arrives as the integral decimal the rank
    * pipeline computed (never round-tripped through the displayed
    * double u_a), so the envelope is mannWhitneyU's own, not 2⁵³.
    *
    * @return (g…, n_neg, n_pos, auc, z2, significant)
    */
  def aucFromScores(df: DataFrame, groupCols: Seq[Column],
      labelCol: Column, scoreCol: Column): DataFrame = {
    val mw = mwCore(df, groupCols, labelCol.cast("long") === 1,
      scoreCol)
    val prod2 = dec(col("n_a")) * dec(col("n_b")) * 2
    val u2b = prod2 - col("__u2a")
    mw.select((groupCols ++ Seq(col("n_a").as("n_neg"),
      col("n_b").as("n_pos"),
      when(col("n_a") > 0 && col("n_b") > 0,
        asRatio(microRound6(u2b, prod2))).as("auc"),
      col("z2"), col("significant"))): _*)
  }

  /** Brier score per group — the squared-error leg of the classifier-
    * eval suite (ECE says whether the confidences are honest, AUC
    * whether they discriminate, Brier both at once as one proper
    * scoring rule): mean over rows of (conf − y)² with conf the exact
    * rational confNum/confDen, collapsed to ONE integer numerator
    * Σ(confNum − y·confDen)² over N·confDen² and micro-rounded.
    *
    * Rows with a null confidence or label are EXCLUDED from both the
    * numerator and n (the sibling-operator convention — counting them
    * in n while the null error term skips the sum would silently
    * deflate the score).
    *
    * Scale posture: one count/sum aggregation over the input, map-side
    * combined; groups-bounded output. Envelope: Σ(confNum−y·confDen)²
    * ≤ N·confDen² must fit DECIMAL(38,0) — ~10²⁵ rows at confDen 2·10⁶,
    * unreachable; overflows are loud.
    *
    * @return (g…, n, brier)
    */
  def brierScore(df: DataFrame, groupCols: Seq[Column], confNum: Column,
      confDen: Long, labelCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "brierScore needs >= 1 group column")
    require(confDen > 0, s"confDen must be positive, got $confDen")
    val err = dec(confNum.cast("long") - labelCol.cast("long") * confDen)
    df.filter(confNum.isNotNull && labelCol.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"), sum(err * err).as("__se"))
      .select((groupCols :+ col("n")) :+
        asRatio(microRound6(col("__se"),
          dec(col("n")) * (confDen * confDen))).as("brier"): _*)
  }

  /** Chi-square test of independence between two categorical columns —
    * the categorical-drift / feature-association audit next to the
    * numeric tests: χ² = Σ over the R×C contingency cells of
    * (N·o − r·c)² / (N·r·c), each term an exact integer rational
    * micro-rounded to 6 dp before the sum (the sum of ROUNDED terms is
    * the published statistic — deterministic on both engines; the exact
    * χ² sits within cells·5e-7 of it). Zero cells (category pairs never
    * observed together) contribute their full expected mass — the cross
    * of the margins is generated, never just the observed cells.
    *
    * Output: one row per contingency cell (x, y, n_obs, expected, term)
    * with the table-level chi2 and dof = (R−1)(C−1) repeated from a
    * one-row broadcast.
    *
    * Scale posture: one (x, y) count aggregation over the input is the
    * only row-weight exchange; margins, the margins cross-join (bounded
    * by the categorical contract — fail-loud past `maxCells` generated
    * cells) and every aggregate after are cell-bounded broadcasts.
    */
  def chiSquareIndependence(df: DataFrame, xCol: Column, yCol: Column,
      maxCells: Long = 1L << 20): DataFrame = {
    val cells = df.filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n_obs"))
      .localCheckpoint() // feeds both margins and the cell join
    val rows = cells.groupBy(col("x")).agg(sum(col("n_obs")).as("__rx"))
    val colsM = cells.groupBy(col("y")).agg(sum(col("n_obs")).as("__cy"))
    // fail-loud BEFORE the margins cross-join fans out, checked driver-
    // side (cells is checkpointed, so the two counts are cell-bounded
    // metadata jobs) — a raise_error guard COLUMN here would only fire
    // if the optimizer happened not to prune it, and only after the
    // R×C expansion already ran
    val nR = rows.count()
    val nC = colsM.count()
    require(nR * nC <= maxCells,
      s"chiSquareIndependence: ${nR * nC} generated cells exceed " +
        s"maxCells=$maxCells — categorical columns only")
    val totals = cells.agg(sum(col("n_obs")).as("__N"))
    val full = rows.crossJoin(broadcast(colsM)) // margins cross: R×C cells
      .join(cells, Seq("x", "y"), "left")
      .select(col("x"), col("y"), col("__rx"), col("__cy"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .crossJoin(broadcast(totals))
    val num = dec(col("__N")) * dec(col("n_obs")) -
      dec(col("__rx")) * dec(col("__cy"))
    val termMicro = microRound6(num * num,
      dec(col("__N")) * dec(col("__rx")) * dec(col("__cy")))
    val terms = full.select(col("x"), col("y"), col("n_obs"),
        microRound6(dec(col("__rx")) * dec(col("__cy")), dec(col("__N")))
          .as("__em"),
        termMicro.as("__tm"))
      .localCheckpoint() // cell-bounded; feeds per-cell rows + the total
    val chi2 = terms.agg(sum(col("__tm")).as("__s"))
      .select((col("__s").cast("double") / 1e6).as("chi2"),
        lit((nR - 1) * (nC - 1)).as("dof"))
    terms.select(col("x"), col("y"), col("n_obs"),
        (col("__em").cast("double") / 1e6).as("expected"),
        (col("__tm").cast("double") / 1e6).as("term"))
      .crossJoin(broadcast(chi2))
  }

  /** Cramér's V — the EFFECT-SIZE companion to [[chiSquareIndependence]]
    * (χ² says "is the association real?", V says "is it big enough to
    * care?" on a scale-free [0, 1] axis — the number a feature audit
    * actually thresholds on): V = sqrt(χ² / (N·min(R−1, C−1))). Computed
    * from the chi-square per-cell frame, so the statistic inherits its
    * summed-rounded-terms determinism; the final sqrt/divide are IEEE
    * exactly-rounded doubles (bit-identical across engines — the
    * trainIvfFixedPoint normalization argument). One summary row:
    * (n, r_cats, c_cats, chi2, dof, v2, v). Null V for a 1×C or R×1
    * table (min(R−1, C−1) = 0 — no association axis to measure).
    *
    * Scale posture: one pass over the cell-bounded chi-square frame on
    * top of chiSquareIndependence's own; nothing new touches row-weight
    * data.
    */
  def cramersV(df: DataFrame, xCol: Column, yCol: Column,
      maxCells: Long = 1L << 20): DataFrame = {
    val cells = chiSquareIndependence(df, xCol, yCol, maxCells)
    cells.agg(
        sum(col("n_obs")).as("n"),
        countDistinct(col("x")).as("r_cats"),
        countDistinct(col("y")).as("c_cats"),
        max(col("chi2")).as("chi2"), max(col("dof")).as("dof"))
      .select(col("n"), col("r_cats"), col("c_cats"), col("chi2"),
        col("dof"),
        when(least(col("r_cats"), col("c_cats")) > 1,
          col("chi2") / (col("n") *
            (least(col("r_cats"), col("c_cats")) - 1)).cast("double"))
          .as("v2"))
      .withColumn("v", sqrt(col("v2")))
  }

  /** Isotonic (monotone non-decreasing) calibration curve over score
    * bins — the remedy for what [[calibrationBins]] diagnoses: the ECE
    * table says WHERE the classifier is miscalibrated, the isotonic fit
    * is the monotone recalibration map you would apply. Computed by the
    * minimax characterization of L2 isotonic regression,
    * fit(k) = max_{i≤k} min_{j≥k} mean(pos_{i..j} / n_{i..j}), on
    * 6-dp-micro-quantized segment means: quantize-then-minimax is
    * deterministic on both engines (fraction comparison needs no
    * cross-multiplication once quantized) and sits within 1e-6 of the
    * exact PAV fit; monotonicity is structural (growing max-set,
    * shrinking min-set in k), so the published curve is always a valid
    * calibration map.
    *
    * Scale posture: binning is one count aggregation over the input
    * (the same shape as [[calibrationBins]]); everything after runs on
    * ≤ nBins rows — the O(B³) minimax expansion is ≤ 64³/6 ≈ 44k tiny
    * rows, window-free, driver-free.
    */
  def isotonicCalibration(df: DataFrame, confNum: Column, confDen: Long,
      labelCol: Column, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 64, s"need 2..64 bins, got $nBins")
    require(confDen > 0, s"confDen must be positive, got $confDen")
    val bin = least(lit(nBins - 1L),
      idivPos(confNum.cast("long") * nBins, lit(confDen)))
    // null confidence/label rows are EXCLUDED (not silently miscounted
    // into a denominator or a ghost null bin — the sibling convention)
    val g = df.filter(confNum.isNotNull && labelCol.isNotNull)
      .select(bin.as("bin"), labelCol.cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__y")).as("__pos"))
      .localCheckpoint() // ≤ nBins rows; feeds segments and the output
    // segment means over every contiguous bin range [i..j]
    val seg = g.select(col("bin").as("__i"))
      .join(broadcast(g.select(col("bin").as("__j"))),
        col("__i") <= col("__j"))
      .join(broadcast(g), col("bin").between(col("__i"), col("__j")))
      .groupBy(col("__i"), col("__j"))
      .agg(microRound6(sum(col("__pos")), sum(col("n_docs"))).as("__rate"))
    // minimax: each segment [i..j] offers its mean to every k it covers;
    // min over j per (i, k), then max over i per k
    val fit = seg
      .select(col("__i"), col("__rate"),
        explode(sequence(col("__i"), col("__j"))).as("__k"))
      .groupBy(col("__i"), col("__k")).agg(min(col("__rate")).as("__m"))
      .groupBy(col("__k")).agg(max(col("__m")).as("__fit"))
    g.join(fit, col("bin") === col("__k"))
      .select(col("bin"), col("n_docs"), col("__pos").as("n_pos"),
        asRatio(microRound6(col("__pos"), col("n_docs"))).as("raw_rate"),
        (col("__fit").cast("double") / 1e6).as("iso_rate"))
  }

  /** Reliability table + expected calibration error for a scored binary
    * outcome. Confidence is the exact rational confNum/confDen in [0,1]
    * (pass the score's native integer numerator — e.g. micro-logit
    * shifted to [0, 2e6] with confDen = 2e6 — so binning and bin means
    * stay on the integer surface). Rows: one per POPULATED bin
    * (bin, n, mean confidence, accuracy, |gap|) plus the corpus-level
    * `ece` repeated per row from a one-row broadcast:
    * ECE = sum_b |pos_b*confDen - sum_conf_b| / (confDen * N) — the
    * n_b/N weighting collapses into one exact integer numerator.
    */
  def calibrationBins(df: DataFrame, confNum: Column, confDen: Long,
      labelCol: Column, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    require(confDen > 0, s"confDen must be positive, got $confDen")
    val bin = least(lit(nBins - 1L),
      idivPos(confNum.cast("long") * nBins, lit(confDen)))
    // the bin table is <= nBins rows but feeds both the ECE total and the
    // per-bin output — materialize it so the (corpus-sized) input plan
    // runs once, not once per consumer
    val g = df.select(bin.as("bin"), confNum.cast("long").as("__cn"),
        labelCol.cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__cn")).as("__sc"),
        sum(col("__y")).as("__pos"))
      .localCheckpoint()
    val gap = abs(col("__pos") * confDen - col("__sc"))
    val total = g.agg(sum(col("n_docs")).as("__n"), sum(gap).as("__g"))
      .select(asRatio(microRound6(col("__g"), col("__n") * confDen)).as("ece"))
    g.select(col("bin"), col("n_docs"),
        asRatio(microRound6(col("__sc"), col("n_docs") * confDen))
          .as("mean_conf"),
        asRatio(microRound6(col("__pos"), col("n_docs"))).as("accuracy"),
        gap.as("gap_num"))
      .crossJoin(broadcast(total))
  }

  /** One-way ANOVA F per group — the PARAMETRIC k-arm companion of
    * [[kruskalWallis]] (that one asks "did any arm's distribution
    * shift?" on ranks; this one asks it on means, and its effect size
    * η² = SSB/SST says how much of the variance the arm explains).
    * Sufficient statistics only: per-arm (n_j, S_j = Σx) plus the group
    * Σx², all exact integers, widened to DECIMAL(38,0) BEFORE any
    * multiply (the q186 discipline). Each between-arm term S_j²/n_j is
    * micro-rounded before the sum (the chi-square convention), so
    * SSB = Σ_j μ(S_j²/n_j) − μ(T²/N) and SSW = 1e6·Q − Σ_j μ(S_j²/n_j)
    * are micro-integer exact; the micro factors cancel inside
    * F = (SSB/(k−1))/(SSW/(N−k)), leaving one displayed micro-rounding.
    * dof1/dof2 ride along for the reader's F lookup (variable dof — no
    * baked critical value, the [[chiSquareIndependence]] precedent).
    * Null f when k < 2, N ≤ k, or SSW ≤ 0 (all arms constant); null
    * eta2 when SST ≤ 0. Null-value/arm rows are excluded from the test.
    *
    * Scale posture: ONE (group, arm) sum/count aggregation over the
    * input (map-side combined — the only row-weight exchange), then
    * arm-bounded aggregates. Envelope: S_j² ≤ (N·maxAbs)² must clear
    * DECIMAL(38,0) through microRound6's ×2e6 — cent-scale values hold
    * to ~10⁹ rows per group with |x| ≤ 10⁷; overflows are loud
    * (ANSI / HUGEINT).
    *
    * @return (g…, n, k_arms, ss_between_micro, ss_within_micro, f,
    *         eta2, dof1, dof2) — the SS columns are exact micro-unit
    *         integers rendered as strings (they exceed 2^53 on corpus-
    *         scale cents, where a double display would stop being
    *         value-exact)
    */
  def anovaF(df: DataFrame, groupCols: Seq[Column], armCol: Column,
      valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "anovaF needs >= 1 group column (see mannWhitneyU)")
    val reserved = Seq("n", "k_arms", "ss_between_micro",
      "ss_within_micro", "f", "eta2", "dof1", "dof2")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    val v = valueCol.cast("long")
    val arms = df.filter(valueCol.isNotNull && armCol.isNotNull)
      .groupBy((groupCols :+ armCol.as("__arm")): _*)
      .agg(count(lit(1)).as("__nj"), sum(dec(v)).as("__sj"),
        sum(dec(v) * dec(v)).as("__qj"))
      .withColumn("__mj",
        microRound6(col("__sj") * col("__sj"), dec(col("__nj"))))
    val g = arms.groupBy(groupCols: _*)
      .agg(sum(col("__nj")).as("n"), count(lit(1)).as("k_arms"),
        sum(dec(col("__sj"))).as("__t"), sum(col("__qj")).as("__q"),
        sum(dec(col("__mj"))).as("__sm"))
    val n = col("n"); val k = col("k_arms")
    val parent = microRound6(col("__t") * col("__t"), dec(n))
    val ssb = col("__sm") - dec(parent)                 // micro units
    val ssw = col("__q") * 1000000L - col("__sm")       // micro units
    val sst = col("__q") * 1000000L - dec(parent)       // micro units
    val fDefined = k >= 2 && n > k && ssw > 0
    // the raw sums of squares can exceed 2^53 micro-units on corpus-
    // scale inputs, where a double cast stops being value-exact — the
    // micro integers render as strings (the q186 moment-stats
    // convention); the reader divides by 1e6
    g.select((groupCols ++ Seq(n, k,
      ssb.cast("string").as("ss_between_micro"),
      ssw.cast("string").as("ss_within_micro"),
      when(fDefined,
        asRatio(microRound6(ssb * dec(n - k), ssw * dec(k - 1)))).as("f"),
      when(sst > 0, asRatio(microRound6(ssb, sst))).as("eta2"),
      (k - 1).cast("long").as("dof1"),
      (n - k).cast("long").as("dof2"))): _*)
  }

  /** McNemar's test per group — the PAIRED companion of [[cohenKappa]]:
    * kappa says whether two binary raters agree; McNemar says whether
    * they DISAGREE asymMETRICALLY (rater B keeps documents rater A
    * drops more often than the reverse — a systematic bias, not noise).
    * Only the discordant counts carry signal: with b = #(a=0, b=1) and
    * c = #(a=1, b=0), the continuity-corrected statistic is
    * (|b−c|−1)²/(b+c), exact integer end to end (the correction is
    * clamped at 0 so b = c reads as exactly no evidence, not the
    * spurious 1/(b+c) the raw Edwards form emits). `significant`
    * compares the unrounded rational to chi-square(1) 3.841459 in
    * cross-multiplied integers, the [[mannWhitneyU]] convention. Null
    * chi2 when b + c = 0 (no disagreements — nothing to test).
    * Null-rater rows are excluded.
    *
    * Scale posture: ONE aggregation pass over the input per group —
    * four conditional sums, map-side combined; nothing after exceeds
    * the group count. Envelope: (|b−c|−1)²·2e6 ≤ 2e6·N² holds
    * DECIMAL(38,0)-exact to ~10¹⁵ rows — unreachable.
    *
    * @return (g…, n, n00, n11, b01, c10, chi2, significant)
    */
  def mcnemar(df: DataFrame, groupCols: Seq[Column], aCol: Column,
      bCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "mcnemar needs >= 1 group column (see mannWhitneyU)")
    val reserved = Seq("n", "n00", "n11", "b01", "c10", "chi2", "significant")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    val a = aCol.cast("long"); val b = bCol.cast("long")
    val g = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        sum((lit(1L) - a) * (lit(1L) - b)).as("n00"),
        sum(a * b).as("n11"),
        sum((lit(1L) - a) * b).as("b01"),
        sum(a * (lit(1L) - b)).as("c10"))
    val d = abs(col("b01") - col("c10"))
    val num = dec(greatest(d - 1, lit(0L)))
    val den = dec(col("b01") + col("c10"))
    g.select((groupCols ++ Seq(col("n"), col("n00"), col("n11"),
      col("b01"), col("c10"),
      when(den > 0, asRatio(microRound6(num * num, den))).as("chi2"),
      when(den > 0,
        when(num * num * 1000000L > den * 3841459L, 1).otherwise(0))
        .as("significant"))): _*)
  }

  /** chi-square 95% critical values ×1e6 for dof 1..8 — the baked
    * constants [[cochranQ]] compares against in cross-multiplied
    * integers (the mannWhitneyU convention, extended to variable dof).
    */
  private[graft] val Chi2Crit95Micro: Map[Int, Long] = Map(
    1 -> 3841459L, 2 -> 5991465L, 3 -> 7814728L, 4 -> 9487729L,
    5 -> 11070498L, 6 -> 12591587L, 7 -> 14067140L, 8 -> 15507313L)

  /** Cochran's Q test per group — the k-rater generalization of
    * [[mcnemar]] (k = 2 reduces to McNemar without continuity
    * correction): do k correlated binary raters (quality filters,
    * annotators) differ systematically in how often they keep a
    * document? With C_j the per-rater keep totals, R_i the per-subject
    * keep counts, T = ΣR_i:
    *
    *   Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²)
    *
    * an exact integer rational, micro-rounded once; `significant`
    * compares the unrounded rational against the baked chi-square
    * critical value for dof = k−1 (k ≤ 9) in cross-multiplied
    * integers. Null q when every subject is unanimous (zero
    * denominator). Rows with ANY null rater are excluded.
    *
    * Scale posture: ONE aggregation pass — k column sums, the row-sum
    * square sum, and a count, all map-side combined; everything after
    * is group-bounded. Envelope: k·ΣC² ≤ k·N² holds DECIMAL(38,0) to
    * ~10¹⁸ rows — unreachable.
    *
    * @return (g…, n_subjects, k_raters, t_total, q, dof, significant)
    */
  def cochranQ(df: DataFrame, groupCols: Seq[Column],
      raterCols: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty,
      "cochranQ needs >= 1 group column (see mannWhitneyU)")
    val k = raterCols.size
    require(k >= 2 && k <= 9, s"need 2..9 raters, got $k")
    val reserved = Seq("n_subjects", "k_raters", "t_total", "q", "dof",
      "significant")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    val rs = raterCols.map(_.cast("long"))
    val anyNull = rs.map(_.isNull).reduce(_ || _)
    val rowSum = rs.reduce(_ + _)
    val base = df.filter(!anyNull)
    val aggs =
      rs.zipWithIndex.map { case (r, i) => sum(r).as(s"__c$i") } ++ Seq(
        count(lit(1)).as("n_subjects"),
        sum(rowSum).as("__t"),
        sum(dec(rowSum) * dec(rowSum)).as("__r2"))
    val g = base.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
    val sumC2 = (0 until k).map(i => dec(col(s"__c$i")) * dec(col(s"__c$i")))
      .reduce(_ + _)
    val qNum = lit(k - 1L) * (lit(k.toLong) * sumC2 - dec(col("__t")) * dec(col("__t")))
    val qDen = lit(k.toLong) * dec(col("__t")) - col("__r2")
    val crit = Chi2Crit95Micro(k - 1)
    g.select((groupCols ++ Seq(col("n_subjects"),
      lit(k.toLong).as("k_raters"), col("__t").as("t_total"),
      when(qDen > 0, asRatio(microRound6(qNum, qDen))).as("q"),
      lit(k - 1L).as("dof"),
      when(qDen > 0,
        when(qNum * 1000000L > qDen * crit, 1).otherwise(0))
        .as("significant"))): _*)
  }

  /** The exact-rational RBO depth coefficients — ONE definition shared
    * by [[rankBiasedOverlap]] and the q279 oracle's generated VALUES
    * list (the minhashSigSql precedent): c_d = p^(d−1)/d scaled by
    * denom = 10^(k−1)·lcm(1..k), all plain longs by construction.
    */
  private[graft] def rboCoeffs(k: Int,
      pTenths: Int): (Seq[(Long, Long)], Long) = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmK = (1 to k).map(_.toLong).reduce((a, b) => a / gcd(a, b) * b)
    val tenPow = (1 until k).foldLeft(1L)((acc, _) => acc * 10)
    val denom = tenPow * lcmK
    val coeffs = (1 to k).map { d =>
      val pPow = (1 until d).foldLeft(1L)((acc, _) => acc * pTenths)
      val tPow = (d until k).foldLeft(1L)((acc, _) => acc * 10)
      (d.toLong, pPow * tPow * (lcmK / d))
    }
    (coeffs, denom)
  }

  /** Rank-biased overlap at depth k (Webber et al. 2010) between two
    * rankings of the same queries — the top-weighted "how similar are
    * two rankers' pages" statistic (Kendall/Spearman weight every
    * position equally; RBO geometrically discounts depth, which is what
    * a results PAGE experiences). With p = pTenths/10 and
    * X_d = |A[1..d] ∩ B[1..d]|:
    *
    *   rbo_min  = (1−p) · Σ_{d=1..k} p^(d−1) · X_d / d
    *   rbo_norm = rbo_min / (1 − p^k)        (identical lists read 1)
    *
    * EXACT rationals end to end: every term is scaled by the common
    * denominator 10^(k−1)·lcm(1..k), so the sum S is a plain integer
    * and both ratios micro-round once. Queries present in either
    * ranking report a row; disjoint pages read 0 (not null).
    *
    * Inputs: (query_id, doc_id, rnk) on both sides, 1-based; rows
    * beyond rank k are ignored. k ≤ 12 keeps every scaled term inside
    * a long.
    *
    * Scale posture: the pair join is per-query k×k-bounded, the depth
    * fan-out ≤ k rows per pair against a k-row broadcast; aggregates
    * are query-bounded. Both inputs are typically small head frames —
    * this measures pages, not corpora.
    *
    * @return (query_id, n_a, n_b, overlap_at_k, rbo_min, rbo_norm)
    */
  def rankBiasedOverlap(rankA: DataFrame, rankB: DataFrame, k: Int,
      pTenths: Int = 9): DataFrame = {
    require(k >= 1 && k <= 12, s"k must be in 1..12, got $k")
    require(pTenths >= 1 && pTenths <= 9,
      s"pTenths must be in 1..9, got $pTenths")
    val spark = rankA.sparkSession
    val (coeffs, denom) = rboCoeffs(k, pTenths)
    val depthDf = spark.createDataFrame(coeffs).toDF("__d", "__c")
    def side(df: DataFrame, r: String): DataFrame =
      df.select(col("query_id"), col("doc_id"),
        col("rnk").cast("long").as(r)).filter(col(r) <= k)
    val a = side(rankA, "__ra").localCheckpoint()
    val b = side(rankB, "__rb").localCheckpoint()
    val pairs = a.join(b, Seq("query_id", "doc_id"))
      .select(col("query_id"), greatest(col("__ra"), col("__rb")).as("__m"))
      .localCheckpoint()
    val s = pairs.join(broadcast(depthDf), col("__d") >= col("__m"))
      .groupBy(col("query_id"))
      .agg(sum(col("__c")).as("__s"))
    val overlapK = pairs.groupBy(col("query_id"))
      .agg(count(lit(1)).as("overlap_at_k"))
    val na = a.groupBy(col("query_id")).agg(count(lit(1)).as("n_a"))
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_b"))
    val pPowK = (1 to k).foldLeft(1L)((acc, _) => acc * pTenths)
    val tenPowK = (1 to k).foldLeft(1L)((acc, _) => acc * 10)
    val sCol = coalesce(col("__s"), lit(0L))
    a.select(col("query_id")).union(b.select(col("query_id"))).distinct()
      .join(na, Seq("query_id"), "left")
      .join(nb, Seq("query_id"), "left")
      .join(overlapK, Seq("query_id"), "left")
      .join(s, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"),
        asRatio(microRound6(sCol * (10L - pTenths), lit(denom * 10L)))
          .as("rbo_min"),
        asRatio(microRound6(
          dec(sCol) * (10L - pTenths) * tenPowK,
          dec(lit(denom * 10L)) * (tenPowK - pPowK))).as("rbo_norm"))
  }

  /** Corpus-level BLEU-2 per group (Papineni et al. 2002) — the n-gram
    * overlap scorer for paired (candidate, reference) text: modified
    * 1-/2-gram precision with per-document CLIPPING (a candidate gram
    * counts at most as often as the reference shows it) and the brevity
    * penalty, all in the fixed-point log2 discipline so the score stays
    * on the oracle surface — no float pow/exp ever runs:
    *
    *   lg p_n   = log2fp(match_n) − log2fp(tot_n)        (≤ 0)
    *   bp_fp    = c ≥ r ? 0 : −floor((r−c)·⌊2²⁰·log2 e⌋ / c)
    *   bleu_fp  = bp_fp − floor(((lg t1 − lg m1) + (lg t2 − lg m2)) / 2)
    *
    * (the geometric-mean halving floors a NONNEGATIVE total — engine
    * `div` and `//` disagree on negatives, so the subtraction happens
    * first). `bleu_bits` = bleu_fp/2²⁰ is log2(BLEU): 0 = perfect,
    * −1 ≈ BLEU 0.5. Null when either precision has zero matches or a
    * zero denominator. Grams ride the compiled 61-bit poly fold (the
    * q271 sizing) — no gram strings.
    *
    * Scale posture (r13 rewrite): clipping is a PER-DOCUMENT operation,
    * so the sufficient statistics (m1, t1, m2, t2, cl, rl) compute in ONE
    * compiled pass per row ([[graft.functions.BleuDocStats]]) — the prior
    * shape's four (id, gram-hash) count aggregations, six joins and the
    * five-consumer localCheckpoint are gone; the only exchange left is
    * the group-keyed final sum. Rows are independent (candidate,
    * reference) pairs: `idCol` must identify a pair uniquely (a repeated
    * id no longer merges gram counts across rows — corpusBleu over
    * duplicate document ids was never meaningful); rows with a NULL id
    * keep the historical contract (lengths counted, zero match/total
    * contribution). Envelope: corpus token counts ≤ 2⁶³ long sums —
    * unreachable.
    *
    * @return (g…, n_docs, c_len, r_len, match1, tot1, match2, tot2,
    *         bp_fp, bleu_fp, bleu_bits)
    */
  def corpusBleu2(df: DataFrame, groupCols: Seq[Column], idCol: Column,
      candCol: Column, refCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "corpusBleu2 needs >= 1 group column (see mannWhitneyU)")
    val spark = df.sparkSession
    // under-split inputs (single-row-group fixture = ONE scan task) would
    // run the whole kernel pass on one core; no-op on real splits
    val base = graft.core.Parallelism.spread(df)
      .select((groupCols ++ Seq(idCol.as("__id"), candCol.as("__cand"),
        refCol.as("__ref"))): _*)
    val gNames = base.columns.dropRight(3).toSeq
    // NULL-id rows: the join form left-joined per-id gram stats, so a
    // null id contributed lengths but zero matches/totals — preserved.
    // explode(array(…)) is a Generate BARRIER (the corrMatrix idiom): the
    // kernel lands in an attribute evaluated ONCE per row — without it the
    // aggregate inlines one kernel copy (plus the caller's whole candidate
    // construction) per extracted field, and the generated update method
    // blows the JVM's 64 KB limit straight into interpreted fallback.
    // The null-pair drop happens on __st (null iff cand or ref is null) —
    // a pre-kernel `candCol.isNotNull` filter would be PUSHED below the
    // caller's projection, duplicating an expensive candidate expression
    // into the starved scan stage (measured: most of q278's wall)
    val statRow = base.select((gNames.map(col) ++ Seq(col("__id"),
      explode(array(graft.functions.BleuDocStats.expr(
        col("__cand"), col("__ref")))).as("__st"))): _*)
      .filter(col("__st").isNotNull)
    def idGated(f: String): Column =
      when(col("__id").isNotNull, col(s"__st.$f")).otherwise(lit(0L))
    val perDoc = statRow.select((gNames.map(col) ++ Seq(
      col("__st.cl").as("__cl"), col("__st.rl").as("__rl"),
      idGated("m1").as("__m1"), idGated("t1").as("__t1"),
      idGated("m2").as("__m2"), idGated("t2").as("__t2"))): _*)
    val g = perDoc.groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__cl")).as("c_len"), sum(col("__rl")).as("r_len"),
        sum(col("__m1")).as("match1"), sum(col("__t1")).as("tot1"),
        sum(col("__m2")).as("match2"), sum(col("__t2")).as("tot2"))
    // floor(2^20 * log2 e) — the one transcendental, baked as the same
    // integer constant both engines multiply by
    val log2eFp = 1512775L
    val bp = when(col("c_len") >= col("r_len"), 0L)
      .otherwise(-idivPos((col("r_len") - col("c_len")) * log2eFp,
        col("c_len")))
    val defined = col("match1") > 0 && col("match2") > 0 &&
      col("tot1") > 0 && col("tot2") > 0 && col("c_len") > 0
    val gap = (Log2Fixed.expr(col("tot1")) - Log2Fixed.expr(col("match1"))) +
      (Log2Fixed.expr(col("tot2")) - Log2Fixed.expr(col("match2")))
    val bleu = bp - idivPos(gap, lit(2L))
    g.select((gNames.map(col) ++ Seq(col("n_docs"), col("c_len"),
      col("r_len"), col("match1"), col("tot1"), col("match2"), col("tot2"),
      when(col("c_len") > 0, bp).as("bp_fp"),
      when(defined, bleu).as("bleu_fp"),
      when(defined, bleu.cast("double") / Log2Fixed.One)
        .as("bleu_bits"))): _*)
  }

  /** Wilcoxon signed-rank test per group — the PAIRED nonparametric
    * companion of [[mannWhitneyU]] (MW compares two independent arms;
    * this one gates a within-subject before/after difference without
    * assuming normality). Zero differences are discarded (the standard
    * convention), |d| is ranked tie-averaged with the integral 2·rank
    * trick (2·avgRank = 2·cum0 + t + 1), and W⁺ = Σ ranks of positive
    * differences stays exact as the integral 2W⁺. The squared normal
    * approximation clears the square root exactly:
    * z² = 3·(4W⁺ − n(n+1))² / (2n(n+1)(2n+1) − Σ(t³−t)) — every
    * factor an integer, NO truncating division anywhere (cleaner than
    * MW's variance reduction). `significant` compares the unrounded
    * rational to chi-square(1) 3.841459 in cross-multiplied integers.
    * Null z² when no nonzero pairs or all |d| tie into zero variance.
    *
    * Scale posture: one (group, |d|) count aggregation (map-side
    * combined) then a group-keyed running-sum window over DISTINCT
    * |d| values — the [[mannWhitneyU]] shape on the difference column.
    * Envelope: 12·(2W⁺ − μ)² ≤ 12·n⁴ holds DECIMAL(38,0)-exact to
    * ~10⁸ nonzero pairs per group; the displayed `tie_cubes` long
    * binds when one |d| ties ~2.1·10⁶ times. Loud past either
    * (ANSI / HUGEINT) — subsample beyond. Display bound: `w_pos`
    * renders 2W⁺/2 as a double, value-exact only while 2W⁺ ≤ 2⁵³
    * (~9.5·10⁷ nonzero pairs — the same knee as the z² envelope, so
    * the subsample-beyond rule above already covers it); z² and
    * `significant` never ride the double, they stay on the exact
    * DECIMAL rational.
    *
    * @return (g…, n_pairs, n_pos, n_neg, w_pos, tie_cubes, z2,
    *         significant)
    */
  def wilcoxonSignedRank(df: DataFrame, groupCols: Seq[Column],
      xCol: Column, yCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "wilcoxonSignedRank needs >= 1 group column (see mannWhitneyU)")
    val reserved = Seq("n_pairs", "n_pos", "n_neg", "w_pos", "tie_cubes",
      "z2", "significant")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    import org.apache.spark.sql.expressions.Window
    val d = xCol.cast("long") - yCol.cast("long")
    val c = df.filter(xCol.isNotNull && yCol.isNotNull && d =!= 0)
      .select((groupCols ++ Seq(abs(d).as("__ad"),
        when(d > 0, 1L).otherwise(0L).as("__p"))): _*)
      .groupBy((groupCols :+ col("__ad")): _*)
      .agg(count(lit(1)).as("__t"), sum(col("__p")).as("__np"))
    val w = Window.partitionBy(groupCols: _*)
    val cum0 = coalesce(sum(col("__t")).over(w.orderBy(col("__ad"))
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val g = c.withColumn("__r2", cum0 * 2 + col("__t") + 1)
      .groupBy(groupCols: _*)
      .agg(sum(col("__t")).as("n_pairs"), sum(col("__np")).as("n_pos"),
        sum(dec(col("__np")) * dec(col("__r2"))).as("__w2p"),
        sum(dec(col("__t")) * dec(col("__t")) * dec(col("__t")) -
          dec(col("__t"))).as("__t3"))
    val n = col("n_pairs")
    // diff = 4W⁺ − n(n+1) = 4·(W⁺ − E[W⁺]): doubling TWICE (2-rank units,
    // then clearing n(n+1)/2) keeps every term integral. With
    // Var(W⁺) = (2n(n+1)(2n+1) − Σ(t³−t))/48 = varDen/48 and diff²
    // carrying 16·(W⁺−E)², z² = 48/16 · diff²/varDen = 3·diff²/varDen.
    val diff = col("__w2p") * 2 - dec(n) * dec(n + 1)
    val varDen = dec(n) * dec(n + 1) * dec(n * 2 + 1) * 2 - col("__t3")
    val z2num = lit(3L) * diff * diff
    val defined = n > 0 && varDen > 0
    g.select((groupCols ++ Seq(n, col("n_pos"),
      (n - col("n_pos")).as("n_neg"),
      (col("__w2p").cast("double") / 2).as("w_pos"),
      col("__t3").cast("long").as("tie_cubes"),
      when(defined, asRatio(microRound6(z2num, varDen))).as("z2"),
      when(defined,
        when(z2num * 1000000L > varDen * 3841459L, 1).otherwise(0))
        .as("significant"))): _*)
  }
}
