package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-table warehouse operations: snapshot diffing (the change feed
  * between two loads of the same table) and one-pass column profiling
  * (the data-quality summary every ingest gate reads).
  *
  * Scale posture: [[snapshotDiff]] is one key-equi full-outer join — the
  * exchange any differ pays, AQE-skew-safe, no driver state.
  * [[columnProfile]] is ONE aggregation pass over the table (the multi-
  * countDistinct lowers to a single Expand + partial/final hash agg);
  * output is bounded by the column count, never the row count.
  */
object TableOps {

  import EvalMetrics.dec

  /** Classify rows of `newDf` vs `oldDf` by `keyCols`: added / removed /
    * changed / unchanged, with the sorted list of differing compare
    * columns. Comparison is null-safe (`<=>`); key columns must be
    * non-null row identifiers in both snapshots.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && compareCols.nonEmpty,
      "snapshotDiff needs key and compare columns")
    val o = oldDf.select((keyCols ++ compareCols).map(col): _*)
      .toDF((keyCols ++ compareCols).map("o_" + _): _*)
    val n = newDf.select((keyCols ++ compareCols).map(col): _*)
      .toDF((keyCols ++ compareCols).map("n_" + _): _*)
    val keyEq = keyCols.map(k => col("o_" + k) === col("n_" + k)).reduce(_ && _)
    val joined = o.join(n, keyEq, "full_outer")
    val inOld = col("o_" + keyCols.head).isNotNull
    val inNew = col("n_" + keyCols.head).isNotNull
    val diffs = compareCols.sorted.map(c =>
      when(!(col("o_" + c) <=> col("n_" + c)), lit(c)))
    val changedCols = array_compact(array(diffs: _*))
    joined.select(
      keyCols.map(k => coalesce(col("n_" + k), col("o_" + k)).as(k)) ++ Seq(
        when(!inOld, lit("added"))
          .when(!inNew, lit("removed"))
          .when(size(changedCols) > 0, lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"),
        when(inOld && inNew, array_join(changedCols, ","))
          .otherwise(lit("")).as("changed_cols")): _*)
  }

  /** One-pass profile of the named columns: non-null/null counts,
    * exact distinct count (nulls excluded, the SQL convention), min and
    * max rendered as strings. Returns one row per column:
    * (col_name, n_rows, n_nulls, n_distinct, min_value, max_value).
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c"))) :+
      count(lit(1)).as("__total")
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))): _*)).as("p"))
      .select(col("p.*"))
  }

  /** Order-independent content digest of the named columns: per-row
    * 60-bit md5 of the sentinel-joined rendered values, summed exactly
    * (DECIMAL(38,0)) and reduced mod 2⁶¹−1. Two frames with the same
    * multiset of rows — any partitioning, any order — digest equal; one
    * changed cell flips it. The migration-validation primitive: compare
    * a rewritten table to its source with one narrow pass + a 1-row agg
    * per side, no sort, no join.
    *
    * Nulls render as an explicit sentinel (never silently skipped, so
    * ("a", null) and (null, "a") digest differently); pre-render
    * timestamps/doubles to strings upstream for cross-engine parity.
    */
  def contentDigest(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "contentDigest needs at least one column")
    val rendered = cols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0002<null>")))
    val rowHash = graft.functions.TextFunctions.md5Long(
      concat_ws("\u0001", rendered: _*))
    df.agg(
        count(lit(1)).as("n_rows"),
        sum(rowHash.cast("decimal(38,0)")).as("__sum"))
      .select(col("n_rows"),
        pmod(col("__sum"), lit(graft.functions.PolyHash.P61))
          .cast("long").as("digest"))
  }

  /** Equal-frequency (quantile) binning over an integer-valued column
    * WITHOUT a global-order window — the guard-banned single-partition
    * shape — via a two-stage distributed prefix sum:
    *
    *  1. value histogram (`groupBy value`) — rows collapse to distinct
    *     values;
    *  2. within-coarse-bucket running totals (window PARTITIONED by
    *     `value >> coarseShift`);
    *  3. bucket-level prefix totals by a broadcast triangular self-join
    *     over the BOUNDED bucket table (≈ value-range / 2^coarseShift
    *     rows — pick coarseShift to keep it ≤ ~4k, the O(B²) pair count
    *     stays ≤ 16M longs).
    *
    * `cum_before(v)` = bucket prefix + within-bucket prefix; bin =
    * `cum_before·nBins div N`. Every distinct value lands wholly in one
    * bin (value-quantile semantics — ties never straddle bins, unlike
    * positional NTILE). Output per bin: (bin, n_rows, lo, hi).
    */
  def equalFrequencyBins(
      df: DataFrame, value: Column, nBins: Int,
      coarseShift: Int = 20): DataFrame =
    valueQuantileBins(df, value, nBins, coarseShift)
      .groupBy(col("bin"))
      .agg(sum(col("__cnt")).as("n_rows"), min(col("__v")).as("lo"),
        max(col("__v")).as("hi"))

  /** The per-distinct-value half of [[equalFrequencyBins]]: the
    * (value → quantile bin) mapping itself, for callers that score rows
    * rather than summarize bins (e.g. [[Journey.rfmScores]]). Same
    * two-stage distributed prefix sum, same semantics: `bin =
    * cum_before·nBins div N` with `cum_before` the count of rows with a
    * STRICTLY smaller value, so ties share a bin (= `(rank−1)·nBins div
    * N` on the oracle surface).
    *
    * @return (__v, __cnt, bin) — one row per distinct value.
    */
  def valueQuantileBins(
      df: DataFrame, value: Column, nBins: Int,
      coarseShift: Int = 20): DataFrame = {
    require(nBins > 0, s"bad nBins=$nBins")
    val cum = valueCumCounts(df, value, coarseShift)
    // N from the value histogram itself — no second input scan, and the
    // denominator always equals the binned mass even when the long cast
    // nulls a value out
    val nTotal = cum.groupBy().agg(sum(col("__cnt")).as("__n"))
    cum.crossJoin(broadcast(nTotal))
      .select(col("__v"), col("__cnt"),
        expr(s"(__cb * $nBins) div __n").as("bin"))
  }

  /** The distributed prefix-sum core of [[valueQuantileBins]] (and
    * [[quantileNormalize]]'s pooled inverse CDF): one row per distinct
    * value with its count and the EXACT count of strictly-smaller rows —
    * computed without the guard-banned global-order window (within-
    * coarse-bucket running totals + a broadcast triangular self-join
    * over the bounded bucket table; see valueQuantileBins' scaladoc for
    * the shape numbers).
    *
    * @return (__v, __cnt, __cb) — __cb = rows with value < __v.
    */
  def valueCumCounts(
      df: DataFrame, value: Column, coarseShift: Int = 20): DataFrame = {
    require(coarseShift >= 0 && coarseShift < 63,
      s"bad coarseShift=$coarseShift")
    import org.apache.spark.sql.expressions.Window
    // NOT materialized (r14 re-test): the histogram feeds three
    // consumers, but they all sit above the same groupBy exchange, which
    // ReuseExchange dedupes — an explicit localCheckpoint measured
    // neutral on q187/q236 and +0.3 s on q266 (extra eager job).
    val vc = df.select(value.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__g", shiftright(col("__v"), coarseShift))
    val within = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bt = vc.groupBy(col("__g")).agg(sum(col("__cnt")).as("__bt"))
    val prefix = bt.select(col("__g"), col("__bt"))
      .join(broadcast(bt.select(col("__g").as("__g2"), col("__bt").as("__bt2"))),
        col("__g2") < col("__g"), "left")
      .groupBy(col("__g"))
      .agg(coalesce(sum(col("__bt2")), lit(0L)).as("__bp"))
    // prefix is bucket-bounded — pin it as the broadcast side (without
    // the hint the sized-at-test-scale value-count side can win)
    vc.join(broadcast(prefix), "__g")
      .select(col("__v"), col("__cnt"),
        (col("__bp") + coalesce(sum(col("__cnt")).over(within), lit(0L)))
          .as("__cb"))
  }

  /** Quantile normalization across sources — map every source's value
    * distribution onto the POOLED distribution (the cross-source score
    * harmonization a heterogeneous training pipeline needs before
    * thresholding: source A's 90th percentile and source B's 90th
    * percentile land on the same pooled value). Exact deterministic
    * convention: a distinct value v in source s, holding inclusive
    * within-source rank r (rows ≤ v) out of n_s, maps to the pooled
    * value at position p = ceil(r·N/n_s) — the smallest pooled value w
    * whose inclusive pooled count reaches p. A single-source input maps
    * every value to itself (p = r — the identity sanity law).
    *
    * Output is the (source, value) → pooled-value MAPPING table, one
    * row per distinct (source, value): join it back to rows downstream.
    *
    * Scale posture: one (source, value) count aggregation over the
    * input (the only row-weight exchange); per-source ranks are source-
    * partitioned running windows over distinct values; the pooled
    * inverse CDF is [[valueCumCounts]] (two-stage prefix, no global
    * window); and the position lookup is a BINNED interval join — the
    * pooled intervals [cb+1, cb+cnt] partition 1..N, each explodes to
    * ~cnt/W + 1 width-W buckets with W = max(1, N div D) (D = distinct
    * pooled values), so the join is a plain equi-join on the bucket id
    * carrying ≈ 2D interval rows, refined by the exact between — never
    * a BroadcastNestedLoop theta join.
    *
    * @return (source, v, n, pooled_v)
    */
  def quantileNormalize(
      df: DataFrame, sourceCol: Column, valueCol: Column,
      coarseShift: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sv = df.select(sourceCol.as("source"), valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("n"))
    val ws = Window.partitionBy(col("source"))
    val ranked = sv
      .withColumn("__r", sum(col("n")).over(ws.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__ns", sum(col("n")).over(ws))
    val pooled = valueCumCounts(df.select(valueCol.as("__pv")),
      col("__pv"), coarseShift)
    // N and the bucket width W from the pooled histogram — one tiny agg
    val nd = pooled.groupBy().agg(sum(col("__cnt")).as("__n"),
        count(lit(1)).as("__d"))
      .select(col("__n"),
        greatest(lit(1L), expr("__n div __d")).as("__w"))
    val pts = ranked.crossJoin(broadcast(nd))
      .withColumn("__p", expr("(__r * __n + __ns - 1) div __ns"))
      .select(col("source"), col("v"), col("n"), col("__p"),
        expr("__p div __w").as("__pb"))
    val iv = pooled.crossJoin(broadcast(nd))
      .withColumn("__lo", col("__cb") + 1)
      .withColumn("__hi", col("__cb") + col("__cnt"))
      .select(col("__v").as("pooled_v"), col("__lo"), col("__hi"),
        explode(sequence(expr("__lo div __w"), expr("__hi div __w")))
          .as("__pb"))
    pts.join(iv, Seq("__pb"))
      .filter(col("__p").between(col("__lo"), col("__hi")))
      .select(col("source"), col("v"), col("n"), col("pooled_v"))
  }

  /** Poisson(1) cumulative distribution in micro units —
    * round(1e6·e⁻¹·Σ_{i≤k} 1/i!) for k = 0..7; draws past the table cap
    * at 8 (P ≈ 10⁻⁵). Shared verbatim with the SQL oracle. */
  private[graft] val PoissonCumMicro: Seq[Long] =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L,
      999990L)

  /** Per-group bootstrap confidence interval for the mean, by POISSON
    * bootstrap — the resampling scheme that actually distributes: instead
    * of drawing n rows with replacement per resample (which needs global
    * coordination), every row independently receives a Poisson(1) weight
    * per resample; for large n the resample-mean distribution converges
    * to the classical bootstrap (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams"). Everything is deterministic
    * integer arithmetic: the per-(row, resample) uniform draw is
    * `((key mod 1000003)·2654435761 + r·40503) mod 1e6` (caller supplies
    * the stable row key), inverted through [[PoissonCumMicro]]; resample
    * means are micro-rounded rationals; the interval is the
    * ceil(α·B)-th / ceil((1−α)·B)-th smallest resample mean.
    *
    * Scale posture: the B-fold explode collapses MAP-SIDE — partial
    * aggregation keys on (group, resample), so the one exchange carries
    * |groups|·B rows regardless of input size; the final per-group
    * collect is B-bounded (sort_array of ≤ B micro-longs). No windows.
    * Resamples whose total weight is 0 (only possible for tiny groups)
    * are dropped and ranks recompute over the surviving B′.
    *
    * @param keyCol deterministic per-row long key (an id column) — the
    *   randomness seed, NOT required unique; duplicate keys correlate
    *   those rows' draws.
    * @return (g…, n, mean, ci_lo, ci_hi, b_eff) — mean/CI as 6-dp
    *   doubles in the units of `value`.
    */
  def bootstrapMeanCi(
      df: DataFrame, groupCols: Seq[Column], keyCol: Column, value: Column,
      b: Int = 40, alphaPermille: Int = 25): DataFrame = {
    require(b >= 2 && b <= 1000, s"b out of range: $b")
    require(alphaPermille >= 1 && alphaPermille < 500,
      s"alphaPermille out of range: $alphaPermille")
    val gNames = groupCols.indices.map(i => s"__g$i")
    val base = df.select(
      groupCols.zip(gNames).map { case (c, n) => c.as(n) } ++
        Seq(keyCol.cast("long").as("__k"), value.cast("long").as("__x")): _*)
      .filter(col("__x").isNotNull && col("__k").isNotNull)
    val point = base.groupBy(gNames.map(col): _*).agg(
      count(lit(1)).as("n"),
      EvalMetrics.microRound6(sum(dec(col("__x"))), count(lit(1)))
        .as("__mean"))
    // (key mod 1000003)·2654435761 ≤ 2.7e15 — the product stays exact in
    // a long under ANSI for any input key
    val u = pmod(
      pmod(col("__k"), lit(1000003L)) * lit(2654435761L) +
        col("__r") * lit(40503L), lit(1000000L))
    val w = PoissonCumMicro.zipWithIndex.foldRight(lit(8L)) {
      case ((t, k), acc) => when(col("__u") < t, lit(k.toLong)).otherwise(acc)
    }
    val resampled = base
      .withColumn("__r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__u", u)
      .groupBy((gNames.map(col) :+ col("__r")): _*)
      .agg(sum(dec(col("__x")) * w).as("__wx"), sum(w).as("__sw"))
      .select(gNames.map(col) :+
        when(col("__sw") > 0,
          EvalMetrics.microRound6(col("__wx"), col("__sw"))).as("__m"): _*)
    val lo = expr(s"CAST((b_eff * $alphaPermille + 999) div 1000 AS INT)")
    val hi = expr(
      s"CAST((b_eff * ${1000 - alphaPermille} + 999) div 1000 AS INT)")
    val ci = resampled.groupBy(gNames.map(col): _*).agg(
        count(col("__m")).as("b_eff"),
        sort_array(collect_list(col("__m"))).as("__s"))
      .select(gNames.map(col) ++ Seq(col("b_eff"),
        when(col("b_eff") > 0, element_at(col("__s"), lo)).as("__lo"),
        when(col("b_eff") > 0, element_at(col("__s"), hi)).as("__hi")): _*)
    point.join(ci, gNames)
      .select(gNames.zip(groupCols.indices).map { case (n, i) =>
          col(n).as(s"g$i") } ++ Seq(
        col("n"), (col("__mean").cast("double") / 1e6).as("mean"),
        (col("__lo").cast("double") / 1e6).as("ci_lo"),
        (col("__hi").cast("double") / 1e6).as("ci_hi"),
        col("b_eff")): _*)
  }

  /** Per-group z-score outlier counts with the test CLEARED OF DIVISION:
    * x is an outlier iff `(x·n − Σx)² > k²·(n·Σx² − (Σx)²)` — the
    * |x−μ| > k·σ rule multiplied through by n², evaluated entirely in
    * DECIMAL(38,0) integers so the flag replays exactly cross-engine (a
    * float mean/variance would put every boundary row at the mercy of
    * rounding). Two passes: group stats (broadcast — group-bounded),
    * then a flag-and-count aggregation.
    *
    * @return (g, n, n_outliers)
    */
  def exactOutliers(
      df: DataFrame, group: Column, value: Column, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = df.select(group.as("g"), value.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val stats = base.groupBy(col("g")).agg(
      count(lit(1)).as("__n"),
      sum(dec(col("__x"))).as("__sx"),
      sum(dec(col("__x")) * col("__x")).as("__sx2"))
    val lhsRoot = dec(col("__x")) * col("__n") - col("__sx")
    val rhs = (dec(col("__n")) * col("__sx2") - col("__sx") * col("__sx")) *
      (k.toLong * k)
    val cmp = lhsRoot * lhsRoot > rhs
    // non-ANSI decimal overflow yields null, which sum() would silently
    // skip (undercounting outliers); inputs are non-null here, so a null
    // comparison IS the overflow signal — fail loudly like the oracle's
    // HUGEINT does. Bound: |x·n − Σx| must stay under ~10¹⁹.
    val flag = when(cmp.isNull, raise_error(lit(
      "exactOutliers: decimal overflow — group moments exceed 38 digits")))
      .otherwise(cmp.cast("int"))
    base.join(broadcast(stats), "g")
      .select(col("g"), flag.as("__flag"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("__flag")).as("n_outliers"))
  }

  /** Per-group concentration audit: exact Gini coefficient + top-decile
    * share over a non-negative integer value (cents, tokens, bytes) —
    * the "is 1% of customers 90% of revenue?" screen a warehouse runs
    * before trusting a mean, and the skew alarm a corpus curator runs
    * over per-domain token mass before fixing mixture weights.
    *
    * Exact-integer surface: with x₁ ≤ … ≤ xₙ the group's sorted values
    * (i = 1-based rank), `gini = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` and
    * `top_decile_share = (Σ of the ⌈n/10⌉ largest xᵢ) / Σx`, both
    * micro-rounded half-away-from-zero. Rank ties need no tiebreak: tied
    * rows carry EQUAL x, so Σ i·xᵢ and the top-k mass are invariant
    * under any tie permutation — the statistic is deterministic even
    * though row_number on ties is not. Per-term i·x widens to
    * decimal(38,0) before summing (n ≈ 10⁹ rows of 10⁸-cent values wraps
    * a long Σ i·x at ~10²⁵ — the oracle's HUGEINT survives, so must we).
    *
    * Scale posture: one sort-within-group window (rank + the two
    * conditional masses in a single pass) + one group rollup — a single
    * exchange on the group key. The window frame is growing-only
    * (row_number), never whole-partition-materializing; groups are the
    * caller's partition grain, so skewed groups behave like any skewed
    * window (salt upstream if one group is the whole table).
    *
    * @return (g…, n, total, gini, top_decile_share) — ratios as
    *   micro-rounded doubles, null when the group total is 0.
    */
  def concentration(
      df: DataFrame, groupCols: Seq[Column], value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gNames = groupCols.indices.map(i => s"__g$i")
    val base = df.select(
      groupCols.zip(gNames).map { case (c, n) => c.as(n) } :+
        value.cast("long").as("__x"): _*)
      .filter(col("__x").isNotNull && col("__x") >= 0)
    val w = Window.partitionBy(gNames.map(col): _*).orderBy(col("__x").asc)
    val ranked = base.withColumn("__i", row_number().over(w))
    val agg = ranked.groupBy(gNames.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(dec(col("__x"))).as("__s"),
      sum(dec(col("__x")) * col("__i")).as("__t"))
    // k = ceil(n/10) largest values = ranks > n−k; computed from the agg
    // frame and re-joined so the boundary uses the FINAL n, not a
    // running count
    val k = expr("(n + 9) div 10")
    val topMass = ranked
      .join(agg.select(gNames.map(col) :+ k.as("__k") :+ col("n").as("__n"): _*),
        gNames)
      .filter(col("__i") > col("__n") - col("__k"))
      .groupBy(gNames.map(col): _*)
      .agg(sum(dec(col("__x"))).as("__top"))
    val giniNum = dec(lit(2L)) * col("__t") - dec(col("n") + 1) * col("__s")
    val giniDen = dec(col("n")) * col("__s")
    agg.join(topMass, gNames)
      .select(gNames.zip(groupCols.indices).map { case (n, i) =>
          col(n).as(s"g$i") } ++ Seq(
        col("n"),
        col("__s").cast("long").as("total"),
        when(col("__s") > 0, EvalMetrics.microRound6(giniNum, giniDen)
          .cast("double") / 1e6).as("gini"),
        when(col("__s") > 0, EvalMetrics.microRound6(col("__top"), col("__s"))
          .cast("double") / 1e6).as("top_decile_share")): _*)
  }

  /** Pairwise Pearson correlation matrix over integer-valued columns in
    * ONE data pass — the EDA screen a warehouse runs before trusting any
    * model on the columns. Exact integers end to end: the output is
    * r² micro-rounded plus the sign of the covariance (r = sgn·√r²; the
    * square root is the only step that cannot replay exactly
    * cross-engine, so it is left to the reader):
    *
    *   num  = n·Σxy − Σx·Σy      (per pair, decimal(38,0))
    *   r2   = round6(num² / ((n·Σxx − Σx²)·(n·Σyy − Σy²)))
    *
    * Values are first shifted by the per-column integer mean (Σ div n —
    * an EXACT constant shift, which leaves every correlation identical
    * while shrinking the sums from magnitude n·E[x]² to n·σ²; without it
    * num² overflows decimal(38,0) three decades earlier). When a pair's
    * variance terms actually get big — `greatest(d1, d2) > 5·10¹⁵`, the
    * point past which 2·10⁶·num² can leave decimal(38,0) — num/d1/d2 are
    * additionally reduced by `div n` before squaring; the gate is
    * PER-PAIR on magnitude, not on row count, so a low-variance column
    * keeps the exact path at any n, and reduction additionally requires
    * the SMALLER term to exceed n·1000 (≥ 3 digits survive div n) — a
    * pair asymmetric enough to fail both conditions runs the exact path
    * and, if that overflows, fails loud rather than wrong. Rows with a
    * null in ANY column are dropped (listwise deletion —
    * the matrix must be over one common sample). Caller scales units so
    * the reduced num stays ≲ 3·10¹⁵ (n²·σxσy ≲ 3·10¹⁵·n).
    *
    * Scale posture: two aggregations over a narrow projection (means,
    * then the m+m(m+1)/2 centered sums) — no joins except two one-row
    * broadcasts, no windows; the m² pair expansion happens on the single
    * aggregate row.
    *
    * @return one row per unordered pair: (col_a, col_b, n, r2, sgn) —
    *   r2 as a 6-dp double, null (with sgn null) for a zero-variance
    *   column; sgn ∈ {-1, 0, 1}.
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 12, s"2..12 columns: ${cols.size}")
    require(cols.map(_._1).distinct.size == cols.size, "duplicate names")
    val names = cols.map(_._1)
    // the narrow long projection is read twice (means, then centered
    // sums) — deliberately NOT cached: both passes are column-pruned
    // scans, and at corpus scale re-reading pruned parquet beats
    // materializing an 8·m-bytes/row copy. The explode(array(struct(…)))
    // Generate BARRIER makes each caller expression evaluate ONCE per
    // row per pass: the listwise-deletion filter otherwise pushes below
    // the projection and re-evaluates every column expression a second
    // time (ROUND on a double is a per-value BigDecimal round-trip —
    // measured at half the pass cost for q238's column set)
    val base = df
      .select(explode(array(struct(
        cols.map { case (n, c) => c.cast("long").as(n) }: _*))).as("__r"))
      .select(names.map(n => col(s"__r.$n").as(n)): _*)
      .filter(names.map(col(_).isNotNull).reduce(_ && _))
    val pairs = for {
      i <- names.indices; j <- i until names.size
    } yield (names(i), names(j))
    // min/max ride the means pass so each pair can be GATED onto a plain
    // long multiply when |x̃|·|ỹ| provably fits: |x − μ| ≤ max − min, so
    // (max_a−min_a)·(max_b−min_b) < 2⁶² ⇒ the per-row product is
    // overflow-free in long and only the SUM runs in decimal — the
    // decimal×decimal per-row multiply was the pass's hot cost. Gates
    // are 1-row broadcast booleans; a column wild enough to fail gates
    // keeps the exact decimal path (bit-identical either way)
    val means = base.agg(
      count(lit(1)).as("__n"),
      names.map(n => expr(s"CAST(SUM(CAST($n AS DECIMAL(38,0))) div " +
        s"COUNT(1) AS BIGINT)").as(s"__mu_$n")) ++
        names.flatMap(n => Seq(min(col(n)).as(s"__lo_$n"),
          max(col(n)).as(s"__hi_$n"))): _*)
    val meansG = means.select(col("*") +:
      pairs.map { case (a, b) =>
        ((dec(col(s"__hi_$a")) - dec(col(s"__lo_$a"))) *
          (dec(col(s"__hi_$b")) - dec(col(s"__lo_$b"))) <
          lit(4611686018427387904L)).as(s"__g_${a}__$b") }: _*)
    val centered = base.crossJoin(broadcast(meansG))
      .select(col("__n") +:
        (names.map(n => (col(n) - col(s"__mu_$n")).as(n)) ++
          pairs.map { case (a, b) => col(s"__g_${a}__$b") }): _*)
    // the integer-mean shift leaves residual sums T_x = Σx − n·(Σx div n)
    // in (−n, n): both engines' integer division TRUNCATES toward zero
    // (Spark div; DuckDB // — verified −7//2 = −3 incl. HUGEINT), so a
    // NEGATIVE column sum leaves T_x in (−n, 0] and a positive one in
    // [0, n), identically on both sides. Correctness does not even rest
    // on that agreement: num/d1/d2 below are exactly shift-invariant
    // (n·Σab − ΣaΣb is unchanged by any constant shift of a or b), so
    // the classical correction terms absorb any integer mean; T_x is
    // tiny but NOT zero, so they stay.
    val stats = centered.groupBy(col("__n")).agg(
      sum(dec(col(names.head))).as(s"__t_${names.head}"),
      names.tail.map(n => sum(dec(col(n))).as(s"__t_$n")) ++
        pairs.map { case (a, b) =>
          sum(when(col(s"__g_${a}__$b"), dec(col(a) * col(b)))
            .otherwise(dec(col(a)) * dec(col(b)))).as(s"__s_${a}__$b") }: _*)
    def s(a: String, b: String) = col(s"__s_${a}__$b")
    def t(a: String) = col(s"__t_$a")
    val cells = pairs.filter { case (a, b) => a != b }.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        (dec(col("__n")) * s(a, b) - t(a) * t(b)).as("__num"),
        (dec(col("__n")) * s(a, a) - t(a) * t(a)).as("__d1"),
        (dec(col("__n")) * s(b, b) - t(b) * t(b)).as("__d2"))
    }
    // reduce only when the big term needs it AND the small term can
    // absorb div n with ≥ 3 decimal digits of precision left — an
    // extremely asymmetric pair at huge magnitude instead fails LOUD on
    // the exact path (ANSI decimal / HUGEINT overflow), never wrong
    val gate = greatest(col("__d1"), col("__d2")) > lit(5000000000000000L) &&
      least(col("__d1"), col("__d2")) > dec(col("n")) * 1000L
    def reduced(c: Column): Column =
      when(gate, dec(EvalMetrics.idivPos(c, col("n")))).otherwise(c)
    stats.select(col("__n").as("n"), explode(array(cells: _*)).as("__c"))
      .select(col("n"), col("__c.col_a").as("col_a"),
        col("__c.col_b").as("col_b"),
        signum(col("__c.__num")).cast("int").as("__sg"),
        abs(col("__c.__num")).as("__anum"),
        col("__c.__d1").as("__d1"), col("__c.__d2").as("__d2"))
      .select(col("n"), col("col_a"), col("col_b"), col("__sg"),
        reduced(col("__anum")).as("__num"),
        reduced(col("__d1")).as("__d1"),
        reduced(col("__d2")).as("__d2"))
      .select(col("col_a"), col("col_b"), col("n"),
        when(col("__d1") > 0 && col("__d2") > 0,
          EvalMetrics.microRound6(col("__num") * col("__num"),
            col("__d1") * col("__d2")).cast("double") / 1e6).as("r2"),
        when(col("__d1") > 0 && col("__d2") > 0, col("__sg")).as("sgn"))
  }

  /** Robust per-group outlier audit on the median/MAD scale — the
    * companion to the mean/σ z-score screen ([[exactOutliers]]) that a
    * heavy-tailed column needs: one gross outlier inflates σ enough to
    * hide its siblings, while the median absolute deviation barely
    * moves. A value is flagged when `|x − med|·1000 > kPermille·MAD`
    * (kPermille = 4448 ≈ 3·1.4826·1000, the normal-consistent 3σ
    * equivalent) — an exact integer comparison, no float boundary.
    * Medians are the LOWER median (rank ceil(n/2)) — deterministic.
    * When MAD = 0 (more than half the group identical) every differing
    * value is flagged — the standard MAD degeneracy, documented not
    * hidden.
    *
    * Scale posture: two group-keyed rank windows (x, then |x − med|)
    * plus two group-keyed joins — all exchanges on the group key;
    * nothing global, no collects.
    *
    * @return (g…, n, median, mad, n_outliers)
    */
  def robustOutliers(
      df: DataFrame, groupCols: Seq[Column], value: Column,
      kPermille: Long = 4448L): DataFrame = {
    require(kPermille >= 1, s"bad kPermille: $kPermille")
    val gNames = groupCols.indices.map(i => s"__g$i")
    val base = df.select(
      groupCols.zip(gNames).map { case (c, n) => c.as(n) } :+
        value.cast("long").as("__x"): _*)
      .filter(col("__x").isNotNull)
    // r14 (§2.4, the theilSen idiom): median, MAD and the outlier count
    // all derive from the group's sorted value array in ONE groupBy —
    // the old shape ran TWO group-keyed window sorts (median, then MAD
    // over a re-join of base with the medians) and re-executed the
    // base subtree for every join input (4 upstream executions, 2
    // corpus-sized window sorts, 2 joins). The per-group array is the
    // same boundedness the window form already had: a window partition
    // is one task per group either way.
    val xs = col("__xs")
    def lowerMedian(arr: Column): Column =
      element_at(arr, ((size(arr) + 1) / 2).cast("int"))
    base.groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("__x"))).as("__xs"))
      .withColumn("median", lowerMedian(xs))
      .withColumn("__devs",
        array_sort(transform(xs, x => abs(x - col("median")))))
      .withColumn("mad", lowerMedian(col("__devs")))
      .withColumn("n_outliers",
        size(filter(col("__devs"),
          d => d * 1000L > lit(kPermille) * col("mad"))).cast("long"))
      .select(gNames.zip(groupCols.indices).map { case (n, i) =>
          col(n).as(s"g$i") } ++
        Seq(col("n"), col("median"), col("mad"), col("n_outliers")): _*)
  }

  /** Per-group ordinary-least-squares line fit over integer (x, y) —
    * the parametric companion to the robust Theil–Sen slope (run both:
    * when they disagree, the residuals aren't well-behaved and the
    * robust one is telling the truth): slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²), intercept = (ΣyΣx² − ΣxΣxy) / same, and r² =
    * (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²)) — all exact
    * integer rationals from ONE aggregation pass, micro-rounded for
    * display (the q238 corrMatrix discipline, grouped). Null fit when
    * x is constant (zero variance); r² additionally null when y is
    * constant.
    *
    * Scale posture: one (group) aggregation over the rows — five
    * decimal sums, map-side combined; everything after is per-group
    * scalar arithmetic. Envelope: n·Σxy and the r² cross-products must
    * fit DECIMAL(38,0) — with |x|,|y| ≤ 10⁹ that holds to ~10¹⁰ rows
    * per group; both engines fail loud past it (ANSI / HUGEINT).
    *
    * @return (g…, n, slope, intercept, r2)
    */
  def linearFit(
      df: DataFrame, groupCols: Seq[Column], xCol: Column,
      yCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "linearFit needs >= 1 group column")
    val base = df.select(
      groupCols.zipWithIndex.map { case (c, i) => c.as(s"__g$i") } ++
        Seq(xCol.cast("long").as("__x"), yCol.cast("long").as("__y")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val gNames = groupCols.indices.map(i => s"__g$i")
    val agg = base.groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"),
        sum(dec(col("__y")) * dec(col("__y"))).as("__syy"),
        sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"))
    val n = dec(col("n"))
    val cov = n * col("__sxy") - col("__sx") * col("__sy")
    val varX = n * col("__sxx") - col("__sx") * col("__sx")
    val varY = n * col("__syy") - col("__sy") * col("__sy")
    val iNum = col("__sy") * col("__sxx") - col("__sx") * col("__sxy")
    import EvalMetrics.microRound6
    agg.select(gNames.zip(groupCols.indices).map { case (nm, i) =>
        col(nm).as(s"g$i") } ++ Seq(
      col("n"),
      when(varX > 0, microRound6(cov, varX).cast("double") / 1e6)
        .as("slope"),
      when(varX > 0, microRound6(iNum, varX).cast("double") / 1e6)
        .as("intercept"),
      when(varX > 0 && varY > 0,
        microRound6(cov * cov, varX * varY).cast("double") / 1e6)
        .as("r2")): _*)
  }

  /** Trimmed and winsorized means per group — the robust location
    * estimates next to [[robustOutliers]]' median/MAD scale estimates:
    * the α-trimmed mean drops the k = floor(n·trimNum/trimDen) smallest
    * and largest observations; the winsorized mean clamps them to the
    * surviving extremes (the (k+1)-th and (n−k)-th order statistics)
    * instead — the "one whale order must not move the daily average"
    * statistic. Exact integers end to end: rank selection picks the
    * clamp values, the two means are micro-rounded rationals. Ties at
    * the trim boundary are value-deterministic (whichever tied row the
    * rank keeps has the same value).
    *
    * `groupCols` must be non-empty plain column references (same
    * unpartitioned-window argument as Drift.ksTest).
    *
    * Scale posture: one group-keyed rank window over the rows (the same
    * shape every quantile in the engine pays) and one aggregation —
    * no self-joins, no per-group collects.
    *
    * @return (g…, n, n_trimmed, winsor_lo, winsor_hi, trimmed_mean,
    *   winsorized_mean)
    */
  def trimmedStats(
      df: DataFrame, groupCols: Seq[Column], value: Column,
      trimNum: Int = 1, trimDen: Int = 10): DataFrame = {
    require(trimNum >= 0 && trimDen >= 1 && 2 * trimNum < trimDen,
      s"trim fraction must sit in [0, 1/2): $trimNum/$trimDen")
    require(groupCols.nonEmpty,
      "trimmedStats needs >= 1 group column (see scaladoc)")
    import org.apache.spark.sql.expressions.Window
    val gNames = groupCols.indices.map(i => s"__g$i")
    val base = df.select(
      groupCols.zip(gNames).map { case (c, n) => c.as(n) } :+
        value.cast("long").as("__x"): _*)
      .filter(col("__x").isNotNull)
    val w = Window.partitionBy(gNames.map(col): _*)
    val ranked = base
      .withColumn("__rn", row_number().over(w.orderBy(col("__x"))))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__k", expr(s"(__n * $trimNum) div $trimDen"))
    val kept = col("__rn") > col("__k") && col("__rn") <= col("__n") - col("__k")
    ranked.groupBy(gNames.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__k")).as("__kk"),
        sum(when(kept, EvalMetrics.dec(col("__x")))).as("__tsum"),
        min(when(col("__rn") === col("__k") + 1, col("__x"))).as("winsor_lo"),
        max(when(col("__rn") === col("__n") - col("__k"), col("__x")))
          .as("winsor_hi"))
      .select(gNames.zip(groupCols.indices).map { case (n, i) =>
          col(n).as(s"g$i") } ++ Seq(
        col("n"), (col("n") - col("__kk") * 2).as("n_trimmed"),
        col("winsor_lo"), col("winsor_hi"),
        (EvalMetrics.microRound6(col("__tsum"), col("n") - col("__kk") * 2)
          .cast("double") / 1e6).as("trimmed_mean"),
        (EvalMetrics.microRound6(
          col("__tsum") + EvalMetrics.dec(col("__kk")) *
            (EvalMetrics.dec(col("winsor_lo")) +
              EvalMetrics.dec(col("winsor_hi"))), col("n"))
          .cast("double") / 1e6).as("winsorized_mean")): _*)
  }

  /** Join-key skew profile: for each candidate key column, the
    * pre-flight numbers that predict shuffle skew BEFORE a 100 TB join
    * is launched — distinct keys, rows, the heaviest key's share, and
    * the Gini/top-decile concentration of the key-frequency distribution
    * (via [[concentration]]). A key with max_share ≫ 1/keys or
    * Gini → 1 needs salting or an AQE skew plan; this is the evidence.
    *
    * Scale posture: per key column, one key aggregation (the only
    * row-level exchange) feeding both the concentration pass (key-
    * bounded) and a 1-row max — key column count is the outer loop
    * (bounded, caller-chosen).
    *
    * A key column whose values are ALL null has no frequency
    * distribution and is absent from the output (the oracle applies the
    * same rule) — check columnProfile's null counts first if that
    * distinction matters.
    *
    * @return one row per key column: (key_col, n_keys, n_rows, max_cnt,
    *   max_share, gini, top_decile_share)
    */
  def skewProfile(
      df: DataFrame, keys: Seq[(String, Column)]): DataFrame = {
    require(keys.nonEmpty && keys.size <= 16, s"1..16 keys: ${keys.size}")
    // ONE corpus pass for ALL keys (r14): each row explodes into
    // (key-name, key-value-as-string) pairs, so a single (col, key)
    // count aggregation + one checkpoint replaces a corpus scan + eager
    // checkpoint job PER key (the old shape ran |keys| sequential
    // full-table jobs). The string cast only keys the count groupBy —
    // injective per column (one source type each), and no key value
    // reaches the output.
    val cnts = df
      .select(explode(array(keys.map { case (name, c) =>
        struct(lit(name).as("c"), c.cast("string").as("k")) }: _*)).as("__e"))
      .select(col("__e.c").as("__col"), col("__e.k").as("__k"))
      .filter(col("__k").isNotNull)
      .groupBy(col("__col"), col("__k")).agg(count(lit(1)).as("__cnt"))
      .localCheckpoint() // key-bounded; feeds concentration + the maxes
    val conc = concentration(cnts, Seq(col("__col")), col("__cnt"))
    val mx = cnts.groupBy(col("__col")).agg(
      count(lit(1)).as("n_keys"), max(col("__cnt")).as("max_cnt"))
    conc.join(broadcast(mx), col("g0") === col("__col"))
      .select(col("g0").as("key_col"), col("n_keys"),
        col("total").as("n_rows"), col("max_cnt"),
        (EvalMetrics.microRound6(col("max_cnt"), col("total"))
          .cast("double") / 1e6).as("max_share"),
        col("gini"), col("top_decile_share"))
  }

  /** Top-N + "other" rollup: the n heaviest keys by summed weight (ties
    * by key ascending), every remaining key lumped into one `__other__`
    * row — the cardinality-capped report shape every dashboard wants
    * ("top 20 domains, rest pooled") that naive GROUP BY can't give and
    * a global rank window shouldn't (the guard-banned single-partition
    * shape).
    *
    * Scale posture: one key aggregation (the only row-level exchange);
    * the top-n comes off the key-bounded frame as a TakeOrdered
    * (n rows to the driver-side limit, never a global window); ranks
    * are assigned by a BROADCAST n×n self-join (n ≤ 1000 → ≤ 10⁶
    * comparisons); the complement is a broadcast anti-join collapsed to
    * a single row.
    *
    * @return (key, total, n_keys, rank) — rank 1..n for the top rows,
    *   n+1 for `__other__` (absent when nothing is left over); n_keys =
    *   source keys folded into the row (1 for top rows).
    */
  def topNOther(
      df: DataFrame, keyCol: Column, weight: Column, n: Int): DataFrame = {
    require(n >= 1 && n <= 1000, s"bad n: $n")
    val agg = df
      .select(keyCol.cast("string").as("key"), weight.cast("long").as("__w"))
      .filter(col("key").isNotNull && col("__w").isNotNull)
      .groupBy(col("key")).agg(sum(col("__w")).as("total"))
    val top = agg.orderBy(col("total").desc, col("key").asc).limit(n)
      .localCheckpoint() // ≤ n rows; 3 consumers (rank join ×2, anti-join)
    val beats = col("t2") > col("total") ||
      (col("t2") === col("total") && col("k2") < col("key"))
    val rankedTop = top
      .join(broadcast(top.select(col("key").as("k2"), col("total").as("t2"))),
        beats, "left")
      .groupBy(col("key"), col("total"))
      .agg((count(col("k2")) + 1).as("rank"))
      .select(col("key"), col("total"), lit(1L).as("n_keys"), col("rank"))
    val other = agg
      .join(broadcast(top.select(col("key"))), Seq("key"), "left_anti")
      .agg(sum(col("total")).as("total"), count(lit(1)).as("n_keys"))
      .filter(col("n_keys") > 0)
      .select(lit("__other__").as("key"), col("total"), col("n_keys"),
        lit(n + 1L).as("rank"))
    rankedTop.unionByName(other)
  }

  /** Equal-width histogram over an integer-valued column in ONE range
    * derivation + one aggregation, all-integer arithmetic (no float
    * division — bin edges replay exactly cross-engine):
    * `bin = (x − min)·nBins div (max − min + 1)`, always in
    * [0, nBins−1]. Output: (bin, bin_lo, n) — bin_lo the smallest value
    * landing in the bin.
    */
  def histogramInt(df: DataFrame, value: Column, nBins: Int): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val bounds = df.agg(min(value).cast("long").as("__lo"),
      max(value).cast("long").as("__hi"))
    df.select(value.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(col("__x"),
        expr(s"((__x - __lo) * $nBins) div (__hi - __lo + 1)").as("bin"))
      .groupBy(col("bin"))
      .agg(min(col("__x")).as("bin_lo"), count(lit(1)).as("n"))
  }

  /** l-diversity audit — the companion check to [[kAnonymity]]: a class
    * can be large yet still leak when everyone in it shares the sensitive
    * value (Machanavajjhala 2007). One row per equivalence class:
    * class size, distinct sensitive values, fixed-point Shannon entropy
    * of the sensitive distribution in bits (6 dp — the entropy-l-diversity
    * statistic), and a `diverse` flag for classes with >= l distinct
    * values. Entropy is exact-integer end to end:
    * H = (n*log2fp(n) - sum c_i*log2fp(c_i)) / (n*2^20), micro-rounded.
    *
    * Scale posture: two aggregations — (quasi, sensitive) counts (the one
    * exchange carrying row-level weight), then a quasi-keyed rollup of
    * the already-collapsed counts. No windows, no collects; log2fp runs
    * once per (class, value), never per row.
    *
    * `quasiCols` and `sensitiveCol` must be plain column references (they
    * are re-resolved by name across the two aggregations).
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[Column],
      sensitiveCol: Column, l: Long): DataFrame = {
    import graft.functions.Log2Fixed
    require(l >= 1, s"l must be >= 1, got $l")
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    val reserved =
      Seq("group_size", "n_sensitive", "entropy_bits", "diverse", "__c",
        "__st")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    val counts = df.groupBy((quasiCols :+ sensitiveCol): _*)
      .agg(count(lit(1)).as("__c"))
    val rolled = counts.groupBy(quasiCols: _*)
      .agg(sum(col("__c")).as("group_size"),
        count(lit(1)).as("n_sensitive"),
        sum(col("__c") * Log2Fixed.expr(col("__c"))).as("__st"))
    val entNum = col("group_size") * Log2Fixed.expr(col("group_size")) -
      col("__st")
    rolled.select(quasiCols ++ Seq(
      col("group_size"), col("n_sensitive"),
      (EvalMetrics.microRound6(entNum, col("group_size") * Log2Fixed.One)
        .cast("double") / 1e6).as("entropy_bits"),
      when(col("n_sensitive") >= l, 1).otherwise(0).as("diverse")): _*)
  }

  /** k-anonymity audit over quasi-identifier columns: every row gains its
    * equivalence-class size (`group_size` — rows sharing ALL quasi
    * values) and a `suppressed` flag for classes under `k` — the
    * rows a release must drop or generalize. The pre-release governance
    * check run before a table with demographic-ish columns ships to a
    * wider audience (Sweeney 2002).
    *
    * Scale posture: one quasi-key-partitioned window (count over the
    * whole partition — no ordering, no running frame); equivalence
    * classes shuffle on their natural key, never a global sort. NULL
    * quasi values form their own class (SQL window partitioning groups
    * nulls) — deliberately: an absent value is itself identifying.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[Column], k: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    val reserved = Seq("group_size", "suppressed")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    val w = Window.partitionBy(quasiCols: _*)
    df.withColumn("group_size", count(lit(1)).over(w))
      .withColumn("suppressed", when(col("group_size") < k, 1).otherwise(0))
  }

  /** Empirical-Bayes (beta-binomial) rate shrinkage — the "don't trust
    * a 2-for-3 conversion rate" stabilizer a curation/analytics stack
    * runs before ranking or cutting low-evidence groups (the q210
    * domain-verdict problem at the statistics layer): each group's raw
    * rate s/n is pulled toward the population mean with strength K
    * pseudo-observations, where (μ, K) come from the method of moments
    * on the group-rate distribution:
    *
    *   K = ⌊μ(1e6−μ)/v⌋ − 1,  shrunk = (s·1e6 + K·μ) / (1e6·(n + K))
    *
    * Exact deterministic quantization chain (every floor replicated in
    * the oracle): micro rates → micro mean μ → floored micro² sample
    * variance v → K in natural pseudo-events → one final micro-rounded
    * shrunk rate. Degenerate branches are explicit: fewer than 2 groups
    * → null shrunk (no prior); v = 0 (all rates equal) → shrunk = μ
    * with null strength (the infinite-strength limit); K ≤ 0
    * (between-group variance at/above the binomial ceiling —
    * overdispersed) → shrunk = raw rate with null strength.
    *
    * Scale posture: ONE (group) aggregation over the input carries row
    * weight; the prior is a one-row broadcast over the group-bounded
    * rate frame. Envelope: K ≤ μ(1e6−μ) ≤ 2.5·10¹¹ and every product
    * rides DECIMAL(38,0) — unreachable bounds.
    *
    * @return (g…, n, s, rate, shrunk_rate, prior_mean, prior_strength)
    */
  def ebShrinkRates(df: DataFrame, groupCols: Seq[Column],
      successCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val reserved = Seq("n", "s", "rate", "shrunk_rate", "prior_mean",
      "prior_strength")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    import graft.operators.EvalMetrics.{idivPos, microRound6}
    def dec(c: Column) = c.cast("decimal(38,0)")
    val g = df.filter(successCol.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"), sum(successCol.cast("long")).as("s"))
      .withColumn("__r", microRound6(col("s"), col("n")))
      .localCheckpoint() // feeds the prior AND the per-group output
    val prior = g.agg(count(lit(1)).as("__G"),
        sum(col("__r")).as("__sr"),
        sum(dec(col("__r")) * dec(col("__r"))).as("__sr2"))
      .select(col("__G"),
        microRound6(col("__sr"), col("__G") * 1000000L).as("__mu"),
        when(col("__G") > 1,
          idivPos(dec(col("__G")) * col("__sr2") -
            dec(col("__sr")) * dec(col("__sr")),
            dec(col("__G")) * dec(col("__G") - 1))).as("__v"))
      .withColumn("__k",
        when(col("__v") > 0,
          idivPos(dec(col("__mu")) * dec(lit(1000000L) - col("__mu")),
            col("__v")) - 1L))
    g.crossJoin(broadcast(prior))
      .select((groupCols.indices.map(i => col(g.columns(i))) ++ Seq(
        col("n"), col("s"),
        (col("__r").cast("double") / 1e6).as("rate"),
        when(col("__G") < 2, lit(null).cast("double"))
          .when(col("__v") <= 0, col("__mu").cast("double") / 1e6)
          .when(col("__k") <= 0, col("__r").cast("double") / 1e6)
          .otherwise(microRound6(
            dec(col("s")) * 1000000L + dec(col("__k")) * dec(col("__mu")),
            lit(1000000L) * (dec(col("n")) + dec(col("__k"))))
            .cast("double") / 1e6).as("shrunk_rate"),
        when(col("__G") >= 2, col("__mu").cast("double") / 1e6)
          .as("prior_mean"),
        when(col("__G") >= 2 && col("__v") > 0 && col("__k") > 0,
          col("__k")).as("prior_strength"))): _*)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * leg of the release-governance trio: [[kAnonymity]] bounds
    * re-identification, [[lDiversity]] bounds attribute disclosure by
    * VARIETY, t-closeness bounds it by DISTRIBUTION — an equivalence
    * class whose sensitive values are diverse but skewed (9 of 10 rows
    * "tier 4") still leaks. For an ORDERED sensitive attribute the
    * earth-mover distance has the closed prefix form
    *
    *   t = Σ_{i<m} |cumP_i·N − cumQ_i·n_c| / (n_c·N·(m−1))
    *
    * over the m global distinct values — exact integers end to end
    * (common denominator n_c·N), micro-rounded once. Classes missing a
    * value still accumulate its global mass (the cross join against the
    * value table, not just observed cells). m = 1 → t = 0 by
    * definition. Null sensitive rows are excluded; null quasi values
    * form their own class (the [[kAnonymity]] convention).
    *
    * Scale posture: one (class, value) count aggregation over the input;
    * cumulatives ride broadcast triangular joins on the value-bounded
    * frames (never an unpartitioned window), so the only row-weight
    * exchange is the cell aggregation. The class×m² fan-out requires a
    * small ordinal value domain — the t-closeness setting (band/tier
    * attributes), enforced fail-loud via `maxValues`.
    *
    * @return (quasi…, n, m_values, t, within_t)
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[Column],
      sensitiveCol: Column, tMicro: Long,
      maxValues: Int = 64): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(tMicro >= 0 && tMicro <= 1000000L,
      s"tMicro must be in [0, 1e6], got $tMicro")
    val reserved = Seq("n", "m_values", "t", "within_t")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(sensitiveCol.isNotNull)
    val cells = base
      .groupBy((quasiCols :+ sensitiveCol.cast("long").as("__v")): _*)
      .agg(count(lit(1)).as("__c")).localCheckpoint()
    val gNames = cells.columns.dropRight(2).toSeq
    // global value table with cumulative counts via a broadcast
    // triangular self-join (value-domain bounded, fail-loud)
    val vals = cells.groupBy(col("__v")).agg(sum(col("__c")).as("__gq"))
      .localCheckpoint()
    val m = vals.count()
    require(m <= maxValues,
      s"tCloseness: $m distinct sensitive values exceed maxValues=" +
        s"$maxValues — ordinal attributes only (band/bucket first)")
    val totals = vals.agg(sum(col("__gq")).as("__N"),
      count(lit(1)).as("__m"))
    val cumQ = vals.select(col("__v").as("__vi"))
      .join(broadcast(vals), col("__v") <= col("__vi"))
      .groupBy(col("__vi")).agg(sum(col("__gq")).as("__cumq"))
    // per-class cumulative at EVERY global value (missing cells read 0);
    // the class key joins null-safely (null quasi values form a class)
    val classes = cells.groupBy(gNames.map(col): _*)
      .agg(sum(col("__c")).as("n"))
    val cellsJ = cells.select(
      (gNames.map(n => col(n).as(s"__j_$n")) ++
        Seq(col("__v").as("__vj"), col("__c"))): _*)
    val classKey = gNames.map(n => col(n) <=> col(s"__j_$n")).reduce(_ && _)
    val perClassCum = classes
      .join(broadcast(vals.select(col("__v").as("__vi"))), lit(true))
      .join(cellsJ, classKey && col("__vj") <= col("__vi"), "left")
      .groupBy((gNames.map(col) ++ Seq(col("n"), col("__vi"))): _*)
      .agg(sum(coalesce(col("__c"), lit(0L))).as("__cump"))
    val terms = perClassCum
      .join(broadcast(cumQ), Seq("__vi"))
      .crossJoin(broadcast(totals))
      .select((gNames.map(col) ++ Seq(col("n"), col("__m"), col("__N"),
        abs(dec(coalesce(col("__cump"), lit(0L))) * dec(col("__N")) -
          dec(col("__cumq")) * dec(col("n"))).as("__gap"))): _*)
    terms.groupBy((gNames.map(col) ++ Seq(col("n"), col("__m"),
        col("__N"))): _*)
      .agg(sum(col("__gap")).as("__t"))
      .select((gNames.map(col) ++ Seq(col("n"),
        col("__m").as("m_values"),
        when(col("__m") > 1,
          EvalMetrics.microRound6(col("__t"),
            dec(col("n")) * dec(col("__N")) * dec(col("__m") - 1)))
          .otherwise(0L).cast("double").divide(lit(1e6)).as("t"),
        when(col("__m") > 1,
          when(EvalMetrics.microRound6(col("__t"),
            dec(col("n")) * dec(col("__N")) * dec(col("__m") - 1))
            <= tMicro, 1).otherwise(0))
          .otherwise(1).as("within_t"))): _*)
  }
  /** Wilson score lower/upper bound per group — the CONSERVATIVE rate
    * ranking next to [[ebShrinkRates]] (EB pulls small groups toward
    * the population mean; Wilson bounds a single group's rate with no
    * prior — the "sort by lower bound" rule every keep-rate/rating
    * ranker uses). z² is baked at the chi-square(1) 95% value 3.841459
    * (micro 3841459 — the mannWhitneyU/cochranQ constant), and the
    * closed form clears both square roots into ONE integer sqrt:
    *
    *   LB,UB = (2s + z² ∓ z·√(4s(n−s)/n + z²)) / (2(n + z²))
    *
    * Exact quantization chain, every floor replicated by the oracle:
    *   R  = (4·s·(n−s)·10⁶) div n            (micro inner ratio)
    *   T  = Z2·(R + Z2)                      (= 10¹²·z²·(4s(n−s)/n+z²))
    *   rt = isqrt(T)                         (float seed ± 2 exact
    *                                          correction, fail-loud —
    *                                          EvalMetrics.withIsqrt)
    *   lb = microRound6(2·10⁶·s + Z2 − rt, 2·(10⁶·n + Z2))
    *
    * T, the seed and rt are each evaluated ONCE per group (withIsqrt's
    * Generate barriers). Inlined, Catalyst would copy the DECIMAL T
    * subtree into every seed reference and the chain into every consumer:
    * the generated method outgrows the JVM's 64 KB limit, and the stage
    * runs interpreted after a rejected compile repeated on every execution.
    *
    * Scale posture: ONE group aggregation, everything after is a
    * per-group integer projection. Envelope: T ≈ 3.84·10¹²·n holds a
    * DECIMAL comfortably past any group size, and the seed window holds
    * far past any reachable T (see withIsqrt).
    *
    * @return (g…, n, s, rate, wilson_lb, wilson_ub)
    */
  def wilsonLowerBound(df: DataFrame, groupCols: Seq[Column],
      successCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    // outputs: a group column named like one would be silently clobbered
    // (wrong bounds, not an error) — fail loud instead; withIsqrt guards
    // its own working names
    val reserved = Seq("n", "s", "rate", "wilson_lb", "wilson_ub")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    import graft.operators.EvalMetrics.{idivPos, microRound6, withIsqrt}
    def dec(c: Column) = c.cast("decimal(38,0)")
    val Z2 = 3841459L
    val g = df.filter(successCol.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"), sum(successCol.cast("long")).as("s"))
    val bigR = idivPos(
      dec(col("s")) * (dec(col("n")) - dec(col("s"))) * 4000000L,
      dec(col("n")))
    val den = (dec(col("n")) * 1000000L + Z2) * 2L
    withIsqrt(g, dec(lit(Z2)) * (dec(bigR) + Z2), "__rt", "wilson")
      .select((groupCols.indices.map(i => col(g.columns(i))) ++ Seq(
        col("n"), col("s"),
        microRound6(col("s"), col("n")).cast("double").divide(lit(1e6))
          .as("rate"),
        microRound6(
          dec(col("s")) * 2000000L + Z2 - col("__rt"), den)
          .cast("double").divide(lit(1e6)).as("wilson_lb"),
        microRound6(
          dec(col("s")) * 2000000L + Z2 + col("__rt"), den)
          .cast("double").divide(lit(1e6)).as("wilson_ub"))): _*)
  }

  /** CUPED variance reduction (Deng et al. 2013) — the experimentation
    * platform's standard pre-period adjustment: with covariate x (the
    * PRE-period metric) and outcome y, θ = Cov(x,y)/Var(x) pooled over
    * all arms, and each arm's adjusted mean is ȳ_a − θ·(x̄_a − x̄).
    * Randomization makes E[x̄_a − x̄] = 0, so the adjustment is unbiased
    * while removing the covariate-explained variance — the experiment
    * reads significance at ρ² less sample.
    *
    * Exact quantization chain: Sxx = N·Σx² − (Σx)², Sxy = N·Σxy − Σx·Σy
    * (DECIMAL exact), θ = Sxy/Sxx micro-quantized ONCE (microRound6,
    * sign-preserving), ρ² as the ÷1e6-floored product of the two
    * quantized slopes (Sxy/Sxx)·(Sxy/Syy) — squaring Sxy directly needs
    * ~Sxy²·2e6 headroom, which bursts DECIMAL(38) at corpus scale —
    * and each arm's adjusted mean is one exact rational over the
    * quantized θ:
    *
    *   mean_adj = microRound6(10⁶·N·Σy_a − θµ·(N·Σx_a − Σx·n_a),
    *              10⁶·n_a·N)
    *
    * Scale posture: one pooled aggregation (1-row broadcast) + one arm
    * aggregation — two map-side-combined passes over the same frame,
    * nothing data-sized after. Zero pooled variance (constant x) →
    * null theta and mean_adj = mean_y (no adjustment), fail-soft and
    * documented.
    *
    * @return (g…, n, mean_x, mean_y, theta, mean_y_adj, rho2)
    */
  def cuped(df: DataFrame, groupCols: Seq[Column], xCol: Column,
      yCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    // outputs AND internal working names (the wilsonLowerBound
    // convention): a group column named __x/__y collides in the base
    // projection, and one named like the pooled/arm aggregates (__N,
    // __sx, …) turns the crossJoin into ambiguous-reference soup —
    // fail loud up front instead
    val reserved = Seq("n", "mean_x", "mean_y", "theta", "mean_y_adj",
      "rho2", "__x", "__y", "__N", "__sx", "__sy", "__sxx", "__sxy",
      "__syy", "__sxa", "__sya", "__th", "__th2")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output/working column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    import graft.operators.EvalMetrics.microRound6
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select((groupCols :+ xCol.cast("long").as("__x") :+
        yCol.cast("long").as("__y")): _*)
      .localCheckpoint() // feeds the pooled AND the per-arm aggregation
    val pooled = base.agg(count(lit(1)).as("__N"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"),
      sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"),
      sum(dec(col("__y")) * dec(col("__y"))).as("__syy"))
    val gNames = base.columns.dropRight(2).toSeq
    val arms = base.groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__sxa"),
        sum(col("__y")).as("__sya"))
    val sxx = dec(col("__N")) * col("__sxx") - dec(col("__sx")) * dec(col("__sx"))
    val sxy = dec(col("__N")) * col("__sxy") - dec(col("__sx")) * dec(col("__sy"))
    val syy = dec(col("__N")) * col("__syy") - dec(col("__sy")) * dec(col("__sy"))
    val thetaMicro = when(sxx > 0, microRound6(sxy, sxx))
    // ρ² = (Sxy/Sxx)·(Sxy/Syy) as the PRODUCT of the two micro-quantized
    // slopes (÷1e6 floor) — squaring Sxy directly would need ~vxy²·2e6
    // headroom, which bursts DECIMAL(38)/HUGEINT at corpus scale while
    // the quantized product never leaves micro range
    val theta2Micro = when(syy > 0, microRound6(sxy, syy))
    arms.crossJoin(broadcast(pooled))
      .withColumn("__th", thetaMicro)
      .withColumn("__th2", theta2Micro)
      .select((gNames.map(col) ++ Seq(
        col("n"),
        microRound6(col("__sxa"), col("n")).cast("double")
          .divide(lit(1e6)).as("mean_x"),
        microRound6(col("__sya"), col("n")).cast("double")
          .divide(lit(1e6)).as("mean_y"),
        col("__th").cast("double").divide(lit(1e6)).as("theta"),
        coalesce(
          when(col("__th").isNotNull, microRound6(
            dec(col("__sya")) * dec(col("__N")) * 1000000L -
              dec(col("__th")) * (dec(col("__N")) * dec(col("__sxa")) -
                dec(col("__sx")) * dec(col("n"))),
            dec(col("n")) * dec(col("__N")) * 1000000L)),
          microRound6(col("__sya"), col("n")))
          .cast("double").divide(lit(1e6)).as("mean_y_adj"),
        when(col("__th").isNotNull && col("__th2").isNotNull,
          EvalMetrics.idivPos(dec(col("__th")) * dec(col("__th2")),
            lit(1000000L)))
          .cast("double").divide(lit(1e6)).as("rho2"))): _*)
  }

  /** Baked upper-tail inverse chi²(1) critical values for the
    * Benjamini–Hochberg step-up at FDR α = 0.05: row (m, k, c) carries
    * c = round(1e6 · F⁻¹(1 − 0.05·k/m)) for a battery of m tests,
    * 1 ≤ k ≤ m ≤ 16 — (1,1) and every (m,m) reproduce the house
    * chi²(1) 95% constant 3841459 (wilson/mannWhitneyU/logRank), the
    * α = 0.05 single-test case BH degenerates to. ONE definition feeds
    * the operator's literal relation AND the generated oracle VALUES
    * CTE (the schema-validation twin convention).
    */
  private[graft] val bhCriticalMicro: Seq[(Int, Int, Long)] = Seq(
    (1,1,3841459L), (2,1,5023886L), (2,2,3841459L), (3,1,5731139L), (3,2,4528577L),
    (3,3,3841459L), (4,1,6238533L), (4,2,5023886L), (4,3,4327558L), (4,4,3841459L),
    (5,1,6634897L), (5,2,5411894L), (5,3,4709292L), (5,4,4217885L), (5,5,3841459L),
    (6,1,6960401L), (6,2,5731139L), (6,3,5023886L), (6,4,4528577L), (6,5,4148693L),
    (6,6,3841459L), (7,1,7236689L), (7,2,6002489L), (7,3,5291596L), (7,4,4793252L),
    (7,5,4410695L), (7,6,4101028L), (7,7,3841459L), (8,1,7476773L), (8,2,6238533L),
    (8,3,5524683L), (8,4,5023886L), (8,5,4639176L), (8,6,4327558L), (8,7,4066184L),
    (8,8,3841459L), (9,1,7689093L), (9,2,6447460L), (9,3,5731139L), (9,4,5228302L),
    (9,5,4841807L), (9,6,4528577L), (9,7,4265715L), (9,8,4039597L), (9,9,3841459L),
    (10,1,7879439L), (10,2,6634897L), (10,3,5916468L), (10,4,5411894L), (10,5,5023886L),
    (10,6,4709292L), (10,7,4445175L), (10,8,4217885L), (10,9,4018640L), (10,10,3841459L),
    (11,1,8051956L), (11,2,6804879L), (11,3,6084621L), (11,4,5578545L), (11,5,5189231L),
    (11,6,4873462L), (11,7,4608267L), (11,8,4379970L), (11,9,4179777L), (11,10,4001694L),
    (11,11,3841459L), (12,1,8209716L), (12,2,6960401L), (12,3,6238533L), (12,4,5731139L),
    (12,5,5340681L), (12,6,5023886L), (12,7,4757749L), (12,8,4528577L), (12,9,4327558L),
    (12,10,4148693L), (12,11,3987709L), (12,12,3841459L), (13,1,8355057L), (13,2,7103745L),
    (13,3,6380443L), (13,4,5871880L), (13,5,5480408L), (13,6,5162705L), (13,7,4895737L),
    (13,8,4665792L), (13,9,4464047L), (13,10,4284494L), (13,11,4122852L), (13,12,3975971L),
    (13,13,3841459L), (14,1,8489801L), (14,2,7236689L), (14,3,6512101L), (14,4,6002489L),
    (14,5,5610110L), (14,6,5291596L), (14,7,5023886L), (14,8,4793252L), (14,9,4590861L),
    (14,10,4410695L), (14,11,4248470L), (14,12,4101028L), (14,13,3965977L), (14,14,3841459L),
    (15,1,8615396L), (15,2,7360651L), (15,3,6634897L), (15,4,6124336L), (15,5,5731139L),
    (15,6,5411894L), (15,7,5143517L), (15,8,4912264L), (15,9,4709292L), (15,10,4528577L),
    (15,11,4365828L), (15,12,4217885L), (15,13,4082351L), (15,14,3957366L), (15,15,3841459L),
    (16,1,8733011L), (16,2,7476773L), (16,3,6749956L), (16,4,6238533L), (16,5,5844592L),
    (16,6,5524683L), (16,7,5255700L), (16,8,5023886L), (16,9,4820389L), (16,10,4639176L),
    (16,11,4475954L), (16,12,4327558L), (16,13,4191589L), (16,14,4066184L), (16,15,3949870L),
    (16,16,3841459L))

  /** [[bhCriticalMicro]] rendered as the oracle's VALUES rows — splice
    * into a `crit(cm, ck, cc) AS (VALUES …)` CTE so both engines read
    * the SAME baked grid. */
  private[graft] def bhCriticalSql: String =
    bhCriticalMicro.map { case (m, k, c) => s"($m, $k, $c)" }
      .mkString(", ")

  /** Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg 1995)
    * over a battery of chi²(1) statistics — the multiple-testing gate a
    * one-vs-rest battery like [[graft.operators.Journey.logRank]]'s
    * q294 form needs before anyone reads its `significant` flags: m
    * tests at per-test α = 0.05 expect m·0.05 false alarms, BH caps the
    * FALSE DISCOVERY RATE at 0.05 instead. Working on the chi² scale
    * avoids p-values entirely: p ascending ⇔ chi² descending, and
    * "p_k ≤ 0.05·k/m" ⇔ "chi2 ≥ F⁻¹(1 − 0.05·k/m)" with the inverse CDF
    * baked per (m, k) in [[bhCriticalMicro]] — reject ranks 1..k* where
    * k* = max{k : chi2_(k) ≥ crit(m, k)}.
    *
    * Pinned contract: the decision compares the MICRO-ROUNDED statistic
    * (the exact integer both engines already agree on) against the
    * micro-rounded critical; ranks order by (chi2_micro DESC, id ASC) —
    * a deterministic total order as long as the id columns are unique
    * per test, which a battery's group keys are. Null statistics must
    * be filtered upstream (they carry no evidence to rank).
    *
    * Scale posture: the battery frame is m-bounded (m ≤ 16, fail-loud —
    * the baked-grid envelope), so everything here is constant-size
    * work: rank via the broadcast triangular self-join (the q244
    * convention — the guard-banned global rank window never appears),
    * m and k* as 1-row broadcasts, the critical grid a 136-row literal
    * relation. Zero eager actions, composes lazily downstream of any
    * battery.
    *
    * @param chi2MicroCol micro-scaled chi²(1) statistic (long, = the
    *   operator's `chi2 · 1e6` — reconstruct with round(chi2·1e6))
    * @return (g…, chi2, m, rank, critical, rejected)
    */
  def bhFdr(df: DataFrame, idCols: Seq[Column],
      chi2MicroCol: Column): DataFrame = {
    require(idCols.nonEmpty, "need at least one id column")
    val reserved = Seq("chi2", "m", "rank", "critical", "rejected",
      "__c", "__k", "__c2", "__k2", "__m", "__r", "__cm", "__ck",
      "__cc", "__kstar", "__chk")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved output/working column: " +
        df.columns.filter(reserved.contains).mkString(", "))
    val gNames = idCols.indices.map(i => s"g$i")
    val base = df.filter(chi2MicroCol.isNotNull)
      .select((idCols.zip(gNames).map { case (c, n) => c.as(n) } :+
        chi2MicroCol.cast("long").as("__c")): _*)
      .withColumn("__k",
        concat_ws("\u0001", gNames.map(n => col(n).cast("string")): _*))
      .localCheckpoint() // feeds rank join, m count, k* — 3 consumers
    val mF = base.agg(count(lit(1)).cast("int").as("__m"))
    // rank by (chi2 DESC, key ASC) via the broadcast triangular
    // self-join — rank_i = 1 + |{j : c_j > c_i ∨ (c_j = c_i ∧ k_j < k_i)}|
    val rhs = broadcast(base.select(col("__c").as("__c2"),
      col("__k").as("__k2")))
    val ranked = base.join(rhs,
        col("__c2") > col("__c") ||
          (col("__c2") === col("__c") && col("__k2") < col("__k")),
        "left")
      .groupBy((gNames.map(col) :+ col("__c") :+ col("__k")): _*)
      .agg((count(col("__c2")) + 1L).cast("int").as("__r"))
    val session = df.sparkSession
    import session.implicits._
    val crit = broadcast(bhCriticalMicro.toDF("__cm", "__ck", "__cc"))
    val joined = ranked.crossJoin(broadcast(mF))
      .withColumn("__chk", // fail loud beyond the baked-grid envelope
        when(col("__m") <= 16, lit(true))
          .otherwise(raise_error(concat(
            lit("bhFdr battery exceeds the baked critical grid (m = "),
            col("__m").cast("string"), lit(" > 16)"))).cast("boolean")))
      .filter(col("__chk"))
      .join(crit, col("__cm") === col("__m") && col("__ck") === col("__r"))
      .localCheckpoint() // feeds k* and the verdict — 2 consumers
    val kStar = joined
      .agg(max(when(col("__c") >= col("__cc"), col("__r"))).as("__kstar"))
    joined.crossJoin(broadcast(kStar))
      .select((gNames.map(col) ++ Seq(
        col("__c").cast("double").divide(lit(1e6)).as("chi2"),
        col("__m").as("m"),
        col("__r").as("rank"),
        col("__cc").cast("double").divide(lit(1e6)).as("critical"),
        (col("__r") <= coalesce(col("__kstar"), lit(0)))
          .cast("int").as("rejected"))): _*)
  }

  /** Difference-in-differences — the quasi-experimental companion to
    * [[cuped]]: with a treated and a control arm each observed in a
    * pre and a post period, DID = (ȳ_T,post − ȳ_T,pre) −
    * (ȳ_C,post − ȳ_C,pre) removes both the arms' level difference and
    * the common time trend (parallel-trends assumption); what remains
    * is the treatment effect.
    *
    * Exact chain: per-unit pre/post sums (longs), per-arm means
    * micro-rounded ONCE each (microRound6 — sign-preserving, the q293
    * lesson), DID as exact arithmetic on the four micro integers.
    * An absent arm (or an arm with no units) yields null DID rather
    * than an error — fail-soft like cuped's constant-covariate branch.
    *
    * Scale posture: ONE unit-keyed exchange (map-side combined), then
    * a 2-row arm aggregate collapsed to a single output row — nothing
    * data-sized after the unit agg.
    *
    * @param armCol 1 = treated, 0 = control (must be unit-constant;
    *   units are grouped by (unit, arm) so a drifting arm shows up as
    *   duplicate units, not silent misattribution)
    * @param postCol true/1 = post period
    * @return one row: (n_t, n_c, mean_pre_t, mean_post_t, mean_pre_c,
    *         mean_post_c, did)
    */
  def diffInDiff(df: DataFrame, unitCol: Column, armCol: Column,
      postCol: Column, valueCol: Column): DataFrame = {
    import graft.operators.EvalMetrics.microRound6
    val units = df
      .filter(armCol.isNotNull && postCol.isNotNull && valueCol.isNotNull)
      .groupBy(unitCol.as("__u"), armCol.cast("int").as("__a"))
      .agg(
        sum(when(!postCol.cast("boolean"), valueCol.cast("long"))
          .otherwise(0L)).as("__pre"),
        sum(when(postCol.cast("boolean"), valueCol.cast("long"))
          .otherwise(0L)).as("__post"))
    val arms = units.groupBy(col("__a"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__pre")).as("__sp"), sum(col("__post")).as("__so"))
      .select(col("__a"), col("__n"),
        microRound6(col("__sp"), col("__n")).as("__mp"),
        microRound6(col("__so"), col("__n")).as("__mo"))
    arms.agg(
        max(when(col("__a") === 1, col("__n"))).as("__nt"),
        max(when(col("__a") === 0, col("__n"))).as("__nc"),
        max(when(col("__a") === 1, col("__mp"))).as("__mpt"),
        max(when(col("__a") === 1, col("__mo"))).as("__mot"),
        max(when(col("__a") === 0, col("__mp"))).as("__mpc"),
        max(when(col("__a") === 0, col("__mo"))).as("__moc"))
      .select(
        coalesce(col("__nt"), lit(0L)).as("n_t"),
        coalesce(col("__nc"), lit(0L)).as("n_c"),
        col("__mpt").cast("double").divide(lit(1e6)).as("mean_pre_t"),
        col("__mot").cast("double").divide(lit(1e6)).as("mean_post_t"),
        col("__mpc").cast("double").divide(lit(1e6)).as("mean_pre_c"),
        col("__moc").cast("double").divide(lit(1e6)).as("mean_post_c"),
        ((col("__mot") - col("__mpt")) - (col("__moc") - col("__mpc")))
          .cast("double").divide(lit(1e6)).as("did"))
  }
}
