package graft.operators

import graft.functions.PolyHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based approximate statistics — the 100 TB companion to the exact
  * forms the oracle checks. Exact distinct counts and exact percentiles
  * (q09/q61) shuffle every distinct value / sort every group; these
  * sketches keep per-group state CONSTANT (HLL++ registers, GK quantile
  * summaries), mergeable map-side, so profile jobs over the full corpus
  * cost one narrow pass + a tiny final merge regardless of input size.
  *
  * Engine-specific register layouts make sketch outputs
  * non-oracle-comparable by design; correctness is spec-bounded instead
  * (SketchesSpec: observed error within the configured bound vs the exact
  * answers on the synthetic tables).
  */
object Sketches {

  /** Per-group approximate distinct cardinality (HLL++).
    * @param rsd maximum relative standard deviation (default 2%).
    */
  def distinctProfile(
      df: DataFrame, groupCols: Seq[Column], valueCol: Column,
      rsd: Double = 0.02): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(approx_count_distinct(valueCol, rsd).as("approx_distinct"),
        count(lit(1)).as("n_rows"))

  /** Per-group approximate percentiles with bounded rank error:
    * `accuracy` trades state for precision (rank error ≤ 1/accuracy).
    */
  def quantileProfile(
      df: DataFrame, groupCols: Seq[Column], valueCol: Column,
      percentiles: Seq[Double], accuracy: Int = 10000): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(percentile_approx(valueCol,
          typedLit(percentiles), lit(accuracy)).as("approx_percentiles"),
        count(lit(1)).as("n_rows"))

  // ---- portable sketches (oracle-checked register layouts) -----------------
  //
  // Unlike the HLL++/GK forms above, these two use the repo's portable
  // poly-hash streams, so DuckDB replays every register value-for-value:
  // the sketch CONTENT is on the correctness surface, not just its error
  // bound. Both are one narrow pass + a register-sized aggregation —
  // constant output regardless of input rows, mergeable by construction
  // (registers are sums / maxes, so partial aggregation composes).

  /** Depth salted row multipliers for the count-min index stream:
    * `idx_d = ((h31·m_d + d) mod P1) mod width`, m_d = Knuth·(2d+1) mod P1.
    */
  private[graft] def cmMultipliers(depth: Int): Seq[Long] =
    (0 until depth).map(d => Sampling.saltedMultiplier(d, PolyHash.P1))

  private def cmIndex(h: Column, d: Int, mult: Long, width: Int): Column =
    pmod(pmod(h * lit(mult) + lit(d.toLong), lit(PolyHash.P1)), lit(width.toLong))

  /** Count-min sketch registers over a string item column: one row per
    * (d, idx) with the summed hit count. depth×width rows total — the
    * fixed-memory frequency summary a 100 TB token stream reduces to in
    * one partial+final aggregation (no per-item state, long tail never
    * shuffles as strings: rows carry only (int, long) keys).
    */
  def countMinRegisters(
      df: DataFrame, item: Column, depth: Int, width: Int,
      groupCols: Seq[Column] = Nil): DataFrame = {
    require(depth > 0 && width > 0, s"bad CMS shape $depth x $width")
    // same guard discipline as cmEstimates/sentenceChunks/intervalOverlap:
    // a groupCols OUTPUT already named like an internal/output column
    // would break silently (ambiguous reference) rather than loudly.
    // Guard the post-select names, not df.columns — non-grouped input
    // columns are dropped by the first select and can never clash.
    val cmReserved = Set("__h", "r", "d", "idx", "cnt")
    val cmClash = df.select(groupCols: _*).columns.filter(cmReserved.contains)
    require(cmClash.isEmpty,
      s"group columns must not be named: ${cmClash.mkString(", ")}")
    val mults = cmMultipliers(depth)
    val h = PolyHash.polyStringHash(item)
    df.select(groupCols :+ h.as("__h"): _*)
      .select(col("*"), explode(array((0 until depth).map(d => struct(
        lit(d).as("d"), cmIndex(col("__h"), d, mults(d), width).as("idx"))): _*))
        .as("r"))
      .groupBy(groupCols ++ Seq(col("r.d").as("d"), col("r.idx").as("idx")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from count-min registers for a (small) probe frame:
    * est(item) = min over d of register[idx_d(item)], absent registers
    * counting 0. All probe columns are preserved; the register table is
    * broadcast (≤ depth·width rows by construction).
    */
  def cmEstimates(
      registers: DataFrame, probes: DataFrame, item: Column,
      depth: Int, width: Int): DataFrame = {
    require(!probes.columns.exists(_.startsWith("__cm_")),
      "probe columns must not start with __cm_")
    val mults = cmMultipliers(depth)
    val keep = probes.columns.toSeq
    // register columns renamed to a reserved namespace: a probe frame
    // carrying its own d/idx/cnt must not become an ambiguous reference
    val regs = registers.select(col("d").as("__cm_d"),
      col("idx").as("__cm_idx"), col("cnt").as("__cm_cnt"))
    val h = PolyHash.polyStringHash(item)
    probes
      // per-row id so duplicate probe rows keep their multiplicity
      // through the depth-regroup (never output, order-free)
      .withColumn("__cm_rid", monotonically_increasing_id())
      .withColumn("__cm_h", h)
      .select(col("*"), explode(array((0 until depth).map(d => struct(
        lit(d).as("d"),
        cmIndex(col("__cm_h"), d, mults(d), width).as("idx"))): _*))
        .as("__cm_r"))
      .join(broadcast(regs),
        col("__cm_r.d") === col("__cm_d") &&
          col("__cm_r.idx") === col("__cm_idx"), "left")
      .groupBy(col("__cm_rid") +: keep.map(col): _*)
      .agg(min(coalesce(col("__cm_cnt"), lit(0L))).as("cm_est"))
      .drop("__cm_rid")
  }

  /** HyperLogLog registers over the portable 60-bit md5-prefix hash
    * (`TextFunctions.md5Long`'s convention): bucket = low p bits, rho =
    * leading-zero count of the remaining (60−p) bits plus one, computed
    * exactly via `bin()` string length — no float log2 anywhere, so
    * DuckDB replays every register. Output: one row per (group, bucket)
    * with max rho; ≤ 2^p rows per group.
    *
    * Why md5 and not the poly fold the rest of the repo hashes with: the
    * leading-zero statistic needs AVALANCHE in the high bits. A poly
    * fold of short structured strings wraps its modulus only a handful
    * of times, so the top bits stay correlated with the input and the
    * registers systematically under-read (measured 5× cardinality
    * underestimate on `item-$i` style keys). Low-bit statistics (count-
    * min indexes, band buckets) stay safe on the poly stream; rank-of-
    * MSB statistics do not.
    */
  def hllRegisters(
      df: DataFrame, groupCols: Seq[Column], value: Column, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"bad HLL precision $p (alpha_m needs m >= 16)")
    val hllReserved = Set("__h", "__rem", "bucket", "rho", "rho_max")
    val hllClash = df.select(groupCols: _*).columns.filter(hllReserved.contains)
    require(hllClash.isEmpty,
      s"group columns must not be named: ${hllClash.mkString(", ")}")
    val h = graft.functions.TextFunctions.md5Long(value)
    val width = 60 - p
    df.select(groupCols :+ h.as("__h"): _*)
      .select(col("*"),
        pmod(col("__h"), lit(1L << p)).as("bucket"),
        shiftright(col("__h"), p).as("__rem"))
      .withColumn("rho",
        when(col("__rem") > 0,
          lit(width) - (length(bin(col("__rem"))) - 1)).otherwise(lit(width + 1))
          .cast("int"))
      .groupBy(groupCols :+ col("bucket"): _*)
      .agg(max(col("rho")).as("rho_max"))
  }

  /** Merge count-min register tables from shards/groups into one: sums
    * are associative, so per-shard registers built independently equal
    * the registers of the union — the mergeable-sketch law, q192-pinned
    * on the oracle surface like [[hllMerge]]'s max form (q181).
    * `registers` must carry (d, idx, cnt) plus any shard columns, which
    * the merge sums away.
    */
  def cmMerge(registers: DataFrame): DataFrame =
    registers.groupBy(col("d"), col("idx")).agg(sum(col("cnt")).as("cnt"))

  /** Merge HLL register tables down to coarser groups (or one global
    * set): bucket-wise max of rho. This is THE reason registers beat
    * exact distinct at 100 TB — per-shard register tables (≤ 2^p rows
    * each) merge with one tiny aggregation instead of re-shuffling the
    * raw value stream; merged registers are bit-identical to registers
    * computed directly over the union (max is associative/commutative),
    * which q181 pins on the oracle surface.
    */
  def hllMerge(registers: DataFrame, groupCols: Seq[Column]): DataFrame =
    registers
      .groupBy(groupCols :+ col("bucket"): _*)
      .agg(max(col("rho_max")).as("rho_max"))

  /** Cardinality estimate from [[hllRegisters]] output (engine-specific
    * float math — spec-gated, not on the oracle surface): the standard
    * HLL harmonic mean with alpha_m bias correction and the
    * linear-counting small-range regime.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[Column], p: Int): DataFrame = {
    val m = 1 << p
    // Flajolet et al. 2007 constants: closed forms only hold from m=128
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    registers
      .groupBy(groupCols: _*)
      .agg(sum(pow(lit(0.5), col("rho_max"))).as("__sumObs"),
        count(lit(1)).as("__nObs"))
      .withColumn("__zeros", lit(m) - col("__nObs"))
      .withColumn("__raw",
        lit(alpha * m.toDouble * m) / (col("__sumObs") + col("__zeros")))
      .withColumn("estimate",
        when(col("__raw") <= 2.5 * m && col("__zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("__zeros")))
          .otherwise(col("__raw")))
      .drop("__sumObs", "__nObs", "__zeros", "__raw")
  }

  /** 2^60 — the hash-space size of the portable md5-prefix stream. */
  private[graft] val KmvSpace: Long = 1L << 60

  /** KMV ("k minimum values" / bottom-k) distinct sketch registers over
    * the portable 60-bit md5-prefix hash: one row per (group, rank) with
    * the rank-th smallest DISTINCT hash — the third mergeable sketch next
    * to count-min (sums) and HLL (maxes), whose merge law is a bottom-k
    * (Bar-Yossef et al. 2002). Unlike HLL it also supports set
    * operations on the sketch itself (sketch-Jaccard over shared minima),
    * and its register content is fully deterministic, so the oracle
    * replays every row.
    *
    * Scale posture: one (group, hash)-distinct exchange (map-side partial
    * collapse), then [[Ranking.topKPerGroup]] — a WindowGroupLimit, so
    * only k rows per group cross the final exchange; no collects, output
    * ≤ k rows per group.
    *
    * @return (g…, rnk (1-based ascending), h)
    */
  def kmvRegisters(
      df: DataFrame, groupCols: Seq[Column], value: Column,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"bad KMV k: $k")
    val kmvReserved = Set("__h", "rnk", "h")
    val clash = df.select(groupCols: _*).columns.filter(kmvReserved.contains)
    require(clash.isEmpty,
      s"group columns must not be named: ${clash.mkString(", ")}")
    val names = df.select(groupCols: _*).columns.toSeq
    val dedup = df
      .select(groupCols :+ graft.functions.TextFunctions.md5Long(value)
        .as("__h"): _*)
      .filter(col("__h").isNotNull) // null values carry no hash
      .distinct()
    Ranking.topKPerGroup(dedup, names.map(col), Seq(col("__h").asc), k,
        rankCol = Some("rnk"))
      .select(names.map(col) ++ Seq(col("rnk").cast("long").as("rnk"),
        col("__h").as("h")): _*)
  }

  /** Single-pass aggregator form of [[kmvRegisters]] — IDENTICAL output
    * (spec-pinned), different physics: the one exchange carries a ≤ k
    * buffer per (partition, group) via [[BottomKAgg]]'s map-side combine
    * instead of the vocabulary-sized distinct (group, hash) set, and
    * being a single aggregation it also runs under Structured Streaming
    * (complete/update mode — stream ≡ batch, the sketch law that matters
    * at 100 TB). Prefer this form when the per-group distinct-value
    * count dwarfs k; the window form wins only when codegen over a
    * mostly-distinct stream beats object aggregation.
    */
  def kmvRegistersAgg(
      df: DataFrame, groupCols: Seq[Column], value: Column,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"bad KMV k: $k")
    val aggReserved = Set("__h", "__sketch", "__p", "rnk", "h")
    val aggClash = df.select(groupCols: _*).columns.filter(aggReserved.contains)
    require(aggClash.isEmpty,
      s"group columns must not be named: ${aggClash.mkString(", ")}")
    val names = df.select(groupCols: _*).columns.toSeq
    val bk = udaf(new BottomKAgg(k))
    df.select(groupCols :+ graft.functions.TextFunctions.md5Long(value)
        .as("__h"): _*)
      .filter(col("__h").isNotNull) // parity with kmvRegisters: a null
      // value carries no hash (the primitive-Long UDAF would read 0)
      .groupBy(names.map(col): _*)
      .agg(bk(col("__h")).as("__sketch"))
      .select(names.map(col) :+
        posexplode(col("__sketch")).as(Seq("__p", "h")): _*)
      .select(names.map(col) ++ Seq((col("__p") + 1).cast("long").as("rnk"),
        col("h")): _*)
  }

  /** Merge KMV register tables down to coarser groups (or one global
    * set): the bottom-k of the unioned registers — registers merged from
    * per-shard sketches are row-identical to registers computed directly
    * over the unioned stream (min-k is associative/commutative on
    * DISTINCT hashes; 60-bit md5 collisions across ≤ 2^20 keys are
    * ~2^-21), which is why a 100 TB distinct profile is per-shard
    * sketches + one k-bounded merge, never a re-shuffle of raw values.
    * `k` must not exceed the k the inputs were built with — a violation
    * is NOT detectable from the registers alone (a shard built at a
    * smaller k is indistinguishable from one that simply saw fewer
    * distinct values), so the contract is the caller's; downstream,
    * [[kmvEstimate]]'s register-count guard still nulls the mirror
    * mistake (estimating at a k smaller than the registers carry).
    */
  def kmvMerge(
      registers: DataFrame, groupCols: Seq[Column], k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"bad KMV k: $k") // kmvRegisters parity
    val names = registers.select(groupCols: _*).columns.toSeq
    Ranking.topKPerGroup(
        registers.select(groupCols :+ col("h"): _*).distinct(),
        names.map(col), Seq(col("h").asc), k, rankCol = Some("rnk"))
      .select(names.map(col) ++ Seq(col("rnk").cast("long").as("rnk"),
        col("h")): _*)
  }

  /** Distinct-cardinality estimate from [[kmvRegisters]] output — exact
    * integer arithmetic on the oracle surface: with the full k registers,
    * est = (k−1)·2^60 div h_(k) (the standard unbiased KMV estimator);
    * under k observed hashes the count IS the exact distinct count.
    * `k` must equal the k the registers were built with (same contract
    * as [[kmvMerge]]): a group carrying MORE than k registers means the
    * caller passed a smaller k — its kth_h would be the wrong order
    * statistic and the estimate ~n_seen/k·true, so it reports null
    * instead of a plausible-looking wrong number.
    * @return (g…, n_seen, kth_h, distinct_est)
    */
  def kmvEstimate(
      registers: DataFrame, groupCols: Seq[Column], k: Int): DataFrame =
    registers.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("kth_h"))
      .select(registers.select(groupCols: _*).columns.map(col).toSeq ++ Seq(
        col("n_seen"), col("kth_h"),
        when(col("n_seen") < k, col("n_seen"))
          .when(col("n_seen") === k, expr(
            s"CAST(${k - 1} AS DECIMAL(38,0)) * $KmvSpace div kth_h"))
          .as("distinct_est")): _*)
}
