package graft.operators

import graft.functions.QDigestAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable quantile sketch — the quantile member of the engine's
  * portable-sketch family (count-min q177 = sums, HLL, KMV q239/q242 =
  * min-k), with its registers and merge law on the oracle surface.
  *
  * The summary is a q-digest (Shrivastava et al. 2004) over a bounded
  * integer universe [0, 2^bits): counts on dyadic cells, compressed
  * bottom-up against threshold t = max(1, n div k) — see
  * [[graft.functions.QDigestCompress]] for the kernel, the invariants,
  * and why q-digest over KLL (randomized — not oracle-replayable) or GK
  * (one-way mergeable only). Properties that matter at 100 TB:
  *
  *  - '''One aggregation, one exchange.''' Build and merge are both one
  *    [[graft.functions.QDigestAgg]] aggregation: each map task sums its
  *    rows into one packed-key buffer per group, so the one exchange
  *    carries at most one buffer per (map task, group), bounded by
  *    group-count × 2^bits regardless of row count. The final aggregate
  *    compresses each group once and the registers are exploded.
  *  - '''Bounded per-group state.''' A buffer holds at most 2^bits leaves
  *    per group (the UNIVERSE bound, not a data bound) — 65k entries ≈
  *    2 MB of primitive arrays at bits = 16; same dimension-bounded class
  *    as the IVF codebooks.
  *  - '''Fully mergeable.''' merge = per-(lvl, cell) count sum + one
  *    recompression at the combined threshold; shard-built digests
  *    merge without touching raw data, and the merged digest obeys the
  *    same < t·bits rank-error bound at the combined n. (Register
  *    identity with a direct build is NOT promised — compression paths
  *    differ — the bound is the law, as in the Mergeable Summaries
  *    formulation; both paths are deterministic, so both sit on the
  *    oracle surface: q251 = build, q252 = shard→merge.)
  *  - '''Deterministic rank answers.''' Quantile extraction walks nodes
  *    by (range upper end asc, level asc) accumulating mass; the
  *    answer's rank error is < t·bits (one straddling internal node per
  *    level, each carrying < t), leaves exact at any mass.
  */
object QuantileDigest {

  /** Build per-group q-digest registers from an integer value column.
    * Values must lie in [0, 2^bits) — out-of-range fails loud in the
    * aggregate (never clamped).
    *
    * @return (g…, lvl, cell, cnt), sorted-within-group by construction.
    */
  def registers(
      df: DataFrame, groupCols: Seq[Column], valueCol: Column,
      bits: Int, k: Int): DataFrame = {
    val names = df.select(groupCols: _*).columns.toSeq
    requireNoClash(names, "registers")
    val leaves = df
      .select(groupCols :+ valueCol.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
    digests(leaves, names, lit(0), col("__v"), lit(1L), bits, k)
  }

  /** Merge register tables down to coarser groups (or one global digest):
    * per-(lvl, cell) count sums, then one recompression at the combined
    * threshold. Input registers must have been built with the same
    * `bits`. `k` may be SMALLER than the build k (coarsens honestly —
    * the bound is t·bits at the merge's t) but must NOT be larger: a
    * larger merge-k shrinks t below what the shard compressions
    * enforced, so summed internal nodes can carry ≥ t mass and the
    * < t·bits rank bound silently no longer holds. As with
    * [[Sketches.kmvMerge]], the violation is NOT detectable from the
    * registers alone (an internal node's mass does not say which k
    * shaped it) — the contract is the caller's.
    */
  def merge(
      registers: DataFrame, groupCols: Seq[Column],
      bits: Int, k: Int): DataFrame = {
    val names = registers.select(groupCols: _*).columns.toSeq
    requireNoClash(names, "merge")
    digests(registers, names, col("lvl"), col("cell"), col("cnt"), bits, k)
  }

  /** Quantile estimates from registers: for each q in `qs`, the smallest
    * node-range upper end whose accumulated mass reaches ceil(q·n) on
    * the (upper asc, lvl asc) walk. Rank error < t·bits (kernel
    * invariant); the walk runs on the k-bounded register frame, one
    * window per group.
    *
    * @return (g…, q, est, n_rows)
    */
  def quantiles(
      registers: DataFrame, groupCols: Seq[Column],
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1]: $qs")
    val names = registers.select(groupCols: _*).columns.toSeq
    // fail-loud like registers/merge: withColumn("q", explode(...)) on a
    // group column named q would silently REPLACE it (group identity
    // destroyed, quantile fractions where keys should be)
    // lvl/cell/cnt are the register columns themselves — a group column
    // with one of those names is ambiguous here, same guard as
    // registers/merge (requireNoClash)
    val qReserved = Set("q", "est", "n_rows", "__upper", "__cum", "__n",
      "lvl", "cell", "cnt")
    val qClash = names.filter(qReserved.contains)
    require(qClash.isEmpty,
      s"quantiles group columns must not be named: ${qClash.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(names.map(col): _*)
    // DataFrame shiftleft() takes a literal shift; the SQL form takes a
    // column — and lvl ≤ 40 keeps the product exact in a long
    val upper = (expr("shiftleft(cell + 1, lvl)") - 1).as("__upper")
    val walked = registers
      .select(names.map(col) ++ Seq(col("lvl"), col("cnt"), upper): _*)
      .withColumn("__cum", sum(col("cnt")).over(
        w.orderBy(col("__upper"), col("lvl"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("cnt")).over(w))
    walked
      .withColumn("q", explode(typedLit(qs)))
      .filter(col("__cum") >= ceil(col("q") * col("__n")))
      .groupBy(names.map(col) :+ col("q"): _*)
      .agg(min(col("__upper")).as("est"), first(col("__n")).as("n_rows"))
  }

  /** groupBy(g) → [[QDigestAgg]] over the node rows → explode: the
    * partial aggregate combines map-side, one exchange, the final
    * aggregate compresses each group once.
    */
  private def digests(
      nodes: DataFrame, names: Seq[String], lvl: Column, cell: Column,
      cnt: Column, bits: Int, k: Int): DataFrame =
    nodes
      .groupBy(names.map(col): _*)
      .agg(QDigestAgg.agg(lvl, cell, cnt, bits, k).as("__nodes"))
      .select(names.map(col) :+ explode(col("__nodes")).as("__d"): _*)
      .select(names.map(col) ++ Seq(col("__d.lvl").as("lvl"),
        col("__d.cell").as("cell"), col("__d.cnt").as("cnt")): _*)

  private def requireNoClash(names: Seq[String], who: String): Unit = {
    val reserved = Set("lvl", "cell", "cnt", "__v", "__c", "__d", "__nodes")
    val clash = names.filter(reserved.contains)
    require(clash.isEmpty,
      s"$who group columns must not be named: ${clash.mkString(", ")}")
  }
}
