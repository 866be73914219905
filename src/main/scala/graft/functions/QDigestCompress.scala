package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.Column

/** Compiled q-digest compression kernel (Shrivastava et al. 2004, in the
  * deterministic bottom-up formulation of Agarwal et al. 2012 "Mergeable
  * Summaries") — the quantile member of the engine's mergeable-sketch
  * family (count-min = sums, HLL = maxes, KMV = min-k, q-digest = dyadic
  * counts). Chosen over KLL (randomized compaction — registers can never
  * hash-match an independent engine) and GK (one-way mergeable only):
  * q-digest is the deterministic, fully-mergeable summary whose every
  * register a SQL oracle replays value-for-value.
  *
  * Input: `array<struct<lvl int, cell bigint, cnt bigint>>` — dyadic
  * nodes over a `bits`-bit integer universe. `lvl` 0 = leaves (cell =
  * the value itself); a node at level ℓ covers values
  * `[cell·2^ℓ, (cell+1)·2^ℓ)`. A fresh build passes leaves only; a merge
  * passes the summed union of already-compressed digests (mixed levels).
  *
  * Compression, bottom-up with threshold `t = max(1, n div k)` where
  * n = Σcnt: at each level ℓ (ascending), sibling-group the pending
  * nodes by parent cell; if the group's mass plus the parent's pending
  * mass is `< t`, the group is absorbed into the parent (stays pending),
  * else every node in the group finalizes at level ℓ. After level
  * bits−1, the root remnant finalizes. Invariants this yields: every
  * pending (hence every finalized internal) node carries `< t` mass, so
  * a rank query's uncertainty — one straddling internal node per level —
  * is `< t·bits`; leaves are point-exact at any mass. Output size is
  * O(k) (classic bound ≤ 3k), sorted by (lvl, cell) — a canonical,
  * order-independent function of the input multiset, which is what puts
  * the registers on the oracle surface (the q239/q242 KMV discipline).
  *
  * Fails loud on a cell outside the `bits`-bit universe at its level, a
  * negative count, or a level outside [0, bits] — a silently-clamped
  * value would produce plausible wrong registers.
  */
case class QDigestCompress(child: Expression, bits: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with RefKernelCodegen {

  require(bits >= 1 && bits <= 40, s"bits must be in [1, 40]: $bits")
  require(k >= 2 && k <= (1 << 20), s"k must be in [2, 2^20]: $k")

  private val nodeType = StructType(Seq(
    StructField("lvl", IntegerType, nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
  override def dataType: DataType = ArrayType(nodeType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "qdigest_compress"

  // Positional check matching nullSafeEval's ordinal reads (getInt(0),
  // getLong(1), getLong(2)): 3 fields typed (int, bigint, bigint) in that
  // order — field names are free, order is not. Without this a mis-shaped
  // child fails as an executor ClassCastException instead of at analysis.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(fs), _)
          if fs.length == 3 && fs(0).dataType == IntegerType &&
            fs(1).dataType == LongType && fs(2).dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "qdigest_compress requires array<struct<lvl int, cell bigint, " +
            s"cnt bigint>> input, got ${other.catalogString}")
    }

  override protected def withNewChildInternal(newChild: Expression): QDigestCompress =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val nodes = new Array[(Int, Long, Long)](m)
    var i = 0
    while (i < m) {
      val r = arr.getStruct(i, 3)
      nodes(i) = (r.getInt(0), r.getLong(1), r.getLong(2))
      i += 1
    }
    val out = QDigestCompress.compress(nodes, bits, k)
    new GenericArrayData(out.map { case (l, c, n) =>
      InternalRow(l, c, n): Any })
  }
}

object QDigestCompress {

  /** The deterministic bottom-up compression (see class scaladoc) as a
    * plain function — shared by the expression and the spec's reference
    * checks. Output sorted by (lvl, cell).
    */
  private[graft] def compress(
      nodes: Array[(Int, Long, Long)], bits: Int, k: Int)
      : Array[(Int, Long, Long)] = {
    val pend = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    var n = 0L
    nodes.foreach { case (lvl, cell, cnt) =>
      require(lvl >= 0 && lvl <= bits, s"level $lvl outside [0, $bits]")
      require(cnt >= 0, s"negative count $cnt at ($lvl, $cell)")
      require(cell >= 0 && cell < (1L << (bits - lvl)),
        s"cell $cell outside the $bits-bit universe at level $lvl")
      if (cnt > 0) {
        val key = (lvl, cell)
        pend(key) = pend.getOrElse(key, 0L) + cnt
        n += cnt
      }
    }
    val t = math.max(1L, n / k)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var lvl = 0
    while (lvl < bits) {
      // sibling groups in ascending cell order — a sort, not map order,
      // keeps the walk (and any future tie behavior) deterministic
      val cur = pend.keysIterator.filter(_._1 == lvl).map(_._2).toArray
      java.util.Arrays.sort(cur)
      var i = 0
      while (i < cur.length) {
        val p = cur(i) >> 1
        var j = i
        var s = 0L
        while (j < cur.length && (cur(j) >> 1) == p) {
          s += pend((lvl, cur(j))); j += 1
        }
        val pk = (lvl + 1, p)
        val withParent = s + pend.getOrElse(pk, 0L)
        if (withParent < t) {
          (i until j).foreach(x => pend.remove((lvl, cur(x))))
          pend(pk) = withParent
        } else {
          (i until j).foreach { x =>
            out += ((lvl, cur(x), pend((lvl, cur(x)))))
            pend.remove((lvl, cur(x)))
          }
        }
        i = j
      }
      lvl += 1
    }
    // only the root (level = bits, cell 0) can still be pending
    pend.foreach { case ((l, c), cnt) => out += ((l, c, cnt)) }
    out.sortBy(x => (x._1, x._2)).toArray
  }

  /** Column bridge. */
  def expr(c: Column, bits: Int, k: Int): Column =
    GraftColumnBridge.column(QDigestCompress(GraftColumnBridge.expression(c), bits, k))
}
