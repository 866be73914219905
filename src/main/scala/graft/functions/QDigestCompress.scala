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
  * Nodes are dyadic cells over a `bits`-bit integer universe: `lvl` 0 =
  * leaves (cell = the value itself); a node at level ℓ covers values
  * `[cell·2^ℓ, (cell+1)·2^ℓ)`. A fresh build passes leaves only; a merge
  * passes the summed union of already-compressed digests (mixed levels).
  * The engine's build and merge run the kernel inside [[QDigestAgg]]; this
  * expression runs it over an `array<struct<lvl int, cell bigint, cnt
  * bigint>>` (repeated nodes are summed).
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
  * The walk ([[QDigestCompress.compressSorted]]) runs over primitive
  * arrays of packed keys `lvl << 48 | cell`, sorted once: each level is a
  * contiguous slice, merged with the carry of parents absorbed from the
  * level below, and a parent's own input mass is read with a forward
  * pointer into the next level's slice. O(n log n) for the sort, no
  * boxing, no per-level rescan.
  *
  * Fails loud on a cell outside the `bits`-bit universe at its level, a
  * negative count, or a level outside [0, bits] — a silently-clamped
  * value would produce plausible wrong registers.
  */
case class QDigestCompress(child: Expression, bits: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with RefKernelCodegen {

  QDigestCompress.requireParams(bits, k)

  override def dataType: DataType = QDigestCompress.NodesType
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
    val buf = new QDigestBuffer(m)
    var i = 0
    while (i < m) {
      val r = arr.getStruct(i, 3)
      buf.add(r.getInt(0), r.getLong(1), r.getLong(2), bits)
      i += 1
    }
    buf.compress(bits, k)
  }
}

object QDigestCompress {

  /** `array<struct<lvl int, cell bigint, cnt bigint>>`, the register type. */
  val NodesType: ArrayType = ArrayType(StructType(Seq(
    StructField("lvl", IntegerType, nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  private[graft] val LvlShift = 48
  private[graft] val CellMask = (1L << LvlShift) - 1

  private[graft] def requireParams(bits: Int, k: Int): Unit = {
    require(bits >= 1 && bits <= 40, s"bits must be in [1, 40]: $bits")
    require(k >= 2 && k <= (1 << 20), s"k must be in [2, 2^20]: $k")
  }

  /** The packed key `lvl << 48 | cell` of a node, after the fail-loud range
    * checks; keys sort in (lvl, cell) order.
    */
  private[graft] def pack(lvl: Int, cell: Long, cnt: Long, bits: Int): Long = {
    require(lvl >= 0 && lvl <= bits, s"level $lvl outside [0, $bits]")
    require(cnt >= 0, s"negative count $cnt at ($lvl, $cell)")
    require(cell >= 0 && cell < (1L << (bits - lvl)),
      s"cell $cell outside the $bits-bit universe at level $lvl")
    (lvl.toLong << LvlShift) | cell
  }

  /** The bottom-up compression (see class scaladoc) over `keys` — packed,
    * valid, strictly ascending — with their positive counts `cnts`.
    * Returns the digest as packed keys and counts, sorted by (lvl, cell).
    */
  private[graft] def compressSorted(
      keys: Array[Long], cnts: Array[Long], bits: Int, k: Int)
      : (Array[Long], Array[Long]) = {
    val m = keys.length
    var n = 0L
    var i = 0
    while (i < m) { n += cnts(i); i += 1 }
    val t = math.max(1L, n / k)
    // pending nodes never outnumber the input: an absorption removes a
    // sibling group and adds at most its one parent
    val outK = new Array[Long](m); val outC = new Array[Long](m)
    var o = 0
    val pendC = new Array[Long](m); val pendM = new Array[Long](m)
    val carC = new Array[Long](m); val carM = new Array[Long](m)
    var nCar = 0
    var lo = 0 // start of this level's input slice
    var lvl = 0
    while (lvl <= bits) {
      val lvlKey = lvl.toLong << LvlShift
      var hi = lo
      while (hi < m && (keys(hi) & ~CellMask) == lvlKey) hi += 1
      // pending at this level: the input slice merged with the carry; a
      // carried parent already holds its own input mass, so it replaces it
      var np = 0
      var a = lo
      var b = 0
      while (a < hi || b < nCar) {
        val ca = if (a < hi) keys(a) & CellMask else Long.MaxValue
        val cb = if (b < nCar) carC(b) else Long.MaxValue
        if (cb <= ca) {
          pendC(np) = cb; pendM(np) = carM(b); b += 1
          if (ca == cb) a += 1
        } else { pendC(np) = ca; pendM(np) = cnts(a); a += 1 }
        np += 1
      }
      if (lvl == bits) {
        // only the root (cell 0) can be pending here
        if (np > 0) { outK(o) = lvlKey; outC(o) = pendM(0); o += 1 }
      } else {
        val upKey = (lvl + 1).toLong << LvlShift
        var q = hi // forward pointer into the next level's input slice
        nCar = 0
        var j = 0
        while (j < np) {
          val p = pendC(j) >> 1
          val pair = j + 1 < np && (pendC(j + 1) >> 1) == p
          val s = if (pair) pendM(j) + pendM(j + 1) else pendM(j)
          while (q < m && (keys(q) & ~CellMask) == upKey && (keys(q) & CellMask) < p) q += 1
          val pIn = if (q < m && keys(q) == (upKey | p)) cnts(q) else 0L
          val withParent = s + pIn
          val end = if (pair) j + 2 else j + 1
          if (withParent < t) {
            carC(nCar) = p; carM(nCar) = withParent; nCar += 1
          } else while (j < end) {
            outK(o) = lvlKey | pendC(j); outC(o) = pendM(j); o += 1; j += 1
          }
          j = end
        }
      }
      lo = hi
      lvl += 1
    }
    (java.util.Arrays.copyOf(outK, o), java.util.Arrays.copyOf(outC, o))
  }

  /** The digest as a register array (the [[NodesType]] value). */
  private[graft] def nodesData(keys: Array[Long], cnts: Array[Long]): ArrayData =
    new GenericArrayData(Array.tabulate[Any](keys.length) { i =>
      InternalRow((keys(i) >>> LvlShift).toInt, keys(i) & CellMask, cnts(i))
    })

  /** [[compressSorted]] over (lvl, cell, cnt) tuples in any order, repeated
    * nodes summed. Output sorted by (lvl, cell).
    */
  private[graft] def compress(
      nodes: Array[(Int, Long, Long)], bits: Int, k: Int)
      : Array[(Int, Long, Long)] = {
    val buf = new QDigestBuffer(nodes.length)
    nodes.foreach { case (l, c, n) => buf.add(l, c, n, bits) }
    val (sk, sc) = buf.sorted()
    val (keys, cnts) = compressSorted(sk, sc, bits, k)
    Array.tabulate(keys.length)(i =>
      ((keys(i) >>> LvlShift).toInt, keys(i) & CellMask, cnts(i)))
  }

  /** Column bridge. */
  def expr(c: Column, bits: Int, k: Int): Column =
    GraftColumnBridge.column(QDigestCompress(GraftColumnBridge.expression(c), bits, k))
}
