package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One document's token co-occurrence graph as ONE compiled pass — the
  * per-document half of [[graft.operators.Graph.textRank]]. Input is the
  * document's token array; output is an array of cells:
  *
  *  - one EDGE cell `(a, b, w, null)` per distinct ORDERED hash pair
  *    (a, b) that co-occurs within `window` positions, `w` its count in
  *    this document (both directions of every in-window position pair
  *    are counted, so the corpus sum of `w` is the undirected
  *    multigraph's edge multiplicity);
  *  - one NODE cell `(a, null, null, token)` per distinct token string.
  *
  * `a`/`b` are the portable 60-bit md5 prefix hash — bit-identical to
  * [[TextFunctions.md5Long]] (first 15 hex digits of md5(UTF-8 bytes)),
  * computed ONCE per distinct token per document. Pair rules are the
  * ones the SQL oracle replays: positions i < j with j − i ≤ window pair
  * when both tokens are non-null and their HASHES differ (a 60-bit
  * collision is a self-pair, exactly as in a hash-keyed edge list); a
  * null element occupies its position but pairs with nothing and yields
  * no node cell. Null array in → null out.
  *
  * Per-document pairs are dense-indexed longs, sorted and run-length
  * counted, so the corpus-wide aggregation downstream sees each
  * (document, pair) once.
  */
case class CooccurCells(child: Expression, window: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(window >= 1, s"window must be >= 1: $window")

  override def dataType: DataType = CooccurCells.CellsType
  override def nullable: Boolean = true
  override def prettyName: String = "cooccur_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cooccur_cells requires array<string>; got ${other.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): CooccurCells =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    CooccurCells.run(input.asInstanceOf[ArrayData], window)
}

object CooccurCells {

  val CellsType: ArrayType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = true),
    StructField("w", LongType, nullable = true),
    StructField("token", StringType, nullable = true))), containsNull = false)

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** [[TextFunctions.md5Long]] of one string: the top 60 bits of its md5. */
  private[graft] def md5Long(s: UTF8String): Long = {
    val md = md5.get()
    s.getBaseObject match {
      case arr: Array[Byte] =>
        md.update(arr, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
          s.numBytes)
      case _ => md.update(s.getBytes)
    }
    val d = md.digest()
    var hi = 0L
    var k = 0
    while (k < 8) { hi = (hi << 8) | (d(k) & 0xffL); k += 1 }
    hi >>> 4
  }

  /** The per-document cells (see class scaladoc). Shared by eval/codegen. */
  private[graft] def run(tokens: ArrayData, window: Int): ArrayData = {
    val n = tokens.numElements()
    // dense index per position over the document's DISTINCT hashes
    // (-1 = null element); tokens map to their index so each distinct
    // string is hashed once
    val pos = new Array[Int](n)
    val byToken = new java.util.HashMap[UTF8String, Integer]()
    val byHash = new java.util.HashMap[java.lang.Long, Integer]()
    val hashes = new Array[Long](n)
    val cells = new java.util.ArrayList[InternalRow]()
    var m = 0
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) pos(i) = -1
      else {
        val t = tokens.getUTF8String(i)
        val seen = byToken.get(t)
        if (seen != null) pos(i) = seen.intValue()
        else {
          val h = md5Long(t)
          val idx = byHash.get(h) match {
            case null =>
              byHash.put(h, m); hashes(m) = h; m += 1; m - 1
            case known => known.intValue()
          }
          byToken.put(t, idx)
          pos(i) = idx
          cells.add(InternalRow(h, null, null, t))
        }
      }
      i += 1
    }
    // both directions of every in-window pair as da·m + db, then
    // sort + run-length = per-document (a, b) multiplicities
    val cap = 2L * n * math.min(window, math.max(n - 1, 0))
    require(cap < Int.MaxValue, s"cooccur_cells: $n tokens in one document " +
      s"at window $window exceed one pair buffer")
    val keys = new Array[Long](cap.toInt)
    var nk = 0
    i = 0
    while (i < n) {
      val da = pos(i)
      if (da >= 0) {
        val end = math.min(n - 1, i + window)
        var j = i + 1
        while (j <= end) {
          val db = pos(j)
          if (db >= 0 && db != da) {
            keys(nk) = da.toLong * m + db
            keys(nk + 1) = db.toLong * m + da
            nk += 2
          }
          j += 1
        }
      }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, nk)
    val edges = new java.util.ArrayList[InternalRow]()
    i = 0
    while (i < nk) {
      val key = keys(i)
      var j = i + 1
      while (j < nk && keys(j) == key) j += 1
      edges.add(InternalRow(hashes((key / m).toInt), hashes((key % m).toInt),
        (j - i).toLong, null))
      i = j
    }
    edges.addAll(cells)
    new GenericArrayData(edges.toArray)
  }

  /** Column bridge: `tokens` is an array<string> (e.g.
    * [[TextFunctions.tokens]]); `window` must be ≥ 1.
    */
  def expr(tokens: Column, window: Int): Column =
    GraftColumnBridge.column(
      CooccurCells(GraftColumnBridge.expression(tokens), window))
}
