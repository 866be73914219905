package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.DataType

/** q-digest registers in one aggregation: `(lvl int, cell bigint, cnt
  * bigint)` node rows in, the compressed digest of their summed multiset
  * out (`array<struct<lvl, cell, cnt>>`, see [[QDigestCompress]]). The
  * build feeds `(0, v, 1)` per value, a merge feeds register rows.
  *
  * Map-side combining, like [[graft.operators.BottomKAgg]]'s KMV build:
  * the buffer is a [[QDigestBuffer]] (packed key → Σcnt), so the
  * exchange carries at most one buffer per (map task, group), each
  * bounded by the universe (≤ 2^bits leaves plus the internal nodes a
  * merge brings), never by the row count. `eval` runs the sorted-array
  * kernel once per group. Every node is range-checked on `update`, as the
  * kernel's own input is; a null field fails loud too.
  */
case class QDigestAgg(
    lvl: Expression, cell: Expression, cnt: Expression, bits: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[QDigestBuffer]
    with TernaryLike[Expression] {

  QDigestCompress.requireParams(bits, k)

  override def first: Expression = lvl
  override def second: Expression = cell
  override def third: Expression = cnt
  override def dataType: DataType = QDigestCompress.NodesType
  override def nullable: Boolean = false
  override def prettyName: String = "qdigest_agg"

  override def createAggregationBuffer(): QDigestBuffer = new QDigestBuffer(16)

  override def update(buf: QDigestBuffer, input: InternalRow): QDigestBuffer = {
    val l = lvl.eval(input); val c = cell.eval(input); val n = cnt.eval(input)
    require(l != null && c != null && n != null,
      s"qdigest_agg: null node field ($l, $c, $n)")
    buf.add(l.asInstanceOf[Int], c.asInstanceOf[Long], n.asInstanceOf[Long], bits)
    buf
  }

  override def merge(buf: QDigestBuffer, other: QDigestBuffer): QDigestBuffer = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: QDigestBuffer): Any = buf.compress(bits, k)
  override def serialize(buf: QDigestBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): QDigestBuffer = QDigestBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): QDigestAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QDigestAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): QDigestAgg =
    copy(lvl = a, cell = b, cnt = c)
}

object QDigestAgg {

  /** Column bridge: the aggregate over node columns, cast to (lvl int,
    * cell bigint, cnt bigint).
    */
  def agg(lvl: Column, cell: Column, cnt: Column, bits: Int, k: Int): Column = {
    import GraftColumnBridge.expression
    GraftColumnBridge.column(QDigestAgg(expression(lvl.cast("int")),
      expression(cell.cast("long")), expression(cnt.cast("long")), bits, k)
      .toAggregateExpression())
  }
}

/** Open-addressing map from packed node key (`lvl << 48 | cell`, never
  * negative) to Σcnt, over two primitive arrays with linear probing; −1
  * marks an empty slot. Zero counts are range-checked and then dropped.
  */
final class QDigestBuffer(expected: Int) {
  private var keys: Array[Long] = _
  private var cnts: Array[Long] = _
  private var shift = 0
  private var used = 0

  alloc(math.max(16, Integer.highestOneBit(math.max(1, expected)) << 2))

  private def alloc(cap: Int): Unit = {
    keys = new Array[Long](cap)
    java.util.Arrays.fill(keys, -1L)
    cnts = new Array[Long](cap)
    shift = 64 - Integer.numberOfTrailingZeros(cap)
    used = 0
  }

  def size: Int = used

  /** Range-checks the node ([[QDigestCompress.pack]]) and adds its count. */
  def add(lvl: Int, cell: Long, cnt: Long, bits: Int): Unit = {
    val key = QDigestCompress.pack(lvl, cell, cnt, bits)
    if (cnt > 0) addKey(key, cnt)
  }

  def addAll(other: QDigestBuffer): Unit = {
    var i = 0
    while (i < other.keys.length) {
      if (other.keys(i) >= 0) addKey(other.keys(i), other.cnts(i))
      i += 1
    }
  }

  private def addKey(key: Long, cnt: Long): Unit = {
    val mask = keys.length - 1
    var i = ((key * 0x9E3779B97F4A7C15L) >>> shift).toInt
    while (keys(i) >= 0 && keys(i) != key) i = (i + 1) & mask
    if (keys(i) == key) cnts(i) += cnt
    else {
      keys(i) = key; cnts(i) = cnt; used += 1
      if (used * 2 > keys.length) grow()
    }
  }

  private def grow(): Unit = {
    val (ok, oc) = (keys, cnts)
    alloc(ok.length << 1)
    var i = 0
    while (i < ok.length) {
      if (ok(i) >= 0) addKey(ok(i), oc(i))
      i += 1
    }
  }

  /** The keys ascending, with their counts. */
  def sorted(): (Array[Long], Array[Long]) = {
    val ks = new Array[Long](used)
    var i = 0
    var j = 0
    while (i < keys.length) {
      if (keys(i) >= 0) { ks(j) = keys(i); j += 1 }
      i += 1
    }
    java.util.Arrays.sort(ks)
    val cs = new Array[Long](used)
    val mask = keys.length - 1
    j = 0
    while (j < used) {
      var s = ((ks(j) * 0x9E3779B97F4A7C15L) >>> shift).toInt
      while (keys(s) != ks(j)) s = (s + 1) & mask
      cs(j) = cnts(s)
      j += 1
    }
    (ks, cs)
  }

  /** The compressed digest as a register array. */
  def compress(bits: Int, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val (ks, cs) = sorted()
    val (dk, dc) = QDigestCompress.compressSorted(ks, cs, bits, k)
    QDigestCompress.nodesData(dk, dc)
  }

  /** (size, then key and count per entry), big-endian longs. */
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * used)
    bb.putInt(used)
    var i = 0
    while (i < keys.length) {
      if (keys(i) >= 0) { bb.putLong(keys(i)); bb.putLong(cnts(i)) }
      i += 1
    }
    bb.array()
  }
}

object QDigestBuffer {
  def deserialize(bytes: Array[Byte]): QDigestBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new QDigestBuffer(n)
    var i = 0
    while (i < n) { buf.addKey(bb.getLong(), bb.getLong()); i += 1 }
    buf
  }
}
