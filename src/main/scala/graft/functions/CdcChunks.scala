package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (Gear-hash CDC — Xia et al. 2016 "FastCDC"
  * family): chunk boundaries are a function of the CONTENT's rolling
  * hash, not of byte offsets, so an insertion or deletion only re-cuts
  * the chunks around the edit — every later chunk re-aligns and dedupes
  * against the unedited copy. This is the storage-level dedup primitive
  * a 100 TB corpus pipeline uses for shifted/near-identical documents
  * (mirrors with injected headers, re-crawls with banners) where
  * line-level and whole-doc hashing both miss.
  *
  * Rolling state over code points: `h' = (2·h + gear(cp)) mod 2^61` with
  * `gear(cp) = (cp + 1) · 2654435761` (Knuth), a boundary where
  * `len ≥ minSize` and `h' ≡ 0 (mod 2^maskBits)` — expected chunk size
  * ≈ minSize + 2^maskBits — or forced at `maxSize`. Each chunk carries
  * the repo's portable poly31-mod-1e9+7 content hash, folded in the
  * same scan. All integer arithmetic (products < 2^63), so the q205
  * DuckDB oracle replays every boundary and hash through a list_reduce
  * fold + substr re-hash.
  *
  * One O(n) compiled pass per document (the CharTrigramHashes lesson:
  * HOF formulations of per-position scans go quadratic), kept inside
  * WholeStageCodegen via [[RefKernelCodegen]].
  *
  * @return array<struct<start int (1-based, codepoints), len int,
  *         hash long>>; empty text → empty array.
  */
case class CdcChunks(
    child: Expression, minSize: Int, maxSize: Int, maskBits: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(minSize >= 1 && maxSize >= minSize && maskBits >= 1 && maskBits <= 60,
    s"bad CDC shape min=$minSize max=$maxSize maskBits=$maskBits")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("hash", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "cdc_chunks"

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val mod61 = 1L << 61
    val mask = 1L << maskBits
    var h = 0L
    var ph = 0L
    var start = 0
    var i = 0
    while (i < cps.length) {
      val cp = cps(i).toLong
      h = (h * 2 + (cp + 1) * 2654435761L) % mod61
      ph = (ph * 31 + cp) % 1000000007L
      val len = i - start + 1
      if ((len >= minSize && h % mask == 0) || len == maxSize) {
        out += InternalRow(start + 1, len, ph)
        start = i + 1
        h = 0L
        ph = 0L
      }
      i += 1
    }
    if (start < cps.length)
      out += InternalRow(start + 1, cps.length - start, ph)
    new GenericArrayData(out.toArray[Any])
  }
}

object CdcChunks {
  /** Column bridge. */
  def expr(c: Column, minSize: Int, maxSize: Int, maskBits: Int): Column =
    GraftColumnBridge.column(
      CdcChunks(GraftColumnBridge.expression(c), minSize, maxSize, maskBits))
}
