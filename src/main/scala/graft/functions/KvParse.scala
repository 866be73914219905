package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One `键：值` KV block parsed into a map as ONE compiled byte scan — the
  * kernel behind [[graft.sources.KvBlock.parseBlock]].
  *
  * Semantics are EXACTLY the composable form it replaces —
  * `map_from_entries(transform(filter(split(block, "\n"), rlike("[：:]")),
  * l => struct(trim(before first colon), trim(after first colon))))` under
  * `mapKeyDedupPolicy=LAST_WIN`:
  *
  *  - lines split on `\n` only (`\r` stays in the line);
  *  - each line splits at its FIRST `:` or `：` (U+FF1A, bytes EF BC 9A);
  *    lines without either colon are dropped;
  *  - key and value are trimmed of ASCII spaces only (Spark `trim`), so
  *    tabs, `\r` and U+3000 are kept;
  *  - a repeated key keeps its FIRST position and takes its LAST value,
  *    whatever the session's dedup policy;
  *  - NULL in → NULL out; a block with no colon line → empty map.
  *
  * The scan is byte-level and steps over each multi-byte code point whole,
  * validating it on the way, so a colon is only ever matched at a code
  * point boundary. Input that is not valid UTF-8 is decoded the way
  * `UTF8String.toString` does (malformed bytes become U+FFFD exactly as
  * Java's UTF-8 decoder replaces them) and scanned again, because the
  * composable form's `split` went through a Java String. Keys and values
  * are zero-copy slices of one backing byte array.
  *
  * The composable form evaluated INTERPRETED (a higher-order-function
  * stack) and paid a regex per line three times over; it was about a third
  * of the corpus pipeline's task time. The declared type keeps
  * `valueContainsNull = false` and the nullability of the block column, as
  * `map_from_entries` had, so downstream schemas are unchanged.
  */
case class KvParse(child: Expression) extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = KvParse.MapOfStrings
  override def prettyName: String = "kv_parse"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kv_parse requires string; got ${other.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): KvParse =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    KvParse.parse(input.asInstanceOf[UTF8String])
}

object KvParse {

  private val MapOfStrings: MapType = MapType(StringType, StringType, valueContainsNull = false)

  /** Above this many distinct keys, repeated-key lookup switches from a
    * linear scan to a hash index (blocks usually hold a handful of lines).
    */
  private val LinearKeys = 16

  /** The parsed block (see class scaladoc). Shared by eval/codegen. */
  private[graft] def parse(block: UTF8String): ArrayBasedMapData = {
    val bytes = block.getBytes
    val n = bytes.length
    var keys = new Array[UTF8String](8)
    var values = new Array[UTF8String](8)
    var m = 0
    var index: java.util.HashMap[UTF8String, Integer] = null
    var lineStart = 0
    var colon = -1      // first colon of the current line, -1 = none yet
    var colonEnd = -1   // first byte after it
    var i = 0
    while (i <= n) {
      val b = if (i < n) bytes(i) else '\n'.toByte
      if (b == '\n') {
        if (colon >= 0) {
          val key = slice(bytes, lineStart, colon)
          val value = slice(bytes, colonEnd, i)
          var at = -1
          if (index != null) {
            val seen = index.get(key)
            if (seen != null) at = seen.intValue()
          } else {
            var j = 0
            while (at < 0 && j < m) { if (keys(j).equals(key)) at = j; j += 1 }
          }
          if (at >= 0) values(at) = value
          else {
            if (m == keys.length) {
              keys = java.util.Arrays.copyOf(keys, m * 2)
              values = java.util.Arrays.copyOf(values, m * 2)
            }
            keys(m) = key
            values(m) = value
            if (index != null) index.put(key, m)
            else if (m == LinearKeys) {
              index = new java.util.HashMap[UTF8String, Integer]()
              var j = 0
              while (j <= m) { index.put(keys(j), j); j += 1 }
            }
            m += 1
          }
        }
        lineStart = i + 1
        colon = -1
      } else if (b < 0) {
        // a UTF-8 lead byte: validate its sequence and step over it
        val len = sequenceLength(bytes, Platform.BYTE_ARRAY_OFFSET, i, n)
        if (len == 0) return parse(UTF8String.fromString(block.toString))
        if (colon < 0 && b == 0xEF.toByte && bytes(i + 1) == 0xBC.toByte &&
            bytes(i + 2) == 0x9A.toByte) {
          colon = i
          colonEnd = i + 3
        }
        i += len - 1
      } else if (colon < 0 && b == ':') {
        colon = i
        colonEnd = i + 1
      }
      i += 1
    }
    val ks = new Array[Any](m)
    val vs = new Array[Any](m)
    System.arraycopy(keys, 0, ks, 0, m)
    System.arraycopy(values, 0, vs, 0, m)
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  /** Length of the well-formed UTF-8 sequence (Unicode Table 3-7) that
    * starts with the non-ASCII byte at `i` of the `n` bytes at
    * (`base`, `off`), or 0 if it is malformed — the bytes Java's decoder
    * would replace with U+FFFD. Shared with [[KvRender]].
    */
  private[functions] def sequenceLength(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    def inRange(k: Int, lo: Int, hi: Int): Boolean = i + k < n && {
      val c = Platform.getByte(base, off + i + k) & 0xff
      c >= lo && c <= hi
    }
    val b = Platform.getByte(base, off + i) & 0xff
    if (b >= 0xc2 && b <= 0xdf) { if (inRange(1, 0x80, 0xbf)) 2 else 0 }
    else if (b >= 0xe0 && b <= 0xef) {
      val lo = if (b == 0xe0) 0xa0 else 0x80   // no overlong form
      val hi = if (b == 0xed) 0x9f else 0xbf   // no surrogate
      if (inRange(1, lo, hi) && inRange(2, 0x80, 0xbf)) 3 else 0
    } else if (b >= 0xf0 && b <= 0xf4) {
      val lo = if (b == 0xf0) 0x90 else 0x80   // no overlong form
      val hi = if (b == 0xf4) 0x8f else 0xbf   // nothing past U+10FFFF
      if (inRange(1, lo, hi) && inRange(2, 0x80, 0xbf) && inRange(3, 0x80, 0xbf)) 4 else 0
    } else 0
  }

  /** `bytes[from, until)` with ASCII spaces trimmed from both ends. */
  private def slice(bytes: Array[Byte], from: Int, until: Int): UTF8String = {
    var s = from
    var e = until
    while (s < e && bytes(s) == ' ') s += 1
    while (e > s && bytes(e - 1) == ' ') e -= 1
    UTF8String.fromBytes(bytes, s, e - s)
  }

  /** Column bridge: `block` is a string column of `键：值` lines. */
  def expr(block: Column): Column =
    GraftColumnBridge.column(KvParse(GraftColumnBridge.expression(block)))
}
