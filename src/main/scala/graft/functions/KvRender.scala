package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.functions.array
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Rows rendered as one `键：值` KV block in ONE compiled byte pass — the
  * kernel behind [[graft.sources.KvBlock.renderBlock]], the inverse of
  * [[KvParse]].
  *
  * The child is the array of the values, each cast to string; `keys` are
  * their line keys, in order. Semantics are EXACTLY the composable form it
  * replaces — `concat_ws("\n", concat(lit(k), lit("："),
  * regexp_replace(v, "\\r?\\n|\\r|\\^_\\^", " ")) …)`:
  *
  *  - one `k：v` line per key, joined by `\n`; keys are written verbatim;
  *  - in a value, `\r\n`, a lone `\n`, a lone `\r` and `^_^` each become
  *    one space, matched leftmost-first without overlap (`\r\r\n` → two
  *    spaces, `^_^_^` → ` _^`), so no value can split its record or add a
  *    line;
  *  - a null value drops its whole line; an empty value keeps `k：`;
  *  - all values null → the empty string; the result is never null.
  *
  * A value that is not valid UTF-8 is first decoded the way the regex's
  * Java String round trip decoded it (`UTF8String.fromString(v.toString)`:
  * malformed bytes become U+FFFD), then rendered.
  *
  * The output array is sized once per row (no rule lengthens a value) and
  * each value is read in a single scan that validates and sanitizes it as
  * it copies. The composable form ran a java.util.regex match per value
  * over a decoded String and re-encoded the result, then two concat
  * layers: about 40% of the corpus pipeline's executor CPU samples.
  */
case class KvRender(child: Expression, keys: Seq[String])
    extends UnaryExpression with RefKernelCodegen {

  require(keys.forall(_ != null), "KV block keys must not be null")

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "kv_render"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kv_render requires array<string>; got ${other.catalogString}")
  }

  /** Each key's line prefix, `k：` in UTF-8, encoded once per instance. */
  @transient private lazy val prefixes: Array[Array[Byte]] =
    keys.map(k => (k + "：").getBytes(UTF_8)).toArray

  override protected def withNewChildInternal(newChild: Expression): KvRender =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    KvRender.render(prefixes, input.asInstanceOf[ArrayData])
}

object KvRender {

  /** The block (see class scaladoc). Shared by eval/codegen. */
  private def render(prefixes: Array[Array[Byte]], values: ArrayData): UTF8String = {
    val n = prefixes.length
    var cap = 0
    var i = 0
    while (i < n) {
      if (!values.isNullAt(i)) cap += prefixes(i).length + values.getUTF8String(i).numBytes + 1
      i += 1
    }
    var out = new Array[Byte](cap)
    var pos = 0
    i = 0
    while (i < n) {
      if (!values.isNullAt(i)) {
        // every rendered line holds at least its `：`, so pos > 0 iff a
        // line came before this one
        if (pos > 0) { out(pos) = '\n'.toByte; pos += 1 }
        val p = prefixes(i)
        System.arraycopy(p, 0, out, pos, p.length)
        pos += p.length
        val v = values.getUTF8String(i)
        var end = sanitize(v, out, pos)
        if (end < 0) {
          val decoded = UTF8String.fromString(v.toString)
          val grown = decoded.numBytes - v.numBytes
          if (grown > 0) out = java.util.Arrays.copyOf(out, out.length + grown)
          end = sanitize(decoded, out, pos)
        }
        pos = end
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, pos)
  }

  /** Copies `v` into `out` at `at`, each `\r\n`, `\n`, `\r` and `^_^` as
    * one space; returns the end position, or -1 if `v` is not valid UTF-8.
    */
  private def sanitize(v: UTF8String, out: Array[Byte], at: Int): Int = {
    val base = v.getBaseObject
    val off = v.getBaseOffset
    val n = v.numBytes
    def byteAt(j: Int): Byte = Platform.getByte(base, off + j)
    var pos = at
    var i = 0
    while (i < n) {
      val b = byteAt(i)
      if (b >= 0) {
        val matched =
          if (b == '\n') 1
          else if (b == '\r') { if (i + 1 < n && byteAt(i + 1) == '\n') 2 else 1 }
          else if (b == '^' && i + 2 < n && byteAt(i + 1) == '_' && byteAt(i + 2) == '^') 3
          else 0
        if (matched > 0) { out(pos) = ' '.toByte; i += matched }
        else { out(pos) = b; i += 1 }
        pos += 1
      } else {
        val len = KvParse.sequenceLength(base, off, i, n)
        if (len == 0) return -1
        Platform.copyMemory(base, off + i, out, Platform.BYTE_ARRAY_OFFSET + pos, len)
        pos += len
        i += len
      }
    }
    pos
  }

  /** Column bridge: one line per (key, value) pair, in order. */
  def expr(kvPairs: Seq[(String, Column)]): Column =
    GraftColumnBridge.column(KvRender(
      GraftColumnBridge.expression(array(kvPairs.map(_._2.cast(StringType)): _*)),
      kvPairs.map(_._1)))
}
