package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compiled char-trigram hash pass for the LM quality scorer (LmScore):
  * one walk over the string's code points emitting, per trigram position,
  * the poly31-mod-1e9+7 fold of the trigram (h3) and of its 2-char prefix
  * (h2) packed as `(h3 << 31) | h2` (both < 2^30). The HOF formulation
  * (`transform(sequence, i => element_at(codes, i)…)`) re-evaluates the
  * codes array per POSITION — O(n²) per document (measured 340 s vs ~2 s
  * at sf0.1); this kernel is the O(n) form, and mod-1e9+7 codepoint
  * arithmetic keeps it oracle-reproducible (ord() in DuckDB).
  */
case class CharTrigramHashes(child: Expression)
  extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "char_trigram_hashes"

  override protected def withNewChildInternal(newChild: Expression): CharTrigramHashes =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    CharTrigramHashes.compute(input.asInstanceOf[UTF8String])
}

object CharTrigramHashes {

  val P = 1000000007L

  def compute(input: UTF8String): GenericArrayData = {
    val cps = input.toString.codePoints().toArray
    if (cps.length < 3) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](cps.length - 2)
    var i = 0
    while (i < out.length) {
      val h2 = (cps(i).toLong * 31 + cps(i + 1)) % P
      val h3 = (h2 * 31 + cps(i + 2)) % P
      out(i) = (h3 << 31) | h2
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column bridge. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(CharTrigramHashes(GraftColumnBridge.expression(c)))

  def unpackH3(packed: Column): Column =
    org.apache.spark.sql.functions.shiftrightunsigned(packed, 31)

  def unpackH2(packed: Column): Column =
    packed.bitwiseAND(org.apache.spark.sql.functions.lit((1L << 31) - 1))
}
