package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compiled per-document character-entropy signal — the cheap detector for
  * binary spill, mojibake floods and keyboard-mash that quality pipelines
  * run alongside the rule gates (a document whose codepoint distribution
  * is near-uniform over hundreds of symbols, or collapsed onto two, is not
  * prose). One map-side pass: count codepoints, fold the Shannon sum in
  * [[Log2Fixed]] fixed-point — every intermediate is an exact integer, so
  * the q164 DuckDB oracle replays each value bit-for-bit (the q102
  * discipline; libm never runs on either side).
  *
  * Returns `struct(n_chars int, ent_fp long)` where
  * `ent_fp = Σ_c n_c · (log2fp(N) − log2fp(n_c))` over codepoint counts —
  * entropy in bits is `ent_fp / (N · 2^20)`, left to the caller so the
  * kernel output stays integer-exact. Empty text → (0, 0).
  *
  * Codepoint iteration matches DuckDB's `string_split(text,'')`+`ord`
  * exactly (supplementary characters are single codepoints on both sides —
  * the q100 parity convention).
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("ent_fp", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "char_entropy"

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (s.isEmpty) return InternalRow(0, 0L)
    // sort-and-count-runs: zero boxing on the per-char hot path (the
    // PolyHash deferred-mod discipline) — an int sort groups equal
    // codepoints, one linear pass folds the entropy sum
    val cps = s.codePoints().toArray
    java.util.Arrays.sort(cps)
    val n = cps.length
    val lgN = Log2Fixed(n.toLong)
    var ent = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && cps(j) == cps(i)) j += 1
      val c = (j - i).toLong
      ent += c * (lgN - Log2Fixed(c))
      i = j
    }
    InternalRow(n, ent)
  }
}

object CharEntropy {
  /** Column bridge. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(CharEntropy(GraftColumnBridge.expression(c)))
}
