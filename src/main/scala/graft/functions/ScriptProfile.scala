package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Per-document script profile — codepoint counts by writing system, the
  * input to script-consistency filters (a "lang=en" doc that is 40% CJK is
  * mislabeled or spam) and to CJK-aware tokenizer routing. One compiled
  * pass per row; zero shuffle.
  *
  * The range CONTRACT (deliberately closed-form so the DuckDB oracle can
  * replay it with `ord` comparisons, q130):
  *   latin    = [0x41,0x5A] ∪ [0x61,0x7A] ∪ [0xC0,0x24F]  (ASCII letters +
  *              Latin-1/Extended-A/B letters incl. × ÷ — range purity over
  *              per-char classification is the portability tradeoff)
  *   cjk      = [0x4E00,0x9FFF]           (CJK Unified Ideographs)
  *   cyrillic = [0x400,0x4FF]
  *   digit    = [0x30,0x39]
  *   space    = {0x09,0x0A,0x0D,0x20}
  *   other    = everything else
  */
case class ScriptProfile(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = ScriptProfile.schema
  override def nullable: Boolean = true
  override def prettyName: String = "script_profile"

  override protected def withNewChildInternal(newChild: Expression): ScriptProfile =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var latin = 0; var cjk = 0; var cyr = 0; var digit = 0; var space = 0
    var other = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if ((cp >= 0x41 && cp <= 0x5A) || (cp >= 0x61 && cp <= 0x7A) ||
          (cp >= 0xC0 && cp <= 0x24F)) latin += 1
      else if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
      else if (cp >= 0x400 && cp <= 0x4FF) cyr += 1
      else if (cp >= 0x30 && cp <= 0x39) digit += 1
      else if (cp == 0x09 || cp == 0x0A || cp == 0x0D || cp == 0x20) space += 1
      else other += 1
      i += Character.charCount(cp)
    }
    InternalRow(latin, cjk, cyr, digit, space, other)
  }
}

object ScriptProfile {

  val schema: StructType = StructType(Seq(
    StructField("n_latin", IntegerType, nullable = false),
    StructField("n_cjk", IntegerType, nullable = false),
    StructField("n_cyrillic", IntegerType, nullable = false),
    StructField("n_digit", IntegerType, nullable = false),
    StructField("n_space", IntegerType, nullable = false),
    StructField("n_other", IntegerType, nullable = false)))

  /** Column bridge for the compiled profile pass. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(ScriptProfile(GraftColumnBridge.expression(c)))
}
