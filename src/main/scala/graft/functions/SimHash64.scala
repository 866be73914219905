package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compiled 64-bit SimHash: tokenize (ASCII-\s, same as TextFunctions
  * .tokens), hash each token with Spark's own xxhash64 (seed 42 — the
  * `functions.xxhash64` column form), and take the sign of the per-bit
  * ±1 vote. Bit-identical to the composable `ReferenceTwins.simHashComposable`
  * spec form (equality asserted in DedupSimilaritySpec), which runs 64
  * interpreted `aggregate` traversals of the token-hash array per row;
  * this is one pass over the tokens with a 64-counter accumulator.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: codegen.CodegenContext, ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.compute($c);")
}

object SimHash64 {

  def compute(input: UTF8String): Long = {
    val tokens = ShingleHashes.splitWhitespace(input.toString)
    val counts = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val h = XxHash64Function.hash(
        UTF8String.fromString(tokens(t)), StringType, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Column bridge. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(c)))
}
