package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compiled Gopher-style repetition metrics — ONE tokenize pass per row
  * instead of the two interpreted HOF stacks (`array_sort` + run-length
  * `aggregate` for the modal share, `array_distinct` for the dup share)
  * that `TextFunctions.topNgramFrac/dupNgramFrac` stand up. Those stay as
  * the composable SPEC forms; bit-equality on real documents is asserted in
  * TrainingOpsSpec. This is the per-byte hot path of a corpus quality run —
  * at 100 TB the whole computation remains a narrow map-side projection.
  *
  * Returns `struct(top_frac double, dup_frac double)`:
  *  - top_frac: modal `kTop`-gram count / total `kTop`-grams (0.0 if none)
  *  - dup_frac: 1 − distinct/total `kDup`-grams (0.0 if none)
  * both rounded HALF_UP to 6 decimals — the exact arithmetic of the
  * composable forms and of the q69 DuckDB oracle. Gram keys are the gram
  * STRINGS (no hashing), so multiplicities can never collide apart.
  */
case class RepetitionStats(child: Expression, kTop: Int, kDup: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(kTop >= 1 && kDup >= 1, "gram sizes must be >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("top_frac", DoubleType, nullable = false),
    StructField("dup_frac", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = s"repetition_stats_${kTop}_$kDup"

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)

  /** Spark's `round(col, 6)` rounds the DECIMAL-STRING rendering of the
    * double (BigDecimal.valueOf), not its exact binary expansion — using
    * `new BigDecimal(v)` here would round boundary fractions like 3/640
    * (whose double sits just below the decimal tie) the other way and
    * break bit-equality with the composable HOF forms.
    */
  private def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = ShingleHashes.splitWhitespace(s)
    val n = tokens.length

    def gram(i: Int, k: Int): String = {
      if (k == 1) return tokens(i)
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      sb.toString
    }

    val topTotal = n - kTop + 1
    val topFrac = if (topTotal <= 0) 0.0 else {
      val counts = new java.util.HashMap[String, Integer](topTotal * 2)
      var best = 0
      var i = 0
      while (i <= n - kTop) {
        val c = counts.merge(gram(i, kTop), Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
        if (c.intValue > best) best = c.intValue
        i += 1
      }
      round6(best.toDouble / topTotal.toDouble)
    }

    val dupTotal = n - kDup + 1
    val dupFrac = if (dupTotal <= 0) 0.0 else {
      val seen = new java.util.HashSet[String](dupTotal * 2)
      var distinct = 0
      var i = 0
      while (i <= n - kDup) {
        if (seen.add(gram(i, kDup))) distinct += 1
        i += 1
      }
      round6(1.0 - distinct.toDouble / dupTotal.toDouble)
    }

    InternalRow(topFrac, dupFrac)
  }
}

object RepetitionStats {
  /** Column bridge. */
  def expr(c: Column, kTop: Int = 2, kDup: Int = 3): Column =
    GraftColumnBridge.column(RepetitionStats(GraftColumnBridge.expression(c), kTop, kDup))
}
