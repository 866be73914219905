package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Fixed-point base-2 logarithm of a positive BIGINT, exact and
  * bit-portable across engines — the log kernel behind the perplexity
  * variant of the LM quality score (q102).
  *
  * `log2fp(m) = round-ish(log2(m) · 2^20)` computed with INTEGER ops only:
  *
  *   E    = length(bin(m)) − 1                  (floor log2; both Spark and
  *                                               DuckDB have `bin`)
  *   t    = normalize m to [2^20, 2^21) − 2^20  (shift by |E−20|)
  *   idx  = t div 1024,  r = t mod 1024
  *   frac = LUT(idx) + (LUT(idx+1) − LUT(idx)) · r div 1024
  *   out  = E · 2^20 + frac
  *
  * The 1025-entry mantissa table LUT(i) = round(log2(1 + i/1024) · 2^20) is
  * generated ONCE here (StrictMath — fdlibm-exact, identical on every JVM)
  * and embedded verbatim into the DuckDB oracle SQL via [[lutSqlList]], so
  * both engines evaluate the same integers by construction; libm's
  * not-correctly-rounded `log` never runs on either side. Accuracy vs true
  * log2: |err| ≲ 3·10⁻⁶ (mantissa truncation 2⁻²⁰ + linear-interp ≤ 2·10⁻⁷
  * + fixed-point grain 2⁻²⁰) — perplexity-faithful ranking, hash-exact
  * replay. Reference analog: CCNet's mean-log-p document scoring, the
  * filtering role retrieve.py's rule mode plays over quality-scored input.
  */
object Log2Fixed {

  /** Fractional bits of the fixed-point result. */
  val Scale: Int = 20
  val One: Long = 1L << Scale

  /** LUT(i) = round(log2(1 + i/1024) · 2^20), i ∈ [0, 1024]. */
  val Lut: Array[Long] = Array.tabulate(1025) { i =>
    Math.round(StrictMath.log1p(i / 1024.0) / StrictMath.log(2.0) * One)
  }

  /** The LUT as a DuckDB list literal — the oracle's copy of the table. */
  def lutSqlList: String = Lut.mkString("[", ",", "]")

  /** Fixed-point log2 of a positive long column — the compiled
    * [[Log2FixedExpr]] kernel (r13): the original composable form built
    * `element_at(<1025-entry literal array>, …)` TWICE per call site, and
    * Catalyst inlines that literal as constructed code — a projection with
    * a handful of log2fp terms (corpusBleu2's tail has 8) blows Janino's
    * 64 KB method limit and silently drops the whole stage out of
    * WholeStageCodegen (observed: q278/q279/q289 interpreted fallbacks).
    * The kernel reads the LUT as one referenced object and replaces the
    * `bin()` string formatting with `numberOfLeadingZeros`. Bit parity
    * with the old form is the existing spec ("scalar == Column"): this IS
    * the scalar. Non-positive input now yields NULL (the old form
    * produced an arithmetic accident off `bin`'s two's-complement string;
    * no oracle-checked path ever consumed one — callers guard the
    * domain) — nulls surface bad domains instead of junk.
    */
  def expr(m: Column): Column =
    org.apache.spark.sql.classic.GraftColumnBridge.column(Log2FixedExpr(
      org.apache.spark.sql.classic.GraftColumnBridge.expression(
        m.cast("long"))))

  /** CTE fragment producing `i, v, vn` (LUT entry + next) for oracle SQL —
    * a log2fp in SQL is then `E·1048576 + v + (vn − v)·r // 1024` after
    * joining `l2` on `i = t // 1024` (kept textually parallel with [[expr]]).
    */
  def lutCteSql: String =
    s"""lut AS (SELECT unnest(range(0, 1025)) AS i, unnest($lutSqlList) AS v),
       l2 AS (SELECT i, v, LEAD(v) OVER (ORDER BY i) AS vn FROM lut)"""

  /** Scalar twin for specs — and since r13 the engine kernel itself
    * ([[Log2FixedExpr]] delegates here).
    */
  def apply(m: Long): Long = {
    require(m > 0, s"log2fp domain: $m")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(m)
    val t = (if (e >= Scale) m >> (e - Scale) else m << (Scale - e)) - One
    val idx = (t / 1024).toInt
    val r = t - idx * 1024L
    e.toLong * One + Lut(idx) + (Lut(idx + 1) - Lut(idx)) * r / 1024
  }
}

/** Compiled fixed-point log2 kernel — see [[Log2Fixed.expr]]. NULL on
  * null or non-positive input; the LUT rides as expression-referenced
  * state (never inlined into generated code).
  */
case class Log2FixedExpr(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "log2_fixed"

  override protected def withNewChildInternal(newChild: Expression): Log2FixedExpr =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val m = input.asInstanceOf[Long]
    if (m <= 0L) null else java.lang.Long.valueOf(Log2Fixed(m))
  }
}
