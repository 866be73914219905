package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen
import org.apache.spark.sql.catalyst.util.DateFormatter
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-format date parsing and relative-date arithmetic — the Spark
  * restatement of 多数据源获取链接.py:29-95 (5 literal formats + "N 天/周/月/年前"
  * relative expressions) and retrieve.py:1280-1351 (record-date extraction
  * with ranges and bare years). SURVEY.md §2.8 F3/F4/F5.
  */
object DateFunctions {

  /** The five literal formats the reference recognizes (LINKS:40-46). */
  val Formats: Seq[String] =
    Seq("yyyy-MM-dd", "yyyy/MM/dd", "yyyy.MM.dd", "yyyy年MM月dd日", "yyyyMMdd")

  /** First format that parses wins; null when none do.
    *
    * ONE compiled expression (shape dispatch on the disjoint separator
    * signatures `-`, `/`, `.`, `年`, bare digits, then a single
    * DateFormatter attempt — Spark's own try_to_date parser, so failure/
    * success semantics are identical). A single Expression instead of a
    * when/try_to_date chain matters beyond constant factors: when the
    * parsed column feeds a pushed-down filter, Catalyst inlines the
    * defining expression into every predicate reference — the composable
    * chain re-expanded its five-branch input CASE per `when` arm (~30
    * date parses/row observed in the q23 plan); this node is referenced
    * once per predicate copy and costs one dispatch + one parse.
    */
  def parseMultiFormat(c: Column): Column = MultiFormatDate.expr(c)

  /** Bare-year fallback: "2023" → 2023-01-01 (retrieve.py:1311-1318). */
  def parseWithYearFallback(c: Column): Column =
    coalesce(
      parseMultiFormat(c),
      when(c.rlike("^\\s*\\d{4}\\s*$"),
        make_date(trim(c).cast("int"), lit(1), lit(1))))

  /** Relative expressions "N天前 / N周前 / N月前 / N年前" resolved against an
    * explicit anchor (LINKS:61-95; month=30d, year=365d per the reference).
    * Anchor is a parameter, not current_date(), so results are deterministic.
    */
  def parseRelative(c: Column, anchor: Column): Column = {
    val n = regexp_extract(c, "^(\\d+)\\s*(天|日|周|月|年)前$", 1)
    val unit = regexp_extract(c, "^(\\d+)\\s*(天|日|周|月|年)前$", 2)
    val days = when(unit === "天" || unit === "日", n.cast("int"))
      .when(unit === "周", n.cast("int") * 7)
      .when(unit === "月", n.cast("int") * 30)
      .when(unit === "年", n.cast("int") * 365)
    when(n =!= "", date_sub(anchor, days))
  }

  /** Range "A - B" → struct(start,end); single date → both ends equal
    * (retrieve.py:1280-1307).
    */
  def parseRange(c: Column): Column = {
    val isRange = c.rlike("\\s+-\\s+|\\s*~\\s*")
    val parts = split(c, "\\s+-\\s+|\\s*~\\s*", 2)
    struct(
      when(isRange, parseWithYearFallback(element_at(parts, 1)))
        .otherwise(parseWithYearFallback(c)).as("start"),
      when(isRange, parseWithYearFallback(element_at(parts, 2)))
        .otherwise(parseWithYearFallback(c)).as("end"))
  }

  /** Time-range predicate with the reference's missing-date-rejects rule
    * (retrieve.py:1329-1351 — P9): null record date fails when a filter is set.
    */
  def inRange(d: Column, start: Column, end: Column): Column =
    d.isNotNull && d.between(start, end)

  /** Seconds → "MM:SS", truncating fractional seconds (Python int()
    * semantics, dify_transformation.py:93-103 — F5).
    */
  def mmss(seconds: Column): Column =
    format_string("%02d:%02d",
      floor(seconds / 60).cast("int"), floor(seconds % 60).cast("int"))
}

/** Compiled multi-format date parse: separator-dispatch to exactly one of
  * the five reference formats, parsed with Spark's own `DateFormatter`
  * (the try_to_date parser — same CORRECTED-policy semantics, same
  * reject-to-null behavior). Real `doGenCode` (one static call), so it
  * stays inside whole-stage codegen on scan-side hot paths.
  * See DateFunctions.parseMultiFormat.
  */
case class MultiFormatDate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override def prettyName: String = "multi_format_date"

  override protected def withNewChildInternal(newChild: Expression): MultiFormatDate =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    MultiFormatDate.parseUTF8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: codegen.CodegenContext, ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |java.lang.Integer ${ev.value}_r = graft.functions.MultiFormatDate.parseUTF8($c);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.intValue(); }
       """.stripMargin
    })
}

object MultiFormatDate {

  /** Shared parsers: Iso8601DateFormatter is immutable/thread-safe (the
    * engine always runs the CORRECTED parser policy — GraftSession default).
    */
  private lazy val formatters: Array[DateFormatter] =
    DateFunctions.Formats.map(f => DateFormatter(f)).toArray

  /** Days-since-epoch or null; called from both eval and generated code. */
  def parseUTF8(input: UTF8String): Integer = {
    val s = input.toString
    val idx =
      if (s.indexOf('-') >= 0) 0
      else if (s.indexOf('/') >= 0) 1
      else if (s.indexOf('.') >= 0) 2
      else if (s.indexOf('年') >= 0) 3
      else if (s.length == 8 && s.forall(c => c >= '0' && c <= '9')) 4
      else -1
    if (idx < 0) null
    else try Integer.valueOf(formatters(idx).parse(s))
    catch { case _: Exception => null }
  }

  /** Column bridge. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(MultiFormatDate(GraftColumnBridge.expression(c)))
}
