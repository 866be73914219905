package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** X2 `lenient_json_clean` — a custom Catalyst Expression implementing the
  * reference's JSON-salvage semantics (数据提取.py:133-248 and the pipeline's
  * 数据清洗 code node): strip markdown fences, bracket-scan for balanced
  * top-level `{...}` / `[...]` candidates (string- and escape-aware), and
  * return the LARGEST candidate — null when none is found.
  *
  * A real Expression (not a UDF) so it is null-safe inside Catalyst,
  * participates in constant folding, and is exposed to SQL as
  * `lenient_json_clean` by [[graft.core.GraftExtensions]]. The
  * reference-call codegen bridge keeps it inside WholeStageCodegen, not in
  * tight numeric loops (SURVEY.md §7 custom-surface budget).
  */
case class LenientJsonClean(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "lenient_json_clean"

  override protected def withNewChildInternal(newChild: Expression): LenientJsonClean =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val cleaned = LenientJsonClean.extractLargestCandidate(
      LenientJsonClean.stripFences(input.asInstanceOf[UTF8String].toString))
    cleaned match {
      case null => null
      case s => UTF8String.fromString(s)
    }
  }
}

object LenientJsonClean {

  /** Remove markdown code fences (```json ... ``` and bare ```). */
  private[functions] def stripFences(s: String): String =
    s.replaceAll("(?i)```[ \\t]*json[ \\t]*\\n?", "").replace("```", "")

  /** Scan for balanced top-level JSON object/array candidates, skipping
    * quoted strings and escapes; return the longest candidate or null.
    */
  private[functions] def extractLargestCandidate(s: String): String = {
    var best: String = null
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '{' || c == '[') {
        val end = scanBalanced(s, i)
        if (end > i) {
          val cand = s.substring(i, end + 1)
          if (best == null || cand.length > best.length) best = cand
          i = end + 1
        } else i += 1
      } else i += 1
    }
    best
  }

  /** Return index of the matching closing bracket, or -1 if unbalanced. */
  private def scanBalanced(s: String, start: Int): Int = {
    val open = s.charAt(start)
    val close = if (open == '{') '}' else ']'
    var depth = 0
    var inString = false
    var escaped = false
    var i = start
    while (i < s.length) {
      val c = s.charAt(i)
      if (inString) {
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == '"') inString = false
      } else c match {
        case '"' => inString = true
        case `open` => depth += 1
        case `close` =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Column bridge. */
  def lenientJsonClean(c: Column): Column =
    GraftColumnBridge.column(LenientJsonClean(GraftColumnBridge.expression(c)))
}
