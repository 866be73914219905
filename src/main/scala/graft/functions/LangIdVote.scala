package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled language-ID marker vote — one pass over the document instead of
  * the composable form's five interpreted `filter` traversals (each of which
  * re-expands the tokenize, since HOF stacks are inlined per reference).
  *
  * Semantics are IDENTICAL to the composable/oracle form (q38): lowercase,
  * ASCII-\s tokenize, count tokens (duplicates included) that appear in each
  * language's marker list, pick the best by (hits, then lexicographically
  * greatest language) — `array_max` over (hits, lang) structs — and return
  * "und" when no marker hit at all.
  */
case class LangIdVote(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "lang_id_vote"

  override protected def withNewChildInternal(newChild: Expression): LangIdVote =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    LangIdVote.vote(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: codegen.CodegenContext, ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LangIdVote.vote($c);")
}

object LangIdVote {

  /** (lang, marker set) in ascending lang order, so an equal-hits tie is
    * resolved to the LAST (lexicographically greatest) language — exactly
    * array_max over (hits, lang) structs.
    */
  private lazy val markers: Array[(UTF8String, java.util.HashSet[String])] =
    TextFunctions.LangMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      val set = new java.util.HashSet[String]()
      ws.foreach(set.add)
      (UTF8String.fromString(lang), set)
    }.toArray

  private val und = UTF8String.fromString("und")

  def vote(input: UTF8String): UTF8String = {
    val tokens = ShingleHashes.splitWhitespace(
      input.toLowerCase.toString)
    var bestHits = 0
    var best: UTF8String = und
    var l = 0
    while (l < markers.length) {
      val set = markers(l)._2
      var hits = 0
      var i = 0
      while (i < tokens.length) {
        if (set.contains(tokens(i))) hits += 1
        i += 1
      }
      // ascending lang order + >= comparison == (hits, lang) struct max
      if (hits > 0 && hits >= bestHits) { bestHits = hits; best = markers(l)._1 }
      l += 1
    }
    best
  }

  /** Column bridge. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(LangIdVote(GraftColumnBridge.expression(c)))
}
