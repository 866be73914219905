package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compiled counterpart of `QualityRules.repetitionSignals`'s per-row
  * folds (the Gopher CHAR-weighted repetition measures — the count-
  * weighted pair q69 already compiles in [[RepetitionStats]]): one
  * tokenize + one hash-count pass per gram size instead of the
  * interpreted `sort_array` + struct-state `aggregate` stacks, which
  * measured 155 s vs 4.6 s (CDC kernel) over 10M docs. The HOF forms
  * stay as the composable spec forms; bit-equality is asserted in
  * QualityRulesSpec over decorated real documents.
  *
  * Input: `struct(text string, lines array<string>)` (lines = whatever
  * line semantics the caller chose — the kernel must not impose one).
  * Output integers only — the fraction arithmetic stays in the Column
  * layer so the divisions are the same IEEE expressions the q203 oracle
  * replays:
  *  - n_lines / n_distinct_lines (space-trimmed, empties dropped —
  *    SPARK trim semantics: ASCII space only)
  *  - dup_line_extra = Σ_distinct (freq−1)·len, line_chars = Σ len
  *  - top_gram_chars = max-freq gram's freq·len (tie: byte-order
  *    smallest gram, matching sort_array/list_sort)
  *  - dup_gram_chars = Σ_{freq>1} freq·len
  *  - joined_len = len(tokens joined by ' ')
  * All lengths in CODE POINTS (Spark `length`/DuckDB `length`).
  */
case class RepetitionCharStats(child: Expression, topGramN: Int, dupGramN: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(topGramN >= 1 && dupGramN >= 1, "gram sizes must be >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_distinct_lines", IntegerType, nullable = false),
    StructField("dup_line_extra", LongType, nullable = false),
    StructField("line_chars", LongType, nullable = false),
    StructField("top_gram_chars", LongType, nullable = false),
    StructField("dup_gram_chars", LongType, nullable = false),
    StructField("joined_len", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = s"repetition_char_stats_${topGramN}_$dupGramN"

  override protected def withNewChildInternal(newChild: Expression): RepetitionCharStats =
    copy(child = newChild)

  private def cpLen(s: String): Long = s.codePointCount(0, s.length).toLong

  /** Spark `trim`: ASCII space only — String.trim (≤ U+0020) would
    * diverge on tab/newline-edged lines.
    */
  private def stripSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val text =
      if (row.isNullAt(0)) "" else row.getUTF8String(0).toString
    val rawLines =
      if (row.isNullAt(1)) Array.empty[String]
      else {
        val arr = row.getArray(1)
        Array.tabulate(arr.numElements())(i =>
          if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString)
      }

    // ---- line measures ----------------------------------------------------
    val lines = rawLines.iterator.filter(_ != null)
      .map(stripSpaces).filter(_.nonEmpty).toArray
    val lineCounts = new java.util.HashMap[String, Integer](lines.length * 2)
    var lineChars = 0L
    lines.foreach { l =>
      lineChars += cpLen(l)
      lineCounts.merge(l, Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue)): Unit
    }
    var dupLineExtra = 0L
    lineCounts.forEach { (l, c) =>
      if (c.intValue > 1) dupLineExtra += (c.intValue - 1).toLong * cpLen(l)
    }

    // ---- gram measures ----------------------------------------------------
    val tokens = ShingleHashes.splitWhitespace(text)
    var joined = 0L
    tokens.foreach(t => joined += cpLen(t))
    if (tokens.length > 1) joined += (tokens.length - 1).toLong

    def gram(i: Int, k: Int): String =
      if (k == 1) tokens(i)
      else {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(tokens(i + j))
          j += 1
        }
        sb.toString
      }

    def counts(k: Int): java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](
        math.max(4, (tokens.length - k + 1) * 2))
      var i = 0
      while (i <= tokens.length - k) {
        m.merge(gram(i, k), Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
        i += 1
      }
      m
    }

    val topCounts = counts(topGramN)
    var bestFreq = 0
    var bestGram: UTF8String = null
    topCounts.forEach { (g, c) =>
      val f = c.intValue
      if (f > bestFreq) { bestFreq = f; bestGram = UTF8String.fromString(g) }
      else if (f == bestFreq && bestFreq > 0) {
        // tie to the BYTE-order smallest gram — what sort_array's first
        // max run (and DuckDB list_min under binary collation) picks
        val u = UTF8String.fromString(g)
        if (u.compareTo(bestGram) < 0) bestGram = u
      }
    }
    val topChars =
      if (bestFreq == 0) 0L
      else bestFreq.toLong * cpLen(bestGram.toString)

    var dupChars = 0L
    counts(dupGramN).forEach { (g, c) =>
      if (c.intValue > 1) dupChars += c.intValue.toLong * cpLen(g)
    }

    InternalRow(lines.length, lineCounts.size, dupLineExtra, lineChars,
      topChars, dupChars, joined)
  }
}

object RepetitionCharStats {
  /** Column bridge. */
  def expr(textAndLines: Column, topGramN: Int, dupGramN: Int): Column =
    GraftColumnBridge.column(
      RepetitionCharStats(GraftColumnBridge.expression(textAndLines), topGramN, dupGramN))
}
