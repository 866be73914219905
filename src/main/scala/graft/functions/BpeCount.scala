package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compiled single-rank BPE token accounting (see [[graft.operators.Bpe]]):
  * per whitespace word, scan codepoints left-to-right and merge wherever
  * the next two codepoints form a pair in the trained table. Codepoint
  * iteration matches Spark's `substr`/DuckDB's `substr` character
  * semantics (supplementary characters count once). Returns
  * `struct(n_chars int, n_tokens int)`; empty text → (0, 0).
  *
  * The merge table is M-bounded constructor state, rendered as a content
  * digest in plans (codebook discipline).
  */
case class BpeCount(child: Expression, merges: Seq[String])
    extends UnaryExpression with RefKernelCodegen {

  require(merges.nonEmpty, "merge table must be non-empty")

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_count"

  override def toString: String =
    s"$prettyName($child, m=${merges.length}, d=${BpeCount.mergesDigest(merges)})"

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)

  @transient private lazy val mergeSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](merges.length * 2)
    merges.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val words = ShingleHashes.splitWhitespace(text)
    var chars = 0
    var tokens = 0
    var w = 0
    while (w < words.length) {
      val word = words(w)
      // codepoint array of the word (substr parity on supplementary chars)
      val cps = word.codePoints().toArray
      val n = cps.length
      chars += n
      var i = 0
      while (i < n) {
        if (i + 1 < n &&
          mergeSet.contains(new String(cps, i, 2))) {
          tokens += 1
          i += 2
        } else {
          tokens += 1
          i += 1
        }
      }
      w += 1
    }
    InternalRow(chars, tokens)
  }
}

object BpeCount {

  /** Content digest for plan rendering ([[Digests]]).
    * PER-ELEMENT length prefixes make the serialization unambiguous for
    * arbitrary entries (a join-separator alone collides when an entry
    * contains the separator -- trained 2-codepoint tables can't, but the
    * public constructor accepts any strings).
    */
  def mergesDigest(merges: Seq[String]): String =
    Digests.content(
      merges.length + ":" + merges.map(m => m.length + "," + m).mkString("|"))

  /** Column bridge. */
  def expr(c: Column, merges: Seq[String]): Column =
    GraftColumnBridge.column(BpeCount(GraftColumnBridge.expression(c), merges))
}
