package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-k-shingle 64-bit hashes as ONE Catalyst expression.
  *
  * The composable form (`TextFunctions.distinctShingles` + per-shingle
  * hashing) is a stack of higher-order functions, which Spark evaluates
  * interpreted — measured ~0.9 s per pass over 5k docs at sf0.1, and the
  * dedup operators traverse it up to twice per self-join side. This
  * expression does tokenize → k-gram → hash → dedup in a single compiled
  * loop with zero intermediate arrays of strings: the k-gram hash is an
  * FNV-1a fold over the token bytes (with a separator byte), so shingle
  * STRINGS are never materialized at all.
  *
  * Hash: FNV-1a 64-bit — deterministic, engine-internal (the exact-Jaccard
  * oracle compares pair RESULTS, which are hash-invariant modulo 64-bit
  * collisions, ~1e-11 at this cardinality).
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"shingle_hashes_$k"

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = ShingleHashes.splitWhitespace(s)
    val n = tokens.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val out = new java.util.HashSet[java.lang.Long](math.max(16, (n - k + 1) * 2))
    val hashes = new Array[Long](n - k + 1)
    var m = 0
    var i = 0
    while (i <= n - k) {
      var h = ShingleHashes.FnvOffset
      var j = 0
      while (j < k) {
        val t = tokens(i + j)
        var c = 0
        while (c < t.length) {
          h = (h ^ t.charAt(c)) * ShingleHashes.FnvPrime
          c += 1
        }
        h = (h ^ 0x1f) * ShingleHashes.FnvPrime   // token separator
        j += 1
      }
      if (out.add(h)) { hashes(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, m))
  }
}

object ShingleHashes {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** ASCII `\s` semantics ([ \t\n\x0B\f\r]) — NOT Character.isWhitespace:
    * must tokenize identically to TextFunctions.tokens (Java regex \s+)
    * and the DuckDB oracle's \s+, which do not treat U+3000 ideographic
    * space etc. as separators.
    */
  @inline private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private[functions] def splitWhitespace(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isAsciiSpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isAsciiSpace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** Column bridge. `spark` is unused; the signature stays because
    * `perfbench` calls it.
    */
  def shingleHashes(spark: SparkSession, c: Column, k: Int): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(c), k))
}
