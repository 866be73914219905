package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compiled DSIR importance score (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): the per-document hashed
  * n-gram log-likelihood ratio between a target distribution and the raw
  * pool, as ONE narrow map-side pass — tokenize once, fold unigram AND
  * bigram poly31 hashes, bucket mod `dim`, sum the per-bucket fixed-point
  * log-ratio table.
  *
  * The table (`deltaFp`, one long per bucket, [[Log2Fixed]] scale 2^20) is
  * dimension-bounded expression state exactly like the PQ codebooks: it
  * rides the plan as constructor state, renders as a content digest (not
  * `dim` literals), and is never serialized per row. Every arithmetic step
  * is integer, so the q161 DuckDB oracle replays each sum value-for-value.
  *
  * Returns `struct(n_grams int, sum_fp long)`:
  *  - n_grams: unigram + bigram count = 2n−1 for n tokens (0 if none)
  *  - sum_fp:  Σ_grams deltaFp(poly31(gram) mod dim)
  *
  * Gram hashing matches [[PolyGramHashes]] exactly (char fold with the
  * `' '` separator codepoint between tokens), so the bucket stream is the
  * same one `Dsir.bucketCounts` trains on — a different fold here would
  * silently score with a model trained on other buckets.
  *
  * Reference analog: the model-scored document filter role of
  * retrieve.py's rule mode (`retrieve.py:1356-1499`) — select the slice of
  * a pool that looks like the target — upgraded to the published hashed
  * n-gram importance-weight estimator.
  */
case class DsirScore(child: Expression, deltaFp: Seq[Long])
    extends UnaryExpression with RefKernelCodegen {

  require(deltaFp.nonEmpty, "delta table must be non-empty")

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("sum_fp", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "dsir_score"

  /** Plans render the table as its digest, not `dim` literals. */
  override def toString: String =
    s"$prettyName($child, dim=${deltaFp.length}, d=${DsirScore.deltaDigest(deltaFp)})"

  override protected def withNewChildInternal(newChild: Expression): DsirScore =
    copy(child = newChild)

  @transient private lazy val delta: Array[Long] = deltaFp.toArray

  override def nullSafeEval(input: Any): Any = {
    import PolyHash.{M1, P1}
    val dim = delta.length
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = ShingleHashes.splitWhitespace(s)
    val n = tokens.length
    if (n == 0) return InternalRow(0, 0L)
    var sum = 0L
    // Unigram hashes, kept to seed the bigram folds without re-hashing
    // the left token of each pair.
    val uni = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = tokens(i)
      val h = PolyHash.foldString(t, 0, t.length, M1, P1, 0L)
      uni(i) = h
      sum += delta((h % dim).toInt)
      i += 1
    }
    i = 0
    while (i < n - 1) {
      val t = tokens(i + 1)
      val h = PolyHash.foldString(t, 0, t.length, M1, P1, (uni(i) * M1 + 32L) % P1)
      sum += delta((h % dim).toInt)
      i += 1
    }
    InternalRow(2 * n - 1, sum)
  }
}

object DsirScore {

  /** Content digest for plan rendering ([[Digests]]).
    * Length is prepended so a table prefix can't collide with its
    * extension; comma-joined longs are otherwise unambiguous.
    */
  def deltaDigest(deltaFp: Seq[Long]): String =
    Digests.content(deltaFp.length + ":" + deltaFp.mkString(","))

  /** Column bridge. */
  def expr(c: Column, deltaFp: Seq[Long]): Column =
    GraftColumnBridge.column(DsirScore(GraftColumnBridge.expression(c), deltaFp))
}
