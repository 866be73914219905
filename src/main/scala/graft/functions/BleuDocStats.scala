package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Compiled per-document BLEU-2 sufficient statistics — ONE pass over the
  * (candidate, reference) pair replacing the four (id, gram-hash) count
  * aggregations + per-order joins the distributed form paid (the r13
  * corpusBleu2 rewrite): clipping is a PER-DOCUMENT operation (a candidate
  * gram counts at most as often as ITS OWN reference shows it), so nothing
  * about it needs an exchange.
  *
  * Gram identity is the same 61-bit poly fold as [[PolyGramHashes61]]
  * (tokenize → k-gram → `fold (acc·131 + cp) mod 2⁶¹−1`, single-space
  * separator), so match/total counts are bit-identical to the join form —
  * including on a (astronomically unlikely) hash collision, which merges
  * the same two grams in both shapes AND in the DuckDB oracle's replay of
  * the fold. Clipped matches are computed sort-merge style: both gram-hash
  * arrays sorted, Σ min(run lengths) — no per-doc hash map, no boxing.
  *
  * Returns struct(cl, rl, m1, t1, m2, t2): candidate/reference token
  * counts, clipped 1-/2-gram matches and candidate gram totals. Null when
  * either input is null. Per-row cost: one tokenize of each text, each
  * token char-folded ≤ 2×, two O(G log G) sorts of doc-bounded arrays.
  */
case class BleuDocStats(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BleuDocStats.schema
  override def nullable: Boolean = true
  override def prettyName: String = "bleu_doc_stats"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BleuDocStats =
    copy(left = newLeft, right = newRight)

  /** Public bridge so generated code can reach the protected eval (the
    * [[RefKernelCodegen]] mechanism, binary arity): the projection stays
    * inside WholeStageCodegen, one interface call per row.
    */
  final def kernelEval(a: Any, b: Any): Any = nullSafeEval(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, r) => {
      val ref = ctx.addReferenceObj("graftBleuKernel", this,
        classOf[BleuDocStats].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
        s"$ref.kernelEval($c, $r);"
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ct = ShingleHashes.splitWhitespace(a.asInstanceOf[UTF8String].toString)
    val rt = ShingleHashes.splitWhitespace(b.asInstanceOf[UTF8String].toString)
    val c1 = BleuDocStats.gram1(ct)
    val r1 = BleuDocStats.gram1(rt)
    // 2-grams derive from the UNSORTED 1-gram folds (separator step +
    // second-token fold — exactly PolyGramHashes61's k=2 loop), so they
    // run before clip() sorts the arrays in place
    val c2 = BleuDocStats.gram2(ct, c1)
    val r2 = BleuDocStats.gram2(rt, r1)
    val t1 = c1.length.toLong
    val t2 = c2.length.toLong
    new GenericInternalRow(Array[Any](
      ct.length.toLong, rt.length.toLong,
      BleuDocStats.clippedMatches(c1, r1), t1,
      BleuDocStats.clippedMatches(c2, r2), t2))
  }
}

object BleuDocStats {

  val schema: StructType = StructType(Seq("cl", "rl", "m1", "t1", "m2", "t2")
    .map(n => StructField(n, LongType, nullable = false)))

  /** Column bridge. */
  def expr(cand: Column, ref: Column): Column =
    GraftColumnBridge.column(
      BleuDocStats(GraftColumnBridge.expression(cand), GraftColumnBridge.expression(ref)))

  /** 1-gram 61-bit poly hashes, index = token position. */
  private[functions] def gram1(toks: Array[String]): Array[Long] = {
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      out(i) = PolyHash.foldString61(t, 0, t.length, 0L)
      i += 1
    }
    out
  }

  /** 2-gram hashes from the token array and its UNSORTED 1-gram folds:
    * h(i) = fold(tok_{i+1}, init = step(g1(i), ' ')) — bit-identical to
    * [[PolyGramHashes61]] k=2, with the first token's fold reused.
    */
  private[functions] def gram2(toks: Array[String], g1: Array[Long]): Array[Long] = {
    if (toks.length < 2) return Array.emptyLongArray
    val out = new Array[Long](toks.length - 1)
    var i = 0
    while (i < toks.length - 1) {
      val t = toks(i + 1)
      out(i) = PolyHash.foldString61(t, 0, t.length,
        PolyHash.mulStep61(g1(i), 32L))
      i += 1
    }
    out
  }

  /** Σ_h min(count_cand(h), count_ref(h)) — the modified-precision clip.
    * Sorts BOTH arrays in place, then a two-pointer merge over equal runs.
    */
  private[functions] def clippedMatches(c: Array[Long], r: Array[Long]): Long = {
    if (c.length == 0 || r.length == 0) return 0L
    java.util.Arrays.sort(c)
    java.util.Arrays.sort(r)
    var i = 0
    var j = 0
    var m = 0L
    while (i < c.length && j < r.length) {
      if (c(i) < r(j)) i += 1
      else if (c(i) > r(j)) j += 1
      else {
        val h = c(i)
        var ci = 0
        var rj = 0
        while (i < c.length && c(i) == h) { i += 1; ci += 1 }
        while (j < r.length && r(j) == h) { j += 1; rj += 1 }
        m += math.min(ci, rj)
      }
    }
    m
  }
}
