package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** Fused per-query MMR greedy-selection kernel (Carbonell & Goldstein
  * 1998): one call consumes a query's candidate array and pairwise-sim
  * array and returns the full greedy pick sequence — the k-step loop
  * runs inside one compiled primitive-long routine instead of k unrolled
  * DataFrame steps. The step-unrolled plan paid 2 + k localCheckpoint
  * barriers plus per-step anti-join/aggregate jobs (q275's profile:
  * job-count/planning-bound, the same regime as the Theil–Sen blocked
  * kernels), all to advance a selection whose per-query state is a few
  * hundred longs; here the whole operator is two aggregates and a
  * co-partitioned join — lazily composable, zero eager actions.
  *
  * Bit-identical to the step-unrolled form (RrfKvSpec pins the values,
  * the q275 oracle CTE unroll replays it in SQL):
  *  - relevance normalized per query to micro units against the query
  *    max via microRound6 (half away from zero, exact big-int past the
  *    long envelope); max <= 0 normalizes every candidate to 0;
  *  - step 1 objective = L·relnorm with null max_sim; step i >= 2
  *    objective = L·relnorm − (10−L)·max_{j∈selected} sim(i, j), a
  *    missing (i, j) pair reading 0;
  *  - argmax ties break on doc_id ascending; overflow fails loud
  *    (multiplyExact/subtractExact — the ANSI-throw posture).
  *
  * Inputs: `cands` = array<struct<d bigint, r bigint>> in any order
  * (doc_id unique — duplicates fail loud); `sims` =
  * array<struct<a bigint, b bigint, s bigint>> or null (reads empty);
  * entries naming non-candidate docs are ignored, duplicate (a, b)
  * entries keep the max.
  *
  * Output: array<struct<sel_rank int, doc_id bigint, rn bigint,
  * ms bigint nullable, sc bigint>> — min(k, n) picks in selection order.
  *
  * Scale posture: the greedy loop is sequential in k but the QUERY axis
  * distributes — every query's whole selection is one kernel call on
  * whatever task holds its row. Per-query candidate count is small by
  * contract (re-rank the retrieved page, not the corpus); fail-loud at
  * 16384 candidates so a mis-aimed corpus-sized call surfaces as an
  * error, not an n² sim matrix.
  */
case class MmrScan(cands: Expression, sims: Expression,
    k: Int, lambdaTenths: Int) extends Expression {

  require(k >= 1 && k <= 64, s"k must be in 1..64, got $k")
  require(lambdaTenths >= 0 && lambdaTenths <= 10,
    s"lambdaTenths must be in 0..10, got $lambdaTenths")

  override def children: Seq[Expression] = Seq(cands, sims)
  override def nullable: Boolean = true
  override def prettyName: String = "mmr_scan"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sel_rank", IntegerType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("rn", LongType, nullable = false),
    StructField("ms", LongType, nullable = true),
    StructField("sc", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def arrOf(dt: DataType, n: Int): Boolean = dt match {
      case ArrayType(StructType(fs), _) =>
        fs.length == n && fs.forall(_.dataType == LongType)
      case _ => false
    }
    if (arrOf(cands.dataType, 2) && arrOf(sims.dataType, 3))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "mmr_scan requires (array<struct<d bigint, r bigint>>, " +
        s"array<struct<a bigint, b bigint, s bigint>>); got " +
        s"(${children.map(_.dataType.catalogString).mkString(", ")})")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MmrScan =
    copy(cands = newChildren(0), sims = newChildren(1))

  override def eval(input: InternalRow): Any = {
    val c = cands.eval(input)
    if (c == null) null
    else kernelBridge(c.asInstanceOf[ArrayData],
      sims.eval(input).asInstanceOf[ArrayData])
  }

  /** Public so generated code can call it; null sims reads empty. */
  def kernelBridge(c: ArrayData, s: ArrayData): ArrayData =
    MmrScan.scan(c, s, k, lambdaTenths)

  // one compiled call per query row — the greedy loop is this class's
  // kernel; codegen wires child evaluation to it, keeping the enclosing
  // projection inside WholeStageCodegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mmrScan", this, classOf[MmrScan].getName)
    val c = cands.genCode(ctx)
    val s = sims.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      ${c.code}
      ${s.code}
      boolean ${ev.isNull} = ${c.isNull};
      $ad ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.kernelBridge(${c.value}, ${s.isNull} ? null : ${s.value});
      }""")
  }
}

object MmrScan {

  private val MaxCands = 16384

  /** microRound6 on primitive longs: round(num/den · 1e6) half away from
    * zero, den > 0 — long fast path while 2·|num|·1e6 + den fits, exact
    * BigInt past it (same envelope discipline as TheilPairScan).
    */
  private def microRound6(num: Long, den: Long): Long = {
    val an = Math.abs(num)
    if (an < 0) throw new ArithmeticException("long overflow in mmr_scan")
    val q =
      if (an <= 4000000000000L && den <= 4000000000000L)
        (an * 2000000L + den) / (2L * den)
      else ((BigInt(an) * 2000000 + BigInt(den)) / (BigInt(den) * 2))
        .bigInteger.longValueExact()
    if (num < 0) -q else q
  }

  /** The greedy loop (see class scaladoc). Shared by eval and codegen. */
  private[graft] def scan(cArr: ArrayData, sArr: ArrayData,
      k: Int, lambdaTenths: Int): ArrayData = {
    val n = cArr.numElements()
    require(n <= MaxCands,
      s"mmr_scan: $n candidates in one query exceeds $MaxCands — " +
        "re-rank the retrieved page, not the corpus")
    val ds = new Array[Long](n); val rs = new Array[Long](n)
    val idx = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var i = 0
    while (i < n) {
      val r = cArr.getStruct(i, 2); ds(i) = r.getLong(0); rs(i) = r.getLong(1)
      if (idx.put(ds(i), i) != null)
        throw new IllegalArgumentException(
          s"mmr_scan: duplicate candidate doc_id ${ds(i)}")
      i += 1
    }
    // per-query relevance normalization against the max (micro units)
    var mx = Long.MinValue
    i = 0; while (i < n) { if (rs(i) > mx) mx = rs(i); i += 1 }
    val rn = new Array[Long](n)
    if (mx > 0) { i = 0; while (i < n) { rn(i) = microRound6(rs(i), mx); i += 1 } }
    // candidate-indexed sim matrix; Long.MinValue = pair absent (reads 0
    // at scoring time — coalesce semantics), duplicates keep the max
    val sim = Array.fill(n * n)(Long.MinValue)
    if (sArr != null) {
      val m = sArr.numElements()
      var j = 0
      while (j < m) {
        val r = sArr.getStruct(j, 3)
        val ia = idx.get(r.getLong(0)); val ib = idx.get(r.getLong(1))
        if (ia != null && ib != null) {
          val p = ia * n + ib
          val s = r.getLong(2)
          if (sim(p) == Long.MinValue || s > sim(p)) sim(p) = s
        }
        j += 1
      }
    }
    val l = lambdaTenths.toLong
    val picked = new Array[Boolean](n)
    // running max_{j in selected} sim(i, j); MinValue = no selected yet
    val ms = Array.fill(n)(Long.MinValue)
    val out = new Array[Any](math.min(k, n))
    var step = 0
    while (step < out.length) {
      var best = -1; var bestSc = 0L
      i = 0
      while (i < n) {
        if (!picked(i)) {
          val msV = if (step == 0) 0L else if (ms(i) == Long.MinValue) 0L else ms(i)
          val sc = Math.subtractExact(Math.multiplyExact(rn(i), l),
            Math.multiplyExact(msV, 10L - l))
          // ties break on doc_id ascending, independent of input order
          if (best < 0 || sc > bestSc ||
              (sc == bestSc && ds(i) < ds(best))) { best = i; bestSc = sc }
        }
        i += 1
      }
      picked(best) = true
      out(step) = InternalRow(step + 1, ds(best), rn(best),
        if (step == 0) null
        else (if (ms(best) == Long.MinValue) 0L else ms(best)): java.lang.Long,
        bestSc)
      // fold the new pick into every survivor's running max
      i = 0
      while (i < n) {
        if (!picked(i)) {
          val s = sim(i * n + best)
          val v = if (s == Long.MinValue) 0L else s
          if (ms(i) == Long.MinValue || v > ms(i)) ms(i) = v
        }
        i += 1
      }
      step += 1
    }
    new GenericArrayData(out)
  }

  /** Column bridge. */
  def expr(cands: Column, sims: Column, k: Int, lambdaTenths: Int): Column =
    GraftColumnBridge.column(MmrScan(GraftColumnBridge.expression(cands),
      GraftColumnBridge.expression(sims), k, lambdaTenths))
}
