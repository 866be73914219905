package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Fused HITS kernel: the ENTIRE fixed-point iteration of
  * [[graft.operators.Graph.hits]] (gather → max-normalize → mirrored
  * half-step, `iterations` rounds) over one bounded edge-array row —
  * the TheilPairScan/MannKendallScan pattern applied to graph
  * iteration. The distributed loop's cost at bench scale is pure
  * orchestration (measured: ~60 Spark jobs for a 10k-edge graph —
  * per-round localCheckpoints, broadcast-max jobs, AQE stage-jobs —
  * with data cost nil); one compiled pass replaces all of it when the
  * graph fits a task. [[graft.operators.Graph.hits]] gates on a
  * driver-known edge count and keeps the pre-partitioned cached loop
  * as the at-scale path (the 10M-edge receipt).
  *
  * Arithmetic is BIT-IDENTICAL to the distributed loop and the q233
  * oracle's unrolled SQL: integer gather sums, max over gathered
  * values, `raw * scale div max` truncating normalization (operands
  * non-negative, so trunc == floor == Spark decimal `div`), zero when
  * the max is 0, every edge OCCURRENCE summed (no dedup), edges with
  * either endpoint outside the node set dropped (the loop's build-time
  * semi-joins), non-participant nodes zero-filled in the output (the
  * loop's final left join).
  *
  * Overflow: raw ≤ nEdges·scale, and the normalize product raw·scale
  * must fit a long — guarded fail-loud (the caller's compact gate
  * keeps nEdges ≤ ~4·10⁶ at scale 10⁶, well inside).
  *
  * Returns array<struct<id bigint, hub_fp bigint, auth_fp bigint>>
  * sorted by id, one row per DISTINCT node id. Null inputs → null.
  */
case class HitsKernel(
    nodes: Expression, edges: Expression, iterations: Expression,
    scale: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(nodes, edges, iterations, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "hits_kernel"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("hub_fp", LongType, nullable = false),
    StructField("auth_fp", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val edgesOk = edges.dataType match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 2 && fs.forall(_.dataType == LongType)
      case _ => false
    }
    val nodesOk = nodes.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (nodesOk && edgesOk && iterations.dataType == IntegerType &&
        scale.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "hits_kernel requires (array<bigint>, array<struct<src bigint, " +
        "dst bigint>>, int, bigint); got (" +
        children.map(_.dataType.catalogString).mkString(", ") + ")")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HitsKernel =
    copy(nodes = newChildren(0), edges = newChildren(1),
      iterations = newChildren(2), scale = newChildren(3))

  override def eval(input: InternalRow): Any = {
    val n = nodes.eval(input)
    val e = edges.eval(input)
    val it = iterations.eval(input)
    val sc = scale.eval(input)
    if (n == null || e == null || it == null || sc == null) null
    else kernelBridge(n.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData],
      it.asInstanceOf[Int], sc.asInstanceOf[Long])
  }

  /** Public so generated code can call it. */
  def kernelBridge(n: ArrayData, e: ArrayData, it: Int, sc: Long): ArrayData =
    HitsKernel.run(n, e, it, sc)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hitsKernel", this,
      classOf[HitsKernel].getName)
    val n = nodes.genCode(ctx)
    val e = edges.genCode(ctx)
    val it = iterations.genCode(ctx)
    val sc = scale.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      ${n.code}
      ${e.code}
      ${it.code}
      ${sc.code}
      boolean ${ev.isNull} =
        ${n.isNull} || ${e.isNull} || ${it.isNull} || ${sc.isNull};
      $ad ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.kernelBridge(
          ${n.value}, ${e.value}, ${it.value}, ${sc.value});
      }""")
  }
}

object HitsKernel {

  /** The fused iteration (see class scaladoc). Shared by eval/codegen. */
  private[graft] def run(
      nodesArr: ArrayData, edgesArr: ArrayData, iterations: Int,
      scale: Long): ArrayData = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(scale >= 1L, s"scale must be >= 1: $scale")
    // distinct sorted node ids (the loop treats the node list as a set)
    val rawIds = nodesArr.toLongArray()
    java.util.Arrays.sort(rawIds)
    var nN = 0
    var i = 0
    while (i < rawIds.length) {
      if (nN == 0 || rawIds(i) != rawIds(nN - 1)) { rawIds(nN) = rawIds(i); nN += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(rawIds, nN)
    // edges → dense index pairs, dropping unknown endpoints (semi-join
    // parity); every occurrence kept (gather sums per edge ROW)
    val nEraw = edgesArr.numElements()
    val eSrc = new Array[Int](nEraw)
    val eDst = new Array[Int](nEraw)
    var nE = 0
    i = 0
    while (i < nEraw) {
      val r = edgesArr.getStruct(i, 2)
      val s = java.util.Arrays.binarySearch(ids, r.getLong(0))
      if (s >= 0) {
        val d = java.util.Arrays.binarySearch(ids, r.getLong(1))
        if (d >= 0) { eSrc(nE) = s; eDst(nE) = d; nE += 1 }
      }
      i += 1
    }
    // raw ≤ nE·scale and the normalize product raw·scale must fit a long
    require(nE == 0L || scale <= Long.MaxValue / scale / math.max(nE, 1),
      s"hits_kernel: $nE edges at scale $scale can overflow the " +
        "normalize product - use the distributed path")
    val h = new Array[Long](nN)
    val a = new Array[Long](nN)
    java.util.Arrays.fill(h, scale)
    val raw = new Array[Long](nN)
    // one half-step: raw = gather(from), then out = raw*scale div max
    def halfStep(from: Array[Long], out: Array[Long], srcSide: Boolean): Unit = {
      java.util.Arrays.fill(raw, 0L)
      var k = 0
      while (k < nE) {
        if (srcSide) raw(eDst(k)) += from(eSrc(k))
        else raw(eSrc(k)) += from(eDst(k))
        k += 1
      }
      var mx = 0L
      k = 0
      while (k < nN) { if (raw(k) > mx) mx = raw(k); k += 1 }
      k = 0
      if (mx > 0L) {
        while (k < nN) { out(k) = raw(k) * scale / mx; k += 1 }
      } else java.util.Arrays.fill(out, 0L)
    }
    var round = 0
    while (round < iterations) {
      halfStep(h, a, srcSide = true)  // authorities from hubs
      halfStep(a, h, srcSide = false) // hubs from fresh authorities
      round += 1
    }
    val out = new Array[Any](nN)
    i = 0
    while (i < nN) { out(i) = InternalRow(ids(i), h(i), a(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Column bridge. */
  def expr(nodes: Column, edges: Column, iterations: Column,
      scale: Column): Column =
    GraftColumnBridge.column(HitsKernel(
      GraftColumnBridge.expression(nodes), GraftColumnBridge.expression(edges),
      GraftColumnBridge.expression(iterations), GraftColumnBridge.expression(scale)))
}

/** Fused weighted-PageRank kernel — [[HitsKernel]]'s sibling for
  * [[graft.operators.Graph.pageRankWeighted]] (and through it q145
  * PageRank and q250 weighted PageRank): the whole damped integer
  * recurrence over one bounded edge-array row.
  *
  * Input edges are (src, dst, w, deg) quads — already endpoint-
  * semi-joined by the caller, with `deg` the FULL weighted outdegree
  * of src (computed over the unfiltered edge list, exactly like the
  * loop's degree frame). Per iteration, bit-identical to the loop and
  * the q145/q250 oracle SQL: c[dst] += w·(rank[src] div deg), then
  * rank'[v] = base + damping·c[v] div 1000 with base =
  * (1000−damping)·scale div 1000 — all divisions truncating on
  * non-negative operands (== Spark long `div`). Sums use
  * add/multiplyExact so an overflow throws exactly where the ANSI
  * session would.
  *
  * Returns array<struct<id bigint, rank_fp bigint>> for the edge
  * ENDPOINTS, sorted by id. Nodes outside every kept edge are constant
  * `base` after round 1 (they receive nothing) — the caller fills them
  * in the final join, so the node count never gates the compact path.
  */
case class PageRankKernel(
    edges: Expression, iterations: Expression, dampingPerMille: Expression,
    scale: Expression) extends Expression {

  override def children: Seq[Expression] =
    Seq(edges, iterations, dampingPerMille, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "page_rank_kernel"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("rank_fp", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val edgesOk = edges.dataType match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 4 && fs.forall(_.dataType == LongType)
      case _ => false
    }
    if (edgesOk && iterations.dataType == IntegerType &&
        dampingPerMille.dataType == IntegerType &&
        scale.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "page_rank_kernel requires (array<struct<src,dst,w,deg bigint>>, " +
        "int, int, bigint); got (" +
        children.map(_.dataType.catalogString).mkString(", ") + ")")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PageRankKernel =
    copy(edges = newChildren(0), iterations = newChildren(1),
      dampingPerMille = newChildren(2), scale = newChildren(3))

  override def eval(input: InternalRow): Any = {
    val e = edges.eval(input)
    val it = iterations.eval(input)
    val d = dampingPerMille.eval(input)
    val sc = scale.eval(input)
    if (e == null || it == null || d == null || sc == null) null
    else kernelBridge(e.asInstanceOf[ArrayData], it.asInstanceOf[Int],
      d.asInstanceOf[Int], sc.asInstanceOf[Long])
  }

  /** Public so generated code can call it. */
  def kernelBridge(e: ArrayData, it: Int, d: Int, sc: Long): ArrayData =
    PageRankKernel.run(e, it, d, sc)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("prKernel", this,
      classOf[PageRankKernel].getName)
    val e = edges.genCode(ctx)
    val it = iterations.genCode(ctx)
    val d = dampingPerMille.genCode(ctx)
    val sc = scale.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      ${e.code}
      ${it.code}
      ${d.code}
      ${sc.code}
      boolean ${ev.isNull} =
        ${e.isNull} || ${it.isNull} || ${d.isNull} || ${sc.isNull};
      $ad ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.kernelBridge(
          ${e.value}, ${it.value}, ${d.value}, ${sc.value});
      }""")
  }
}

object PageRankKernel {

  /** The fused recurrence (see class scaladoc). Shared by eval/codegen. */
  private[graft] def run(
      edgesArr: ArrayData, iterations: Int, dampingPerMille: Int,
      scale: Long): ArrayData = {
    val nE = edgesArr.numElements()
    val srcId = new Array[Long](nE)
    val dstId = new Array[Long](nE)
    val w = new Array[Long](nE)
    val deg = new Array[Long](nE)
    var i = 0
    while (i < nE) {
      val r = edgesArr.getStruct(i, 4)
      srcId(i) = r.getLong(0); dstId(i) = r.getLong(1)
      w(i) = r.getLong(2); deg(i) = r.getLong(3)
      i += 1
    }
    val (dense, rank) =
      recurrence(srcId, dstId, w, deg, iterations, dampingPerMille, scale)
    val out = new Array[Any](dense.length)
    i = 0
    while (i < dense.length) { out(i) = InternalRow(dense(i), rank(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** The damped integer recurrence over parallel edge arrays, shared by
    * [[run]] and [[TextRankKernel]]: `deg(k)` is edge k's src outdegree.
    *
    * @return the edge endpoints' ids, sorted and distinct, and their
    *   ranks after `iterations` rounds
    */
  private[graft] def recurrence(
      srcId: Array[Long], dstId: Array[Long], w: Array[Long],
      deg: Array[Long], iterations: Int, dampingPerMille: Int,
      scale: Long): (Array[Long], Array[Long]) = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(dampingPerMille >= 0 && dampingPerMille <= 1000,
      s"dampingPerMille must be in [0, 1000], got $dampingPerMille")
    require(scale % 1000 == 0, "scale must be a multiple of 1000")
    val base = (1000L - dampingPerMille) * scale / 1000L
    val nE = srcId.length
    // dense ids over the edge endpoints
    val ids = new Array[Long](2 * nE)
    System.arraycopy(srcId, 0, ids, 0, nE)
    System.arraycopy(dstId, 0, ids, nE, nE)
    java.util.Arrays.sort(ids)
    var nN = 0
    var i = 0
    while (i < ids.length) {
      if (nN == 0 || ids(i) != ids(nN - 1)) { ids(nN) = ids(i); nN += 1 }
      i += 1
    }
    val dense = java.util.Arrays.copyOf(ids, nN)
    val eSrc = new Array[Int](nE)
    val eDst = new Array[Int](nE)
    i = 0
    while (i < nE) {
      eSrc(i) = java.util.Arrays.binarySearch(dense, srcId(i))
      eDst(i) = java.util.Arrays.binarySearch(dense, dstId(i))
      i += 1
    }
    val rank = new Array[Long](nN)
    java.util.Arrays.fill(rank, scale)
    val c = new Array[Long](nN)
    var round = 0
    while (round < iterations) {
      java.util.Arrays.fill(c, 0L)
      var k = 0
      while (k < nE) {
        val d = c(eDst(k))
        c(eDst(k)) = Math.addExact(d,
          Math.multiplyExact(w(k), rank(eSrc(k)) / deg(k)))
        k += 1
      }
      k = 0
      while (k < nN) {
        rank(k) = base + Math.multiplyExact(dampingPerMille.toLong, c(k)) / 1000L
        k += 1
      }
      round += 1
    }
    (dense, rank)
  }

  /** Column bridge. */
  def expr(edges: Column, iterations: Column, dampingPerMille: Column,
      scale: Column): Column =
    GraftColumnBridge.column(PageRankKernel(
      GraftColumnBridge.expression(edges), GraftColumnBridge.expression(iterations),
      GraftColumnBridge.expression(dampingPerMille), GraftColumnBridge.expression(scale)))
}

/** TextRank's whole compact ranking as one compiled pass — the rank stage
  * of [[graft.operators.Graph.textRank]]. Input is the checkpointed
  * co-occurrence graph collected into one array of `(a, b, w, token)`
  * rows: an edge row per weighted edge `a → b` (token null), a dictionary
  * row per distinct `(a, token)` (b and w null). The kernel sums each
  * src's Σw outdegree over the edge rows, runs [[PageRankKernel]]'s
  * recurrence (the same code, [[PageRankKernel.recurrence]]) and maps
  * EVERY dictionary row to `(token, rank_fp)`: an edge endpoint gets its
  * computed rank, a token outside every edge gets `base`, and tokens
  * sharing a 60-bit id share its rank. Bit-identical to PageRankKernel
  * over edges joined to their outdegree with the dictionary left-joined
  * to the scores, the composition it replaces (kept as a spec twin).
  *
  * Returns array<struct<token string, rank_fp bigint>> in dictionary-row
  * order. Null input → null.
  */
case class TextRankKernel(
    child: Expression, iterations: Int, dampingPerMille: Int, scale: Long)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = true),
    StructField("rank_fp", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "text_rank_kernel"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.toSeq.map(_.dataType) ==
        Seq(LongType, LongType, LongType, StringType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "text_rank_kernel requires array<struct<a bigint, b bigint, w bigint, " +
        s"token string>>; got ${other.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): TextRankKernel =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = TextRankKernel.run(
    input.asInstanceOf[ArrayData], iterations, dampingPerMille, scale)
}

object TextRankKernel {

  /** The fused rank stage (see class scaladoc). Shared by eval/codegen. */
  private[graft] def run(
      rows: ArrayData, iterations: Int, dampingPerMille: Int,
      scale: Long): ArrayData = {
    val n = rows.numElements()
    var nE = 0
    var i = 0
    while (i < n) { if (!rows.getStruct(i, 4).isNullAt(1)) nE += 1; i += 1 }
    val srcId = new Array[Long](nE)
    val dstId = new Array[Long](nE)
    val w = new Array[Long](nE)
    val dictId = new Array[Long](n - nE)
    val dictToken = new Array[UTF8String](n - nE)
    var e = 0
    var d = 0
    i = 0
    while (i < n) {
      val r = rows.getStruct(i, 4)
      if (r.isNullAt(1)) {
        dictId(d) = r.getLong(0)
        dictToken(d) = if (r.isNullAt(3)) null else r.getUTF8String(3).clone()
        d += 1
      } else {
        srcId(e) = r.getLong(0); dstId(e) = r.getLong(1); w(e) = r.getLong(2)
        e += 1
      }
      i += 1
    }
    // each edge's outdegree is its src's Σw: sum per src, then fill
    val outW = new scala.collection.mutable.LongMap[Long]()
    e = 0
    while (e < nE) {
      outW(srcId(e)) = Math.addExact(outW.getOrElse(srcId(e), 0L), w(e))
      e += 1
    }
    val deg = new Array[Long](nE)
    e = 0
    while (e < nE) { deg(e) = outW(srcId(e)); e += 1 }
    val (dense, rank) = PageRankKernel.recurrence(
      srcId, dstId, w, deg, iterations, dampingPerMille, scale)
    val base = (1000L - dampingPerMille) * scale / 1000L
    val out = new Array[Any](d)
    i = 0
    while (i < d) {
      val k = java.util.Arrays.binarySearch(dense, dictId(i))
      out(i) = InternalRow(dictToken(i), if (k >= 0) rank(k) else base)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column bridge. */
  def expr(rows: Column, iterations: Int, dampingPerMille: Int,
      scale: Long): Column =
    GraftColumnBridge.column(TextRankKernel(
      GraftColumnBridge.expression(rows), iterations, dampingPerMille, scale))
}

/** Fused synchronous-LPA kernel for
  * [[graft.operators.Graph.labelPropagation]] (q189): `rounds` rounds of
  * mode-of-neighbor-labels (ties → smallest label) over one bounded
  * CANONICAL undirected edge array — the caller has already dropped
  * self-loops and deduplicated unordered pairs, exactly the frame the
  * distributed loop's bidirectional expansion reads. Per round, per
  * node: gather neighbor labels (both directions), adopt the most
  * frequent with ties to the smallest — bit-identical to the loop's
  * (count desc, label asc) keep-first window — synchronously against
  * the round-start labels. Nodes outside every edge keep their own
  * label forever; the caller fills them in the final join.
  *
  * Returns array<struct<id bigint, label bigint>> for the edge
  * endpoints, sorted by id.
  */
case class LabelPropKernel(edges: Expression, rounds: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(edges, rounds)
  override def nullable: Boolean = true
  override def prettyName: String = "label_prop_kernel"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val edgesOk = edges.dataType match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 2 && fs.forall(_.dataType == LongType)
      case _ => false
    }
    if (edgesOk && rounds.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "label_prop_kernel requires (array<struct<u bigint, v bigint>>, " +
        s"int); got (${children.map(_.dataType.catalogString).mkString(", ")})")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LabelPropKernel =
    copy(edges = newChildren(0), rounds = newChildren(1))

  override def eval(input: InternalRow): Any = {
    val e = edges.eval(input)
    val r = rounds.eval(input)
    if (e == null || r == null) null
    else kernelBridge(e.asInstanceOf[ArrayData], r.asInstanceOf[Int])
  }

  /** Public so generated code can call it. */
  def kernelBridge(e: ArrayData, r: Int): ArrayData =
    LabelPropKernel.run(e, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lpaKernel", this,
      classOf[LabelPropKernel].getName)
    val e = edges.genCode(ctx)
    val r = rounds.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      ${e.code}
      ${r.code}
      boolean ${ev.isNull} = ${e.isNull} || ${r.isNull};
      $ad ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.kernelBridge(${e.value}, ${r.value});
      }""")
  }
}

object LabelPropKernel {

  /** The fused rounds (see class scaladoc). Shared by eval/codegen. */
  private[graft] def run(edgesArr: ArrayData, rounds: Int): ArrayData = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val nE = edgesArr.numElements()
    val eu = new Array[Long](nE)
    val ev = new Array[Long](nE)
    var i = 0
    while (i < nE) {
      val r = edgesArr.getStruct(i, 2)
      eu(i) = r.getLong(0); ev(i) = r.getLong(1)
      i += 1
    }
    val ids = new Array[Long](2 * nE)
    System.arraycopy(eu, 0, ids, 0, nE)
    System.arraycopy(ev, 0, ids, nE, nE)
    java.util.Arrays.sort(ids)
    var nN = 0
    i = 0
    while (i < ids.length) {
      if (nN == 0 || ids(i) != ids(nN - 1)) { ids(nN) = ids(i); nN += 1 }
      i += 1
    }
    val dense = java.util.Arrays.copyOf(ids, nN)
    // CSR adjacency over both directions
    val deg = new Array[Int](nN)
    val ui = new Array[Int](nE)
    val vi = new Array[Int](nE)
    i = 0
    while (i < nE) {
      ui(i) = java.util.Arrays.binarySearch(dense, eu(i))
      vi(i) = java.util.Arrays.binarySearch(dense, ev(i))
      deg(ui(i)) += 1; deg(vi(i)) += 1
      i += 1
    }
    val off = new Array[Int](nN + 1)
    i = 0
    while (i < nN) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](2 * nE)
    val fill = java.util.Arrays.copyOf(off, nN)
    i = 0
    while (i < nE) {
      adj(fill(ui(i))) = vi(i); fill(ui(i)) += 1
      adj(fill(vi(i))) = ui(i); fill(vi(i)) += 1
      i += 1
    }
    var labels = dense.clone()
    var next = new Array[Long](nN)
    val scratch = new Array[Long](nN) // max degree <= nN - 1
    var round = 0
    while (round < rounds) {
      var n = 0
      while (n < nN) {
        val s = off(n); val e2 = off(n + 1)
        if (s == e2) next(n) = labels(n)
        else {
          var k = s
          while (k < e2) { scratch(k - s) = labels(adj(k)); k += 1 }
          val m = e2 - s
          java.util.Arrays.sort(scratch, 0, m)
          // longest run wins; ties -> smallest label (first run found,
          // strict > keeps the earlier == smaller label on equal counts)
          var best = scratch(0); var bestCnt = 0
          var runStart = 0
          var j = 1
          while (j <= m) {
            if (j == m || scratch(j) != scratch(runStart)) {
              if (j - runStart > bestCnt) {
                bestCnt = j - runStart; best = scratch(runStart)
              }
              runStart = j
            }
            j += 1
          }
          next(n) = best
        }
        n += 1
      }
      val tmp = labels; labels = next; next = tmp
      round += 1
    }
    val out = new Array[Any](nN)
    i = 0
    while (i < nN) { out(i) = InternalRow(dense(i), labels(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Column bridge. */
  def expr(edges: Column, rounds: Column): Column =
    GraftColumnBridge.column(LabelPropKernel(
      GraftColumnBridge.expression(edges), GraftColumnBridge.expression(rounds)))
}
