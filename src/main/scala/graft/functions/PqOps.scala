package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Product-quantization kernels (Jégou et al. 2011, "Product Quantization
  * for Nearest Neighbor Search") in MILLI-QUANTIZED integer arithmetic so
  * encoding and ADC scoring are bit-portable to a SQL oracle (q150):
  * every float coordinate maps to floor(v·1000 + 0.5) once, and all
  * distances are exact BIGINT sums of squared integer differences —
  * argmin ties break to the LOWEST centroid index, deterministically on
  * both engines.
  *
  * Codebooks ride the plan as literal constructor state (m × ks × subDim
  * longs — a few KB), never serialized per row.
  */
object PqOps {
  def quantize(v: Double): Long = math.floor(v * 1000.0 + 0.5).toLong

  /** Milli-quantization as a composed built-in (codegen'd, no custom
    * kernel): floor(v·1000 + 0.5) per coordinate — the single float→int
    * mapping every PQ distance shares, SQL-mirrored by the q150 oracle.
    */
  def quantizeCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    transform(c, v => floor(v.cast("double") * 1000 + lit(0.5)).cast("long"))
  }

  /** 64-bit content digest for plan rendering ([[Digests]]).
    * Level separators keep the (m, ks, subDim) SHAPE in the digest — a
    * flat join would collide [[ [1,2] ]] with [[ [1],[2] ]].
    */
  def codebookDigest(codebooks: Seq[Seq[Seq[Long]]]): String =
    Digests.content(codebooks
      .map(_.map(_.mkString(",")).mkString(";")).mkString("|"))

  /** Shared shape validation: uniform ks across subspaces and uniform
    * subDim across centroids — the codegen stride (`j·ks + code`,
    * `j·subDim + i`) silently mis-indexes ragged tables that interpreted
    * eval would handle, a mode-dependent wrong answer.
    */
  def requireUniform(codebooks: Seq[Seq[Seq[Long]]]): Unit = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "codebooks must be m non-empty subspace tables")
    val ks = codebooks.head.length
    require(codebooks.forall(_.length == ks),
      s"all subspaces must have the same centroid count; got " +
        codebooks.map(_.length).distinct.mkString(","))
    val subDim = codebooks.head.head.length
    require(codebooks.forall(_.forall(_.length == subDim)),
      s"all centroids must have the same sub-dimension; got " +
        codebooks.flatMap(_.map(_.length)).distinct.mkString(","))
  }

  /** Squared L2 distance between a quantized subvector of `x` starting at
    * `off` and codebook entry `cb` — fixed left-to-right fold (irrelevant
    * to the value in integer math, but mirrored by the oracle anyway).
    */
  def subDist(x: Array[Long], off: Int, cb: Array[Long]): Long = {
    var d = 0L
    var i = 0
    while (i < cb.length) {
      val diff = x(off + i) - cb(i)
      d += diff * diff
      i += 1
    }
    d
  }

  def quantizeVec(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = quantize(arr.getFloat(i).toDouble); i += 1 }
    q
  }
}

/** PQ encoding: `array<float>` vector → `array<int>` of m centroid codes,
  * code_j = argmin_c subDist(x_j, codebook[j][c]) with ties to lowest c.
  * One compiled pass per row; the corpus side of a PQ index materializes
  * THESE m bytes-ish per vector instead of the full float vector.
  */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with RefKernelCodegen {

  PqOps.requireUniform(codebooks)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  /** Plans render the codebook as its digest, not m×ks×subDim literals. */
  override def toString: String =
    s"$prettyName($child, cb=${PqOps.codebookDigest(codebooks)})"

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  @transient private lazy val cb: Array[Array[Array[Long]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val subDim = cb(0)(0).length

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = cb.length
    if (arr.numElements() != m * subDim) return null
    val x = PqOps.quantizeVec(arr)
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val table = cb(j)
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < table.length) {
        val d = PqOps.subDist(x, j * subDim, table(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    // primitive Array[Int] overload — no per-code boxing in the encode
    // hot path (the IvfBuckets form)
    new GenericArrayData(codes)
  }
}

object PqEncode {
  /** Column bridge. */
  def expr(c: org.apache.spark.sql.Column, codebooks: Seq[Seq[Seq[Long]]]): org.apache.spark.sql.Column =
    GraftColumnBridge.column(PqEncode(GraftColumnBridge.expression(c), codebooks))
}

/** ADC (asymmetric distance computation): exact quantized distance from a
  * PRE-QUANTIZED query vector (`array<long>`, left — milli-quantized once
  * per query row by the composed-builtin transform in [[PqAdcDist.expr]],
  * NOT per pair: a broadcast scan evaluates this expression
  * queries×candidates times, and re-quantizing 64 floats with a fresh
  * array per pair dominated the scan before this split) to a PQ-encoded
  * candidate (`array<int>` codes, right):
  * Σ_j subDist(q_j, codebook[j][code_j]). Returns BIGINT; null when
  * either side is null or mis-shaped.
  */
case class PqAdcDist(left: Expression, right: Expression,
    codebooks: Seq[Seq[Seq[Long]]]) extends BinaryExpression {

  PqOps.requireUniform(codebooks)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_dist"

  /** Plans render the codebook as its digest, not m×ks×subDim literals. */
  override def toString: String =
    s"$prettyName($left, $right, cb=${PqOps.codebookDigest(codebooks)})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDist =
    copy(left = newLeft, right = newRight)

  @transient private lazy val cb: Array[Array[Array[Long]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val subDim = cb(0)(0).length

  /** Public bridge for generated code (mirrors RefKernelCodegen). */
  final def kernelEval(q: Any, codes: Any): Any = nullSafeEval(q, codes)

  override def nullSafeEval(q: Any, codes: Any): Any = {
    val qa = q.asInstanceOf[ArrayData]
    val ca = codes.asInstanceOf[ArrayData]
    val m = cb.length
    if (qa.numElements() != m * subDim || ca.numElements() != m) return null
    var dist = 0L
    var j = 0
    while (j < m) {
      val code = ca.getInt(j)
      if (code < 0 || code >= cb(j).length) return null
      val table = cb(j)(code)
      val off = j * subDim
      var i = 0
      while (i < table.length) {
        val diff = qa.getLong(off + i) - table(i)
        dist += diff * diff
        i += 1
      }
      j += 1
    }
    dist
  }

  /** Codebook flattened to `long[m*ks][subDim]` for the generated loop. */
  @transient private lazy val flatCb: Array[Array[Long]] =
    cb.flatten

  /** Dedicated codegen: an inline primitive double loop per pair — no
    * kernel call, no boxed Long per result. This expression runs
    * queries×candidates times inside the broadcast scan (the PQ hot
    * path); the generic kernelEval bridge cost ~2× the whole scan.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val m = cb.length
      val ks = cb(0).length
      val sd = subDim
      val cbRef = ctx.addReferenceObj("pqFlatCb", flatCb, "long[][]")
      val dist = ctx.freshName("adcDist")
      val bad = ctx.freshName("adcBad")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val code = ctx.freshName("code")
      val tab = ctx.freshName("tab")
      val diff = ctx.freshName("diff")
      s"""
         |long $dist = 0L;
         |boolean $bad = ($l).numElements() != ${m * sd} || ($r).numElements() != $m;
         |if (!$bad) {
         |  for (int $j = 0; $j < $m; $j++) {
         |    int $code = ($r).getInt($j);
         |    if ($code < 0 || $code >= $ks) { $bad = true; break; }
         |    long[] $tab = $cbRef[$j * $ks + $code];
         |    for (int $i = 0; $i < $sd; $i++) {
         |      long $diff = ($l).getLong($j * $sd + $i) - $tab[$i];
         |      $dist += $diff * $diff;
         |    }
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dist;
         |}
       """.stripMargin
    })
}

object PqAdcDist {
  /** Column bridge over a RAW float query vector; the milli-quantization
    * runs as a composed-builtin `transform` — a separate expression the
    * optimizer can evaluate on the (tiny) query side BEFORE the
    * broadcast join, so the per-pair kernel only reads longs.
    */
  def expr(qv: org.apache.spark.sql.Column, codes: org.apache.spark.sql.Column,
      codebooks: Seq[Seq[Seq[Long]]]): org.apache.spark.sql.Column =
    exprQuantized(PqOps.quantizeCol(qv), codes, codebooks)

  /** Column bridge over an ALREADY-quantized (`array<long>`) query. */
  def exprQuantized(qvQuantized: org.apache.spark.sql.Column,
      codes: org.apache.spark.sql.Column,
      codebooks: Seq[Seq[Seq[Long]]]): org.apache.spark.sql.Column =
    GraftColumnBridge.column(PqAdcDist(GraftColumnBridge.expression(qvQuantized),
      GraftColumnBridge.expression(codes), codebooks))
}
