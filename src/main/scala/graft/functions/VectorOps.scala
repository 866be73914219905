package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.{Column, SparkSession}

/** Compiled cosine similarity over two `array<float>` columns — one tight
  * loop instead of the zip_with/aggregate interpreted-HOF stack.
  *
  * Bit-compatibility contract (oracle-checked): accumulates x·y, x·x, y·y
  * as doubles left-to-right and returns `xy / (sqrt(xx) * sqrt(yy))` — the
  * exact operation order of the composable form AND of DuckDB's
  * list_cosine_similarity on DOUBLE[], so hash-matching continues to hold.
  * Mismatched array widths yield NULL, matching the zip_with/aggregate
  * composable form (zip_with pads the short side with nulls → null sum) —
  * corrupted embeddings surface as missing scores, never plausible ones.
  *
  * Implements `doGenCode` (not CodegenFallback): the similarity scan is
  * the ANN hot path, and the generated loop keeps the whole candidate-scan
  * projection inside WholeStageCodegen — same arithmetic order as the
  * interpreted eval, so results are bit-identical either way (spec-pinned).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val xy = ctx.freshName("xy")
      val xx = ctx.freshName("xx")
      val yy = ctx.freshName("yy")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $x.numElements();
         |  double $xy = 0.0; double $xx = 0.0; double $yy = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = (double) $x.getFloat($i);
         |    final double $yi = (double) $y.getFloat($i);
         |    $xy += $xi * $yi; $xx += $xi * $xi; $yy += $yi * $yi;
         |  }
         |  ${ev.value} = $xy / (java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy));
         |}
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      xy += xi * yi
      xx += xi * xi
      yy += yi * yi
      i += 1
    }
    xy / (math.sqrt(xx) * math.sqrt(yy))
  }
}

object CosineSim {
  /** Column bridge. `spark` is unused; the signature stays because
    * `perfbench` calls it.
    */
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSim(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

/** Compiled L2 norm of an `array<float>` vector: sqrt of the left-to-right
  * double accumulation of x_i², the same operation order as the composable
  * `sqrt(aggregate(v, 0d, (acc, x) -> acc + x*x))` and as DuckDB on
  * DOUBLE[] — so rounded outputs hash-match the oracle.
  */
case class L2Norm(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_norm"

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val xi = x.getFloat(i).toDouble; ss += xi * xi; i += 1 }
    math.sqrt(ss)
  }
}

object L2Norm {
  /** Column bridge. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(L2Norm(GraftColumnBridge.expression(c)))
}

/** Compiled symmetric int8 quantization summary of an `array<float>`
  * vector. Each dimension maps to `floor(x·127/maxabs + 0.5)` (round half
  * toward +∞ — floor(+0.5) is bit-deterministic in IEEE double, unlike
  * banker's-vs-half-up ROUND divergence across engines); a zero vector
  * quantizes to all zeros. Returns
  * `struct(n_dims int, maxabs double, q_sum long, n_sat int)`:
  * the quantized-value sum is an exact integer fingerprint of the whole
  * codeword (any per-dimension divergence shifts it), `n_sat` counts
  * saturated dimensions (|q| = 127). One pass, no intermediate arrays —
  * at 100 TB this summary is what ships to monitoring, not the codewords.
  */
case class QuantizeStats(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_dims", IntegerType, nullable = false),
    StructField("maxabs", DoubleType, nullable = false),
    StructField("q_sum", LongType, nullable = false),
    StructField("n_sat", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "quantize_stats"

  override protected def withNewChildInternal(newChild: Expression): QuantizeStats =
    copy(child = newChild)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > maxabs) maxabs = v
      i += 1
    }
    var qSum = 0L
    var nSat = 0
    if (maxabs > 0.0) {
      i = 0
      while (i < n) {
        val q = math.floor(x.getFloat(i).toDouble * 127.0 / maxabs + 0.5).toLong
        qSum += q
        if (q == 127L || q == -127L) nSat += 1
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(n, maxabs, qSum, nSat)
  }
}

/** Compiled IVF probe: the `nprobe` nearest-centroid bucket ids of an
  * `array<float>` vector, ordered best-first — ties resolved to the LARGER
  * bucket id, bit-identical to the composable
  * `reverse(array_sort(struct(dot, c)))` / `array_max` forms it replaces
  * (dot products accumulate in double, left-to-right).
  *
  * One tight loop over C×dim instead of C interpreted zip_with/aggregate
  * stacks per row — the centroid-assignment pass is the IVF hot path (it
  * runs over every candidate AND inside every Lloyd training iteration).
  * Codebooks are dimension-bounded (C ≤ a few hundred), so the centroid
  * matrix rides along as expression state, never a join.
  */
case class IvfBuckets(child: Expression, centroids: Seq[Seq[Double]], nprobe: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(centroids.nonEmpty && nprobe >= 1, "need centroids and nprobe >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"ivf_buckets_$nprobe"

  /** Plans render the codebook as its content digest, not C×dim array
    * literals — a self-joined assignment otherwise inlines the WHOLE
    * centroid matrix once per reference into every explain/receipt
    * (r6 verdict #6); equality/binding still use the full state.
    */
  override def toString: String =
    s"$prettyName($child, cb=${IvfBuckets.digest(centroids)})"

  override protected def withNewChildInternal(newChild: Expression): IvfBuckets =
    copy(child = newChild)

  @transient private lazy val cents: Array[Array[Double]] = centroids.map(_.toArray).toArray

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val c0 = cents
    val nC = c0.length
    val scores = new Array[Double](nC)
    var c = 0
    while (c < nC) {
      val cv = c0(c)
      if (v.numElements() != cv.length) return null
      var s = 0.0
      var i = 0
      while (i < cv.length) { s += v.getFloat(i).toDouble * cv(i); i += 1 }
      scores(c) = s
      c += 1
    }
    val k = math.min(nprobe, nC)
    val out = new Array[Int](k)
    val used = new Array[Boolean](nC)
    var j = 0
    while (j < k) {
      var best = -1
      var c2 = 0
      while (c2 < nC) {
        if (!used(c2) && (best < 0 || scores(c2) > scores(best) ||
            (scores(c2) == scores(best) && c2 > best))) best = c2
        c2 += 1
      }
      used(best) = true
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }
}

object IvfBuckets {
  /** 64-bit content digest of a centroid matrix for plan rendering
    * ([[Digests]]): exact decimal serialization with level separators, so
    * a reshaped matrix renders a different digest.
    */
  def digest(centroids: Seq[Seq[Double]]): String =
    Digests.content(centroids.map(_.mkString(",")).mkString(";"))
}

object QuantizeStats {
  /** Column bridge. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(QuantizeStats(GraftColumnBridge.expression(c)))
}
