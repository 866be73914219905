package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column

/** Johnson–Lindenstrauss random projection to `k` integer coordinates —
  * the dimensionality-reduction sibling of [[HyperplaneSig]] (same
  * milli-quantization, SAME seeded coefficient bank, but the VALUE of
  * each dot product is kept instead of its sign). Projected distance
  * ratios concentrate around a constant (JL), so the k-dim frame is a
  * drop-in cheap pre-filter for distance work: ANN shortlists, dedup
  * blocking by projected cells, norm-preserving sketches — at k/dim the
  * bytes.
  *
  * Exactness contract: coordinates milli-quantized (floor(v·1000+0.5)),
  * coefficients `HyperplaneSig.coef(j·dim + i)` ∈ [−1000, 1000] — every
  * projected coordinate an exact BIGINT (|p| ≤ dim·10⁶·2 at unit-norm
  * inputs) the oracle replays term by term. Sharing the bank makes the
  * relationship to the LSH signature EXACT: sig bit j == [p_j > 0]
  * (spec-pinned), so a projected frame can re-derive its signatures for
  * free. Null / mis-dimensioned vectors → null (fail-visible, the q166
  * convention).
  */
case class RandomProjection(child: Expression, dim: Int, k: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(dim >= 1, "dim must be >= 1")
  require(k >= 1, "k must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"random_projection_${dim}_$k"

  override protected def withNewChildInternal(newChild: Expression): RandomProjection =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    val q = HyperplaneSig.quantize(arr, child.dataType)
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var dot = 0L
      var i = 0
      while (i < dim) {
        dot += q(i) * HyperplaneSig.coef(j.toLong * dim + i)
        i += 1
      }
      out(j) = dot
      j += 1
    }
    new GenericArrayData(out)
  }
}

object RandomProjection {

  /** Column bridge. */
  def expr(c: Column, dim: Int, k: Int): Column =
    GraftColumnBridge.column(RandomProjection(GraftColumnBridge.expression(c), dim, k))
}
