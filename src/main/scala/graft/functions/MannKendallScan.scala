package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** Fused Mann–Kendall block-pair kernel: one call folds every valid
  * (a-point, b-point) pair between two rank-blocks of a series into the
  * two MK sufficient statistics — S = Σ sign((y₂−y₁)·(t₂−t₁)) and the
  * valid-pair count — inside a primitive-long loop; the m² pairs are
  * never materialized as rows (same argument and same unit frame as
  * [[TheilPairScan]], which measured the row-level fan-out at ~95% of
  * the wall).
  *
  * Pair validity mirrors TheilPairScan: within a block (`same`) each
  * unordered pair is visited once via `t_i < t_j`; across blocks every
  * combination is already unique and any `t_a ≠ t_b` pair counts —
  * sign((y₂−y₁)·(t₂−t₁)) is symmetric under pair reversal, so
  * enumeration order cannot change S. dx = 0 pairs are excluded (the
  * caller's duplicate-t contract, same as theilSen); dy = 0 pairs count
  * toward n_pairs with sign 0 — exactly the MK tie convention.
  *
  * Returns struct<s bigint, np bigint>. Never overflows: |S| ≤ np ≤
  * blockSize² per call.
  */
case class MannKendallScan(
    aArr: Expression, bArr: Expression, same: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(aArr, bArr, same)
  override def nullable: Boolean = true
  override def prettyName: String = "mann_kendall_scan"

  override def dataType: DataType = StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("np", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    def ptsOk(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 2 && fs.forall(_.dataType == LongType)
      case _ => false
    }
    if (ptsOk(aArr.dataType) && ptsOk(bArr.dataType) &&
        same.dataType == BooleanType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "mann_kendall_scan requires (array<struct<t bigint, y bigint>> ×2, " +
        s"boolean); got (${children.map(_.dataType.catalogString)
          .mkString(", ")})")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MannKendallScan =
    copy(aArr = newChildren(0), bArr = newChildren(1),
      same = newChildren(2))

  override def eval(input: InternalRow): Any = {
    val a = aArr.eval(input)
    val b = bArr.eval(input)
    val sm = same.eval(input)
    if (a == null || b == null || sm == null) null
    else kernelBridge(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      sm.asInstanceOf[Boolean])
  }

  /** Public so generated code can call it. */
  def kernelBridge(a: ArrayData, b: ArrayData, sm: Boolean): InternalRow =
    MannKendallScan.scan(a, b, sm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mkScan", this,
      classOf[MannKendallScan].getName)
    val a = aArr.genCode(ctx)
    val b = bArr.genCode(ctx)
    val sm = same.genCode(ctx)
    val ir = classOf[InternalRow].getName
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      ${sm.code}
      boolean ${ev.isNull} = ${a.isNull} || ${b.isNull} || ${sm.isNull};
      $ir ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.kernelBridge(${a.value}, ${b.value}, ${sm.value});
      }""")
  }
}

object MannKendallScan {

  /** The pair fold (see class scaladoc). Shared by eval and codegen. */
  private[graft] def scan(
      aArr: ArrayData, bArr: ArrayData, same: Boolean): InternalRow = {
    val (at, ay) = PairScanKernel.unpack(aArr)
    val (bt, by) = PairScanKernel.unpack(bArr)
    val na = at.length
    val nb = bt.length
    var s = 0L
    var np = 0L
    var i = 0
    while (i < na) {
      val t1 = at(i); val y1 = ay(i)
      var j = 0
      while (j < nb) {
        val t2 = bt(j)
        if (PairScanKernel.validPair(same, t1, t2)) {
          np += 1
          val y2 = by(j)
          // sign((y2−y1)(t2−t1)) without the multiply (overflow-free)
          if (y2 != y1)
            s += (if ((y2 > y1) == (t2 > t1)) 1L else -1L)
        }
        j += 1
      }
      i += 1
    }
    InternalRow(s, np)
  }

  /** Column bridge. */
  def expr(a: Column, b: Column, same: Column): Column =
    GraftColumnBridge.column(MannKendallScan(GraftColumnBridge.expression(a),
      GraftColumnBridge.expression(b), GraftColumnBridge.expression(same)))
}
