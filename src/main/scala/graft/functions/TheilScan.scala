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

/** Fused Theil–Sen block-pair kernel: one call enumerates every valid
  * (a-point, b-point) pair between two rank-blocks of a series and either
  * histograms the micro-quantized slopes at `emitShift` or emits the raw
  * slopes inside one selected bucket — the m² pair set is consumed inside
  * a primitive long loop and NEVER materialized as rows. The row-level
  * formulation (join fan-out → slope projection → aggregate) pays ~3
  * UnsafeRow materializations per pair; at 14.5M pairs that was the
  * entire cost of q253's two selection passes (the arithmetic itself is
  * ~2% of it, measured).
  *
  * Pair validity matches `Journey.theilSen`'s `t1 < t2` filter exactly:
  * within a block (`same`) each unordered distinct-t pair is visited once
  * via `t_i < t_j`; across blocks every (a, b) combination is already
  * unique, so any `t_a ≠ t_b` pair counts (slope is symmetric under pair
  * reversal, so enumeration order cannot change the value). Slopes are
  * the estimator's exact micro-quantized integers — `sign(dy/dx) ·
  * (|dy|·10⁶ div |dx|)`, long fast path below |dy| ≤ 9.2·10¹², exact
  * BigInt past it — and every overflow fails loud (`subtractExact`,
  * `longValueExact`), the same ANSI-throw posture as the SQL twin.
  *
  * Modes:
  *  - `filterShift = -1`: scan all pairs; `filterShift ≥ 0`: only pairs
  *    whose `slope >> filterShift == bucket` (the 4th child).
  *  - `emitShift ≥ 0`: return `array<struct<b, c>>` — slope-bucket
  *    counts at that shift, bucket-sorted; `emitShift = -1`: return
  *    `array<long>` of the raw slopes (final in-bucket selection).
  */
case class TheilPairScan(
    aArr: Expression, bArr: Expression, same: Expression,
    bucket: Expression, filterShift: Int, emitShift: Int)
    extends Expression {

  require(filterShift >= -1 && filterShift < 64, s"bad filterShift $filterShift")
  require(emitShift >= -1 && emitShift < 64, s"bad emitShift $emitShift")

  override def children: Seq[Expression] = Seq(aArr, bArr, same, bucket)
  override def nullable: Boolean = true
  override def prettyName: String = "theil_pair_scan"

  override def dataType: DataType =
    if (emitShift >= 0)
      ArrayType(StructType(Seq(
        StructField("b", LongType, nullable = false),
        StructField("c", LongType, nullable = false))), containsNull = false)
    else ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def ptsOk(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 2 && fs.forall(_.dataType == LongType)
      case _ => false
    }
    if (ptsOk(aArr.dataType) && ptsOk(bArr.dataType) &&
        same.dataType == BooleanType && bucket.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "theil_pair_scan requires (array<struct<t bigint, y bigint>> ×2, " +
        s"boolean, bigint); got (${children.map(_.dataType.catalogString)
          .mkString(", ")})")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TheilPairScan =
    copy(aArr = newChildren(0), bArr = newChildren(1),
      same = newChildren(2), bucket = newChildren(3))

  override def eval(input: InternalRow): Any = {
    val a = aArr.eval(input)
    val b = bArr.eval(input)
    val sm = same.eval(input)
    val bk = bucket.eval(input)
    if (a == null || b == null || sm == null || bk == null) null
    else kernelBridge(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      sm.asInstanceOf[Boolean], bk.asInstanceOf[Long])
  }

  /** Public so generated code can call it. */
  def kernelBridge(a: ArrayData, b: ArrayData, sm: Boolean,
      bk: Long): ArrayData =
    TheilPairScan.scan(a, b, sm, bk, filterShift, emitShift)

  // one compiled call per unit row — the loop itself is this class's
  // kernel; codegen just wires child evaluation to it, keeping the
  // enclosing projection inside WholeStageCodegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("theilScan", this,
      classOf[TheilPairScan].getName)
    val a = aArr.genCode(ctx)
    val b = bArr.genCode(ctx)
    val sm = same.genCode(ctx)
    val bk = bucket.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      ${sm.code}
      ${bk.code}
      boolean ${ev.isNull} = ${a.isNull} || ${b.isNull} || ${sm.isNull} || ${bk.isNull};
      $ad ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.kernelBridge(${a.value}, ${b.value}, ${sm.value}, ${bk.value});
      }""")
  }
}

/** Shared prologue for the block-pair kernels ([[TheilPairScan]],
  * [[MannKendallScan]]): array<struct<t,y>> decode into primitive long
  * arrays, and THE pair-validity rule both kernels must agree on (the
  * blockedUnits contract) — within a block each unordered pair is
  * visited once via `t_i < t_j`; across blocks every combination is
  * already unique and any `t_a ≠ t_b` pair counts (both statistics are
  * symmetric under pair reversal). One copy, so a future change to the
  * rule cannot drift between the kernels.
  */
private[functions] object PairScanKernel {

  /** Decode (t, y) struct array into two primitive long arrays. */
  def unpack(arr: ArrayData): (Array[Long], Array[Long]) = {
    val n = arr.numElements()
    val ts = new Array[Long](n); val ys = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 2); ts(i) = r.getLong(0); ys(i) = r.getLong(1)
      i += 1
    }
    (ts, ys)
  }

  @inline def validPair(same: Boolean, t1: Long, t2: Long): Boolean =
    if (same) t1 < t2 else t1 != t2
}

object TheilPairScan {

  /** The pair loop (see class scaladoc). Shared by eval and codegen. */
  private[graft] def scan(
      aArr: ArrayData, bArr: ArrayData, same: Boolean, bucket: Long,
      filterShift: Int, emitShift: Int): ArrayData = {
    val (at, ay) = PairScanKernel.unpack(aArr)
    val (bt, by) = PairScanKernel.unpack(bArr)
    val na = at.length
    val nb = bt.length
    val hist = if (emitShift >= 0)
      new scala.collection.mutable.LongMap[Long]() else null
    val raw = if (emitShift < 0)
      new scala.collection.mutable.ArrayBuilder.ofLong() else null
    var i = 0
    while (i < na) {
      val t1 = at(i); val y1 = ay(i)
      var j = 0
      while (j < nb) {
        val t2 = bt(j)
        if (PairScanKernel.validPair(same, t1, t2)) {
          val dy = Math.subtractExact(by(j), y1)
          val dx = Math.subtractExact(t2, t1)
          val ady = Math.abs(dy); val adx = Math.abs(dx)
          if (ady < 0 || adx < 0) // abs(Long.MinValue): fail loud like ANSI
            throw new ArithmeticException("long overflow in theil_pair_scan")
          val q =
            if (ady <= 9223372036854L) ady * 1000000L / adx
            else (BigInt(ady) * 1000000 / BigInt(adx))
              .bigInteger.longValueExact()
          val s = if (dy == 0) 0L else if ((dy < 0) != (dx < 0)) -q else q
          if (filterShift < 0 || (s >> filterShift) == bucket) {
            if (emitShift >= 0) {
              val k = s >> emitShift
              hist.update(k, hist.getOrElse(k, 0L) + 1L)
            } else raw += s
          }
        }
        j += 1
      }
      i += 1
    }
    if (emitShift >= 0) {
      val ks = hist.keysIterator.toArray
      java.util.Arrays.sort(ks)
      new GenericArrayData(ks.map(k => InternalRow(k, hist(k)): Any))
    } else new GenericArrayData(raw.result())
  }

  /** Column bridge. */
  def expr(a: Column, b: Column, same: Column, bucket: Column,
      filterShift: Int, emitShift: Int): Column =
    GraftColumnBridge.column(TheilPairScan(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b),
      GraftColumnBridge.expression(same), GraftColumnBridge.expression(bucket),
      filterShift, emitShift))
}
