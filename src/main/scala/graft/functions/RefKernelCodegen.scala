package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType}

/** Codegen bridge for compiled-kernel unary expressions: instead of
  * `CodegenFallback` — which drops the WHOLE projection out of
  * WholeStageCodegen and materializes an `InternalRow` per call — the
  * generated code calls the expression's (JIT-compiled) kernel directly
  * with the already-evaluated child value. The surrounding operators stay
  * fused; the only per-row cost is one interface call, which C2 inlines.
  *
  * Mixing classes implement `nullSafeEval` as usual; a null return maps to
  * a null result (e.g. MinHashSig on an empty array). Measured on the ANN
  * scan (CosineSim's dedicated doGenCode, same mechanism): 30-40% off
  * q42/q43/q56 wall-clock at sf0.1.
  *
  * A mixing class that keeps `nullable = child.nullable` (KvParse) must
  * never return null for a non-null input: its non-nullable form has no
  * null slot.
  */
trait RefKernelCodegen extends UnaryExpression {

  /** Public bridge so generated code (not a subclass) can reach the
    * protected `nullSafeEval`.
    */
  final def kernelEval(input: Any): Any = nullSafeEval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, childVal => {
      val ref = ctx.addReferenceObj("graftKernel", this,
        classOf[RefKernelCodegen].getName)
      val tmp = ctx.freshName("kernelRes")
      val unwrap = dataType match {
        case LongType => s"((java.lang.Long) $tmp).longValue()"
        case IntegerType => s"((java.lang.Integer) $tmp).intValue()"
        case DoubleType => s"((java.lang.Double) $tmp).doubleValue()"
        case BooleanType => s"((java.lang.Boolean) $tmp).booleanValue()"
        case _ => s"(${CodeGenerator.javaType(dataType)}) $tmp"
      }
      if (nullable)
        s"""
           |Object $tmp = $ref.kernelEval($childVal);
           |if ($tmp == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $unwrap;
           |}
         """.stripMargin
      else
        s"""
           |Object $tmp = $ref.kernelEval($childVal);
           |${ev.value} = $unwrap;
         """.stripMargin
    })
}
