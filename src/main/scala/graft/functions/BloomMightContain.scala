package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a pre-built Bloom filter riding along as
  * expression state (serialized bits) — the engine's explicit form of a
  * runtime join filter: probe at the SCAN, before any exchange, so rows
  * that cannot join are never shuffled. False positives are possible by
  * construction; pair with an exact semi-join downstream
  * (Skew.bloomSemiJoin) when exact semantics are required.
  *
  * Supports the two key shapes the engine joins on: integral (probed via
  * mightContainLong) and string (mightContainString).
  */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(input: Any): Any = input match {
    case l: Long => bloom.mightContainLong(l)
    case i: Int => bloom.mightContainLong(i.toLong)
    case s: UTF8String => bloom.mightContainString(s.toString)
    case other => bloom.mightContain(other)
  }
}

object BloomMightContain {

  /** Column bridge; the filter rides as serialized expression state. */
  def expr(c: Column, bloom: BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    GraftColumnBridge.column(
      BloomMightContain(GraftColumnBridge.expression(c), bos.toByteArray))
  }
}
