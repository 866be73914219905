package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** X3 — the RRF fold as a reusable typed Aggregator, injected as the
  * `rrf_score` UDAF by [[graft.core.GraftExtensions]] so the SQL surface
  * can write `rrf_score(rank)` directly (retrieve.py:153-181 semantics:
  * Σ 1/(k + rank), k = 60).
  *
  * The DataFrame path (`Rrf.fuse`) stays the preferred form — a native
  * sum expression keeps partial aggregation and codegen; this Aggregator
  * exists for SQL users and as the template for genuinely stateful
  * aggregations (sketches) that have no native expression.
  */
class RrfAggregator(k: Int) extends Aggregator[Long, Double, Double] {
  override def zero: Double = 0.0
  override def reduce(acc: Double, rank: Long): Double = acc + 1.0 / (k + rank)
  override def merge(a: Double, b: Double): Double = a + b
  override def finish(acc: Double): Double = acc
  override def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
