package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. The action consumes every output column: it reduces a
  * query's result to a row count and an order-independent checksum (the
  * sum of per-row hashes), which the harness compares with values pinned
  * from a known-good engine build.
  */
object Checks {

  /** (rows, checksum) of `df`; one Spark action when collected. */
  def summary(df: DataFrame): DataFrame = {
    // Positional names first: result columns may share a name.
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else hash(cols: _*).cast("long")
    renamed.select(h.as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum(col("h")), lit(0L)).as("checksum"))
  }

  /** Spark cannot hash map values; their JSON form stands in for them. */
  private def hashable(c: Column, t: DataType): Column =
    if (containsMap(t)) to_json(c) else c

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => containsMap(e)
    case StructType(fs) => fs.exists(f => containsMap(f.dataType))
    case _ => false
  }
}
