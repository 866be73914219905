package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, Expand, GlobalLimit, Join, RepartitionOperation, Sort, Window}

/** Parallelism repair for CPU-heavy per-row passes over UNDER-SPLIT
  * inputs (guide §2.5 "input skew": one unsplittable file — or here, a
  * single-row-group parquet fixture — plans as ONE scan task, so a
  * compiled kernel pass that fuses into the scan runs on one core while
  * the rest of the machine idles).
  *
  * [[spread]] inserts a round-robin exchange ONLY when the frame's
  * planned partition count is below the session's default parallelism —
  * a production input with hundreds of splits passes through untouched,
  * so this is data-adaptive, not a local-mode constant. Place it BELOW
  * the expensive projection (spread the raw rows, then compute), or the
  * kernel still runs pre-exchange in the starved scan stage.
  */
object Parallelism {

  /** Round-robin `df` across the session's default parallelism when its
    * planned partitioning is narrower; identity otherwise.
    *
    * The probe reads the partition count of the frame's own planned RDD
    * (`queryExecution.toRdd`; `df.rdd` would plan a second, deserializing
    * query first). That count is plan-time metadata ONLY for
    * exchange-free plans — under AQE, probing a plan with an exchange
    * EXECUTES the upstream stages as eager jobs (measured: a double-run
    * of the caller's whole input build). So any plan that already
    * contains a width-establishing operator (repartition, aggregate,
    * join, window, sort, distinct) is returned untouched without
    * probing: those plan a full-width exchange by construction.
    */
  def spread(df: DataFrame): DataFrame = {
    // Deduplicate (Dataset.dropDuplicates/distinct), GlobalLimit and
    // Expand are width-establishing too (r14, ADVICE fix): missing them
    // meant the probe on such a frame eagerly executed the
    // upstream plan under AQE — the exact double-run this guard exists
    // to prevent.
    val alreadyWide = df.queryExecution.logical.exists {
      case _: RepartitionOperation | _: Aggregate | _: Join | _: Window |
           _: Sort | _: Distinct | _: Deduplicate | _: GlobalLimit |
           _: Expand => true
      case _ => false
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!alreadyWide && df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }
}
