package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs end-to-end on sf0.001 (the t1 smoke scale),
  * every output column computed, without a single whole-stage codegen
  * fallback (a rejected 64 KB compile, repeated on every execution), and
  * without changing the shared session's function registry (kernels bind
  * straight into their Columns; a registry name is shared session state
  * that a later registration silently rebinds). Full value-level
  * correctness is the DuckDB oracle's job (tools/check_oracle.py).
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    graft.core.CodegenFallbacks.install()
    s
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has matching oracle coverage or is a declared no-oracle op") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // only the engine-hash-dependent ops may omit the oracle (the 64-bit
    // production hash modes are exactly the non-DuckDB-portable surface)
    assert(noOracle.forall(n => n.contains("minhash") || n.contains("simhash") ||
      n.contains("ivf") || n.contains("spans64")),
      s"unexpected no-oracle queries: $noOracle")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      // the query's eager build-time jobs count too; the action runs the
      // full physical plan (count() would prune unused columns, and with
      // them any oversized projection)
      val registry = spark.sessionState.functionRegistry
      val before = registry.listFunction().toSet
      val (cols, fallbacks) = graft.core.CodegenFallbacks.during {
        val df = fn(spark, SparkTestSession.Sf0001)
        df.queryExecution.toRdd.foreach(_ => ())
        df.columns
      }
      val after = registry.listFunction().toSet
      assert(cols.nonEmpty)
      assert(fallbacks == 0,
        s"$name fell back from whole-stage codegen $fallbacks time(s)")
      val changed = ((after -- before) ++ (before -- after)).map(_.funcName)
      assert(changed.isEmpty,
        s"$name changed the function registry: ${changed.toSeq.sorted.mkString(", ")}")
    }
  }
}
