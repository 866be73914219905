package graft.queries

import graft.core.Tables
import graft.operators.QuantileDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q-digest quantile-sketch queries (q251–q252) — the quantile member of
  * the mergeable-sketch family joins count-min (q177), HLL and KMV
  * (q239/q240/q242) with its REGISTERS and its MERGE LAW on the oracle
  * surface: both the direct build and the shard→merge path are
  * deterministic functions of the data multiset, so DuckDB replays every
  * (lvl, cell, cnt) node value-for-value through the same bottom-up
  * compression, unrolled one CTE block per level (the q145/q241
  * unrolled-recurrence discipline).
  *
  * Value domain: order totals in 16-dollar units —
  * `floor(o_totalprice/16)` is exact on both engines (dividing a double
  * by 16 is exponent arithmetic, no mantissa rounding) and fits the
  * 16-bit universe with real headroom: the TPC-H price distribution is
  * scale-factor independent with a documented max ≈ 555k (theoretical
  * ~793k) — /16 caps the cell at ~49.6k < 65,536 at ANY sf, where the
  * earlier /8 left only 4.6% headroom above the sf0.01 observation and
  * would fail loud on larger data.
  */
object SketchQueries {

  private val Bits = 16
  private val K = 64

  /** One bottom-up compression step at level `l` (CTE names prefixed so
    * q252 can chain two phases): sibling-group the pending level-`l`
    * nodes by parent cell; group mass + parent's pending mass < t →
    * absorb into the parent (stays pending), else the group finalizes.
    * Exactly [[graft.functions.QDigestCompress.compressSorted]]'s level
    * step.
    */
  private def qdStepSql(p: String, l: Int): String = {
    val s0 = s"${p}s$l"; val s1 = s"${p}s${l + 1}"
    val cg = s"${p}c$l"; val d = s"${p}d$l"; val tt = s"${p}tt"
    // MATERIALIZED is load-bearing: each step reads its predecessor ~6
    // times, and DuckDB's default CTE inlining would expand the 16-step
    // chain exponentially (observed as thousands of re-opened parquet
    // scans before the fix)
    s"""$cg AS MATERIALIZED (
         SELECT g, cell // 2 AS pc, CAST(SUM(cnt) AS BIGINT) AS sc
         FROM $s0 WHERE NOT fin AND lvl = $l GROUP BY g, cell // 2),
       $d AS MATERIALIZED (SELECT cg.g, cg.pc,
           cg.sc + COALESCE(pp.cnt, CAST(0 AS BIGINT)) AS s
         FROM $cg cg LEFT JOIN $s0 pp
           ON pp.g = cg.g AND NOT pp.fin AND pp.lvl = ${l + 1}
             AND pp.cell = cg.pc),
       $s1 AS MATERIALIZED (
         SELECT g, lvl, cell, cnt, fin FROM $s0 WHERE fin
         UNION ALL
         SELECT s.g, s.lvl, s.cell, s.cnt, FALSE FROM $s0 s
         WHERE NOT s.fin AND s.lvl > $l AND NOT EXISTS (
           SELECT 1 FROM $d d JOIN $tt t ON t.g = d.g
           WHERE d.g = s.g AND s.lvl = ${l + 1} AND s.cell = d.pc
             AND d.s < t.t)
         UNION ALL
         SELECT d.g, ${l + 1}, d.pc, d.s, FALSE
         FROM $d d JOIN $tt t ON t.g = d.g WHERE d.s < t.t
         UNION ALL
         SELECT s.g, s.lvl, s.cell, s.cnt, TRUE FROM $s0 s
         JOIN $d d ON d.g = s.g AND d.pc = s.cell // 2
         JOIN $tt t ON t.g = s.g
         WHERE NOT s.fin AND s.lvl = $l AND d.s >= t.t)"""
  }

  /** Threshold CTE + all `Bits` compression steps over `${p}s0`
    * (g, lvl, cell, cnt, fin) — the full deterministic compression;
    * read the digest from `${p}s$Bits` (fin rows + the root remnant).
    */
  private def qdCompressSql(p: String): String =
    (s"""${p}tt AS MATERIALIZED (
          SELECT g, GREATEST(1, CAST(SUM(cnt) AS BIGINT) // $K)
          AS t FROM ${p}s0 GROUP BY g)""" +:
      (0 until Bits).map(qdStepSql(p, _))).mkString(",\n       ")

  private val v16Sql = "CAST(FLOOR(o_totalprice / 16) AS BIGINT)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q-digest registers per order priority — the build path: one
    // map-side-combining aggregate (one exchange of universe-bounded
    // per-group buffers), the compiled compression kernel per group,
    // explode. Registers are on the oracle surface.
    "q251_qdigest_registers" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("prio"),
          floor(col("o_totalprice") / 16).cast("long").as("v16"))
      QuantileDigest.registers(o, Seq(col("prio")), col("v16"), Bits, K)
    }),

    // The merge law: shard digests (orderkey mod 4) merged down to the
    // per-priority digest — per-(lvl, cell) sums + one recompression at
    // the combined threshold. 100 TB shape: shards never exchange raw
    // values, only their k-bounded registers.
    "q252_qdigest_merge" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("prio"),
          pmod(col("o_orderkey"), lit(4)).as("shard"),
          floor(col("o_totalprice") / 16).cast("long").as("v16"))
      val shardDigests = QuantileDigest.registers(
        o, Seq(col("prio"), col("shard")), col("v16"), Bits, K)
      QuantileDigest.merge(shardDigests, Seq(col("prio")), Bits, K)
    }),

    // The user-facing answers: quantile estimates off the digest —
    // the (upper, lvl)-ordered mass walk is as deterministic as the
    // registers it reads, so the third leg of the sketch contract
    // (build, merge, QUERY) sits on the oracle surface too.
    "q255_qdigest_quantiles" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("prio"),
          floor(col("o_totalprice") / 16).cast("long").as("v16"))
      val regs = QuantileDigest.registers(o, Seq(col("prio")), col("v16"),
        Bits, K)
      QuantileDigest.quantiles(regs, Seq(col("prio")),
        Seq(0.25, 0.5, 0.9, 0.99))
    }))

  def oracles: Map[String, String] = Map(
    "q251_qdigest_registers" ->
      s"""WITH as0 AS MATERIALIZED (SELECT o_orderpriority AS g,
             CAST(0 AS INT) AS lvl, $v16Sql AS cell,
             CAST(COUNT(*) AS BIGINT) AS cnt, FALSE AS fin
           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 3),
         ${qdCompressSql("a")}
         SELECT g AS prio, lvl, cell, cnt FROM as$Bits""",

    // phase a: per-(priority, shard) compression; phase b: sum the shard
    // registers per (lvl, cell) and recompress at the combined t — the
    // same two deterministic phases the Spark side runs
    "q252_qdigest_merge" ->
      s"""WITH as0 AS MATERIALIZED (SELECT
             o_orderpriority || '|' || CAST(o_orderkey % 4 AS VARCHAR) AS g,
             CAST(0 AS INT) AS lvl, $v16Sql AS cell,
             CAST(COUNT(*) AS BIGINT) AS cnt, FALSE AS fin
           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 3),
         ${qdCompressSql("a")},
         bs0 AS MATERIALIZED (SELECT split_part(g, '|', 1) AS g, lvl, cell,
             CAST(SUM(cnt) AS BIGINT) AS cnt, FALSE AS fin
           FROM as$Bits GROUP BY 1, 2, 3),
         ${qdCompressSql("b")}
         SELECT g AS prio, lvl, cell, cnt FROM bs$Bits""",

    // the quantile walk over the same digest: nodes ordered by (range
    // upper end, level), cumulative mass, smallest upper reaching
    // ceil(q*n) — CAST the q literals to DOUBLE (a bare 0.25 is
    // DECIMAL(3,2) in DuckDB and the q column must hash as double)
    "q255_qdigest_quantiles" ->
      s"""WITH as0 AS MATERIALIZED (SELECT o_orderpriority AS g,
             CAST(0 AS INT) AS lvl, $v16Sql AS cell,
             CAST(COUNT(*) AS BIGINT) AS cnt, FALSE AS fin
           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 3),
         ${qdCompressSql("a")},
         dg AS (SELECT g, lvl, cnt,
             (cell + 1) * CAST(1 << lvl AS BIGINT) - 1 AS upper
           FROM as$Bits),
         w AS (SELECT g, upper,
             SUM(cnt) OVER (PARTITION BY g ORDER BY upper, lvl
               ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY g) AS n
           FROM dg),
         qq AS (SELECT CAST(q AS DOUBLE) AS q
           FROM (VALUES (0.25), (0.5), (0.9), (0.99)) AS t(q))
         SELECT w.g AS prio, qq.q, CAST(MIN(w.upper) AS BIGINT) AS est,
           CAST(MIN(w.n) AS BIGINT) AS n_rows
         FROM w JOIN qq ON w.cum >= CEIL(qq.q * w.n)
         GROUP BY 1, 2""")
}
