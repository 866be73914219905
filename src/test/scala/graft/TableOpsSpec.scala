package graft

import graft.operators.TableOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TableOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("snapshotDiff: added/removed/changed/unchanged with null-safe compare") {
    val oldDf = Seq(
      (1L, Some("a"), Some(10)), // unchanged
      (2L, Some("b"), Some(20)), // changed: v
      (3L, None: Option[String], Some(30)), // changed: s null -> value
      (4L, Some("d"), None: Option[Int]), // removed
      (5L, None: Option[String], None: Option[Int]) // unchanged (null == null)
    ).toDF("k", "s", "v")
    val newDf = Seq(
      (1L, Some("a"), Some(10)),
      (2L, Some("b"), Some(21)),
      (3L, Some("c"), Some(30)),
      (5L, None: Option[String], None: Option[Int]),
      (6L, Some("f"), Some(60)) // added
    ).toDF("k", "s", "v")
    val r = TableOps.snapshotDiff(oldDf, newDf, Seq("k"), Seq("s", "v"))
      .select("k", "change_type", "changed_cols")
      .as[(Long, String, String)].collect().toSet
    assert(r == Set(
      (1L, "unchanged", ""), (2L, "changed", "v"), (3L, "changed", "s"),
      (4L, "removed", ""), (5L, "unchanged", ""), (6L, "added", "")))
  }

  test("snapshotDiff: composite keys and multi-column change lists sorted") {
    val oldDf = Seq((1L, "x", "p", 1.0)).toDF("k1", "k2", "a", "b")
    val newDf = Seq((1L, "x", "q", 2.0)).toDF("k1", "k2", "a", "b")
    val r = TableOps.snapshotDiff(oldDf, newDf, Seq("k1", "k2"), Seq("b", "a"))
      .select("change_type", "changed_cols").as[(String, String)].collect().toSeq
    assert(r == Seq(("changed", "a,b")))
  }

  test("columnProfile: nulls counted, distinct excludes nulls, min/max strings") {
    val df = Seq(
      (Some("b"), Some(2)), (Some("a"), Some(2)),
      (None: Option[String], Some(9)), (Some("a"), None: Option[Int])
    ).toDF("s", "v")
    val r = TableOps.columnProfile(df, Seq("s", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(t => t._1 -> t).toMap
    assert(r("s") == ("s", 4L, 1L, 2L, "a", "b"))
    assert(r("v") == ("v", 4L, 1L, 2L, "2", "9"))
  }

  test("columnProfile: one job, output rows == column count") {
    val df = (1L to 100L).map(i => (i, s"s$i")).toDF("a", "b")
    val out = TableOps.columnProfile(df, Seq("a", "b"))
    assert(out.count() == 2)
    assert(out.select("n_distinct").as[Long].collect().toSeq == Seq(100L, 100L))
  }

  // ---- contentDigest --------------------------------------------------------

  private def digest(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
    TableOps.contentDigest(df, cols).as[(Long, Long)].head()

  test("contentDigest: order- and partition-independent, change-sensitive") {
    val rows = (1L to 500L).map(i => (i, s"v$i"))
    val a = digest(rows.toDF("k", "v"), Seq("k", "v"))
    val b = digest(scala.util.Random.shuffle(rows).toDF("k", "v")
      .repartition(13), Seq("k", "v"))
    assert(a == b && a._1 == 500L)
    val mutated = rows.updated(250, (251L, "vX"))
    assert(digest(mutated.toDF("k", "v"), Seq("k", "v")) != a)
  }

  test("contentDigest: null position and cell boundaries matter") {
    val an = digest(Seq(("a", null: String)).toDF("x", "y"), Seq("x", "y"))
    val na = digest(Seq((null: String, "a")).toDF("x", "y"), Seq("x", "y"))
    assert(an != na)
    val abc = digest(Seq(("ab", "c")).toDF("x", "y"), Seq("x", "y"))
    val abc2 = digest(Seq(("a", "bc")).toDF("x", "y"), Seq("x", "y"))
    assert(abc != abc2)
  }

  // ---- histogramInt ---------------------------------------------------------

  test("histogramInt: bins partition the range, counts sum to n") {
    val xs = Seq(-50L, -49L, 0L, 1L, 7L, 49L, 50L) ++ (1L to 93L).map(_ % 50)
    val out = TableOps.histogramInt(xs.toDF("x"), col("x"), 10)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._3).sum == xs.size)
    assert(out.forall { case (bin, _, _) => bin >= 0 && bin < 10 })
    // brute-force bin assignment with the same integer formula
    val lo = xs.min; val hi = xs.max
    val brute = xs.groupBy(x => (x - lo) * 10 / (hi - lo + 1))
      .map { case (b, g) => (b, g.min, g.size.toLong) }.toSeq.sortBy(_._1)
    assert(out.toSeq == brute)
  }

  test("equalFrequencyBins: two-stage prefix == naive cumsum, any shift") {
    val rnd = new scala.util.Random(3)
    val xs = (1 to 5000).map(_ => (rnd.nextInt(400) - 200).toLong)
    val df = xs.toDF("x")
    // naive reference: per-value cumulative-before, value-quantile bins
    val n = xs.size
    val byV = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sortedV = byV.keys.toSeq.sorted
    val cum = sortedV.scanLeft(0L)((acc, v) => acc + byV(v))
    val expect = sortedV.zip(cum).map { case (v, cb) => v -> cb * 10 / n }
      .groupBy(_._2)
      .map { case (bin, g) =>
        (bin, g.map(x => byV(x._1)).sum, g.map(_._1).min, g.map(_._1).max)
      }.toSeq.sortBy(_._1)
    for (shift <- Seq(0, 3, 20, 62)) {
      val got = TableOps.equalFrequencyBins(df, col("x"), 10, shift)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == expect, s"shift=$shift")
    }
    assert(expect.map(_._2).sum == n)
  }

  test("equalFrequencyBins: ties never straddle bins") {
    // one value holds 60% of rows — it must land wholly in one bin
    val xs = Seq.fill(60)(5L) ++ (1L to 40L)
    val out = TableOps.equalFrequencyBins(xs.toDF("x"), col("x"), 4)
      .as[(Long, Long, Long, Long)].collect()
    val binsWith5 = out.filter(r => r._3 <= 5 && 5 <= r._4)
    assert(binsWith5.length == 1)
  }

  test("histogramInt: single-value input lands in bin 0") {
    val out = TableOps.histogramInt(Seq(42L, 42L).toDF("x"), col("x"), 5)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 42L, 2L)))
  }

  test("exactOutliers: planted spike flagged, tight cluster clean") {
    val xs = Seq.fill(99)(100L) :+ 10000L
    val out = TableOps.exactOutliers(
        xs.map(("g", _)).toDF("grp", "x"), col("grp"), col("x"), 3)
      .select("n", "n_outliers").as[(Long, Long)].head()
    assert(out == ((100L, 1L)))
    // uniform data has no 3-sigma outliers
    val out2 = TableOps.exactOutliers(
        (1L to 100L).map(("g", _)).toDF("grp", "x"), col("grp"), col("x"), 3)
      .select("n_outliers").as[Long].head()
    assert(out2 == 0L)
  }

  test("exactOutliers: matches the float z-score rule away from boundaries") {
    val rnd = new scala.util.Random(5)
    val xs = (1 to 500).map(_ => (rnd.nextInt(1000) + 500).toLong) ++
      Seq(50000L, -40000L)
    val got = TableOps.exactOutliers(
        xs.map(("g", _)).toDF("grp", "x"), col("grp"), col("x"), 3)
      .select("n_outliers").as[Long].head()
    val n = xs.size.toDouble
    val mean = xs.sum / n
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / n)
    val brute = xs.count(x => math.abs(x - mean) > 3 * sd)
    assert(got == brute, s"got=$got brute=$brute (sd=$sd)")
  }

  test("ebShrinkRates: driver replica of the quantization chain; " +
      "equal rates collapse to the mean; overdispersed and single-group " +
      "fall back") {
    import graft.operators.TableOps
    // A 1/2, B 1/4, C 3/4, D 2/4 -> mu 0.5, k = 5 (hand-checked)
    def rows(g: String, s: Int, n: Int) =
      (1 to n).map(i => (g, if (i <= s) 1 else 0))
    val df = (rows("A", 1, 2) ++ rows("B", 1, 4) ++ rows("C", 3, 4) ++
      rows("D", 2, 4)).toDF("g", "y")
    val out = TableOps.ebShrinkRates(df, Seq(col("g")), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("prior_strength") == 5)
    assert(out("A").getAs[Double]("prior_mean") == 0.5)
    // replica: shrunk = round(1e6*(s*1e6 + k*mu)/(1e6*(n+k)))/1e6
    def shrunk(s: Long, n: Long): Double = {
      val num = BigInt(s) * 1000000 + BigInt(5) * 500000
      val den = BigInt(1000000) * (n + 5)
      ((num * 2000000 + den) / (den * 2)).toDouble / 1e6
    }
    assert(out("A").getAs[Double]("shrunk_rate") == shrunk(1, 2))
    assert(out("B").getAs[Double]("shrunk_rate") == shrunk(1, 4))
    assert(out("C").getAs[Double]("shrunk_rate") == shrunk(3, 4))
    // shrinkage is toward the mean and stronger for less evidence
    assert(out("B").getAs[Double]("shrunk_rate") > 0.25)
    assert(out("C").getAs[Double]("shrunk_rate") < 0.75)
    // all rates equal: v = 0 -> shrunk = mean, null strength
    val eq = (rows("A", 1, 2) ++ rows("B", 2, 4)).toDF("g", "y")
    val e = TableOps.ebShrinkRates(eq, Seq(col("g")), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(e("A").getAs[Double]("shrunk_rate") == 0.5)
    assert(e("A").getAs[Any]("prior_strength") == null)
    // overdispersed (rates 0 and 1): k <= 0 -> raw rates, null strength
    val od = (rows("A", 0, 3) ++ rows("B", 3, 3)).toDF("g", "y")
    val o = TableOps.ebShrinkRates(od, Seq(col("g")), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(o("A").getAs[Double]("shrunk_rate") == 0.0)
    assert(o("B").getAs[Double]("shrunk_rate") == 1.0)
    assert(o("A").getAs[Any]("prior_strength") == null)
    // single group: no prior -> null shrunk
    val one = rows("A", 1, 3).toDF("g", "y")
    assert(TableOps.ebShrinkRates(one, Seq(col("g")), col("y"))
      .collect().head.getAs[Any]("shrunk_rate") == null)
  }

  test("wilsonLowerBound: BigInt replica of the quantization chain; " +
      "edge rates; ordering beats the raw rate") {
    import graft.operators.TableOps
    def rows(g: String, s: Int, n: Int) =
      (1 to n).map(i => (g, if (i <= s) 1 else 0))
    // the classic case: 2-for-3 raw-beats 180-for-400, Wilson must flip.
    // Radicand edges: Z/F (s = 0 or n) have T = Z2², a perfect square;
    // M has T = k² − 1 and Q the nearest reachable T above a square,
    // k² + 33 (k² + 1 never occurs: T is a multiple of Z2, whose factor
    // 4679 ≡ 3 mod 4 makes k² ≡ −1 unsolvable); L's T passes 2⁶³
    val big = 2500000
    val df = (rows("A", 2, 3) ++ rows("B", 180, 400) ++
      rows("Z", 0, 5) ++ rows("F", 5, 5) ++ rows("M", 340, 1412) ++
      rows("Q", 282, 2584)).toDF("g", "y")
      .union(spark.range(big).select(lit("L"),
        (col("id") % 2).cast("int")))
    val out = TableOps.wilsonLowerBound(df, Seq(col("g")), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    def radicand(s: Long, n: Long): BigInt = {
      val z2 = BigInt(3841459)
      z2 * ((BigInt(4000000) * s * (n - s)) / BigInt(n) + z2)
    }
    def isSquare(x: BigInt) = BigInt(x.bigInteger.sqrt()).pow(2) == x
    assert(isSquare(radicand(0, 5)) && isSquare(radicand(5, 5)))
    assert(isSquare(radicand(340, 1412) + 1))
    assert(isSquare(radicand(282, 2584) - 33))
    assert(radicand(big / 2, big) > Long.MaxValue)
    def replica(s: Long, n: Long): (Double, Double) = {
      val z2 = BigInt(3841459)
      val t = radicand(s, n)
      val rt = BigInt(t.bigInteger.sqrt())
      val den = (BigInt(1000000) * n + z2) * 2
      def half(num: BigInt) = ((num * 2000000 + den) / (den * 2)).toDouble / 1e6
      (half(BigInt(2000000) * s + z2 - rt), half(BigInt(2000000) * s + z2 + rt))
    }
    for ((g, s, n) <- Seq(("A", 2L, 3L), ("B", 180L, 400L), ("Z", 0L, 5L),
        ("F", 5L, 5L), ("M", 340L, 1412L), ("Q", 282L, 2584L),
        ("L", big / 2L, big.toLong))) {
      val (lb, ub) = replica(s, n)
      assert(out(g).getAs[Double]("wilson_lb") == lb, s"$g lb")
      assert(out(g).getAs[Double]("wilson_ub") == ub, s"$g ub")
    }
    // the flip: raw 0.667 > 0.45 but the conservative bound reverses
    assert(out("A").getAs[Double]("rate") > out("B").getAs[Double]("rate"))
    assert(out("A").getAs[Double]("wilson_lb") <
      out("B").getAs[Double]("wilson_lb"))
    // bounds bracket the rate and stay in [0, 1]
    out.values.foreach { r =>
      val (lb, ub, p) = (r.getAs[Double]("wilson_lb"),
        r.getAs[Double]("wilson_ub"), r.getAs[Double]("rate"))
      assert(lb >= 0 && ub <= 1 && lb <= p && p <= ub)
    }
  }

  test("cuped: BigInt replica; perfect covariate zeroes variance; " +
      "constant covariate falls back to the raw mean") {
    import graft.operators.TableOps
    // y = 2x + arm effect + noise: theta ~ 2, adjustment removes the
    // pre-period imbalance the deterministic x-assignment plants
    val rows = for (u <- 1 to 40) yield {
      val arm = u % 2
      val x = 100L + (u % 7) * 50L
      val y = 2 * x + arm * 30L + (u % 3) * 10L
      (arm.toLong, x, y)
    }
    val df = rows.toDF("arm", "x", "y")
    val out = TableOps.cuped(df, Seq(col("arm")), col("x"), col("y"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // BigInt replica of the full chain
    val n = rows.size
    val (sx, sy) = (rows.map(_._2).sum, rows.map(_._3).sum)
    val sxx = rows.map(r => BigInt(r._2) * r._2).sum
    val sxy = rows.map(r => BigInt(r._2) * r._3).sum
    val syy = rows.map(r => BigInt(r._3) * r._3).sum
    val vxx = BigInt(n) * sxx - BigInt(sx) * sx
    val vxy = BigInt(n) * sxy - BigInt(sx) * sy
    val vyy = BigInt(n) * syy - BigInt(sy) * sy
    def half(num: BigInt, den: BigInt): BigInt = {
      val q = (num.abs * 2000000 + den) / (den * 2)
      if (num < 0) -q else q
    }
    val thm = half(vxy, vxx)
    assert(out(0L).getAs[Double]("theta") == thm.toDouble / 1e6)
    for (arm <- Seq(0L, 1L)) {
      val armRows = rows.filter(_._1 == arm)
      val (na, sxa, sya) = (armRows.size, armRows.map(_._2).sum,
        armRows.map(_._3).sum)
      val adj = half(BigInt(sya) * n * 1000000 -
        thm * (BigInt(n) * sxa - BigInt(sx) * na),
        BigInt(na) * n * 1000000).toDouble / 1e6
      assert(out(arm).getAs[Double]("mean_y_adj") == adj, s"arm $arm")
    }
    val rho2 = ((thm * half(vxy, vyy)) / 1000000).toDouble / 1e6
    assert(out(0L).getAs[Double]("rho2") == rho2)
    assert(rho2 > 0.9, s"strong covariate must explain most variance: $rho2")
    // adjusted gap ~ the planted effect; raw gap is polluted by the
    // x-imbalance between arms
    val adjGap = out(1L).getAs[Double]("mean_y_adj") -
      out(0L).getAs[Double]("mean_y_adj")
    assert(math.abs(adjGap - 30.0) < 6.0, s"adjusted gap $adjGap")
    // constant covariate: vxx = 0 -> null theta, mean_y_adj = mean_y
    val const = rows.map { case (a, _, y) => (a, 5L, y) }.toDF("arm", "x", "y")
    val c = TableOps.cuped(const, Seq(col("arm")), col("x"), col("y"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(c(0L).getAs[Any]("theta") == null)
    assert(c(0L).getAs[Double]("mean_y_adj") == c(0L).getAs[Double]("mean_y"))
  }

  test("bhFdr: hand grid check; the step-up rescues an individually-" +
      "failing rank; all-fail rejects nothing; ties rank by id; " +
      "grid cap fails loud") {
    def run(vals: Seq[(String, Long)]) =
      TableOps.bhFdr(vals.toDF("id", "c"), Seq(col("id")), col("c"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[Int]("rank"), r.getAs[Int]("rejected"),
            r.getAs[Double]("critical"))).toMap
    // m=4: crits 6238533 / 5023886 / 4327558 / 3841459 — ranks 1..3
    // clear, rank 4 misses -> k* = 3
    val a = run(Seq(("w", 8000000L), ("x", 5500000L), ("y", 4500000L),
      ("z", 1000000L)))
    assert(a("w") == ((1, 1, 6.238533)) && a("x") == ((2, 1, 5.023886)))
    assert(a("y") == ((3, 1, 4.327558)) && a("z") == ((4, 0, 3.841459)))
    // the step-up property: rank 2 fails ITS critical (4.45 < 4.528577)
    // but rank 3 passes (4.0 >= 3.841459), so k* = 3 rescues rank 2 —
    // the defining difference from per-test thresholds
    val b = run(Seq(("p", 5800000L), ("q", 4450000L), ("r", 4000000L)))
    assert(b.values.forall(_._2 == 1), s"step-up rescue: $b")
    // nothing clears -> k* absent -> zero rejections
    val c2 = run(Seq(("u", 2000000L), ("v", 1000000L)))
    assert(c2.values.forall(_._2 == 0))
    // single test degenerates to chi2 >= 3.841459 (BH at m=1 IS the
    // per-test alpha=0.05 gate, >= because p <= alpha)
    assert(run(Seq(("s", 3841459L)))("s")._2 == 1)
    assert(run(Seq(("s", 3841458L)))("s")._2 == 0)
    // ties order by id ascending
    val t = run(Seq(("b", 5000000L), ("a", 5000000L)))
    assert(t("a")._1 == 1 && t("b")._1 == 2)
    // beyond the baked grid (m = 17) must raise, not truncate
    val big = (1 to 17).map(i => (s"t$i", 5000000L))
    intercept[Exception] {
      TableOps.bhFdr(big.toDF("id", "c"), Seq(col("id")), col("c"))
        .collect()
    }
  }

  test("diffInDiff: hand means; signed micro rounding replica; " +
      "missing arm yields null DID") {
    // rows: (unit, arm, post, cents)
    val df = Seq(
      (1L, 1, 0, 10L), (1L, 1, 1, 20L),
      (2L, 1, 0, 0L), (2L, 1, 1, 30L),
      (3L, 0, 0, 5L), (3L, 0, 1, 10L),
      (4L, 0, 0, 5L), (4L, 0, 1, 10L)
    ).toDF("u", "arm", "post", "v")
    val r = TableOps.diffInDiff(df, col("u"), col("arm"),
      col("post") === 1, col("v")).collect().head
    assert(r.getAs[Long]("n_t") == 2 && r.getAs[Long]("n_c") == 2)
    assert(r.getAs[Double]("mean_pre_t") == 5.0)
    assert(r.getAs[Double]("mean_post_t") == 25.0)
    assert(r.getAs[Double]("did") == 15.0)
    // signed rounding: treated post sums negative (refund period) —
    // replicate the half-away-from-zero micro chain with BigInt
    val neg = Seq(
      (1L, 1, 0, 7L), (1L, 1, 1, -8L),
      (2L, 1, 0, 0L), (2L, 1, 1, -3L),
      (3L, 0, 0, 2L), (3L, 0, 1, 1L)
    ).toDF("u", "arm", "post", "v")
    def micro(num: Long, den: Long): Long = {
      val q = ((BigInt(num).abs * 2000000 + den) / (BigInt(den) * 2)).toLong
      if (num < 0) -q else q
    }
    val n = TableOps.diffInDiff(neg, col("u"), col("arm"),
      col("post") === 1, col("v")).collect().head
    val (mpt, mot) = (micro(7, 2), micro(-11, 2))
    val (mpc, moc) = (micro(2, 1), micro(1, 1))
    assert(n.getAs[Double]("mean_post_t") == mot / 1e6)
    assert(n.getAs[Double]("did") == ((mot - mpt) - (moc - mpc)) / 1e6)
    // a missing arm is fail-soft: null DID, zero count
    val solo = Seq((1L, 1, 0, 5L), (1L, 1, 1, 9L)).toDF("u", "arm", "post", "v")
    val s = TableOps.diffInDiff(solo, col("u"), col("arm"),
      col("post") === 1, col("v")).collect().head
    assert(s.getAs[Long]("n_c") == 0 && s.getAs[Any]("did") == null)
  }
}
