package graft

import graft.functions.Log2Fixed
import graft.operators.{Divergence, EvalMetrics, TableOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ranking metrics, Cohen's kappa, calibration/ECE (q220/q221/q224) plus
  * l-diversity (q222) and the Zipf slope (q223).
  */
class EvalMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def w(rank: Long): Long =
    1000000L * Log2Fixed.One / Log2Fixed(rank + 1)

  test("rankingMetrics: hand-checked recall/RR/nDCG, empty gold -> nulls") {
    val ranked = Seq(
      // q1: gold docs at ranks 1 and 3; 4 gold total
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4),
      // q2: no gold doc retrieved at all
      (2L, 20L, 1), (2L, 21L, 2),
      // q3: gold set empty
      (3L, 30L, 1)).toDF("query_id", "doc_id", "rnk")
    val gold = Seq(
      (1L, 10L), (1L, 12L), (1L, 90L), (1L, 91L),
      (2L, 95L)).toDF("query_id", "doc_id")
    val got = EvalMetrics.rankingMetrics(ranked, gold, k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.toString.toDouble),
          Option(r.get(4)).map(_.toString.toDouble),
          Option(r.get(5)).map(_.toString.toDouble))).toMap
    // q1: recall 2/4, RR = 1/1, nDCG = (w1+w3)/(w1+w2+w3+w4)
    val dcg = w(1) + w(3)
    val idcg = w(1) + w(2) + w(3) + w(4)
    val ndcg = ((2 * dcg * 1000000L + idcg) / (2 * idcg)).toDouble / 1e6
    assert(got(1L) == ((4L, 2L, Some(0.5), Some(1.0), Some(ndcg))))
    // q2: gold exists, nothing retrieved -> recall 0, RR 0, nDCG 0
    assert(got(2L) == ((1L, 0L, Some(0.0), Some(0.0), Some(0.0))))
    // q3: no gold -> metrics undefined
    assert(got(3L) == ((0L, 0L, None, None, None)))
  }

  test("rankingMetrics: ranks beyond k are ignored") {
    val ranked = Seq((1L, 10L, 1), (1L, 11L, 4)).toDF("query_id", "doc_id", "rnk")
    val gold = Seq((1L, 11L)).toDF("query_id", "doc_id")
    val r3 = EvalMetrics.rankingMetrics(ranked, gold, k = 3).collect().head
    assert(r3.getLong(2) == 0L && r3.getDouble(3) == 0.0)
    val r5 = EvalMetrics.rankingMetrics(ranked, gold, k = 5).collect().head
    assert(r5.getLong(2) == 1L && r5.getDouble(3) == 1.0)
    // RR finds the rank-4 hit only when k admits it
    assert(r5.getDouble(4) == 0.25)
  }

  test("cohenKappa: known table, perfect agreement, constant rater -> null") {
    // classic example: n11=20 n10=5 n01=10 n00=15, kappa = 0.4
    val df = (Seq.fill(20)((1, 1)) ++ Seq.fill(5)((1, 0)) ++
      Seq.fill(10)((0, 1)) ++ Seq.fill(15)((0, 0))).toDF("a", "b")
    val r = EvalMetrics.cohenKappa(df, col("a"), col("b")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((20L, 5L, 10L, 15L)))
    assert(math.abs(r.getDouble(4) - 0.4) < 1e-9)
    val perfect = Seq((1, 1), (0, 0), (1, 1)).toDF("a", "b")
    assert(EvalMetrics.cohenKappa(perfect, col("a"), col("b"))
      .collect().head.getDouble(4) == 1.0)
    val constant = Seq((1, 1), (1, 1)).toDF("a", "b")
    assert(EvalMetrics.cohenKappa(constant, col("a"), col("b"))
      .collect().head.isNullAt(4))
  }

  test("calibrationBins: bin edges, means, accuracy, exact ECE") {
    // confDen 1000: conf .25 (bin 2) x2 labels {1,0}; conf .95 (bin 9) x1 label 1;
    // conf 1.0 clamps into bin 9
    val df = Seq((250L, 1), (250L, 0), (950L, 1), (1000L, 1))
      .toDF("c", "y")
    val got = EvalMetrics.calibrationBins(df, col("c"), 1000L, col("y"), 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got.keySet == Set(2L, 9L))
    // bin2: n=2 conf=0.25 acc=0.5 gap=|1*1000-500|=500
    assert(got(2L)._1 == 2L && got(2L)._2 == 0.25 && got(2L)._3 == 0.5 &&
      got(2L)._4 == 500L)
    // bin9: n=2 conf=0.975 acc=1.0 gap=|2*1000-1950|=50
    assert(got(9L)._1 == 2L && got(9L)._2 == 0.975 && got(9L)._3 == 1.0 &&
      got(9L)._4 == 50L)
    // ECE = (500+50)/(1000*4) = 0.1375, identical on both rows
    assert(got.values.map(_._5).toSet == Set(0.1375))
  }

  test("lDiversity: distinct counts, entropy, flags, reserved guard") {
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"), // uniform 2-way
      ("b", "x"), ("b", "x"), ("b", "x"),             // constant
      ("c", "x"), ("c", "y"), ("c", "z")              // uniform 3-way
    ).toDF("q", "s")
    val got = TableOps.lDiversity(df, Seq(col("q")), col("s"), l = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    assert(got("a") == ((4L, 2L, 1.0, 1)))   // H(1/2,1/2) = 1 bit exactly
    assert(got("b") == ((3L, 1L, 0.0, 0)))   // constant -> 0 bits
    assert(got("c")._2 == 3L && got("c")._4 == 1)
    assert(math.abs(got("c")._3 - math.log(3) / math.log(2)) < 0.001)
    val e = intercept[IllegalArgumentException] {
      TableOps.lDiversity(df.withColumnRenamed("s", "diverse"),
        Seq(col("q")), col("diverse"), 2)
    }
    assert(e.getMessage.contains("diverse"))
  }

  test("zipfSlope: perfect power law recovers its exponent") {
    // freq(rank) = 2^(10-rank): slope in log2-log2 space vs log2(rank) is
    // NOT linear, so use freq = C / rank (slope -1): ranks 1,2,4,8 with
    // freq 64,32,16,8 -> y = lg(64/rank^?) ... use exact dyadic points:
    // tokens t1..t4 with counts 64,32,16,8 at ranks 1..4
    val rows = Seq(("s", "t1", 64), ("s", "t2", 32), ("s", "t3", 16),
      ("s", "t4", 8))
    val text = rows.map { case (_, t, n) => Seq.fill(n)(t).mkString(" ") }
      .mkString(" ")
    val df = Seq(("s", text)).toDF("source", "text")
    val got = Divergence.zipfSlope(df, col("source"), col("text"), topR = 4)
      .collect().head
    assert(got.getLong(1) == 4L)
    // freq halves per rank step but rank log-steps are uneven (1,2,3,4):
    // OLS over exact fixed-point logs; dyadic check: slope must be
    // negative and within the analytic OLS of the same points
    val xs = Seq(1L, 2L, 3L, 4L).map(r => Log2Fixed(r).toDouble)
    val ys = Seq(64L, 32L, 16L, 8L).map(f => Log2Fixed(f).toDouble)
    val n = 4.0
    val exp = (n * xs.zip(ys).map { case (x, y) => x * y }.sum -
      xs.sum * ys.sum) /
      (n * xs.map(x => x * x).sum - xs.sum * xs.sum)
    assert(math.abs(got.getDouble(2) - exp) < 0.01, s"got $got expect $exp")
    assert(got.getDouble(2) < -1.0 && got.getDouble(2) > -2.0)
  }

  test("zipfSlope: single-type source -> null slope") {
    val df = Seq(("s", "only only only")).toDF("source", "text")
    val r = Divergence.zipfSlope(df, col("source"), col("text")).collect().head
    assert(r.getLong(1) == 1L && r.isNullAt(2))
  }

  // ------------------------------------------------- Mann–Whitney U

  /** Driver-side exact 2·U_A via tie-averaged ranks (×2 to stay
    * integral). */
  private def refU2(a: Seq[Long], b: Seq[Long]): Long = {
    val all = (a ++ b).sorted
    // 2·avgRank of value v = 2·(count below) + count(v) + 1
    def r2(v: Long) = 2L * all.count(_ < v) + all.count(_ == v) + 1
    val r2a = a.map(r2).sum
    r2a - a.size.toLong * (a.size + 1)
  }

  test("mannWhitneyU: exact 2·U with ties; U_A + U_B = 2·nA·nB") {
    val rnd = new scala.util.Random(11)
    val a = Seq.fill(80)(rnd.nextLong(20))
    val b = Seq.fill(60)(rnd.nextLong(20) + 5)
    val df = (a.map(("g", _, false)) ++ b.map(("g", _, true)))
      .toDF("g", "v", "isb")
    val outA = EvalMetrics.mannWhitneyU(df, Seq(col("g")), col("isb"),
      col("v")).collect().head
    assert(outA.getAs[Double]("u_a") * 2 == refU2(a, b).toDouble)
    // swap arms: the two U's must complement to nA·nB
    val outB = EvalMetrics.mannWhitneyU(df, Seq(col("g")), !col("isb"),
      col("v")).collect().head
    assert(outA.getAs[Double]("u_a") + outB.getAs[Double]("u_a") ==
      (80.0 * 60))
    assert(outA.getAs[Long]("tie_cubes") ==
      (a ++ b).groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * t * t - t }).sum)
  }

  test("mannWhitneyU: identical arms -> insignificant; shifted -> " +
      "significant; all-tied -> null z2") {
    val base = (1L to 100L)
    val same = (base.map(("g", _, false)) ++ base.map(("g", _, true)))
      .toDF("g", "v", "isb")
    val s0 = EvalMetrics.mannWhitneyU(same, Seq(col("g")), col("isb"),
      col("v")).collect().head
    assert(s0.getAs[Int]("significant") == 0)
    assert(s0.getAs[Double]("z2") == 0.0)
    val moved = (base.map(("g", _, false)) ++
      base.map(v => ("g", v + 60L, true))).toDF("g", "v", "isb")
    val s1 = EvalMetrics.mannWhitneyU(moved, Seq(col("g")), col("isb"),
      col("v")).collect().head
    assert(s1.getAs[Int]("significant") == 1)
    val tied = (Seq.fill(50)(("g", 7L, false)) ++
      Seq.fill(50)(("g", 7L, true))).toDF("g", "v", "isb")
    val s2 = EvalMetrics.mannWhitneyU(tied, Seq(col("g")), col("isb"),
      col("v")).collect().head
    assert(s2.getAs[Any]("z2") == null)
  }

  // ------------------------------------------------- Spearman / Gini

  test("spearman: perfect monotone -> rho2 = 1 with the right sign; " +
      "driver replica with ties; constant axis -> null") {
    val up = (1L to 60L).map(t => ("g", t, t * t)) // monotone, nonlinear
    val r1 = EvalMetrics.spearman(up.toDF("k", "x", "y"), Seq(col("k")),
      col("x"), col("y")).collect().head
    assert(r1.getAs[Int]("rho_sign") == 1 && r1.getAs[Double]("rho2") == 1.0)
    val down = (1L to 60L).map(t => ("g", t, -3 * t))
    val r2 = EvalMetrics.spearman(down.toDF("k", "x", "y"), Seq(col("k")),
      col("x"), col("y")).collect().head
    assert(r2.getAs[Int]("rho_sign") == -1 && r2.getAs[Double]("rho2") == 1.0)
    // ties on both axes vs an exact driver replica (Pearson on 2·midranks)
    val rnd = new scala.util.Random(47)
    val pts = Seq.fill(150)((rnd.nextLong(12), rnd.nextLong(15)))
    val out = EvalMetrics.spearman(pts.map(p => ("g", p._1, p._2))
        .toDF("k", "x", "y"),
      Seq(col("k")), col("x"), col("y")).collect().head
    def r2s(vs: Seq[Long]): Map[Long, Long] =
      vs.distinct.map(v => v ->
        (2L * vs.count(_ < v) + vs.count(_ == v) + 1)).toMap
    val rx = r2s(pts.map(_._1)); val ry = r2s(pts.map(_._2))
    val n = BigInt(pts.size)
    val m2 = n * (n + 1) * (n + 1)
    val cov = pts.map(p => BigInt(rx(p._1)) * ry(p._2)).sum - m2
    val vx = pts.map(p => BigInt(rx(p._1)) * rx(p._1)).sum - m2
    val vy = pts.map(p => BigInt(ry(p._2)) * ry(p._2)).sum - m2
    val q = ((cov * cov * 2000000 + vx * vy) / (vx * vy * 2)).toDouble / 1e6
    assert(out.getAs[Double]("rho2") == q)
    assert(out.getAs[Int]("rho_sign") == cov.signum)
    val const = (1L to 20L).map(t => ("g", t, 5L)).toDF("k", "x", "y")
    val r3 = EvalMetrics.spearman(const, Seq(col("k")), col("x"),
      col("y")).collect().head
    assert(r3.getAs[Any]("rho2") == null)
  }

  test("giniGain: perfectly-splitting feature gains the parent impurity; " +
      "uninformative feature gains ~0; hand-checked values") {
    // feature a -> all label 1, feature b -> all label 0 (50/50 parent)
    val perfect = (Seq.fill(40)(("a", 1)) ++ Seq.fill(40)(("b", 0)))
      .toDF("f", "y")
    val p = EvalMetrics.giniGain(perfect, col("f"), col("y")).collect()
    assert(p.forall(_.getAs[Double]("gini") == 0.0))
    assert(p.head.getAs[Double]("gini_parent") == 0.5)
    assert(p.head.getAs[Double]("gain") == 0.5)
    // feature independent of label: gain ~ 0 (exactly 0 on a balanced
    // construction)
    val flat = (for (f <- Seq("a", "b"); y <- Seq(0, 1); _ <- 1 to 25)
      yield (f, y)).toDF("f", "y")
    val fl = EvalMetrics.giniGain(flat, col("f"), col("y")).collect()
    assert(fl.head.getAs[Double]("gain") == 0.0)
    assert(fl.forall(_.getAs[Double]("gini") == 0.5))
    // hand value: v with 3 pos / 1 neg -> gini = 1 - (9+1)/16 = 0.375
    val hand = (Seq.fill(3)(("a", 1)) :+ (("a", 0))).toDF("f", "y")
    assert(EvalMetrics.giniGain(hand, col("f"), col("y"))
      .collect().head.getAs[Double]("gini") == 0.375)
  }

  // ------------------------------------------------- Kruskal–Wallis

  /** Driver replica of the operator's exact quantized arithmetic. */
  private def refKw(arms: Seq[Seq[Long]]): Double = {
    val all = arms.flatten
    val nn = all.size.toLong
    def r2(v: Long) = 2L * all.count(_ < v) + all.count(_ == v) + 1
    def micro(a: BigInt, d: BigInt): BigInt = (a.abs * 2000000 + d) / (d * 2)
    val sm = arms.map { vs =>
      val r2j = vs.map(v => BigInt(r2(v))).sum
      micro(r2j * r2j, BigInt(vs.size) * 4)
    }.sum
    val cube = BigInt(nn) * nn * nn - nn
    val tc = all.groupBy(identity).values
      .map(g => { val t = BigInt(g.size); t * t * t - t }).sum
    val hNum = 12 * sm - BigInt(nn) * (nn + 1) * (nn + 1) * 3000000
    val fm = (cube - tc) * 1000000 / cube
    val den2 = BigInt(nn) * (nn + 1) * 1000000 * fm / 1000000
    val q = micro(hNum, den2)
    (if (hNum < 0) -q else q).toDouble / 1e6
  }

  test("kruskalWallis: matches the driver replica with ties; 2 arms " +
      "equal the Mann-Whitney z2; shifted arm detected") {
    val rnd = new scala.util.Random(43)
    val arms = Seq(
      Seq.fill(60)(rnd.nextLong(25)),
      Seq.fill(80)(rnd.nextLong(25) + 3),
      Seq.fill(40)(rnd.nextLong(25) + 10))
    val rows = arms.zipWithIndex.flatMap { case (vs, j) =>
      vs.map(v => ("g", j.toLong, v)) }
    val out = EvalMetrics.kruskalWallis(rows.toDF("k", "arm", "v"),
      Seq(col("k")), col("arm"), col("v")).collect().head
    assert(out.getAs[Long]("n") == 180L)
    assert(out.getAs[Long]("k_arms") == 3L)
    assert(out.getAs[Long]("dof") == 2L)
    assert(out.getAs[Double]("h") == refKw(arms))
    assert(out.getAs[Double]("h") > 5.991, // chi2(2) 95% — a real shift
      s"shifted arm not detected: $out")
    // two arms: H must agree with the MW z² (same statistic, different
    // exact-rounding paths — within the quantization)
    val two = rows.filter(_._2 < 2)
    val kw2 = EvalMetrics.kruskalWallis(two.toDF("k", "arm", "v"),
      Seq(col("k")), col("arm"), col("v")).collect().head.getAs[Double]("h")
    val mw2 = EvalMetrics.mannWhitneyU(two.map(r => (r._1, r._2 == 1L, r._3))
        .toDF("k", "isb", "v"),
      Seq(col("k")), col("isb"), col("v")).collect().head.getAs[Double]("z2")
    assert(math.abs(kw2 - mw2) < 1e-3, s"KW(2 arms)=$kw2 vs MW z2=$mw2")
  }

  test("kruskalWallis: all-tied -> null h; single arm -> null h") {
    val tied = (0 until 60).map(i => ("g", (i % 3).toLong, 7L))
      .toDF("k", "arm", "v")
    val r1 = EvalMetrics.kruskalWallis(tied, Seq(col("k")), col("arm"),
      col("v")).collect().head
    assert(r1.getAs[Any]("h") == null)
    val one = (1L to 30L).map(v => ("g", 0L, v)).toDF("k", "arm", "v")
    val r2 = EvalMetrics.kruskalWallis(one, Seq(col("k")), col("arm"),
      col("v")).collect().head
    assert(r2.getAs[Long]("k_arms") == 1L && r2.getAs[Any]("h") == null)
  }

  // --------------------------------------------------- AUC / Brier

  test("aucFromScores: hand-checked with ties, 1/0 extremes, one-class " +
      "null") {
    // pos scores {3, 2}, neg {1, 2}: pairs 3>1, 3>2, 2>1, 2=2 (half)
    // -> AUC = 3.5/4 = 0.875
    val df = Seq(("g", 3L, 1), ("g", 2L, 1), ("g", 1L, 0), ("g", 2L, 0))
      .toDF("k", "score", "y")
    val out = EvalMetrics.aucFromScores(df, Seq(col("k")), col("y"),
      col("score")).collect().head
    assert(out.getAs[Long]("n_pos") == 2L && out.getAs[Long]("n_neg") == 2L)
    assert(out.getAs[Double]("auc") == 0.875)
    // perfect separation -> 1; inverted -> 0
    val sep = ((1L to 50L).map(("g", _, 0)) ++
      (51L to 100L).map(("g", _, 1))).toDF("k", "score", "y")
    val s1 = EvalMetrics.aucFromScores(sep, Seq(col("k")), col("y"),
      col("score")).collect().head
    assert(s1.getAs[Double]("auc") == 1.0)
    assert(s1.getAs[Int]("significant") == 1)
    val inv = EvalMetrics.aucFromScores(sep, Seq(col("k")),
      lit(1) - col("y"), col("score")).collect().head
    assert(inv.getAs[Double]("auc") == 0.0)
    val oneClass = (1L to 10L).map(("g", _, 1)).toDF("k", "score", "y")
    assert(EvalMetrics.aucFromScores(oneClass, Seq(col("k")), col("y"),
      col("score")).collect().head.getAs[Any]("auc") == null)
  }

  test("brierScore/isotonicCalibration: null confidence or label rows " +
      "are excluded, never silently deflate the denominator") {
    // 2 good rows (errors 0) + 2 rows with a null each: brier must be
    // 0 over n=2, not 0 over n=4
    val rows = Seq(
      ("g", Some(1000L), Some(1)), ("g", Some(0L), Some(0)),
      ("g", None, Some(1)), ("g", Some(500L), None))
    val df = rows.toDF("k", "c", "y")
    val b = EvalMetrics.brierScore(df, Seq(col("k")), col("c"), 1000L,
      col("y")).collect().head
    assert(b.getAs[Long]("n") == 2L)
    assert(b.getAs[Double]("brier") == 0.0)
    val iso = EvalMetrics.isotonicCalibration(df, col("c"), 1000L,
      col("y"), nBins = 2).collect()
    assert(iso.map(_.getAs[Long]("n_docs")).sum == 2L,
      s"null rows leaked into the bins: ${iso.toSeq}")
  }

  test("brierScore: perfect confidence -> 0; coin-flip 0.5 -> 0.25; " +
      "confident-wrong -> 1") {
    val den = 1000L
    def brier(rows: Seq[(Long, Int)]): Double =
      EvalMetrics.brierScore(rows.map { case (c, y) => ("g", c, y) }
          .toDF("k", "c", "y"),
        Seq(col("k")), col("c"), den, col("y"))
        .collect().head.getAs[Double]("brier")
    assert(brier(Seq((1000L, 1), (0L, 0))) == 0.0)
    assert(brier(Seq((500L, 1), (500L, 0))) == 0.25)
    assert(brier(Seq((0L, 1), (1000L, 0))) == 1.0)
    // exact rational: conf 3/4 on y=1 -> (1/4)^2 = 0.0625
    assert(brier(Seq((750L, 1))) == 0.0625)
  }

  // ------------------------------------------- chi-square independence

  test("chiSquareIndependence: matches the driver-side exact terms, " +
      "zero cells included") {
    // 2×2 with one structurally empty cell: x=a only pairs with y=1
    val df = (Seq.fill(30)(("a", 1L)) ++ Seq.fill(20)(("b", 1L)) ++
      Seq.fill(50)(("b", 2L))).toDF("x", "y")
    val out = EvalMetrics.chiSquareIndependence(df, col("x"), col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(out.size == 4, "margins cross must generate the zero cell")
    val zero = out(("a", 2L))
    assert(zero.getAs[Long]("n_obs") == 0L)
    // expected for (a,2) = r_a*c_2/N = 30*50/100 = 15
    assert(zero.getAs[Double]("expected") == 15.0)
    // exact chi2: sum over cells of (N·o − r·c)²/(N·r·c), micro-rounded
    // terms; driver replica
    def term(o: Long, r: Long, c: Long, n: Long): Long = {
      val num = BigInt(n) * o - BigInt(r) * c
      val den = BigInt(n) * r * c
      ((num * num * 2000000 + den) / (den * 2)).toLong
    }
    val exp = (term(30, 30, 50, 100) + term(0, 30, 50, 100) +
      term(20, 70, 50, 100) + term(50, 70, 50, 100)).toDouble / 1e6
    assert(out.values.head.getAs[Double]("chi2") == exp)
    assert(out.values.head.getAs[Long]("dof") == 1L)
  }

  test("chiSquareIndependence: fails loud past maxCells, never samples") {
    val df = (1L to 200L).map(i => (i, i)).toDF("x", "y")
    val e = intercept[Exception] {
      EvalMetrics.chiSquareIndependence(df, col("x"), col("y"),
        maxCells = 100L).collect()
    }
    assert(e.getMessage.contains("maxCells") ||
      Option(e.getCause).exists(_.getMessage.contains("maxCells")))
  }

  test("cramersV: perfect association -> 1, independence -> 0, " +
      "degenerate 1-column table -> null") {
    // perfect 2x2: x fully determines y -> chi2 = N, V = 1
    val perfect = (Seq.fill(40)(("a", 1L)) ++ Seq.fill(60)(("b", 2L)))
      .toDF("x", "y")
    val p = EvalMetrics.cramersV(perfect, col("x"), col("y")).collect().head
    assert(p.getAs[Long]("n") == 100L && p.getAs[Long]("dof") == 1L)
    assert(p.getAs[Double]("v") == 1.0)
    // exactly proportional rows -> every term 0 -> V = 0
    val indep = (Seq.fill(20)(("a", 1L)) ++ Seq.fill(20)(("a", 2L)) ++
      Seq.fill(30)(("b", 1L)) ++ Seq.fill(30)(("b", 2L))).toDF("x", "y")
    val i = EvalMetrics.cramersV(indep, col("x"), col("y")).collect().head
    assert(i.getAs[Double]("v") == 0.0)
    // single y category: min(R-1, C-1) = 0 -> null V, never a divide
    val one = Seq(("a", 1L), ("b", 1L)).toDF("x", "y")
    val o = EvalMetrics.cramersV(one, col("x"), col("y")).collect().head
    assert(o.isNullAt(o.fieldIndex("v2")) && o.isNullAt(o.fieldIndex("v")))
  }

  // ------------------------------------------- isotonic calibration

  /** Driver-side PAV (pool adjacent violators) on micro-quantized bin
    * means — the reference the minimax form must reproduce. */
  private def refPav(bins: Seq[(Long, Long)]): Seq[Long] = {
    def micro(p: Long, n: Long): Long = (2 * p * 1000000 + n) / (2 * n)
    // minimax on quantized means, brute force
    val b = bins.size
    (0 until b).map { k =>
      (0 to k).map { i =>
        (k until b).map { j =>
          val p = (i to j).map(bins(_)._2).sum
          val n = (i to j).map(bins(_)._1).sum
          micro(p, n)
        }.min
      }.max
    }
  }

  test("isotonicCalibration: equals brute-force minimax/PAV and is " +
      "monotone") {
    // bins engineered non-monotone: rates 0.2, 0.6, 0.4, 0.9
    val rows =
      (0 until 10).map(i => (0.05 + 0.0, if (i < 2) 1L else 0L)) ++    // bin 0
      (0 until 10).map(i => (0.15, if (i < 6) 1L else 0L)) ++          // bin 1
      (0 until 10).map(i => (0.25, if (i < 4) 1L else 0L)) ++          // bin 2
      (0 until 10).map(i => (0.35, if (i < 9) 1L else 0L))             // bin 3
    val df = rows.toDF("conf", "y")
    val out = EvalMetrics.isotonicCalibration(df,
        round(col("conf") * 1000000).cast("long"), 1000000L, col("y"),
        nBins = 10)
      .collect().sortBy(_.getAs[Long]("bin"))
    val iso = out.map(_.getAs[Double]("iso_rate"))
    assert(iso.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      s"not monotone: ${iso.toSeq}")
    val ref = refPav(Seq((10L, 2L), (10L, 6L), (10L, 4L), (10L, 9L)))
      .map(_.toDouble / 1e6)
    assert(iso.toSeq == ref,
      s"minimax mismatch: got ${iso.toSeq}, want $ref")
    // pooled bins 1+2: (6+4)/20 = 0.5
    assert(iso(1) == 0.5 && iso(2) == 0.5)
  }

  // --------------------------------------- ANOVA / McNemar / Wilcoxon

  /** Driver replica of anovaF's exact micro arithmetic. */
  private def refAnova(arms: Seq[Seq[Long]]): (Option[Double], Option[Double]) = {
    def micro(num: BigInt, den: BigInt): BigInt = {
      val q = (num.abs * 2000000 + den) / (den * 2)
      if (num < 0) -q else q
    }
    val n = BigInt(arms.map(_.size).sum)
    val k = BigInt(arms.size)
    val t = arms.flatten.map(BigInt(_)).sum
    val q = arms.flatten.map(x => BigInt(x) * x).sum
    val sm = arms.map(a => micro(a.map(BigInt(_)).sum.pow(2), a.size)).sum
    val parent = micro(t * t, n)
    val ssb = sm - parent
    val ssw = q * 1000000 - sm
    val sst = q * 1000000 - parent
    val f = if (k >= 2 && n > k && ssw > 0)
      Some(micro(ssb * (n - k), ssw * (k - 1)).toDouble / 1e6) else None
    val eta2 = if (sst > 0) Some(micro(ssb, sst).toDouble / 1e6) else None
    (f, eta2)
  }

  test("anovaF: driver replica on noisy arms; separated arms explain " +
      "the variance; constant arms -> null f; one arm -> null f") {
    val rnd = new scala.util.Random(23)
    val arms = Seq(Seq.fill(60)(rnd.nextLong(50)),
      Seq.fill(50)(rnd.nextLong(50) + 10), Seq.fill(40)(rnd.nextLong(50) + 25))
    val df = arms.zipWithIndex
      .flatMap { case (vs, i) => vs.map(v => ("g", i.toLong, v)) }
      .toDF("g", "arm", "v")
    val out = EvalMetrics.anovaF(df, Seq(col("g")), col("arm"), col("v"))
      .collect().head
    val (refF, refEta) = refAnova(arms)
    assert(out.getAs[Long]("n") == 150 && out.getAs[Long]("k_arms") == 3)
    assert(out.getAs[Double]("f") == refF.get)
    assert(out.getAs[Double]("eta2") == refEta.get)
    assert(out.getAs[Long]("dof1") == 2 && out.getAs[Long]("dof2") == 147)
    // widely separated, tight arms: eta2 -> ~1
    val sep = (Seq.fill(30)(("g", 0L, 0L)) ++ Seq.fill(30)(("g", 1L, 1000L)) ++
      Seq.fill(30)(("g", 2L, 2000L)) ++ Seq(("g", 0L, 1L)))
      .toDF("g", "arm", "v")
    val s = EvalMetrics.anovaF(sep, Seq(col("g")), col("arm"), col("v"))
      .collect().head
    assert(s.getAs[Double]("eta2") > 0.99)
    // every arm constant: ssw = 0 -> f null, but eta2 = 1 (all between)
    val const = (Seq.fill(10)(("g", 0L, 5L)) ++ Seq.fill(10)(("g", 1L, 9L)))
      .toDF("g", "arm", "v")
    val c = EvalMetrics.anovaF(const, Seq(col("g")), col("arm"), col("v"))
      .collect().head
    assert(c.getAs[Any]("f") == null)
    assert(c.getAs[Double]("eta2") == 1.0)
    // single arm: k < 2 -> f null, sst > 0 but ssb ~ 0
    val one = (1L to 20L).map(v => ("g", 0L, v)).toDF("g", "arm", "v")
    val o = EvalMetrics.anovaF(one, Seq(col("g")), col("arm"), col("v"))
      .collect().head
    assert(o.getAs[Any]("f") == null)
  }

  test("anovaF: two tight shifted arms read significant-sized F; " +
      "ss strings are exact micro integers") {
    val df = ((1L to 40L).map(v => ("g", 0L, v)) ++
      (1L to 40L).map(v => ("g", 1L, v + 35L))).toDF("g", "arm", "v")
    val r = EvalMetrics.anovaF(df, Seq(col("g")), col("arm"), col("v"))
      .collect().head
    assert(r.getAs[Double]("f") > 50.0)
    // replica of the SS strings
    val arms = Seq((1L to 40L).toSeq, (1L to 40L).map(_ + 35L))
    val q = arms.flatten.map(x => BigInt(x) * x).sum
    val t = arms.flatten.map(BigInt(_)).sum
    def micro(num: BigInt, den: BigInt) = (num * 2000000 + den) / (den * 2)
    val sm = arms.map(a => micro(a.map(BigInt(_)).sum.pow(2), a.size)).sum
    assert(r.getAs[String]("ss_between_micro") ==
      (sm - micro(t * t, 80)).toString)
    assert(r.getAs[String]("ss_within_micro") ==
      (q * 1000000 - sm).toString)
  }

  test("mcnemar: hand-checked table; symmetric disagreement reads 0; " +
      "no disagreement -> null; null raters excluded") {
    // b01 = 15, c10 = 5: chi2 = (10-1)^2/20 = 4.05 -> significant
    val df = (Seq.fill(30)(("g", 1, 1)) ++ Seq.fill(20)(("g", 0, 0)) ++
      Seq.fill(15)(("g", 0, 1)) ++ Seq.fill(5)(("g", 1, 0)))
      .toDF("g", "a", "b")
    val r = EvalMetrics.mcnemar(df, Seq(col("g")), col("a"), col("b"))
      .collect().head
    assert(r.getAs[Long]("n") == 70 && r.getAs[Long]("n00") == 20 &&
      r.getAs[Long]("n11") == 30 && r.getAs[Long]("b01") == 15 &&
      r.getAs[Long]("c10") == 5)
    assert(r.getAs[Double]("chi2") == 4.05)
    assert(r.getAs[Int]("significant") == 1)
    // b01 = c10: the clamped correction reads exactly 0, not 1/(b+c)
    val sym = (Seq.fill(8)(("g", 0, 1)) ++ Seq.fill(8)(("g", 1, 0)))
      .toDF("g", "a", "b")
    val s = EvalMetrics.mcnemar(sym, Seq(col("g")), col("a"), col("b"))
      .collect().head
    assert(s.getAs[Double]("chi2") == 0.0 && s.getAs[Int]("significant") == 0)
    // all concordant: nothing to test
    val conc = Seq.fill(10)(("g", 1, 1)).toDF("g", "a", "b")
    val c = EvalMetrics.mcnemar(conc, Seq(col("g")), col("a"), col("b"))
      .collect().head
    assert(c.getAs[Any]("chi2") == null)
    // null rater rows drop from every count
    val withNulls = (Seq(("g", Some(1), Some(1)), ("g", None, Some(1)),
      ("g", Some(0), None)) ++ Seq.fill(4)(("g", Some(0), Some(1))))
      .toDF("g", "a", "b")
    val n = EvalMetrics.mcnemar(withNulls, Seq(col("g")), col("a"), col("b"))
      .collect().head
    assert(n.getAs[Long]("n") == 5 && n.getAs[Long]("b01") == 4)
  }

  test("cochranQ: driver replica on three raters; k=2 reduces to the " +
      "uncorrected McNemar; unanimous -> null; null raters excluded") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(90)(("g", rnd.nextInt(2), rnd.nextInt(2),
      if (rnd.nextInt(4) == 0) 1 else 0))
    val out = EvalMetrics.cochranQ(rows.toDF("g", "a", "b", "c"),
      Seq(col("g")), Seq(col("a"), col("b"), col("c"))).collect().head
    val cs = Seq(rows.map(_._2.toLong).sum, rows.map(_._3.toLong).sum,
      rows.map(_._4.toLong).sum)
    val rsums = rows.map(r => (r._2 + r._3 + r._4).toLong)
    val t = rsums.sum
    val qNum = BigInt(2) * (3 * cs.map(c => BigInt(c) * c).sum - BigInt(t) * t)
    val qDen = BigInt(3) * t - rsums.map(r => BigInt(r) * r).sum
    val want = ((qNum * 2000000 + qDen) / (qDen * 2)).toDouble / 1e6
    assert(out.getAs[Double]("q") == want)
    assert(out.getAs[Long]("t_total") == t && out.getAs[Long]("dof") == 2)
    // k = 2: Q = (b01-c10)^2/(b01+c10) — McNemar without the correction
    val two = (Seq.fill(12)(("g", 1, 0)) ++ Seq.fill(4)(("g", 0, 1)) ++
      Seq.fill(10)(("g", 1, 1))).toDF("g", "a", "b")
    val q2 = EvalMetrics.cochranQ(two, Seq(col("g")),
      Seq(col("a"), col("b"))).collect().head
    assert(q2.getAs[Double]("q") == 4.0) // (12-4)^2/16
    assert(q2.getAs[Int]("significant") == 1)
    // unanimous rows only: zero denominator
    val u = Seq.fill(8)(("g", 1, 1, 1)).toDF("g", "a", "b", "c")
    assert(EvalMetrics.cochranQ(u, Seq(col("g")),
      Seq(col("a"), col("b"), col("c"))).collect().head
      .getAs[Any]("q") == null)
    // null rater rows drop entirely
    val n = (Seq(("g", Some(1), Some(0))) ++ Seq(("g", None, Some(1))))
      .toDF("g", "a", "b")
    assert(EvalMetrics.cochranQ(n, Seq(col("g")),
      Seq(col("a"), col("b"))).collect().head
      .getAs[Long]("n_subjects") == 1)
  }

  test("rankBiasedOverlap: identical pages read rbo_norm 1; disjoint " +
      "read 0; driver replica on a partial overlap; union universe") {
    def page(q: Long, ids: Seq[Long]) =
      ids.zipWithIndex.map { case (d, i) => (q, d, i + 1) }
    // q1: identical FULL-k pages; q2: disjoint; q3: docs 1..5 vs the
    // same five reversed; q4: only in ranker A. (Identical pages
    // SHORTER than k read rbo_norm < 1 — agreement X_d/d decays past
    // exhaustion; that is truncated RBO's contract, not a bug.)
    val a = (page(1, Seq(1, 2, 3, 4, 9)) ++ page(2, Seq(10, 11)) ++
      page(3, Seq(1, 2, 3, 4, 5)) ++ page(4, Seq(7)))
      .toDF("query_id", "doc_id", "rnk")
    val b = (page(1, Seq(1, 2, 3, 4, 9)) ++ page(2, Seq(20, 21)) ++
      page(3, Seq(5, 4, 3, 2, 1))).toDF("query_id", "doc_id", "rnk")
    val k = 5; val p = 0.9
    val out = EvalMetrics.rankBiasedOverlap(a, b, k = k, pTenths = 9)
      .collect().map(r => r.getLong(0) -> r).toMap
    def micro(x: Double) = math.round(x * 1e6) / 1e6
    val pk = math.pow(p, k)
    assert(out(1L).getAs[Double]("rbo_norm") == 1.0)
    assert(out(1L).getAs[Double]("rbo_min") == micro(1 - pk))
    assert(out(2L).getAs[Double]("rbo_min") == 0.0 &&
      out(2L).getAs[Long]("overlap_at_k") == 0)
    // q3 replica: X_d by brute force over the reversed page
    val ra = Seq(1L, 2L, 3L, 4L, 5L).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val rb = Seq(5L, 4L, 3L, 2L, 1L).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val rboMin = (1 to k).map { d =>
      val x = ra.keys.count(doc => ra(doc) <= d && rb(doc) <= d)
      math.pow(p, d - 1) * x / d
    }.sum * (1 - p)
    // the exact engine value equals the float replica to micro precision
    assert(math.abs(out(3L).getAs[Double]("rbo_min") - rboMin) < 2e-6)
    assert(out(3L).getAs[Long]("overlap_at_k") == 5)
    // q4 exists only in A: row present, zeros
    assert(out(4L).getAs[Long]("n_b") == 0 &&
      out(4L).getAs[Double]("rbo_norm") == 0.0)
  }

  test("corpusBleu2: hand-checked clipping, exact geometric mean on " +
      "power-of-two ratios, brevity penalty, degenerate nulls") {
    // g1: ref "a b c d", cand "a a b c" — clip: p1 = 3/4, p2 = 2/3,
    // same length so BP = 0; lg-gap telescopes to L(4) − L(2) = 2^20
    // exactly, so bleu_bits = −0.5 = log2 sqrt(p1·p2) EXACTLY
    val df = Seq(
      ("g1", 1L, "a a b c", "a b c d"),
      ("g2", 2L, "a b c", "a b c d e f g"), // pure deletion: BP branch
      ("g3", 3L, "", "x y z"),              // empty candidate
      ("g4", 4L, "p q", "z z z")            // zero matches -> null bleu
    ).toDF("g", "id", "cand", "ref")
    val out = EvalMetrics.corpusBleu2(df, Seq(col("g")), col("id"),
      col("cand"), col("ref")).collect()
      .map(r => r.getString(0) -> r).toMap
    val g1 = out("g1")
    assert(g1.getAs[Long]("match1") == 3 && g1.getAs[Long]("tot1") == 4)
    assert(g1.getAs[Long]("match2") == 2 && g1.getAs[Long]("tot2") == 3)
    assert(g1.getAs[Long]("bp_fp") == 0)
    assert(g1.getAs[Double]("bleu_bits") == -0.5)
    // g2: all grams match (p1 = p2 = 1), BP = −floor(4·1512775/3)/2^20
    val g2 = out("g2")
    assert(g2.getAs[Long]("match2") == 2 && g2.getAs[Long]("tot2") == 2)
    assert(g2.getAs[Long]("bp_fp") == -(4L * 1512775L / 3L))
    assert(g2.getAs[Long]("bleu_fp") == g2.getAs[Long]("bp_fp"))
    // g3: empty candidate -> zero everything, null bleu, bp null (c=0)
    val g3 = out("g3")
    assert(g3.getAs[Long]("tot1") == 0 && g3.getAs[Any]("bleu_fp") == null)
    assert(g3.getAs[Any]("bp_fp") == null)
    // g4: candidate shares nothing with the reference
    assert(out("g4").getAs[Long]("match1") == 0 &&
      out("g4").getAs[Any]("bleu_bits") == null)
  }

  test("BleuDocStats kernel == string-gram driver replica on random token " +
      "streams (clip, totals, lengths; empty and single-token edges)") {
    // expected from STRING n-grams (no hashes): any divergence in the
    // kernel's fold/sort/merge path shows up against this
    def grams(toks: Seq[String], n: Int): Seq[String] =
      if (toks.size < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
    def clip(cand: Seq[String], ref: Seq[String]): Long = {
      val rc = ref.groupBy(identity).view.mapValues(_.size).toMap
      cand.groupBy(identity).map { case (g, occ) =>
        math.min(occ.size, rc.getOrElse(g, 0)).toLong }.sum
    }
    val rnd = new scala.util.Random(278)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ffff")
    val cases = (Seq(("", "x y"), ("x", "x"), ("a", "b")) ++
      Seq.fill(40) {
        def s() = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
        (s(), s())
      }).zipWithIndex.map { case ((c, r), i) => (i.toLong, c, r) }
    val out = cases.toDF("id", "cand", "ref")
      .select(col("id"), graft.functions.BleuDocStats.expr(
        col("cand"), col("ref")).as("st"))
      .select(col("id"), col("st.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    cases.foreach { case (id, c, r) =>
      val (ct, rt) = (c.split("\\s+").filter(_.nonEmpty).toSeq,
        r.split("\\s+").filter(_.nonEmpty).toSeq)
      val row = out(id)
      assert(row.getLong(1) == ct.size && row.getLong(2) == rt.size,
        s"lengths for case $id")
      assert(row.getLong(3) == clip(grams(ct, 1), grams(rt, 1)),
        s"m1 for case $id")
      assert(row.getLong(4) == grams(ct, 1).size.toLong, s"t1 for case $id")
      assert(row.getLong(5) == clip(grams(ct, 2), grams(rt, 2)),
        s"m2 for case $id")
      assert(row.getLong(6) == grams(ct, 2).size.toLong, s"t2 for case $id")
    }
  }

  /** Driver replica of the Wilcoxon z² rational. */
  private def refWilcoxon(ds: Seq[Long]): (Long, Long, Option[Double]) = {
    val nz = ds.filter(_ != 0)
    val n = nz.size.toLong
    def r2(ad: Long): Long =
      2L * nz.count(x => math.abs(x) < ad) + nz.count(x => math.abs(x) == ad) + 1
    val w2p = nz.filter(_ > 0).map(d => BigInt(r2(math.abs(d)))).sum
    val t3 = nz.map(math.abs).groupBy(identity).values
      .map(g => { val t = BigInt(g.size); t * t * t - t }).sum
    val diff = w2p * 2 - BigInt(n) * (n + 1)
    val vd = BigInt(n) * (n + 1) * (2 * n + 1) * 2 - t3
    val z2 = if (n > 0 && vd > 0) {
      val num = diff * diff * 3
      Some(((num * 2000000 + vd) / (vd * 2)).toDouble / 1e6)
    } else None
    (n, nz.count(_ > 0).toLong, z2)
  }

  test("wilcoxonSignedRank: driver replica with ties; zeros discarded; " +
      "shifted pairs significant; symmetric in sign") {
    val rnd = new scala.util.Random(31)
    val ds = Seq.fill(120)(rnd.nextLong(21) - 10) // ties + zeros
    val df = ds.zipWithIndex
      .map { case (d, i) => ("g", 100L + d, 100L, i) }
      .toDF("g", "x", "y", "i")
    val out = EvalMetrics.wilcoxonSignedRank(df, Seq(col("g")), col("x"),
      col("y")).collect().head
    val (n, np, z2) = refWilcoxon(ds)
    assert(out.getAs[Long]("n_pairs") == n)
    assert(out.getAs[Long]("n_pos") == np)
    assert(out.getAs[Long]("n_neg") == n - np)
    assert(out.getAs[Double]("z2") == z2.get)
    // planted one-sided shift: significant
    val shift = (1L to 50L).map(i => ("g", i + 7L, i)).toDF("g", "x", "y")
    val s = EvalMetrics.wilcoxonSignedRank(shift, Seq(col("g")), col("x"),
      col("y")).collect().head
    assert(s.getAs[Int]("significant") == 1)
    assert(s.getAs[Double]("w_pos") == (1 to 50).map(_.toDouble).sum)
    // swapping x and y flips n_pos/n_neg but preserves z2
    val sw = EvalMetrics.wilcoxonSignedRank(shift, Seq(col("g")), col("y"),
      col("x")).collect().head
    assert(sw.getAs[Double]("z2") == s.getAs[Double]("z2"))
    assert(sw.getAs[Long]("n_pos") == 0 && sw.getAs[Long]("n_neg") == 50)
    // all-zero differences: the group vanishes (nothing to rank)
    val zero = (1L to 10L).map(i => ("g", i, i)).toDF("g", "x", "y")
    assert(EvalMetrics.wilcoxonSignedRank(zero, Seq(col("g")), col("x"),
      col("y")).count() == 0)
  }

  test("withIsqrt: exact against BigInteger.sqrt at squares, their " +
      "neighbours, near 2^53 and past 2^63; a seed off the window fails loud") {
    def root(v: BigInt) = BigInt(v.bigInteger.sqrt())
    // k² ± 1 around k = 94906266 straddles 2^53, where the double cast of
    // the radicand starts rounding; k = 2^40 + 7 puts k² − 1 on the same
    // double as k², so the seed lands one above the root
    val ks = Seq(BigInt(1), BigInt(2), BigInt(94906265), BigInt(94906266),
      BigInt(3037000499L), BigInt(3037000500L), BigInt(2).pow(40) + 7,
      BigInt(10).pow(15))
    val two53 = BigInt(2).pow(53)
    val vs = (Seq(BigInt(0), BigInt(3), two53 - 1, two53, two53 + 1,
      BigInt(Long.MaxValue), BigInt(Long.MaxValue) + 1) ++
      ks.flatMap(k => Seq(k * k - 1, k * k, k * k + 1))).distinct
    assert(vs.exists(_ > Long.MaxValue))
    val df = vs.map(v => (v.toString, v.toString)).toDF("id", "v")
    val out = EvalMetrics.withIsqrt(df, col("v").cast("decimal(38,0)"),
      "r", "test")
    assert(out.columns.toSeq == Seq("id", "v", "r"))
    val got = out.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    vs.foreach(v => assert(got(v.toString) == root(v).toLong, s"isqrt($v)"))
    // ~1e37: the double seed is dozens off the root — fail loud, never
    // a wrong root
    val huge = BigInt(10).pow(37) + 12345
    assert((BigInt(math.sqrt(huge.toDouble).toLong) - root(huge)).abs > 2)
    val e = intercept[Exception] {
      EvalMetrics.withIsqrt(Seq(huge.toString).toDF("v"),
        col("v").cast("decimal(38,0)"), "r", "test").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("test isqrt seed off")))
  }
}
