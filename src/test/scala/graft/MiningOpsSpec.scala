package graft

import graft.operators.{Divergence, Graph, Journey, TableOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave: HITS hubs/authorities, Gini concentration, vocabulary overlap
  * (q232–q234 operators) — each against a driver-side integer replica.
  */
class MiningOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------------------------------------------------------- HITS

  private def hitsOut(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iterations: Int): Map[Long, (Long, Long)] = {
    val n = nodes.toDF("id")
    val e = edges.toDF("src", "dst")
    Graph.hits(n, col("id"), e, col("src"), col("dst"), iterations)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** Driver-side replica of the max-normalized integer recurrence. */
  private def refHits(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iterations: Int): Map[Long, (Long, Long)] = {
    val scale = 1000000L
    var h = nodes.map(_ -> scale).toMap
    var a = nodes.map(_ -> 0L).toMap
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val m = raw.values.max
      if (m <= 0) raw.map { case (k, _) => k -> 0L }
      else raw.map { case (k, v) =>
        k -> (BigInt(v) * scale / m).toLong }
    }
    (1 to iterations).foreach { _ =>
      a = norm(nodes.map(v =>
        v -> edges.collect { case (s, d) if d == v => h(s) }.sum).toMap)
      h = norm(nodes.map(v =>
        v -> edges.collect { case (s, d) if s == v => a(d) }.sum).toMap)
    }
    nodes.map(v => v -> (h(v), a(v))).toMap
  }

  test("HITS matches the integer recurrence on a bipartite hub/authority graph") {
    // 0,1 are hubs pointing at 2,3,4; 5 is isolated
    val nodes = (0L to 5L)
    val edges = Seq((0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L), (1L, 3L))
    (1 to 3).foreach { it =>
      assert(hitsOut(nodes, edges, it) == refHits(nodes, edges, it),
        s"iteration $it")
    }
    val out = hitsOut(nodes, edges, 3)
    // 0 links to more good authorities than 1 → better hub; 2,3 beat 4
    assert(out(0L)._1 == 1000000L && out(0L)._1 > out(1L)._1)
    assert(out(2L)._2 > out(4L)._2)
    // isolated node: both scores zero after one round
    assert(out(5L) == ((0L, 0L)))
    // hubs are not authorities in a bipartite graph
    assert(out(0L)._2 == 0L && out(2L)._1 == 0L)
  }

  test("HITS on an edgeless graph yields all-zero scores, not a crash") {
    val out = hitsOut(Seq(1L, 2L), Seq.empty, 2)
    assert(out == Map(1L -> ((0L, 0L)), 2L -> ((0L, 0L))))
  }

  test("HITS ignores edges touching ids outside the node list") {
    // node 3 is NOT in the node list: (2,3) and (3,1) must not feed any
    // sum or the normalization max — same output as the filtered graph
    val nodes = Seq(0L, 1L, 2L)
    val dirty = Seq((0L, 1L), (0L, 2L), (2L, 3L), (3L, 1L))
    val clean = Seq((0L, 1L), (0L, 2L))
    assert(hitsOut(nodes, dirty, 2) == hitsOut(nodes, clean, 2))
    assert(hitsOut(nodes, dirty, 2) == refHits(nodes, clean, 2))
  }

  test("HITS compact kernel is bit-identical to the distributed loop " +
      "(compactEdgeLimit = 0 forces the loop), duplicate edges included") {
    // duplicate edge (0,2)×2 must be summed twice in both paths; 7 is
    // isolated, 5/6 touch unknown id 99 (dropped by both paths)
    val nodes = (0L to 7L)
    val edges = Seq((0L, 2L), (0L, 2L), (0L, 3L), (1L, 2L), (2L, 4L),
      (4L, 0L), (5L, 99L), (99L, 6L))
    (1 to 3).foreach { it =>
      val n = nodes.toDF("id")
      val e = edges.toDF("src", "dst")
      def run(limit: Long): Map[Long, (Long, Long)] =
        Graph.hits(n, col("id"), e, col("src"), col("dst"), it,
            compactEdgeLimit = limit)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      val compact = run(4000000L)
      val loop = run(0L)
      assert(compact == loop, s"iteration $it")
      assert(compact == refHits(nodes,
        edges.filter(p => nodes.contains(p._1) && nodes.contains(p._2)), it),
        s"iteration $it vs reference")
    }
  }

  test("HITS on a cycle reaches the uniform fixed point") {
    val nodes = Seq(0L, 1L, 2L)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val out = hitsOut(nodes, edges, 3)
    // all scores equal the scale: every max-normalization is a no-op
    nodes.foreach(v => assert(out(v) == ((1000000L, 1000000L))))
  }

  test("weighted pageRank == unweighted over the expanded multigraph") {
    val nodes = (0L to 5L).toDF("id")
    val weighted = Seq((0L, 1L, 3L), (1L, 2L, 1L), (2L, 0L, 2L),
      (3L, 0L, 5L), (0L, 4L, 1L))
    val expanded = weighted.flatMap { case (s, d, w) =>
      Seq.fill(w.toInt)((s, d)) }
    val a = Graph.pageRankWeighted(nodes, col("id"),
        weighted.toDF("s", "d", "w"), col("s"), col("d"), col("w"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRank(nodes, col("id"),
        expanded.toDF("s", "d"), col("s"), col("d"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  // ------------------------------------------------------------ TextRank

  test("textRank: a hub token beats satellites, ties break alphabetically") {
    // "center" co-occurs with every satellite; satellites only see the
    // hub (and the window-2 neighbor satellite) — the hub must rank first
    val docs = Seq(
      (1L, "center alpha center beta center gamma center delta"),
      (2L, "center alpha center beta center gamma center delta"))
      .toDF("doc_id", "text")
    val out = Graph.textRank(docs, col("text"),
      window = 2, iterations = 3, topK = 5).collect()
    assert(out.head.getString(0) == "center")
    assert(out.head.getLong(1) > out(1).getLong(1))
    // output honors the (rank desc, token asc) contract
    val pairs = out.map(r => (r.getLong(1), r.getString(0))).toSeq
    assert(pairs == pairs.sortBy { case (r, t) => (-r, t) })
    assert(out.length == 5)
  }

  test("textRank: self-pairs are excluded, a one-token doc yields no edges") {
    // "solo" repeats but never pairs with a DIFFERENT token: excluded
    // from the graph; tokens of doc 2 rank via their mutual edge
    val docs = Seq((1L, "solo solo solo"), (2L, "left right"))
      .toDF("doc_id", "text")
    val out = Graph.textRank(docs, col("text"),
      window = 2, iterations = 2, topK = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // solo has no edges: dangling node at the damping floor
    assert(out("solo") == 150000L)
    assert(out("left") == out("right") && out("left") > out("solo"))
  }

  private def textRankCorpus = (1 to 60).map { i =>
    (i.toLong, (0 until 25).map(j => s"w${(i * 7 + j * j) % 31}").mkString(" "))
  }.toDF("doc_id", "text")

  private def ranking(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  private def ranksCompact(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.toString.contains("text_rank_kernel")

  test("textRank: the observed row count gates the path; loop == compact") {
    val docs = textRankCorpus
    val (graph, nRows) = Graph.checkpointCooccurrence(docs, col("text"), 3)
    // the count read off the checkpoint job is the graph's row count:
    // edges plus dictionary, every row the compact path collects
    assert(nRows == graph.count())
    assert(nRows > 31 && nRows <= Graph.CompactEdgeLimit)
    def rank(n: Long) = Graph.rankCooccurrence(graph, n, 3)
      .orderBy(col("rank_fp").desc, col("token").asc)
    assert(ranksCompact(rank(nRows)))
    val compact = ranking(rank(nRows))
    assert(compact.size == 31)
    // a count above the limit takes the distributed loop
    assert(!ranksCompact(rank(Graph.CompactEdgeLimit + 1)))
    assert(ranking(rank(Graph.CompactEdgeLimit + 1)) == compact)
    assert(ranking(Graph.textRank(docs, col("text"),
      window = 3, iterations = 3, topK = 50)) == compact)
  }

  test("textRank: an empty corpus ranks nothing on either path") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (graph, nRows) = Graph.checkpointCooccurrence(empty, col("text"), 2)
    assert(nRows == 0L)
    Seq(0L, Graph.CompactEdgeLimit + 1).foreach { n =>
      assert(Graph.rankCooccurrence(graph, n, 3).collect().isEmpty)
    }
    assert(Graph.textRank(empty, col("text")).collect().isEmpty)
  }

  test("textRank: the gate counts dictionary rows; few edges rank alike on both paths") {
    // one two-token document and 40 one-token ones: 2 edge rows but 42
    // dictionary rows, all of which the compact path would collect
    val docs = (Seq("left right") ++ (1 to 40).map(i => s"solo$i")).toDF("text")
    val (graph, nRows) = Graph.checkpointCooccurrence(docs, col("text"), 2)
    val nEdges = graph.filter(col("b").isNotNull).count()
    assert(nEdges == 2L && nRows == 44L)
    val compact = Graph.rankCooccurrence(graph, nRows, 3)
    val loop = Graph.rankCooccurrence(graph, Graph.CompactEdgeLimit + 1, 3)
    assert(ranksCompact(compact) && !ranksCompact(loop))
    assert(ranking(loop).sorted == ranking(compact).sorted)
  }

  test("textRank: the builder runs one materialization and no probe job") {
    // the corpus is tokenized once into the checkpointed co-occurrence
    // frame and the path gate reads the count observed on that job: any
    // re-introduced probe, count or extra checkpoint adds a job here
    val docs = textRankCorpus.localCheckpoint()
    def build() = Graph.textRank(docs, col("text"))
    build().collect(): Unit // warm: codegen, not the steady-state count
    var built: org.apache.spark.sql.DataFrame = null
    val builderJobs = SparkTestSession.jobsDuring { built = build() }
    // measured 2: the kernel + partial aggregation stage and the
    // checkpoint job (the input already spans the default parallelism,
    // so no spread stage). The builder with three checkpoints and a
    // limit+count probe scheduled 11 here.
    assert(builderJobs <= 2,
      s"textRank's builder scheduled $builderJobs jobs (measured floor " +
        "is 2); a probe or an extra materialization crept back in")
    // the compact rank stage has no exchange: coalesce(1), the kernel and
    // the TakeOrdered run as one job (the outdegree aggregate, its join,
    // the collect shuffle and the dictionary join scheduled 5)
    val actionJobs = SparkTestSession.jobsDuring { built.collect(): Unit }
    assert(actionJobs == 1,
      s"textRank's compact rank action scheduled $actionJobs jobs, not 1")
  }

  // -------------------------------------------------------- concentration

  test("Gini: uniform values → 0, single-owner mass → (n-1)/n") {
    val uniform = Seq.fill(10)(("g", 500L)).toDF("k", "v")
    val r1 = TableOps.concentration(uniform, Seq(col("k")), col("v"))
      .collect().head
    assert(r1.getAs[Long]("n") == 10 && r1.getAs[Long]("total") == 5000)
    assert(r1.getAs[Double]("gini") == 0.0)
    // top decile of 10 uniform rows = 1 row = 10% of mass
    assert(r1.getAs[Double]("top_decile_share") == 0.1)

    val oneOwner = (Seq.fill(9)(("g", 0L)) :+ (("g", 900L))).toDF("k", "v")
    val r2 = TableOps.concentration(oneOwner, Seq(col("k")), col("v"))
      .collect().head
    assert(r2.getAs[Double]("gini") == 0.9) // (n-1)/n
    assert(r2.getAs[Double]("top_decile_share") == 1.0)
  }

  test("Gini is tie-permutation invariant and matches the sorted formula") {
    val vals = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L, 5L, 3L, 5L)
    val df = vals.map(("g", _)).toDF("k", "v")
    val out = TableOps.concentration(df, Seq(col("k")), col("v"))
      .collect().head
    val sorted = vals.sorted
    val n = sorted.size
    val s = sorted.sum
    val t = sorted.zipWithIndex.map { case (x, i) => (i + 1).toLong * x }.sum
    def micro(num: Long, den: Long): Double =
      ((2 * num * 1000000L + den) / (2 * den)).toDouble / 1e6
    assert(out.getAs[Double]("gini") == micro(2 * t - (n + 1) * s, n.toLong * s))
    val k = (n + 9) / 10
    assert(out.getAs[Double]("top_decile_share") ==
      micro(sorted.takeRight(k).sum, s))
  }

  test("concentration: null and negative values are excluded, groups separate") {
    val df = Seq(("a", java.lang.Long.valueOf(10L)),
      ("a", java.lang.Long.valueOf(-5L)), ("a", null.asInstanceOf[java.lang.Long]),
      ("a", java.lang.Long.valueOf(30L)), ("b", java.lang.Long.valueOf(7L)))
      .toDF("k", "v")
    val out = TableOps.concentration(df, Seq(col("k")), col("v"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
  }

  // -------------------------------------------------------- vocabOverlap

  test("ngramDiversity: looping source scores low distinct-2 while its " +
      "distinct-1 stays healthy; short docs yield 0 grams, null ratio") {
    val df = Seq(
      // 'loop' repeats one bigram transition over a healthy vocabulary
      ("loop", "a b a b a b a b"),
      ("loop", "b a b a b a"),
      // 'fresh' has all-distinct bigrams
      ("fresh", "a b c d e f g h"),
      // 'tiny' docs are all shorter than 2 tokens
      ("tiny", "x"), ("tiny", "")).toDF("source", "text")
    val d1 = Divergence.ngramDiversity(df, col("source"), col("text"), 1)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"))).toMap
    assert(d1("loop") == ((14L, 2L)) && d1("fresh") == ((8L, 8L)))
    assert(d1("tiny") == ((1L, 1L)))
    val d2 = Divergence.ngramDiversity(df, col("source"), col("text"), 2)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"),
          Option(r.getAs[Any]("distinct_ratio")))).toMap
    // loop: 7 + 5 = 12 bigrams, only {a b, b a} distinct
    assert(d2("loop")._1 == 12L && d2("loop")._2 == 2L)
    assert(d2("fresh")._1 == 7L && d2("fresh")._2 == 7L)
    // every tiny doc is shorter than the gram: zero grams, NULL ratio
    assert(d2("tiny") == ((0L, 0L, None)))
    // the audit's point: loop's bigram ratio collapses (2/12) while
    // fresh stays 1.0 on both axes
    assert(d2("fresh")._3.contains(1.0))
    assert(d2("loop")._3.get.asInstanceOf[Double] < 0.2)
    // hash64 production mode: identical rows on a collision-free input
    // (the q271 sizing — grams ride the 61-bit fold, no gram strings)
    for (n <- 1 to 2) {
      val str = Divergence.ngramDiversity(df, col("source"), col("text"), n)
        .collect().map(_.toSeq).toSet
      val h = Divergence.ngramDiversity(df, col("source"), col("text"), n,
        hash64 = true).collect().map(_.toSeq).toSet
      assert(h == str, s"hash64 mode diverged at n=$n")
    }
  }

  test("jsDivergence: identical halves read 0; disjoint vocabularies " +
      "read exactly 1 bit; symmetric; one-empty-side -> null") {
    // identical halves
    val same = Seq(("s", false, "a b c a"), ("s", true, "a b c a"))
      .toDF("src", "h", "text")
    val r0 = Divergence.jsDivergence(same, col("src"), col("h"), col("text"))
      .collect().head
    assert(r0.getAs[Double]("js_bits") == 0.0)
    // disjoint vocabularies: every token one-sided, lg 2 exact -> 1 bit
    val disj = Seq(("s", false, "a b c"), ("s", true, "x y z"))
      .toDF("src", "h", "text")
    val r1 = Divergence.jsDivergence(disj, col("src"), col("h"), col("text"))
      .collect().head
    assert(r1.getAs[Double]("js_bits") == 1.0)
    assert(r1.getAs[Long]("v_union") == 6)
    // symmetry: swapping the arms preserves the value
    val mixed = Seq(("s", false, "a a b c"), ("s", true, "a b b d e"))
      .toDF("src", "h", "text")
    val f = Divergence.jsDivergence(mixed, col("src"), col("h"),
      col("text")).collect().head
    val g = Divergence.jsDivergence(mixed, col("src"), !col("h"),
      col("text")).collect().head
    assert(f.getAs[Double]("js_bits") == g.getAs[Double]("js_bits"))
    val js = f.getAs[Double]("js_bits")
    assert(js > 0.0 && js < 1.0)
    // one empty side -> null
    val oneSided = Seq(("s", false, "a b")).toDF("src", "h", "text")
    assert(Divergence.jsDivergence(oneSided, col("src"), col("h"),
      col("text")).collect().head.getAs[Any]("js_bits") == null)
    // null-arm rows are excluded entirely: their tokens must not
    // inflate v_union or either side's totals
    val withNull = Seq(("s", Some(false), "a b"), ("s", Some(true), "a c"),
      ("s", None, "zzz qqq rrr")).toDF("src", "h", "text")
    val nr = Divergence.jsDivergence(withNull, col("src"), col("h"),
      col("text")).collect().head
    assert(nr.getAs[Long]("v_union") == 3) // a, b, c — never zzz/qqq/rrr
    assert(nr.getAs[Long]("n_p") == 2 && nr.getAs[Long]("n_q") == 2)
  }

  test("vocabRichness: hand-checked Chao1 and Good-Turing; all-distinct " +
      "and all-repeated corners") {
    val df = Seq(("s", "a a b c")).toDF("src", "text")
    val r = Divergence.vocabRichness(df, col("src"), col("text"))
      .collect().head
    // N=4 V=3 F1=2 F2=1: chao1 = 3 + 2*1/(2*2) = 3.5, gt = 2/4
    assert(r.getAs[Long]("n_tokens") == 4 && r.getAs[Long]("v_obs") == 3)
    assert(r.getAs[Long]("f1") == 2 && r.getAs[Long]("f2") == 1)
    assert(r.getAs[Double]("chao1") == 3.5)
    assert(r.getAs[Double]("gt_unseen") == 0.5)
    // all distinct: F2=0 -> bias-corrected V + V(V-1)/2
    val d2 = Seq(("s", "p q r")).toDF("src", "text")
    val r2 = Divergence.vocabRichness(d2, col("src"), col("text"))
      .collect().head
    assert(r2.getAs[Double]("chao1") == 3.0 + 3.0)
    // one token repeated: F1=0 -> chao1 = V, unseen mass 0
    val d3 = Seq(("s", "z z z z")).toDF("src", "text")
    val r3 = Divergence.vocabRichness(d3, col("src"), col("text"))
      .collect().head
    assert(r3.getAs[Double]("chao1") == 1.0)
    assert(r3.getAs[Double]("gt_unseen") == 0.0)
  }

  test("vocabOverlap: exact Jaccard over distinct-token supports, empty pairs kept") {
    val df = Seq(
      ("s1", "red green blue"),
      ("s1", "red yellow"),
      ("s2", "blue green black"),
      ("s3", "nothing shared here")).toDF("src", "text")
    val out = Divergence.vocabOverlap(df, col("src"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("v_a"), r.getAs[Long]("v_b"), r.getAs[Long]("inter"),
          r.getAs[Long]("n_union"), r.getAs[Double]("jaccard"))).toMap
    // s1 = {red,green,blue,yellow} (4), s2 = {blue,green,black} (3)
    assert(out(("s1", "s2")) == ((4L, 3L, 2L, 5L, 0.4)))
    // disjoint pair still reported
    assert(out(("s1", "s3")) == ((4L, 3L, 0L, 7L, 0.0)))
    assert(out(("s2", "s3")) == ((3L, 3L, 0L, 6L, 0.0)))
    assert(out.size == 3)
  }

  test("vocabOverlap keeps sources whose vocabulary is empty") {
    val df = Seq(("s1", "alpha beta"), ("s2", "   "), ("s3", ""))
      .toDF("src", "text")
    val out = Divergence.vocabOverlap(df, col("src"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("v_a"), r.getAs[Long]("v_b"),
          r.getAs[Any]("jaccard"))).toMap
    assert(out.size == 3)
    assert(out(("s1", "s2")) == ((2L, 0L, 0.0)))
    // both vocabularies empty: union 0 -> jaccard null, row kept
    assert(out(("s2", "s3")) == ((0L, 0L, null)))
  }

  // --------------------------------------------------- mutualInformation

  test("MI: exactly independent columns give 0 everywhere, identical give H(X)") {
    // 64-row uniform grid: x = i mod 4 and y = (i div 4) mod 4 are
    // exactly independent (n·n_xy = 64·4 = n_x·n_y = 16·16)
    val indep = (0 until 64).map(i => (i % 4, (i / 4) % 4)).toDF("a", "b")
    val out1 = Divergence.mutualInformation(indep, col("a"), col("b"))
      .collect()
    assert(out1.length == 16)
    assert(out1.forall(_.getAs[Double]("pmi_bits") == 0.0))
    assert(out1.forall(_.getAs[Double]("mi_bits") == 0.0))

    // identical columns: MI = H(X) = log2(4) = 2 bits, every cell PMI = 2
    // (all arguments are powers of two — the LUT path is exact)
    val same = (0 until 64).map(i => (i % 4, i % 4)).toDF("a", "b")
    val out2 = Divergence.mutualInformation(same, col("a"), col("b"))
      .collect()
    assert(out2.length == 4)
    assert(out2.forall(_.getAs[Double]("pmi_bits") == 2.0))
    assert(out2.forall(_.getAs[Double]("mi_bits") == 2.0))
  }

  test("MI: over-represented cells carry positive PMI, starved cells negative") {
    // 3 copies of (1,1) vs 1 copy of each off-diagonal of a 2x2 grid
    val df = (Seq.fill(3)((1, 1)) ++ Seq((1, 2), (2, 1), (2, 2))).toDF("a", "b")
    val pmi = Divergence.mutualInformation(df, col("a"), col("b"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Double]("pmi_bits"))
      .toMap
    assert(pmi((1, 1)) > 0.0 && pmi((2, 2)) > 0.0) // diagonal enriched
    assert(pmi((1, 2)) < 0.0 && pmi((2, 1)) < 0.0)
  }

  // ---------------------------------------------------- bootstrapMeanCi

  /** Driver-side replica of the full deterministic bootstrap. */
  private def refBootstrap(rows: Seq[(Long, Long)], b: Int,
      alphaPermille: Int): (Long, Double, Double, Double, Long) = {
    def micro(num: BigInt, den: BigInt): Long = {
      val q = ((num.abs * 2000000 + den) / (den * 2)).toLong
      if (num < 0) -q else q
    }
    val cum = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L,
      999917L, 999990L)
    val means = (0 until b).flatMap { r =>
      val ws = rows.map { case (k, x) =>
        val u = ((k % 1000003L) * 2654435761L + r * 40503L) % 1000000L
        (cum.indexWhere(u < _) match { case -1 => 8L; case i => i.toLong }, x)
      }
      val sw = ws.map(_._1).sum
      if (sw == 0) None
      else Some(micro(ws.map { case (w, x) => BigInt(w) * x }.sum, BigInt(sw)))
    }.sorted
    val bEff = means.size
    val lo = means((bEff * alphaPermille + 999) / 1000 - 1)
    val hi = means((bEff * (1000 - alphaPermille) + 999) / 1000 - 1)
    val mean = micro(rows.map(r => BigInt(r._2)).sum, BigInt(rows.size))
    (rows.size.toLong, mean / 1e6, lo / 1e6, hi / 1e6, bEff.toLong)
  }

  test("bootstrap CI matches the driver-side deterministic replica") {
    val rows = (1L to 97L).map(k => (k, (k * k * 131) % 5000))
    val df = rows.map { case (k, x) => ("g", k, x) }.toDF("grp", "k", "x")
    val out = TableOps.bootstrapMeanCi(df, Seq(col("grp")), col("k"),
      col("x"), b = 40).collect().head
    val exp = refBootstrap(rows, 40, 25)
    assert((out.getAs[Long]("n"), out.getAs[Double]("mean"),
      out.getAs[Double]("ci_lo"), out.getAs[Double]("ci_hi"),
      out.getAs[Long]("b_eff")) == exp)
    assert(out.getAs[Double]("ci_lo") <= out.getAs[Double]("mean"))
    assert(out.getAs[Double]("mean") <= out.getAs[Double]("ci_hi"))
  }

  test("bootstrap CI on constant values collapses to the constant") {
    val df = (1L to 60L).map(k => ("g", k, 777L)).toDF("grp", "k", "x")
    val out = TableOps.bootstrapMeanCi(df, Seq(col("grp")), col("k"),
      col("x"), b = 40).collect().head
    assert(out.getAs[Long]("b_eff") == 40L)
    assert(out.getAs[Double]("mean") == 777.0)
    assert(out.getAs[Double]("ci_lo") == 777.0)
    assert(out.getAs[Double]("ci_hi") == 777.0)
  }

  // -------------------------------------------------------------- RFM

  test("RFM: value-quantile scores match (rank-1)*5 div n + 1, ties share") {
    def d(days: Int) =
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
    // 10 customers; customer c places c orders of 100*c cents on day 100+c;
    // customers 4 and 5 forced to TIE on frequency (both 4 orders)
    val orders = (1 to 10).flatMap { c =>
      val nOrders = if (c == 5) 4 else c
      (1 to nOrders).map(_ => (c.toLong, d(100 + c), c * 100L))
    }.toDF("cust", "dt", "cents")
    val out = Journey.rfmScores(orders, col("cust"), col("dt"), col("cents"))
      .collect()
      .map(r => r.getAs[Long]("customer") ->
        (r.getAs[Long]("recency_days"), r.getAs[Long]("frequency"),
          r.getAs[Long]("monetary"), r.getAs[Long]("r_score"),
          r.getAs[Long]("f_score"), r.getAs[Long]("m_score"),
          r.getAs[Long]("segment"))).toMap
    assert(out.size == 10)
    def score(rankMinus1: Int) = rankMinus1 * 5 / 10 + 1
    (1 to 10).foreach { c =>
      val (rd, fq, mon, rs, fs, ms, seg) = out(c.toLong)
      val nOrders = if (c == 5) 4 else c
      assert(rd == 100L + c && fq == nOrders && mon == nOrders * c * 100L)
      assert(rs == score(c - 1), s"r_score cust $c") // distinct recencies
      assert(seg == rs * 100 + fs * 10 + ms)
    }
    // frequency ties: customers 4 and 5 share f_score (2 smaller: 1,2,3)
    assert(out(4L)._5 == out(5L)._5 && out(4L)._5 == score(3))
    // customer 10: top of every axis
    assert(out(10L)._4 == 5 && out(10L)._6 == 5)
  }

  // ---------------------------------------- theilSen / dispersion / topN

  test("theilSen: exact line recovers the slope, one outlier cannot move it") {
    val clean = (1L to 21L).map(t => ("g", t, 5 * t + 3))
    val withOutlier = clean.updated(10, ("g", 11L, 999999L))
    def slopeOf(rows: Seq[(String, Long, Long)]) =
      Journey.theilSen(rows.toDF("k", "t", "y"), Seq(col("k")), col("t"),
        col("y")).collect().head.getAs[Double]("slope")
    assert(slopeOf(clean) == 5.0)
    assert(slopeOf(withOutlier) == 5.0) // median shrugs off the spike
  }

  test("theilSen: lower median on even pair counts, null under 2 points") {
    // 3 points -> 3 pairs (odd); 4 points -> 6 pairs: rank (6+1) div 2 = 3
    val rows = Seq(("g", 0L, 0L), ("g", 1L, 1L), ("g", 2L, 4L), ("g", 3L, 9L))
    val out = Journey.theilSen(rows.toDF("k", "t", "y"), Seq(col("k")),
      col("t"), col("y")).collect().head
    val slopes = (for {
      i <- rows.indices; j <- i + 1 until rows.size
    } yield (rows(j)._3 - rows(i)._3) * 1000000L /
        (rows(j)._2 - rows(i)._2)).sorted
    assert(out.getAs[Long]("n_pairs") == 6L)
    assert(out.getAs[Double]("slope") == slopes((6 + 1) / 2 - 1) / 1e6)

    val single = Journey.theilSen(Seq(("g", 1L, 1L)).toDF("k", "t", "y"),
      Seq(col("k")), col("t"), col("y")).collect().head
    assert(single.getAs[Long]("n_points") == 1L)
    assert(single.getAs[Long]("n_pairs") == 0L)
    assert(single.getAs[Any]("slope") == null)
  }

  test("theilSenBlocked: bit-identical to theilSen across block shapes") {
    val rnd = new scala.util.Random(17)
    // 3 groups x 500 noisy points: planted slopes 3, -7, 0 with outliers
    val rows = for {
      (g, m) <- Seq(("a", 3L), ("b", -7L), ("c", 0L))
      t <- 1L to 500L
    } yield (g, t, m * t + rnd.nextInt(40) -
      (if (rnd.nextInt(50) == 0) 100000L else 0L))
    val df = rows.toDF("k", "t", "y")
    val flat = Journey.theilSen(df, Seq(col("k")), col("t"), col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // blockSize spanning one-block (degenerate), uneven tail, and tiny
    for (bs <- Seq(2, 33, 128, 1000)) {
      val blocked = Journey.theilSenBlocked(df, Seq(col("k")), col("t"),
          col("y"), blockSize = bs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(blocked === flat, s"estimator diverged at blockSize=$bs")
    }
    // and with a tiny refineThreshold every group takes the hot-bucket
    // refinement pass (real slope distributions concentrate: a planted
    // line puts nearly all pairs in one 2^30 bucket) — still identical
    val refined = Journey.theilSenBlocked(df, Seq(col("k")), col("t"),
        col("y"), blockSize = 64, refineThreshold = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(refined === flat, "estimator diverged on the refinement path")
    // and the kernel work really decomposes: the un-checkpointed unit
    // frame (the checkpoint truncates executedPlan to a scan) must pin
    // its exchange on (gid, block-pair) — hashpartitioning over __ba /
    // __bb — never group alone, and the final plan must run the
    // selection through the compiled kernel
    val unitPlan = Journey.unitFrameForPlanCheck(df, Seq(col("k")),
        col("t"), col("y"), blockSize = 50)
      .queryExecution.executedPlan.toString
    assert(unitPlan.contains("hashpartitioning") &&
      unitPlan.contains("__ba") && unitPlan.contains("__bb"),
      "unit frame no longer pins its exchange on (gid, block-pair)")
    val plan = Journey.theilSenBlocked(df, Seq(col("k")), col("t"),
        col("y"), blockSize = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("theil_pair_scan"),
      "selection no longer runs through the compiled pair kernel")
  }

  test("theilSenBlocked: scheduled-job count stays at the shaved floor") {
    // The q253 job-count shave (19 -> 10 scheduled jobs, -22% cold wall)
    // is load-bearing for the small-scale floor, but nothing guarded the
    // COUNT: an innocently re-introduced eager broadcast/collect would
    // regress wall without failing any correctness spec. PlanGuardSpec's
    // idea applied to the scheduler: count SparkListenerJobStart events
    // across one steady-state execution and pin the ceiling.
    val rows = for { g <- Seq("a", "b"); t <- 1L to 600L }
      yield (g, t, 3 * t + t % 7)
    // localCheckpoint BEFORE counting: input materialization jobs are
    // the caller's, not the operator's
    val df = rows.toDF("k", "t", "y").localCheckpoint()
    def run(): Unit = Journey.theilSenBlocked(df, Seq(col("k")),
      col("t"), col("y"), blockSize = 128).collect(): Unit
    run() // warm: codegen + JIT, not the steady-state count
    val jobs = SparkTestSession.jobsDuring(run())
    // steady state at this shape measures 14: the internal eager
    // stages (block checkpoint, group-map take, unit checkpoint,
    // histogram + per-group selection passes, AQE off) plus the final
    // collect executing the RETURNED plan under caller conf (AQE on,
    // so its query stages submit as separate jobs). Pinned at the
    // measured count: the pre-shave form scheduled ~1.9x this (an
    // eager broadcast job per selection stage), which is exactly the
    // regression this guard exists to catch.
    assert(jobs <= 14,
      s"theilSenBlocked scheduled $jobs jobs (measured shaved " +
        "floor at this shape is 14); an eager stage crept back in")
  }

  // --------------------------------------------- TheilPairScan kernel

  /** Brute-force reference: exact micro-slopes of every valid pair. */
  private def refSlopes(a: Seq[(Long, Long)], b: Seq[(Long, Long)],
      same: Boolean): Seq[Long] =
    for {
      (t1, y1) <- a; (t2, y2) <- b
      if (if (same) t1 < t2 else t1 != t2)
    } yield {
      val dy = BigInt(y2) - BigInt(y1); val dx = BigInt(t2) - BigInt(t1)
      val q = (dy.abs * 1000000 / dx.abs).toLong
      if (dy == 0) 0L else if ((dy < 0) != (dx < 0)) -q else q
    }

  private def scanDf(a: Seq[(Long, Long)], b: Seq[(Long, Long)],
      same: Boolean, bucket: Long, fs: Int, es: Int) = {
    import graft.functions.TheilPairScan
    Seq((a, b)).toDF("a", "b")
      .select(explode(TheilPairScan.expr(col("a"), col("b"),
        lit(same), lit(bucket), fs, es)).as("o"))
  }

  test("TheilPairScan: histogram and raw-slope modes match brute force") {
    val rnd = new scala.util.Random(41)
    val blkA = (1L to 60L).map(t => (t, rnd.nextLong(2000000) - 1000000))
    val blkB = (61L to 130L).map(t => (t, rnd.nextLong(2000000) - 1000000))
    for ((a, b, same) <- Seq((blkA, blkA, true), (blkA, blkB, false))) {
      val ref = refSlopes(a, b, same)
      val refHist = ref.groupBy(_ >> 30).view.mapValues(_.size.toLong)
        .toMap
      val hist = scanDf(a, b, same, 0L, -1, 30)
        .select(col("o.b"), col("o.c")).as[(Long, Long)].collect().toMap
      assert(hist === refHist)
      // raw slopes inside the modal bucket, exactly the reference's
      val hotB = refHist.maxBy(_._2)._1
      val raw = scanDf(a, b, same, hotB, 30, -1)
        .as[Long].collect().sorted.toSeq
      assert(raw === ref.filter(s => (s >> 30) == hotB).sorted)
    }
  }

  test("TheilPairScan: wide |dy| takes the exact BigInt path") {
    // |dy| just past the 9223372036854 long fast-path bound
    val a = Seq((0L, 0L)); val b = Seq((3L, 9223372036855L))
    val s = scanDf(a, b, same = false, 0L, -1, -1).as[Long].collect()
    assert(s.toSeq === Seq(9223372036855L * BigInt(1000000) / 3 match {
      case v => v.toLong
    }))
  }

  test("TheilPairScan: overflow fails loud, never wraps") {
    // dy overflows long: subtractExact must throw, like the SQL twin
    // under ANSI
    val a = Seq((0L, Long.MinValue + 1)); val b = Seq((1L, Long.MaxValue))
    val e = intercept[org.apache.spark.SparkException] {
      scanDf(a, b, same = false, 0L, -1, -1).collect()
    }
    assert(e.getMessage.contains("overflow") ||
      e.getCause != null)
  }

  test("TheilPairScan: mis-typed children fail at analysis") {
    val df = Seq((Seq(1L), Seq(2L))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.TheilPairScan.expr(col("a"), col("b"),
        lit(true), lit(0L), -1, 30)).collect()
    }
    assert(e.getMessage.contains("theil_pair_scan requires"))
  }

  // --------------------------------------------- Mann–Kendall trend test

  /** Driver-side exact MK: S, tie-corrected 18·Var, continuity z². */
  private def refMk(pts: Seq[(Long, Long)]): (Long, BigInt) = {
    var s = 0L
    for (i <- pts.indices; j <- i + 1 until pts.size
         if pts(i)._1 != pts(j)._1) {
      val (a, b) = if (pts(i)._1 < pts(j)._1) (pts(i), pts(j))
        else (pts(j), pts(i))
      s += java.lang.Long.signum(java.lang.Long.compare(b._2, a._2)).toLong
    }
    val n = BigInt(pts.size)
    val tcorr = pts.groupBy(_._2).values
      .map(g => { val t = BigInt(g.size); t * (t - 1) * (2 * t + 5) }).sum
    (s, n * (n - 1) * (2 * n + 5) - tcorr)
  }

  test("mannKendallBlocked: exact S/var18 vs brute force, across block " +
      "shapes") {
    val rnd = new scala.util.Random(31)
    val pts = (1L to 300L).map(t => (t, rnd.nextLong(40))) // heavy y-ties
    val df = pts.map { case (t, y) => ("g", t, y) }.toDF("k", "t", "y")
    val (refS, refVar) = refMk(pts)
    for (bs <- Seq(2, 33, 128, 1000)) {
      val out = Journey.mannKendallBlocked(df, Seq(col("k")), col("t"),
        col("y"), blockSize = bs).collect().head
      assert(out.getAs[Long]("s") == refS, s"S diverged at blockSize=$bs")
      assert(out.getAs[Long]("var18") == refVar.toLong)
      assert(out.getAs[Long]("n_pairs") == 300L * 299 / 2)
      assert(out.getAs[Long]("n_points") == 300L)
    }
  }

  test("mannKendallBlocked: planted trend significant with the right " +
      "sign; constant series null z2; shuffled noise insignificant") {
    val up = (1L to 100L).map(t => ("g", t, 3 * t + (t % 7)))
      .toDF("k", "t", "y")
    val r1 = Journey.mannKendallBlocked(up, Seq(col("k")), col("t"),
      col("y"), blockSize = 16).collect().head
    assert(r1.getAs[Int]("significant") == 1)
    assert(r1.getAs[Double]("tau") > 0.9)
    val const = (1L to 50L).map(t => ("g", t, 7L)).toDF("k", "t", "y")
    val r2 = Journey.mannKendallBlocked(const, Seq(col("k")), col("t"),
      col("y"), blockSize = 16).collect().head
    assert(r2.getAs[Long]("s") == 0L)
    assert(r2.getAs[Any]("z2") == null) // variance 0 — undefined, not 0
    val rnd = new scala.util.Random(5)
    val noise = (1L to 200L).map(t => ("g", t, rnd.nextLong(1000000)))
      .toDF("k", "t", "y")
    val r3 = Journey.mannKendallBlocked(noise, Seq(col("k")), col("t"),
      col("y"), blockSize = 64).collect().head
    assert(r3.getAs[Int]("significant") == 0,
      s"random series flagged significant: $r3")
  }

  test("theilSenBlocked: single-point group -> null slope, like theilSen") {
    val rows = Seq(("g", 1L, 1L), ("h", 1L, 1L), ("h", 2L, 5L))
    val out = Journey.theilSenBlocked(rows.toDF("k", "t", "y"),
      Seq(col("k")), col("t"), col("y"), blockSize = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g").getAs[Long]("n_pairs") == 0L)
    assert(out("g").getAs[Any]("slope") == null)
    assert(out("h").getAs[Double]("slope") == 4.0)
  }

  test("topNOther: ranks by (total desc, key asc), pools the tail") {
    val df = Seq(("a", 5L), ("a", 5L), ("b", 10L), ("c", 10L), ("d", 3L),
      ("e", 2L), ("e", 1L)).toDF("k", "w")
    val out = TableOps.topNOther(df, col("k"), col("w"), n = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // totals: a=10, b=10, c=10, d=3, e=3 -> top3 = a,b,c (tie by key)
    assert(out("a") == ((10L, 1L, 1L)))
    assert(out("b") == ((10L, 1L, 2L)))
    assert(out("c") == ((10L, 1L, 3L)))
    assert(out("__other__") == ((6L, 2L, 4L)))
    assert(out.size == 4)

    // n covers everything: no __other__ row
    val all = TableOps.topNOther(df, col("k"), col("w"), n = 10).collect()
    assert(all.length == 5 && !all.exists(_.getString(0) == "__other__"))
  }

  test("dispersionIndex: constant counts read 0, one hot bucket reads n(m-1)/m") {
    // 6 buckets x 1 event (t = 0,10,20,..,50, step 10)
    val flat = (0L to 50L by 10).map(t => ("g", t)).toDF("k", "t")
    val r1 = Journey.dispersionIndex(flat, Seq(col("k")), col("t"), 10L)
      .collect().head
    assert(r1.getAs[Long]("n_buckets") == 6L)
    assert(r1.getAs[Double]("dispersion") == 0.0)

    // 8 events all in bucket 0 of a 4-bucket span (one marker at t=39)
    val hot = ((1 to 8).map(_ => ("g", 0L)) :+ (("g", 39L))).toDF("k", "t")
    val r2 = Journey.dispersionIndex(hot, Seq(col("k")), col("t"), 10L)
      .collect().head
    // counts over m=4: [9? no: 8 in bucket 0, 1 in bucket 3]
    // sc=9, sc2=65, m=4: D = (4*65 - 81)/(4*9) = 179/36 = 4.972222
    assert(r2.getAs[Long]("n_events") == 9L)
    assert(r2.getAs[Double]("dispersion") == 4.972222)

    // single-bucket span: undefined -> null
    val one = Seq(("g", 1L), ("g", 2L)).toDF("k", "t")
    assert(Journey.dispersionIndex(one, Seq(col("k")), col("t"), 10L)
      .collect().head.getAs[Any]("dispersion") == null)
  }

  // ---------------------------------------------------------- collocations

  test("collocations: the glued pair survives the gate, filler pairs fall under it") {
    // "new york" in all 28 docs; filler bigrams spread over 7 residues
    // (exactly 4 each — below minCount 5), so only the collocation
    // clears. B = 112, c = cx = cy = 28: pmi = log2(112*28/784) = 2.
    val docs = (0L until 28L).map(i =>
      (i, s"f${i % 7} f${(i * 3) % 7} new york f${(i * 5) % 7}"))
      .toDF("doc_id", "text")
    val out = Divergence.collocations(docs, col("doc_id"), col("text"),
      minCount = 5L, topK = 10).collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "new" && out.head.getString(1) == "york")
    assert(out.head.getAs[Long]("n_pair") == 28L)
    assert(out.head.getAs[Double]("pmi_bits") == 2.0)
  }

  test("collocations: PMI value matches the exact event-space formula") {
    // 4 docs of "a b", 4 of "c d": B=8 bigrams, c_ab=4, cx_a=4, cy_b=4
    // pmi = log2(8*4/(4*4)) = 1 bit exactly (power-of-two LUT path)
    val docs = ((1L to 4L).map((_, "a b")) ++ (5L to 8L).map((_, "c d")))
      .toDF("doc_id", "text")
    val out = Divergence.collocations(docs, col("doc_id"), col("text"),
      minCount = 2L, topK = 5).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("pmi_bits")).toMap
    assert(out(("a", "b")) == 1.0 && out(("c", "d")) == 1.0)
    assert(out.size == 2)
  }

  // ----------------------------------------------------------- changepoint

  test("changepoint: a planted step is found at the exact boundary") {
    val rows = ((1L to 30L).map(t => ("g", t, 10L)) ++
      (31L to 60L).map(t => ("g", t, 50L)))
    val out = Journey.changepoint(rows.toDF("k", "t", "y"), Seq(col("k")),
      col("t"), col("y")).collect().head
    assert(out.getAs[Long]("n_points") == 60L)
    assert(out.getAs[Long]("split_t") == 30L) // last t of the left segment
    assert(out.getAs[Int]("left_n") == 30)
    assert(out.getAs[Double]("mean_diff") == 40.0)
  }

  test("changepoint: constant series ties at zero gain, earliest k wins") {
    val rows = (1L to 10L).map(t => ("g", t, 7L))
    val out = Journey.changepoint(rows.toDF("k", "t", "y"), Seq(col("k")),
      col("t"), col("y")).collect().head
    assert(out.getAs[Long]("split_t") == 1L && out.getAs[Int]("left_n") == 1)
    assert(out.getAs[Double]("mean_diff") == 0.0)
  }

  test("changepoint matches a driver-side exhaustive search") {
    val ys = Seq(5L, 8L, 6L, 7L, 30L, 31L, 29L, 2L, 3L, 1L)
    val rows = ys.zipWithIndex.map { case (y, i) => ("g", i.toLong, y) }
    val out = Journey.changepoint(rows.toDF("k", "t", "y"), Seq(col("k")),
      col("t"), col("y")).collect().head
    val n = ys.size
    val sn = ys.sum
    val best = (1 until n).map { k =>
      val sk = ys.take(k).sum
      val a = BigInt(n) * sk - BigInt(k) * sn
      val den = BigInt(k) * (n - k)
      (a * a / den, -k, k)
    }.max
    assert(out.getAs[Int]("left_n") == best._3)
  }

  // ----------------------------------------- robustOutliers / skewProfile

  test("robustOutliers: hand-computed median/MAD, spike flagged") {
    // 1..11 plus a 1000 spike: median 6, MAD 3, only the spike clears
    // dev*1000 > 4448*3
    val df = ((1L to 11L) :+ 1000L).map(("g", _)).toDF("k", "v")
    val out = TableOps.robustOutliers(df, Seq(col("k")), col("v"))
      .collect().head
    assert(out.getAs[Long]("n") == 12L)
    assert(out.getAs[Long]("median") == 6L)
    assert(out.getAs[Long]("mad") == 3L)
    assert(out.getAs[Long]("n_outliers") == 1L)
  }

  test("quantileNormalize: single source is the identity; mapping " +
      "matches the driver-side exact convention with ties") {
    // identity law: one source -> every value maps to itself
    val one = (1L to 50L).map(v => ("a", v)).toDF("s", "x")
    val idMap = TableOps.quantileNormalize(one, col("s"), col("x"))
      .collect().map(r => r.getLong(1) -> r.getLong(3))
    assert(idMap.forall { case (v, pv) => v == pv },
      s"identity broken: ${idMap.filter(p => p._1 != p._2).toSeq}")
    // two sources with ties, vs the exact driver replica
    val rnd = new scala.util.Random(29)
    val rows = Seq.fill(120)(("a", rnd.nextLong(15))) ++
      Seq.fill(300)(("b", rnd.nextLong(40)))
    val out = TableOps.quantileNormalize(rows.toDF("s", "x"),
        col("s"), col("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val all = rows.map(_._2).sorted
    val nn = all.size.toLong
    def refMap(src: String): Map[Long, Long] = {
      val vs = rows.filter(_._1 == src).map(_._2)
      val ns = vs.size.toLong
      vs.distinct.map { v =>
        val r = vs.count(_ <= v).toLong
        val p = (r * nn + ns - 1) / ns
        v -> all((p - 1).toInt) // p-th smallest pooled row value
      }.toMap
    }
    for (src <- Seq("a", "b"); (v, pv) <- refMap(src)) {
      val (n, got) = out((src, v))
      assert(got == pv, s"($src, $v): got $got want $pv")
      assert(n == rows.count(r => r._1 == src && r._2 == v).toLong)
    }
    // mapping is monotone within each source (rank order preserved)
    for (src <- Seq("a", "b")) {
      val m = out.toSeq.filter(_._1._1 == src).sortBy(_._1._2)
        .map(_._2._2)
      assert(m.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("linearFit: exact line recovered; degenerate variance -> null; " +
      "driver replica on noise") {
    // y = 3x + 5 exactly: slope 3, intercept 5, r2 = 1
    val line = (1L to 40L).map(x => ("g", x, 3 * x + 5)).toDF("k", "x", "y")
    val r = TableOps.linearFit(line, Seq(col("k")), col("x"), col("y"))
      .collect().head
    assert(r.getAs[Double]("slope") == 3.0)
    assert(r.getAs[Double]("intercept") == 5.0)
    assert(r.getAs[Double]("r2") == 1.0)
    // constant x: no fit at all; constant y: slope 0, r2 null
    val cx = Seq(("g", 7L, 1L), ("g", 7L, 5L)).toDF("k", "x", "y")
    val rcx = TableOps.linearFit(cx, Seq(col("k")), col("x"), col("y"))
      .collect().head
    assert(rcx.getAs[Any]("slope") == null && rcx.getAs[Any]("r2") == null)
    val cy = (1L to 10L).map(x => ("g", x, 9L)).toDF("k", "x", "y")
    val rcy = TableOps.linearFit(cy, Seq(col("k")), col("x"), col("y"))
      .collect().head
    assert(rcy.getAs[Double]("slope") == 0.0 &&
      rcy.getAs[Any]("r2") == null)
    // noisy data vs exact driver-side rational replica
    val rnd = new scala.util.Random(13)
    val pts = (1L to 200L).map(x => (x, 40 * x + rnd.nextLong(500) - 250))
    val out = TableOps.linearFit(pts.map { case (x, y) => ("g", x, y) }
        .toDF("k", "x", "y"),
      Seq(col("k")), col("x"), col("y")).collect().head
    val n = BigInt(pts.size)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val syy = pts.map(p => BigInt(p._2) * p._2).sum
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val cov = n * sxy - sx * sy
    val varX = n * sxx - sx * sx
    val varY = n * syy - sy * sy
    def micro(a: BigInt, d: BigInt): Double = {
      val q = ((a.abs * 2000000 + d) / (d * 2)).toLong
      (if (a < 0) -q else q).toDouble / 1e6
    }
    assert(out.getAs[Double]("slope") == micro(cov, varX))
    assert(out.getAs[Double]("intercept") ==
      micro(sy * sxx - sx * sxy, varX))
    assert(out.getAs[Double]("r2") == micro(cov * cov, varX * varY))
  }

  test("trimmedStats: hand-checked 10% trim; trim 0 = plain mean") {
    // 1..10 in group g: k = 1, trimmed = mean(2..9) = 5.5,
    // winsorized = (2 + 2..9 + 9)/10 = 5.5
    val df = (1L to 10L).map(("g", _)).toDF("k", "v")
    val out = TableOps.trimmedStats(df, Seq(col("k")), col("v"))
      .collect().head
    assert(out.getAs[Long]("n") == 10L)
    assert(out.getAs[Long]("n_trimmed") == 8L)
    assert(out.getAs[Long]("winsor_lo") == 2L)
    assert(out.getAs[Long]("winsor_hi") == 9L)
    assert(out.getAs[Double]("trimmed_mean") == 5.5)
    assert(out.getAs[Double]("winsorized_mean") == 5.5)
    val plain = TableOps.trimmedStats(df, Seq(col("k")), col("v"),
      trimNum = 0, trimDen = 1).collect().head
    assert(plain.getAs[Double]("trimmed_mean") == 5.5)
    assert(plain.getAs[Long]("n_trimmed") == 10L)
  }

  test("trimmedStats: one whale cannot move the trimmed mean; driver " +
      "reference on random ties") {
    val clean = (1L to 100L).map(("g", _))
    val spiked = clean :+ (("g", 1000000L))
    def tm(rows: Seq[(String, Long)]) =
      TableOps.trimmedStats(rows.toDF("k", "v"), Seq(col("k")), col("v"))
        .collect().head.getAs[Double]("trimmed_mean")
    assert(math.abs(tm(spiked) - tm(clean)) < 1.2,
      "trimmed mean moved by a single whale")
    // random data with ties vs an exact driver replica
    val rnd = new scala.util.Random(23)
    val vs = Seq.fill(137)(rnd.nextLong(30))
    val out = TableOps.trimmedStats(vs.map(("g", _)).toDF("k", "v"),
      Seq(col("k")), col("v")).collect().head
    val sorted = vs.sorted
    val k = vs.size / 10
    val kept = sorted.slice(k, vs.size - k)
    def micro(p: BigInt, n: Long): Double =
      ((p * 2000000 + n) / (2 * n)).toDouble / 1e6
    assert(out.getAs[Double]("trimmed_mean") ==
      micro(kept.map(BigInt(_)).sum, kept.size))
    assert(out.getAs[Long]("winsor_lo") == sorted(k))
    assert(out.getAs[Long]("winsor_hi") == sorted(vs.size - k - 1))
    assert(out.getAs[Double]("winsorized_mean") ==
      micro(kept.map(BigInt(_)).sum + BigInt(k) * (sorted(k) +
        sorted(vs.size - k - 1)), vs.size))
    intercept[IllegalArgumentException] {
      TableOps.trimmedStats(vs.map(("g", _)).toDF("k", "v"),
        Seq(col("k")), col("v"), trimNum = 1, trimDen = 2)
    }
  }

  test("robustOutliers: MAD = 0 degeneracy flags every differing value") {
    val df = (Seq.fill(10)(100L) ++ Seq(101L, 5000L)).map(("g", _))
      .toDF("k", "v")
    val out = TableOps.robustOutliers(df, Seq(col("k")), col("v"))
      .collect().head
    assert(out.getAs[Long]("mad") == 0L)
    assert(out.getAs[Long]("n_outliers") == 2L)
  }

  test("skewProfile: counts, max share and concentration per key column") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L))
      .toDF("k1", "k2")
    val out = TableOps.skewProfile(df,
        Seq("k1" -> col("k1"), "k2" -> col("k2")))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_keys"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("max_cnt"), r.getAs[Double]("max_share"),
          r.getAs[Double]("gini"))).toMap
    // k1 counts [3,1]: gini = (2*(1*1+2*3) - 3*4) / (2*4) = 0.25
    assert(out("k1") == ((2L, 4L, 3L, 0.75, 0.25)))
    // k2 unique: zero concentration
    assert(out("k2") == ((4L, 4L, 1L, 0.25, 0.0)))
  }

  // -------------------------------------------------------- corrMatrix

  private def corrOut(rows: Seq[(Long, Long, Long)]) =
    TableOps.corrMatrix(rows.toDF("a", "b", "c"),
        Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Any]("r2"), r.getAs[Any]("sgn"))).toMap

  test("corrMatrix: exact linear relations give r2 = 1 with the right sign") {
    // b = 3a + 7 (perfect positive), c = -2a (perfect negative)
    val rows = (1L to 50L).map(a => (a, 3 * a + 7, -2 * a))
    val out = corrOut(rows)
    assert(out(("a", "b")) == ((1.0, 1)))
    assert(out(("a", "c")) == ((1.0, -1)))
    assert(out(("b", "c")) == ((1.0, -1)))
  }

  test("corrMatrix: zero-variance columns yield null, independence yields 0") {
    // c constant -> null pairs; a/b on a full 2x2 grid -> exactly r = 0
    val rows = Seq((0L, 0L, 5L), (0L, 1L, 5L), (1L, 0L, 5L), (1L, 1L, 5L))
    val out = corrOut(rows)
    assert(out(("a", "b")) == ((0.0, 0)))
    assert(out(("a", "c")) == ((null, null)))
    assert(out(("b", "c")) == ((null, null)))
  }

  test("corrMatrix matches the exact rational on an irregular sample") {
    val as = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L)
    val bs = Seq(2L, 7L, 1L, 8L, 2L, 8L, 1L, 8L)
    val out = corrOut(as.zip(bs).map { case (a, b) => (a, b, 0L) })
    val n = as.size.toLong
    def corr2(x: Seq[Long], y: Seq[Long]): (Double, Int) = {
      val num = BigInt(n) * x.zip(y).map { case (a, b) => BigInt(a) * b }.sum -
        BigInt(x.sum) * BigInt(y.sum)
      val d1 = BigInt(n) * x.map(v => BigInt(v) * v).sum - BigInt(x.sum).pow(2)
      val d2 = BigInt(n) * y.map(v => BigInt(v) * v).sum - BigInt(y.sum).pow(2)
      val r2 = ((num.pow(2) * 2000000 + d1 * d2) / (d1 * d2 * 2)).toDouble / 1e6
      (r2, num.signum)
    }
    assert(out(("a", "b")) == corr2(as, bs))
  }

  // ---------------------------------------------------------- KMV sketch

  import graft.operators.Sketches

  /** Driver-side md5-prefix hash replica (TextFunctions.md5Long twin). */
  private def md5H(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  test("KMV registers are the bottom-k distinct md5 hashes, ranked") {
    val words = (1 to 300).map(i => s"word$i")
    // duplicates must not double-register
    val df = (words ++ words.take(50)).map(("g", _)).toDF("grp", "w")
    val out = Sketches.kmvRegisters(df, Seq(col("grp")), col("w"), k = 16)
      .collect().map(r => r.getAs[Long]("rnk") -> r.getAs[Long]("h")).toMap
    val expected = words.map(md5H).distinct.sorted.take(16)
    assert(out.size == 16)
    expected.zipWithIndex.foreach { case (h, i) =>
      assert(out(i + 1L) == h, s"rank ${i + 1}") }
  }

  test("KMV merge law: merged per-shard sketches == direct sketch of the union") {
    val df = (1 to 500).map(i => (s"shard${i % 4}", s"item$i")).toDF("sh", "w")
    val perShard = Sketches.kmvRegisters(df, Seq(col("sh")), col("w"), k = 32)
    val merged = Sketches.kmvMerge(perShard.withColumn("g", lit(1)),
        Seq(col("g")), k = 32)
      .select(col("rnk"), col("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Sketches.kmvRegisters(df.withColumn("g", lit(1)),
        Seq(col("g")), col("w"), k = 32)
      .select(col("rnk"), col("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged == direct)
  }

  test("KMV estimate: exact under k, unbiased-estimator formula at k, sane error") {
    val small = (1 to 10).map(i => ("g", s"item$i")).toDF("grp", "w")
    val r1 = Sketches.kmvEstimate(
      Sketches.kmvRegisters(small, Seq(col("grp")), col("w"), k = 64),
      Seq(col("grp")), k = 64).collect().head
    assert(r1.getAs[Long]("n_seen") == 10L)
    assert(r1.getAs[Long]("distinct_est") == 10L) // exact below k

    val big = (1 to 20000).map(i => ("g", s"item$i")).toDF("grp", "w")
    val regs = Sketches.kmvRegisters(big, Seq(col("grp")), col("w"), k = 256)
    val r2 = Sketches.kmvEstimate(regs, Seq(col("grp")), k = 256)
      .collect().head
    val kth = r2.getAs[Long]("kth_h")
    assert(r2.getAs[Long]("n_seen") == 256L)
    val expected = (BigInt(255) * (BigInt(1) << 60) / kth).toLong
    assert(r2.getAs[Long]("distinct_est") == expected)
    // ~1/sqrt(k) relative error: 256 -> ~6%; allow 20%
    assert(math.abs(r2.getAs[Long]("distinct_est") - 20000L) < 4000L,
      s"estimate too far: ${r2.getAs[Long]("distinct_est")}")

    // k smaller than the registers were built with: null, not a
    // plausible-looking half-scale estimate
    val bad = Sketches.kmvEstimate(regs, Seq(col("grp")), k = 64)
      .collect().head
    assert(bad.getAs[Any]("distinct_est") == null)
  }

  test("BottomKAgg: reduce/merge keep a sorted distinct bottom-k") {
    val agg = new graft.operators.BottomKAgg(4)
    var buf = agg.zero
    Seq(9L, 3L, 7L, 3L, 1L, 8L, 2L, 9L).foreach(v => buf = agg.reduce(buf, v))
    assert(buf.toSeq == Seq(1L, 2L, 3L, 7L)) // distinct bottom-4
    // merge with overlap and below-k sides
    val other = Seq(0L, 2L, 5L).toArray
    assert(agg.merge(buf, other).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(agg.merge(Array.emptyLongArray, other).toSeq == other.toSeq)
    assert(agg.merge(other, Array.emptyLongArray).toSeq == other.toSeq)
    // saturated buffer rejects above-kth values without allocation
    assert(agg.reduce(buf, 100L) eq buf)
  }

  test("kmvRegistersAgg == kmvRegisters row-for-row") {
    val df = (1 to 3000).map(i => (s"g${i % 3}", s"tok${i % 700}"))
      .toDF("grp", "w")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val win = rows(Sketches.kmvRegisters(df, Seq(col("grp")), col("w"), 32))
    val agg = rows(Sketches.kmvRegistersAgg(df, Seq(col("grp")), col("w"), 32))
    assert(win == agg && win.size == 96) // 3 groups x full 32
  }

  test("corrMatrix reduced path (huge variance terms) still reads exact lines") {
    // values ~1e7 over 100 rows -> d1 ~ 8e16 > the 5e15 gate (reduced
    // terms stay inside the documented ≲3e15 contract); the div-n
    // reduction must leave the planted b = 2a line at r2 = 1
    val rows = (1L to 100L).map(i => (i * 100000L, 2 * i * 100000L, 0L))
    val out = corrOut(rows)
    assert(out(("a", "b")) == ((1.0, 1)))
  }

  test("rfmScores drops orders with null date or amount before aggregating") {
    def d(days: Int) =
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
    val rows = Seq(
      (1L, d(10), java.lang.Long.valueOf(100L)),
      (1L, null.asInstanceOf[java.sql.Date], java.lang.Long.valueOf(900L)),
      (2L, d(20), null.asInstanceOf[java.lang.Long]),
      (3L, d(30), java.lang.Long.valueOf(300L)))
      .toDF("cust", "dt", "cents")
    val out = Journey.rfmScores(rows, col("cust"), col("dt"), col("cents"))
      .collect()
      .map(r => r.getAs[Long]("customer") ->
        (r.getAs[Long]("frequency"), r.getAs[Long]("monetary"))).toMap
    // customer 2's only order has a null amount -> dropped entirely;
    // customer 1's null-dated order doesn't count or sum
    assert(out == Map(1L -> ((1L, 100L)), 3L -> ((1L, 300L))))
  }
}
