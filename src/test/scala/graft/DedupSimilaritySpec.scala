package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val base = Seq(
    0L -> "the quick brown fox jumps over the lazy dog near the old river bank today",
    1L -> "the quick brown fox jumps over the lazy dog near the old river bank tonight", // near-dup of 0
    2L -> "completely different words about spark catalyst optimizer and shuffle exchange plans",
    3L -> "the quick brown fox jumps over the lazy dog near the old river bank today",   // exact dup of 0
    4L -> "another unrelated document mentioning parquet columnar storage and predicate pushdown"
  ).toDF("doc_id", "text")

  test("exact dedup collapses identical content") {
    val d = Dedup.exact(base, col("doc_id"), col("text")).collect()
    assert(d.length == 4)                                  // 5 docs, one exact pair
    assert(d.map(_.getAs[Long]("n_copies")).sum == 5)
    val dup = d.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("canonical_id") == 0L)          // min id is canonical
  }

  test("minhash LSH finds planted near-dups with exact-Jaccard verification") {
    val pairs = Dedup.minHashLsh(base, col("doc_id"), col("text"),
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))   // near-dup pair
    assert(pairs.contains((0L, 3L)))   // exact pair
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH recall vs exact pairs on real documents (sf0.001)") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, col("doc_id"), col("text"), 3, 32, 8, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)                                  // planted dups exist
    assert(lsh.subsetOf(exact))                             // verify step: no false positives
    assert((exact & lsh).size.toDouble / exact.size >= 0.9) // banded recall
  }

  test("singleton-pruned jaccard pairs == unpruned on real documents") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    def run(prune: Boolean) =
      Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.3, prune)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(run(prune = true) == run(prune = false))
  }

  test("compiled minhash signature == composable form on real documents") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    val hashed = docs.select(col("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(spark, col("text"), 3).as("hs"))
      .filter(size(col("hs")) > 0)
    val diff = hashed.select(
        graft.functions.MinHashSig.expr(col("hs"), 32).as("compiled"),
        Dedup.minHashSignatureFromHashes(
          transform(col("hs"), x => pmod(x, lit(Dedup.HashPrime))), 32).as("composable"))
      .filter(not(col("compiled") <=> col("composable")))
      .count()
    assert(diff == 0)
  }

  test("compiled simhash == composable form on real documents (incl. empty)") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("text"))
      .unionByName(Seq("", "   ", "one").toDF("text"))
    val diff = docs.select(
        Dedup.simHash(col("text")).as("compiled"),
        ReferenceTwins.simHashComposable(col("text")).as("composable"))
      .filter(not(col("compiled") <=> col("composable")))
      .count()
    assert(diff == 0)
  }

  test("compiled portable shingle hashes == composable form on real documents") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("text"))
      .unionByName(Seq("", "   ", "one two", "a b c a b c a b c").toDF("text"))
    val diff = docs.select(
        graft.functions.PolyHash.polyShingleHashes(col("text"), 3).as("compiled"),
        ReferenceTwins.polyShingleHashesComposable(col("text"), 3).as("composable"))
      .filter(not(col("compiled") <=> col("composable")))
      .count()
    assert(diff == 0)
  }

  test("compiled band buckets == composable per-slice fold on real signatures") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    val sig = docs.select(
        graft.functions.PolyHash.polyShingleHashes(col("text"), 3).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(graft.functions.MinHashSig.expr(col("hs"), 32).as("sig"))
    val diff = sig.select(
        graft.functions.PolyHash.polyBandBuckets(col("sig"), 8, 4).as("compiled"),
        array((0 until 8).map { b =>
          graft.functions.PolyHash.bandBucket(slice(col("sig"), b * 4 + 1, 4))
        }: _*).as("composable"))
      .filter(not(col("compiled") <=> col("composable")))
      .count()
    assert(diff == 0)
  }

  test("compiled portable simhash == composable form on real documents (incl. empty)") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("text"))
      .unionByName(Seq("", "   ", "one").toDF("text"))
    val diff = docs.select(
        graft.functions.PolyHash.polySimHash(col("text")).as("compiled"),
        ReferenceTwins.polySimHashComposable(col("text")).as("composable"))
      .filter(not(col("compiled") <=> col("composable")))
      .count()
    assert(diff == 0)
  }

  test("portable simhash: near-dups differ in few bits, unrelated docs in many") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sig = base.select(col("doc_id"),
        graft.functions.PolyHash.polySimHash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(hamming(sig(0L), sig(3L)) == 0)       // exact dup → identical signature
    assert(hamming(sig(0L), sig(1L)) <= 12)      // near-dup → close
    assert(hamming(sig(0L), sig(2L)) >= 15)      // unrelated → far
  }

  test("simhash: near-dups differ in few bits, unrelated docs in many") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sig = base.select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(hamming(sig(0L), sig(3L)) == 0)       // exact dup → identical signature
    assert(hamming(sig(0L), sig(1L)) <= 12)      // near-dup → close
    assert(hamming(sig(0L), sig(2L)) >= 16)      // unrelated → far
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val vs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(2.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = vs.as("a").join(vs.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(got((1L, 1L)) == 1.0)
    assert(got((1L, 2L)) == 0.0)
    assert(got((1L, 3L)) == 1.0)   // scale-invariant
  }

  test("cosine: mismatched widths yield null in both compiled and composable forms") {
    val vs = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val row = vs.as("a").join(vs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.functions.CosineSim.cosineSim(spark,
          col("a.embedding"), col("b.embedding")).as("compiled"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("composable"))
      .collect().head
    assert(row.isNullAt(0) && row.isNullAt(1))   // corrupted data → missing, not plausible
  }

  test("IVF ANN recall vs brute force on sf0.001 embeddings") {
    val emb = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val bf = Similarity.cosineTopK(q, "qid", "qv", c, "cid", "cv", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf1 = Similarity.ivfTopK(q, "qid", "qv", c, "cid", "cv", 5,
        dim = 64, nCentroids = 8, nprobe = 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert((bf & ivf1).size.toDouble / bf.size >= 0.5)
    // multi-probe closes the recall gap
    val ivf3 = Similarity.ivfTopK(q, "qid", "qv", c, "cid", "cv", 5,
        dim = 64, nCentroids = 8, nprobe = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert((bf & ivf3).size.toDouble / bf.size >= 0.75)
    assert((bf & ivf3).size >= (bf & ivf1).size)
  }

  test("IVF seeding plans as a bounded TakeOrderedAndProject, never a " +
      "global range-sort of the candidate frame") {
    val emb = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "embeddings")
    // the two seeding pick shapes (trainIvf: first-C by id; seedCentroids:
    // first-C by Fibonacci hash) — both must stay per-partition top-C
    val plans = Seq(
      emb.orderBy(col("vec_id")).limit(8).select(col("embedding")),
      emb.withColumn("__bk", graft.operators.Sampling.hashBucket(col("vec_id"), 1048576))
        .orderBy(col("__bk"), col("vec_id")).limit(8).select(col("embedding")))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach { p =>
      assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(3).mkString("\n"))
      assert(!p.contains("rangepartitioning"), p.linesIterator.take(3).mkString("\n"))
    }
  }

  test("seeded IVF probing every bucket == brute-force top-k exactly") {
    val emb = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val bf = Similarity.cosineTopK(q, "qid", "qv", c, "cid", "cv", 5,
        rankCol = Some("rnk"))
      .select("query_id", "cand_id", "rnk").as[(Long, Long, Int)].collect().toSet
    // nprobe = nCentroids → every bucket probed → pruning must be lossless
    val all = Similarity.ivfTopKSeeded(q, "qid", "qv", c, "cid", "cv", 5,
        dim = 64, nCentroids = 8, nprobe = 8)
      .select("query_id", "cand_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(all == bf)
    // single-probe still returns a full (possibly different) top-5 per query
    val one = Similarity.ivfTopKSeeded(q, "qid", "qv", c, "cid", "cv", 5,
        dim = 64, nCentroids = 8, nprobe = 1)
    assert(one.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("fixed-point Lloyd: unit-norm codebook, moves off seeds, deterministic") {
    val emb = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "embeddings")
    val seeds = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val trained = Similarity.trainIvfFixedPoint(emb, "vec_id", "embedding", 8,
      iterations = 1)
    assert(trained.length == 8)
    // every trained centroid is unit-norm (post-update renormalization)
    trained.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    // the Lloyd round actually moved the codebook off its seeds
    assert(trained.zip(seeds).exists { case (t, s) =>
      t.zip(s).exists { case (a, b) => math.abs(a - b) > 1e-6 } })
    // bit-identical across runs (the portability contract behind q94)
    val again = Similarity.trainIvfFixedPoint(emb, "vec_id", "embedding", 8,
      iterations = 1)
    assert(trained == again)
  }

  test("connectedComponents: chains collapse to min id, isolates keep their own") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L)).toDF("a", "b")
    val comp = graft.operators.Graph.connectedComponents(
        nodes, col("id"), edges, col("a"), col("b"))
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L,
      6L -> 6L, 7L -> 6L))
  }

  test("connectedComponents: local union-find and distributed loop agree") {
    val rng = new scala.util.Random(42)
    val nodes = (0L until 200L).toDF("id")
    val edges = Seq.fill(150)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val local = graft.operators.Graph.connectedComponents(
        nodes, col("id"), edges, col("a"), col("b"))
      .as[(Long, Long)].collect().toMap
    val dist = graft.operators.Graph.connectedComponents(
        nodes, col("id"), edges, col("a"), col("b"), localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
  }

  test("connectedComponents fails fast when diameter exceeds maxIterations") {
    // path graph 0-1-2-...-9: diameter 9 > cap 3; the distributed loop
    // must THROW rather than return partially-propagated labels.
    val nodes = (0L until 10L).toDF("id")
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      graft.operators.Graph.connectedComponents(
        nodes, col("id"), edges, col("a"), col("b"), maxIterations = 3,
        localEdgeThreshold = 0).count()
    }
    assert(ex.getMessage.contains("still moving"))
    // requireConvergence = false keeps the old warn-and-return behavior
    val partial = graft.operators.Graph.connectedComponents(
        nodes, col("id"), edges, col("a"), col("b"), maxIterations = 3,
        requireConvergence = false, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(partial(9L) > 0L) // label did NOT reach the far end
    // the local path has no cap: same graph converges exactly
    val full = graft.operators.Graph.connectedComponents(
        nodes, col("id"), edges, col("a"), col("b"), maxIterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(full == (0L until 10L).map(_ -> 0L).toMap)
  }

  test("verifyOn64Bit kills systematic poly31 full-set collisions, keeps real dups") {
    // The collision pair the 10M stress receipt caught in the wild: every
    // token of "u{id}t{j}" docs embeds the same id digits, and poly31 is
    // linear in the character vector, so ids 2029299 and 3403811 (whose
    // digit-polynomials collide mod 2^31-1) produce hashed-Jaccard 1.0
    // across ALL windows despite sharing zero shingle strings.
    def idDoc(id: Long) = (0 until 40).map(j => s"u${id}t$j").mkString(" ")
    val docs = Seq(
      2029299L -> idDoc(2029299L),
      3403811L -> idDoc(3403811L),
      // a REAL near-dup pair (differ in one of 40 tokens)
      50L -> (0 until 40).map(j => s"w$j").mkString(" "),
      51L -> ((0 until 39).map(j => s"w$j") :+ "zz").mkString(" "))
      .toDF("doc_id", "text")
    val poly = Dedup.minHashLsh(docs, col("doc_id"), col("text"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(poly.contains((2029299L, 3403811L))) // the 31-bit artifact
    assert(poly.contains((50L, 51L)))
    val hardened = Dedup.minHashLsh(docs, col("doc_id"), col("text"),
        verifyOn64Bit = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!hardened.contains((2029299L, 3403811L))) // killed at verify
    assert(hardened.contains((50L, 51L)))            // real dup survives
  }

  test("incrementalNearDupAdmission verifyOn64Bit: collision victim admitted, real dup still rejected") {
    // same wild-caught poly31 full-set collision pair as the minHashLsh
    // test: the OLD corpus holds 2029299's doc, the NEW shard holds
    // 3403811's (zero shared shingle strings) plus a REAL near-dup of an
    // old doc and a novel doc
    def idDoc(id: Long) = (0 until 40).map(j => s"u${id}t$j").mkString(" ")
    val oldDocs = Seq(
      2029299L -> idDoc(2029299L),
      50L -> (0 until 40).map(j => s"w$j").mkString(" "))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      3403811L -> idDoc(3403811L),                              // collision victim
      51L -> ((0 until 39).map(j => s"w$j") :+ "zz").mkString(" "), // real dup of 50
      60L -> (0 until 40).map(j => s"q$j").mkString(" "))       // novel
      .toDF("doc_id", "text")
    def admitted(h64: Boolean) = Dedup.incrementalNearDupAdmission(
        oldDocs, newDocs, col("doc_id"), col("text"), verifyOn64Bit = h64)
      .select("doc_id").as[Long].collect().toSet
    val poly = admitted(h64 = false)
    assert(poly == Set(60L), s"poly31 mode: collision victim + real dup rejected, got $poly")
    val hardened = admitted(h64 = true)
    assert(hardened == Set(3403811L, 60L),
      s"64-bit verify must clear the collision victim, keep rejecting the real dup, got $hardened")
  }

  test("removeNearDuplicates keeps one representative per near-dup cluster") {
    // chain cluster: 10-11 and 11-12 are near-dups (10-12 only transitively)
    val docs = Seq(
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu",
      12L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa xi nu",
      20L -> "completely different content about catalyst plans and shuffle exchanges here",
      30L -> "yet another unrelated document mentioning parquet and columnar formats okay")
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.removeNearDuplicates(
      docs, col("doc_id"), col("text"), shingleSize = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(20L) && kept.contains(30L))
    assert((kept & Set(10L, 11L, 12L)).size == 1)    // one survivor per cluster
    assert(kept.contains(10L))                        // min id is canonical
  }

  test("compiled ordered gram hashes == composable form on real documents") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("text"))
      .unionByName(Seq("", "   ", "one two", "a b c a b c a b c").toDF("text"))
    val diff = docs.select(
        graft.functions.PolyHash.polyGramHashes(col("text"), 4).as("compiled"),
        ReferenceTwins.polyGramHashesComposable(col("text"), 4).as("composable"))
      .filter(not(col("compiled") <=> col("composable")))
      .count()
    assert(diff == 0)
  }

  test("poly61 gram hashes match a BigInt reference fold (the q135 oracle's arithmetic)") {
    // The JVM side reduces the 128-bit product with the Mersenne identity
    // 2^61 ≡ 1; the oracle folds in HUGEINT. Both must equal the naive
    // BigInt fold `(acc*131 + cp) mod (2^61-1)` over the gram's codepoints
    // (space-joined, same as the poly31 gram convention).
    val M = BigInt(graft.functions.PolyHash.P61)
    def ref(gram: String): Long =
      gram.codePoints().toArray.foldLeft(BigInt(0))((a, c) =>
        (a * graft.functions.PolyHash.M61Mult + c) mod M).toLong
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "unicode éü中文 😀 mixed tokens here ok fine now", // incl. a surrogate pair
      (1 to 40).map(i => s"tok$i").mkString(" "))
    val k = 8
    for (t <- texts) {
      val got = Seq(t).toDF("text")
        .select(graft.functions.PolyHash.polyGramHashes61(col("text"), k).as("hs"))
        .as[Seq[Long]].head()
      val toks = t.trim.split("\\s+").toSeq
      val want =
        toks.sliding(k).filter(_.size == k).map(g => ref(g.mkString(" "))).toSeq
      assert(got == want, s"mismatch for: $t")
    }
  }

  test("substringSpans: hash64 spans are the collision-free subset of poly31's (q135 vs q106)") {
    // Even this 500-doc corpus (~45k grams) sits at poly31's birthday
    // horizon (G²/2³¹ ≈ 1): the poly31 run marks a couple of FALSE
    // single-gram duplicates that the 64-bit run correctly rejects —
    // the live demonstration of why q135 is the production mode.
    val d = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    def spans(h64: Boolean) =
      Dedup.substringSpans(d, col("doc_id"), col("text"), n = 8, hash64 = h64)
        .as[(Long, Int, Int, Int)].collect().toSet
    val poly = spans(h64 = false)
    val h64s = spans(h64 = true)
    assert(h64s.nonEmpty && h64s.subsetOf(poly))
    val falsePositives = poly -- h64s
    // collision artifacts are isolated single windows: span_tokens == n
    assert(falsePositives.forall(_._4 == 8),
      s"non-single-window poly31-only spans: $falsePositives")
    assert(falsePositives.size <= 5, s"too many collisions: ${falsePositives.size}")
  }

  test("substringSpans: cross-doc and intra-doc duplicated 3-gram runs merge") {
    // docs 1/2 share the 5-token run "the quick brown fox jumps" (positions
    // 2..6 in doc 1, 0..4 in doc 2); doc 3 repeats its own opening 3-gram
    // at position 5; doc 4 is clean.
    val docs = Seq(
      (1L, "it was the quick brown fox jumps high today"),
      (2L, "the quick brown fox jumps over something else entirely now"),
      (3L, "alpha beta gamma delta epsilon alpha beta gamma omega psi"),
      (4L, "completely unique words nothing repeated anywhere at all"))
      .toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, col("doc_id"), col("text"), n = 3)
      .as[(Long, Int, Int, Int)].collect().toSet
    // 3-grams of the shared 5-token run: 3 windows -> merged span of 5 tokens
    assert(spans == Set(
      (1L, 2, 7, 5),   // "the quick brown fox jumps" at tokens 2..6
      (2L, 0, 5, 5),   // same run at tokens 0..4
      (3L, 0, 3, 3),   // "alpha beta gamma" opening ...
      (3L, 5, 8, 3))) //  ... and its intra-doc repeat
  }

  test("substringSpans: hash64 strips poly31 false positives, keeps real spans") {
    // WILD-CAUGHT collision, the reason the hash64 knob exists: in the
    // sf0.001 corpus the distinct 8-grams "customer scan group row scan
    // filter data data" (doc 269 pos 6) and "window part window column
    // customer customer hash filter" (doc 300 pos 17) both poly31-fold to
    // 482557332 — a birthday hit at just 15k grams (E ≈ 0.12 pairs). The
    // poly31 span set must therefore be a SUPERSET of the 64-bit one, and
    // the surplus must look exactly like lone collisions: isolated
    // single-window (span_tokens == n) spans.
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val a = Dedup.substringSpans(docs, col("doc_id"), col("text"), n = 8)
      .as[(Long, Int, Int, Int)].collect().toSet
    val b = Dedup.substringSpans(docs, col("doc_id"), col("text"), n = 8, hash64 = true)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(b.nonEmpty)          // the sf corpus has planted duplicates
    assert(b.subsetOf(a))       // 64-bit only ever REMOVES false marks here
    val surplus = a -- b
    assert(surplus.forall(_._4 == 8), s"non-collision-shaped surplus: $surplus")
    assert(surplus.size <= 4, s"too many poly31 collisions for 15k grams: $surplus")
    assert(surplus.exists(_._1 == 269L)) // the documented wild-caught pair
  }

  test("substringSpans: bloom prefilter is row-identical and probes before the semi-join") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    for (h64 <- Seq(false, true)) {
      val plain = Dedup.substringSpans(docs, col("doc_id"), col("text"),
          n = 8, hash64 = h64)
        .as[(Long, Int, Int, Int)].collect().toSet
      val bloomed = Dedup.substringSpans(docs, col("doc_id"), col("text"),
        n = 8, hash64 = h64, bloomPrefilter = true)
      assert(bloomed.as[(Long, Int, Int, Int)].collect().toSet == plain)
      // the probe sits in the plan (scan-side, before the semi-join exchange)
      val phys = bloomed.queryExecution.executedPlan.toString
      assert(phys.contains("bloom_might_contain"), phys.take(2000))
    }
  }

  test("removeSubstringSpans drops exactly the duplicated tokens") {
    val docs = Seq(
      (1L, "it was the quick brown fox jumps high today"),
      (2L, "the quick brown fox jumps over something else entirely now"),
      (4L, "completely unique words nothing repeated anywhere at all"))
      .toDF("doc_id", "text")
    val got = Dedup.removeSubstringSpans(docs, col("doc_id"), col("text"), n = 3)
      .select(col("doc_id"), col("cleaned_text"), col("n_dropped_tokens"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("it was high today", 5L)))
    assert(got(2L) == (("over something else entirely now", 5L)))
    assert(got(4L) == (("completely unique words nothing repeated anywhere at all", 0L)))
  }

  test("semDeDup: within-cluster dups pruned to the lowest id, per bundle") {
    // exact-identical bundles: whatever the seed draw, identical vectors
    // tie to the SAME argmax cluster (ties → highest centroid index), so
    // each bundle collapses to its min id; orthogonal bundles never pair
    // (cos 0 < threshold) even when they share a cluster
    def axis(a: Int): Seq[Float] = Seq.tabulate(8)(d => if (d == a) 1.0f else 0.0f)
    val rows = Seq(
      (10L, axis(0)), (11L, axis(0)), (12L, axis(0)),
      (20L, axis(3)), (21L, axis(3)),
      (30L, axis(6))).toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(rows, "vec_id", "embedding",
        nCentroids = 3, threshold = 0.9)
      .select("id").as[Long].collect().toSet
    assert(out == Set(10L, 20L, 30L))
  }

  test("semDeDup: removal is cluster-blocked — cross-cluster dups survive") {
    // the C-vs-recall tradeoff made visible (same posture as LSH banding
    // misses): cos(v1,v2) ≈ 0.928 ≥ 0.9, but each vector seeds and stays
    // in its own cluster, so the pair is never examined; C=1 removes it
    val v1 = Seq.tabulate(8)(d => if (d == 0) 1.0f else 0.0f)
    val v2 = Seq.tabulate(8)(d =>
      if (d == 0) 1.0f else if (d == 1) 0.4f else 0.0f)
    val rows = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    val two = Similarity.semDeDup(rows, "vec_id", "embedding",
        nCentroids = 2, threshold = 0.9)
      .select("id").as[Long].collect().toSet
    assert(two == Set(1L, 2L))
    val one = Similarity.semDeDup(rows, "vec_id", "embedding",
        nCentroids = 1, threshold = 0.9)
      .select("id").as[Long].collect().toSet
    assert(one == Set(1L))
  }

  test("PQ: encode + ADC match the driver-side integer reference") {
    import graft.functions.{PqAdcDist, PqEncode, PqOps}
    val rnd = new scala.util.Random(11)
    val dim = 16
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(dim)((rnd.nextFloat() * 2 - 1))))
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, ks = 8, dim = dim)
    val sub = dim / 4
    def refEncode(v: Seq[Float]): Seq[Int] = {
      val q = v.map(x => PqOps.quantize(x.toDouble)).toArray
      (0 until 4).map { j =>
        (0 until 8).minBy(c => PqOps.subDist(q, j * sub, cb(j)(c).toArray))
      }
    }
    def refAdc(qv: Seq[Float], codes: Seq[Int]): Long = {
      val q = qv.map(x => PqOps.quantize(x.toDouble)).toArray
      (0 until 4).map(j => PqOps.subDist(q, j * sub, cb(j)(codes(j)).toArray)).sum
    }
    val got = df.select(col("vec_id"),
        PqEncode.expr(col("embedding"), cb).as("codes"),
        PqAdcDist.expr(col("embedding"),
          PqEncode.expr(col("embedding"), cb), cb).as("self_dist"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getLong(2))).toMap
    vecs.foreach { case (id, v) =>
      val codes = refEncode(v)
      assert(got(id)._1 == codes, s"vec $id codes")
      assert(got(id)._2 == refAdc(v, codes), s"vec $id self ADC")
    }
  }

  test("PQ: exact reconstruction distance is zero for codebook seeds themselves") {
    // a seed vector quantizes to its own centroid in every subspace
    val vecs = (0L until 8L).map(i => (i, Seq.tabulate(8)(d => (i * 8 + d) / 10.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, ks = 8, dim = 8)
    import graft.functions.{PqAdcDist, PqEncode}
    val selfDist = df.select(
        PqAdcDist.expr(col("embedding"),
          PqEncode.expr(col("embedding"), cb), cb).as("d"))
      .collect().map(_.getLong(0))
    assert(selfDist.forall(_ == 0L))
  }

  test("ivfPqTopK: results are pqTopK restricted to the probed buckets") {
    val rnd = new scala.util.Random(9)
    val df = (0L until 80L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = df.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // nprobe == nCentroids probes EVERY bucket: IVF+PQ must equal pure PQ
    val full = Similarity.ivfPqTopK(q, "qid", "qv", c, "cid", "cv",
        k = 5, dim = 16, nCentroids = 4, nprobe = 4, m = 4, ks = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val pq = Similarity.pqTopK(q, "qid", "qv", c, "cid", "cv",
        k = 5, dim = 16, m = 4, ks = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(full == pq)
    // nprobe = 1 scans a strict subset: every result's distance must
    // appear in (or be worse than nothing from) the full scan set per query
    val pruned = Similarity.ivfPqTopK(q, "qid", "qv", c, "cid", "cv",
        k = 5, dim = 16, nCentroids = 4, nprobe = 1, m = 4, ks = 8)
      .collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall(r => r.getInt(2) >= 1 && r.getInt(2) <= 5))
  }

  test("pqTopK: null and wrong-dimension candidates are excluded, not rank 1") {
    val rnd = new scala.util.Random(21)
    val good = (0L until 10L).map(i => (i, Seq.fill(16)(rnd.nextFloat())))
    val bad = Seq(
      (90L, null.asInstanceOf[Seq[Float]]), // null vector
      (91L, Seq.fill(8)(0.0f)))             // wrong dimension
    val df = (good ++ bad).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(
        df.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv",
        df.select(col("vec_id").as("cid"), col("embedding").as("cv")),
        "cid", "cv", k = 5, dim = 16, m = 4, ks = 8)
      .collect()
    assert(out.length == 5)
    assert(out.forall(r => r.getLong(1) < 90L), "malformed candidates leaked into top-k")
    assert(out.forall(!_.isNullAt(3)))
  }

  test("pqTopK: planted near-duplicate ranks first for its query") {
    val rnd = new scala.util.Random(5)
    val base = (0L until 60L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    // vec 100 = near-copy of vec 3 (tiny perturbation)
    val near = (100L, base(3)._2.map(v => v + 0.001f))
    val df = (base :+ near).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(
        df.filter(col("vec_id") === 3).select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv",
        df.select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid", "cv",
        k = 3, dim = 16, m = 4, ks = 8)
      .orderBy("rnk").collect()
    assert(out(0).getLong(1) == 100L, "planted near-dup must rank first")
  }

  test("cdcNearDupPairs: shifted copies pair, boilerplate chunks capped") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def body(seed: Int) = {
      val r = new scala.util.Random(seed)
      (1 to 300).map(_ => ('a' + r.nextInt(26)).toChar.toString + " ").mkString
    }
    // 3 distinct docs, each with a banner-shifted twin at id+100
    val base = (1L to 3L).map(i => (i, body(i.toInt)))
    val shifted = base.map { case (i, t) =>
      (i + 100L, s"INJECTED HEADER PREFIX $i " + t) }
    // 20 docs that are PURE shared boilerplate — without the df cap they
    // would generate C(20,2)=190 pairs; with maxDf=8 they generate none
    val boiler = (1000L until 1020L).map(i => (i, body(999)))
    val corpus = (base ++ shifted ++ boiler).toDF("id", "text")
    val pairs = graft.operators.Dedup.cdcNearDupPairs(
        corpus, col("id"), col("text"), minShared = 2, maxDf = 8)
      .as[(Long, Long, Long)].collect().toSeq
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    (1L to 3L).foreach(i => assert(pairSet.contains((i, i + 100L)), s"twin $i"))
    assert(!pairs.exists(p => p._1 >= 1000L || p._2 >= 1000L),
      "boilerplate cluster must be frequency-capped out")
    // distinct base docs don't pair with each other
    assert(!pairSet.exists { case (a, b) => a <= 3 && b <= 3 })
  }

  test("winnowedFingerprints: the winnowing guarantee (every window " +
      "selects), rightmost tie-break, density near 2/(w+1), prefix " +
      "shift preserves tail hashes") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val words = (1 to 400).map(_ => "w" + rnd.nextInt(5000)).mkString(" ")
    val df = Seq((1L, words)).toDF("id", "text")
    val k = 5; val w = 8
    val fps = Dedup.winnowedFingerprints(df, col("id"), col("text"), k, w)
      .collect().map(r => (r.getAs[Long]("pos"), r.getAs[Long]("h")))
    val nGrams = 400 - k + 1
    // guarantee: every length-w window of gram positions contains a
    // selected position
    val posSet = fps.map(_._1).toSet
    (1 to nGrams - w + 1).foreach { i =>
      assert((i until i + w).exists(j => posSet.contains(j.toLong)),
        s"window at $i has no fingerprint")
    }
    // density within a loose band of the paper's 2/(w+1)
    val density = fps.length.toDouble / nGrams
    assert(density > 0.12 && density < 0.35, s"density=$density")
    // prefix shift: the twin's fingerprint HASHES cover the original's
    // (positions move, content survives; boundary windows may add a few)
    val twin = Seq((2L, "BANNER NOISE HEADER INJECTED " + words))
      .toDF("id", "text")
    val tw = Dedup.winnowedFingerprints(twin, col("id"), col("text"), k, w)
      .collect().map(_.getAs[Long]("h")).toSet
    val orig = fps.map(_._2).toSet
    val shared = orig.intersect(tw).size.toDouble / orig.size
    assert(shared > 0.9, s"shared=$shared")
    // rightmost tie-break: constant text ties every window at one hash
    // whose selected position is the window's RIGHT edge
    val const = Seq((3L, Seq.fill(20)("same").mkString(" ")))
      .toDF("id", "text")
    val cf = Dedup.winnowedFingerprints(const, col("id"), col("text"), k, w)
      .collect().map(r => (r.getAs[Long]("pos"), r.getAs[Long]("h")))
    // 16 grams, 9 windows at i=1..9 -> rightmost of window i is i+7
    assert(cf.map(_._1).sorted.toSeq == (8L to 16L),
      s"got ${cf.map(_._1).sorted.toSeq}")
    // short doc (fewer grams than w): ONE window over the full list
    val short = Seq((4L, "a b c d e f")).toDF("id", "text") // 2 grams
    val sf = Dedup.winnowedFingerprints(short, col("id"), col("text"), k, w)
      .collect()
    assert(sf.length == 1)
    // gram-less doc emits nothing
    val tiny = Seq((5L, "a b")).toDF("id", "text")
    assert(Dedup.winnowedFingerprints(tiny, col("id"), col("text"), k, w)
      .count() == 0)
  }

  test("winnowedFingerprints kernel == composable form row-for-row") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (1L to 30L).map { i =>
      val n = rnd.nextInt(120)
      // small vocab forces hash ties so the rightmost tiebreak is hit
      (i, (1 to n).map(_ => "t" + rnd.nextInt(7)).mkString(" "))
    } :+ (98L, "") :+ (99L, "one two")
    val df = docs.toDF("id", "text")
    for ((k, w) <- Seq((5, 8), (2, 3), (1, 2))) {
      val kern = Dedup.winnowedFingerprints(df, col("id"), col("text"), k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val comp = ReferenceTwins.winnowedFingerprintsComposable(
          df, col("id"), col("text"), k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(kern == comp, s"k=$k w=$w")
      // kernel output is per-doc distinct WITHOUT a distinct() stage
      val n = Dedup.winnowedFingerprints(df, col("id"), col("text"), k, w)
        .count()
      assert(n == kern.size, s"kernel emitted duplicates at k=$k w=$w")
    }
  }

  test("assignmentMargin: margins nonnegative, boundary vector reads " +
      "the cluster's min margin, counts conserve, mis-dim excluded") {
    import spark.implicits._
    // two tight orthogonal-ish groups + one midpoint vector
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    def jitter(base: Seq[Float], eps: Float) =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 3) eps else 0f) }
    val mid = Seq(0.707f, 0.707f, 0.0f, 0.0f)
    val rows = (1L to 5L).map(i => (i, jitter(a, 0.01f * i))) ++
      (11L to 15L).map(i => (i, jitter(b, 0.01f * (i - 10)))) ++
      Seq((99L, mid), (100L, Seq(1.0f, 2.0f))) // 100 is mis-dimensioned
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.assignmentMargin(df, "vec_id", "embedding",
      nCentroids = 2, dim = 4).collect()
    assert(out.map(_.getAs[Long]("n")).sum == 11) // mis-dim excluded
    assert(out.forall(_.getAs[Long]("min_margin") >= 0))
    assert(out.forall(r => Set(0, 1).contains(r.getAs[Int]("cluster"))))
    // the midpoint vector is SOME cluster's min margin, and that min is
    // far below the same cluster's max (the pure vectors)
    val withMid = out.filter(r =>
      r.getAs[Long]("min_margin") * 5 < r.getAs[Long]("max_margin"))
    assert(withMid.nonEmpty, s"no boundary signature: ${out.mkString(",")}")
  }

  test("winnowNearDupPairs: banner twins recovered, df cap drops " +
      "boilerplate before the join") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    def doc() = (1 to 120).map(_ => "t" + rnd.nextInt(3000)).mkString(" ")
    val base = (1L to 4L).map(i => (i, doc()))
    val twins = base.map { case (i, t) => (i + 100L, "NOISE PREFIX " + t) }
    // 30 copies of one boilerplate doc: its fingerprints exceed maxDf
    val boiler = (1000L to 1029L).map(i => (i, "x " * 100))
    val all = (base ++ twins ++ boiler).toDF("id", "text")
    val pairs = Dedup.winnowNearDupPairs(all, col("id"), col("text"),
      k = 5, w = 8, minShared = 3, maxDf = 8)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
      .toSet
    (1L to 4L).foreach(i => assert(pairs.contains((i, i + 100L)), s"twin $i"))
    assert(!pairs.exists(p => p._1 >= 1000L || p._2 >= 1000L),
      "boilerplate cluster must be frequency-capped out")
  }

  test("polyDropFlagged: flagged sets with equal Arrays.hashCode each keep their own state") {
    import graft.functions.PolyHash
    val line = "the quick brown fox jumps over the lazy dog"
    val df = Seq(Seq(line)).toDF("lines")
    val h = df.select(PolyHash.polyStringHash(element_at(col("lines"), 1))).as[Long].head()
    val flaggedA = Array(h)
    val flaggedB = Array((1L << 32) | (h ^ 1)) // same low word after the hi ^ lo fold
    assert(java.util.Arrays.hashCode(flaggedA) == java.util.Arrays.hashCode(flaggedB))
    // both Columns exist before either resolves: a binding keyed on that
    // hash would run B's state for both
    val dropA = PolyHash.polyDropFlagged(col("lines"), flaggedA)
    val dropB = PolyHash.polyDropFlagged(col("lines"), flaggedB)
    val row = df.select(dropA.as("a"), dropB.as("b")).head()
    assert(row.getSeq[String](0).isEmpty, "A flags the line's hash, so it drops it")
    assert(row.getSeq[String](1) == Seq(line), "B flags another hash, so it keeps the line")
  }
}
