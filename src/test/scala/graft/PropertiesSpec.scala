package graft

import graft.functions.{DateFunctions, TextFunctions}
import graft.sources.KvBlock
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (the upgrade SURVEY.md §5 notes the reference lacks):
  * KV round-trips, date-format coalesce totality, shingle counts,
  * truncation bounds — each evaluated through Spark itself in one batched
  * pass per property (not per sample) to keep the suite fast.
  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cnOrAscii: Gen[String] = Gen.chooseNum(1, 12).flatMap { n =>
    Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('机', '构', '托', '育', '名', '称', '区', '域')))
      .map(_.mkString)
  }

  test("KV block render → parse round-trips arbitrary values without separators") {
    val kvGen = Gen.listOfN(4, Gen.zip(cnOrAscii, cnOrAscii)).map(_.toMap.toSeq)
    val samples = Gen.listOfN(60, kvGen).sample.get.filter(_.nonEmpty)
    val dfIn = samples.zipWithIndex.map { case (kvs, i) => (i, kvs.toMap) }
      .toDF("id", "m")
    val rendered = dfIn.select(col("id"), col("m"),
      concat_ws("\n", transform(map_entries(col("m")),
        e => concat(e.getField("key"), lit("："), e.getField("value")))).as("block"))
    val back = rendered.select(col("id"), col("m"),
      KvBlock.parseBlock(col("block")).as("m2"))
    // maps aren't orderable — compare key-sorted entry arrays
    val canon = (c: org.apache.spark.sql.Column) => array_sort(map_entries(c))
    val mismatches = back.filter(not(canon(col("m")) <=> canon(col("m2")))).count()
    assert(mismatches == 0)
  }

  test("portable hashes: compiled == composable on random mixed-script text") {
    val wordGen = Gen.chooseNum(0, 10).flatMap { n =>
      Gen.listOfN(n, cnOrAscii).map(_.mkString(" "))
    }
    val texts = Gen.listOfN(150, wordGen).sample.get ++
      Seq("", " ", "\t\n", "a", "a a a a a a")
    val df = texts.toDF("text")
    val shingleDiff = df.select(
        graft.functions.PolyHash.polyShingleHashes(col("text"), 3).as("c"),
        ReferenceTwins.polyShingleHashesComposable(col("text"), 3).as("s"))
      .filter(not(col("c") <=> col("s"))).count()
    assert(shingleDiff == 0)
    val simDiff = df.select(
        graft.functions.PolyHash.polySimHash(col("text")).as("c"),
        ReferenceTwins.polySimHashComposable(col("text")).as("s"))
      .filter(not(col("c") <=> col("s"))).count()
    assert(simDiff == 0)
  }

  test("canonicalizeUrl: tracking params stripped, host lowered, path case kept") {
    val cases = Seq(
      ("HTTPS://Ex.COM/Path/A?utm_source=x&id=1#f", "https://ex.com/Path/A?id=1"),
      ("http://a.com/p/?utm_a=1&utm_b=2", "http://a.com/p"),
      ("http://a.com/p?gclid=z", "http://a.com/p"),
      ("https://A.com//", "https://a.com"),
      ("https://a.com/x?b=2&a=1", "https://a.com/x?b=2&a=1"))
    val got = cases.toDF("raw", "want")
      .select(TextFunctions.canonicalizeUrl(col("raw")).as("got"), col("want"))
      .as[(String, String)].collect()
    got.foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("date coalesce: every rendered format parses back to the same date") {
    val days = Gen.listOfN(200, Gen.chooseNum(0, 20000)).sample.get
    val base = days.toDF("d0")
      .withColumn("d", date_add(lit("1970-01-01").cast("date"), col("d0")))
    val fmts = Seq("yyyy-MM-dd", "yyyy/MM/dd", "yyyy.MM.dd", "yyyy年MM月dd日", "yyyyMMdd")
    fmts.foreach { f =>
      val bad = base
        .withColumn("s", date_format(col("d"), f))
        .withColumn("p", DateFunctions.parseMultiFormat(col("s")))
        .filter(col("p") =!= col("d") || col("p").isNull)
        .count()
      assert(bad == 0, s"format $f")
    }
  }

  test("shingles: count == max(0, tokens - k + 1) before dedup, for k=1..4") {
    val texts = Gen.listOfN(80,
      Gen.chooseNum(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.identifier.map(_.take(5))).map(_.mkString(" "))))
      .sample.get
    val df = texts.toDF("t")
    (1 to 4).foreach { k =>
      val bad = df.select(
        TextFunctions.tokenCount(col("t")).as("n"),
        size(TextFunctions.shingles(col("t"), k)).as("s"))
        .filter(col("s") =!= greatest(lit(0), col("n") - (k - 1)))
        .count()
      assert(bad == 0, s"k=$k")
    }
  }

  test("truncation: length bounded and idempotent on short strings") {
    val strs = Gen.listOfN(100, Gen.chooseNum(0, 200)
      .map(n => "x" * n)).sample.get
    val df = strs.toDF("s")
    val marker = "…[truncated]".length
    val bad = df.select(col("s"),
      TextFunctions.truncateWithMarker(col("s"), 50).as("t")).filter(
      (length(col("s")) <= 50 && col("t") =!= col("s")) ||
        (length(col("s")) > 50 && length(col("t")) =!= (50 + marker)))
      .count()
    assert(bad == 0)
  }

  test("fingerprint: permutation-sensitive, stable under identity") {
    val fp = (c: org.apache.spark.sql.Column) => TextFunctions.fingerprint(c)
    val rows = Seq(
      ("a b c", "a c b"), ("x y", "y x"), ("q w e r", "r e w q"))
      .toDF("s1", "s2")
    val sensitive = rows.filter(fp(col("s1")) === fp(col("s2"))).count()
    assert(sensitive == 0)
    assert(rows.filter(fp(col("s1")) =!= fp(col("s1"))).count() == 0)
  }

  test("chunker reconstruction: stripping the overlap re-concatenates the doc") {
    import graft.operators.Chunker
    val texts = Gen.listOfN(80,
      Gen.chooseNum(0, 700).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)))
      .sample.get
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val size = 120; val overlap = 30; val stride = size - overlap
    // piece_i = chunk_i minus its leading overlap (i > 0). Piece starts are
    // o_i + overlap = o_{i-1} + size = previous piece's end — contiguous by
    // construction — and the last chunk is clamped at the doc end, so the
    // concatenation equals the document EXACTLY for every length (incl. 0).
    val rebuilt = Chunker.fixedChunks(df, col("text"), size, overlap)
      .withColumn("piece",
        when(col("chunk_idx") === 0, col("chunk"))
          .otherwise(col("chunk").substr(lit(overlap + 1), lit(size))))
      .groupBy("id")
      .agg(concat_ws("", array_sort(collect_list(struct(col("chunk_idx"), col("piece"))))
        .getField("piece")).as("whole"))
    val mismatches = rebuilt.join(df, "id")
      .filter(not(col("whole") <=> col("text"))).count()
    assert(mismatches == 0, s"stride=$stride")
  }

  test("mixture expected corpus size: sum(n_copies) ~= weight * rows") {
    import graft.operators.Mixture
    val ids = (1L to 20000L).toDF("id")
    Seq(0.25, 1.0, 1.5, 2.75).foreach { w =>
      val total = Mixture.assignCopies(ids, col("id"), lit(w))
        .agg(sum(col("n_copies"))).as[Long].head()
      assert(math.abs(total - w * 20000) < 600, s"w=$w total=$total")
    }
  }

  // ---- warehouse-wave properties (q172–q194 operators) ----------------------

  test("funnel fold == chained-min joins on random event sets (ties included)") {
    import graft.operators.Journey
    val rnd = new scala.util.Random(31)
    val stages = Seq("a", "b", "c")
    // dense small time range → same-second ties occur for real
    val evs = (1 to 4000).map { _ =>
      (rnd.nextInt(60).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(2000) * 1000L),
        Seq("a", "b", "c", "x")(rnd.nextInt(4)))
    }.toDF("u", "t", "e")
    val win = 600L
    val fold = Journey.funnel(evs, col("u"), col("t"), col("e"), stages, win)
      .select("user_key", "depth").as[(Long, Int)].collect().toMap
    // independent implementation: chained-min joins
    val winUs = win * 1000000L
    val f = evs.select(col("u"), unix_micros(col("t")).as("tm"), col("e"))
    var acc = f.filter(col("e") === "a").groupBy(col("u"))
      .agg(min(col("tm")).as("t1"))
      .select(col("u"), col("t1"), col("t1").as("rt"))
    var joins = Map.empty[Long, Int] ++ acc.select("u").as[Long].collect()
      .map(_ -> 1)
    Seq("b", "c").zipWithIndex.foreach { case (st, i) =>
      acc = f.filter(col("e") === st).join(acc, "u")
        .filter(col("tm") > col("rt") && col("tm") <= col("t1") + winUs)
        .groupBy(col("u")).agg(min(col("t1")).as("t1"), min(col("tm")).as("rt"))
        .select(col("u"), col("t1"), col("rt"))
      joins = joins ++ acc.select("u").as[Long].collect().map(_ -> (i + 2))
    }
    assert(fold == joins && fold.nonEmpty)
  }

  test("contentDigest: permutation/partition invariant, single-cell sensitive") {
    import graft.operators.TableOps
    val rnd = new scala.util.Random(17)
    val rows = (1 to 400).map(i => (i.toLong, s"v${rnd.nextInt(50)}",
      if (rnd.nextInt(10) == 0) null else s"w${rnd.nextInt(9)}"))
    def dig(rs: Seq[(Long, String, String)], parts: Int) =
      TableOps.contentDigest(rs.toDF("k", "a", "b").repartition(parts),
        Seq("k", "a", "b")).as[(Long, Long)].head()
    val base = dig(rows, 1)
    assert(dig(rnd.shuffle(rows), 13) == base)
    val i = rnd.nextInt(rows.size)
    val mutated = rows.updated(i, rows(i).copy(_2 = rows(i)._2 + "!"))
    assert(dig(mutated, 7) != base)
  }

  test("intervalOverlap == theta join across random sets and bin widths") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      def side(tag: String) = (1 to 60).map { i =>
        val s = 1700000000L + rnd.nextInt(4000)
        (s"$tag$i", (rnd.nextInt(3)).toString,
          new java.sql.Timestamp(s * 1000L),
          new java.sql.Timestamp((s + rnd.nextInt(1200)) * 1000L))
      }.toDF(s"${tag}_id", s"${tag}_u", s"${tag}_s", s"${tag}_e")
      val l = side("l"); val r = side("r")
      val naive = l.join(r, col("l_u") === col("r_u") &&
          col("l_s") < col("r_e") && col("r_s") < col("l_e"))
        .select("l_id", "r_id").as[(String, String)].collect().toSet
      val bw = Seq(7L, 120L, 5000L)(trial - 1)
      val binned = RangeJoin.intervalOverlap(
          l, col("l_u"), col("l_s"), col("l_e"),
          r, col("r_u"), col("r_s"), col("r_e"), bw)
        .select("l_id", "r_id").as[(String, String)].collect().toSeq
      assert(binned.toSet == naive && binned.size == binned.toSet.size,
        s"trial=$trial bw=$bw")
    }
  }

  test("sentenceChunks invariants: token conservation, budget respected") {
    import graft.operators.Chunker
    val rnd = new scala.util.Random(41)
    val texts = (1 to 120).map { i =>
      (i.toLong, (1 to rnd.nextInt(60)).map { _ =>
        val w = "w" * (1 + rnd.nextInt(3))
        if (rnd.nextInt(5) == 0) w + Seq(".", "!", "?", "...")(rnd.nextInt(4)) else w
      }.mkString(" "))
    }
    val budget = 9
    val out = Chunker.sentenceChunks(texts.toDF("id", "text"), col("text"), budget)
      .select("id", "chunk_idx", "n_sentences", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    texts.foreach { case (id, text) =>
      val sentToks = "[^.!?]+(?:[.!?]+|$)".r.findAllIn(text).map(_.trim)
        .filter(_.nonEmpty)
        .map(_.split("\\s+").count(_.nonEmpty).toLong).toSeq
      val chunks = out.getOrElse(id, Array.empty).sortBy(_._2)
      assert(chunks.map(_._4).sum == sentToks.sum, s"id=$id token mass")
      assert(chunks.map(_._3).sum == sentToks.size, s"id=$id sentence count")
      // every multi-sentence chunk fits the budget; oversize chunks are
      // single oversize sentences
      chunks.foreach { c =>
        assert(c._4 <= budget || c._3 == 1, s"id=$id chunk=$c")
      }
    }
  }
}
