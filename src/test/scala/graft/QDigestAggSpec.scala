package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{QDigestBuffer, QDigestCompress}
import graft.operators.QuantileDigest

/** The q-digest build and merge as one aggregation
  * (functions/QDigestAgg.scala): the sorted-array kernel against the map
  * walk it replaced, partition independence of the registers, the
  * buffer's serialized form, and the fail-loud checks on the aggregate
  * path.
  */
class QDigestAggSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Random nodes: leaves only, or any level up to the root; counts from
    * 0, cells repeated.
    */
  private def randomNodes(rnd: scala.util.Random, bits: Int, mixed: Boolean)
      : Array[(Int, Long, Long)] = {
    val m = rnd.nextInt(120)
    val spread = 1L << math.min(bits, 1 + rnd.nextInt(bits))
    Array.fill(m) {
      val lvl = if (mixed) rnd.nextInt(bits + 1) else 0
      val width = 1L << (bits - lvl)
      // a narrow value range yields repeats and full sibling pairs
      val cell = (rnd.nextLong() & Long.MaxValue) % math.min(width, spread)
      val cnt = if (rnd.nextInt(8) == 0) 0L else 1L + rnd.nextInt(40)
      (lvl, cell, cnt)
    }
  }

  /** `nodes` summed per (lvl, cell), zero counts dropped, as sorted packed
    * keys with their counts: the kernel's input contract.
    */
  private def sortedInput(nodes: Array[(Int, Long, Long)], bits: Int)
      : (Array[Long], Array[Long]) = {
    val summed = nodes.groupMapReduce { case (l, c, _) =>
      QDigestCompress.pack(l, c, 0L, bits) }(_._3)(_ + _)
      .filter(_._2 > 0).toArray.sortBy(_._1)
    (summed.map(_._1), summed.map(_._2))
  }

  private def unpack(keys: Array[Long], cnts: Array[Long]): Seq[(Int, Long, Long)] =
    keys.indices.map(i => ((keys(i) >>> 48).toInt, keys(i) & ((1L << 48) - 1), cnts(i)))

  test("compressSorted equals the map-walk twin on randomized inputs") {
    val rnd = new scala.util.Random(251)
    val bitsChoices = (1 to 14) :+ 40
    var cases = 0
    for (i <- 0 until 2400) {
      val bits = bitsChoices(rnd.nextInt(bitsChoices.size))
      val nodes = randomNodes(rnd, bits, mixed = i % 2 == 1)
      val mass = nodes.map(_._3).sum
      val k = rnd.nextInt(4) match {
        case 0 => 2
        case 1 => math.max(2L, math.min(mass + 1 + rnd.nextInt(5), 1L << 20)).toInt // k >= n
        case _ => 2 + rnd.nextInt(64)
      }
      val want = ReferenceTwins.qdigestCompressMap(nodes, bits, k).toSeq
      val (keys, cnts) = sortedInput(nodes, bits)
      val got = QDigestCompress.compressSorted(keys, cnts, bits, k)
      assert(unpack(got._1, got._2) == want, s"case $i: bits=$bits k=$k nodes=${nodes.toSeq}")
      assert(QDigestCompress.compress(nodes, bits, k).toSeq == want, s"case $i (buffer)")
      cases += 1
    }
    assert(cases >= 2000)
  }

  test("compressSorted edge inputs: empty, root only, one leaf, all zero counts") {
    for ((nodes, bits, k) <- Seq(
        (Array.empty[(Int, Long, Long)], 8, 4),
        (Array((8, 0L, 5L)), 8, 4),
        (Array((0, 0L, 1L)), 1, 2),
        (Array((0, 1L, 3L), (1, 0L, 2L)), 1, 2),
        (Array((0, 3L, 0L), (2, 1L, 0L)), 8, 4),
        (Array((0, (1L << 40) - 1, 7L), (40, 0L, 1L)), 40, 2))) {
      val (keys, cnts) = sortedInput(nodes, bits)
      val got = QDigestCompress.compressSorted(keys, cnts, bits, k)
      assert(unpack(got._1, got._2) ==
        ReferenceTwins.qdigestCompressMap(nodes, bits, k).toSeq, nodes.toSeq)
    }
  }

  test("registers are identical from 1 input partition or 7") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(20000)((rnd.nextInt(5), rnd.nextInt(1 << 12).toLong))
    def regs(parts: Int) = {
      val df = rows.toDF("g", "v").repartition(parts)
      val built = QuantileDigest.registers(df, Seq(col("g")), col("v"), 12, 32)
      val merged = QuantileDigest.merge(
        built.repartition(parts).withColumn("all", lit(0)), Seq(col("all")), 12, 16)
      (built.as[(Int, Int, Long, Long)].collect().toSeq.sorted,
        merged.as[(Int, Int, Long, Long)].collect().toSeq.sorted)
    }
    val (b1, m1) = regs(1)
    val (b7, m7) = regs(7)
    assert(b1.nonEmpty && m1.nonEmpty)
    assert(b1 == b7)
    assert(m1 == m7)
  }

  test("a buffer survives a serialize/deserialize round trip, empty too") {
    val empty = QDigestBuffer.deserialize(new QDigestBuffer(0).serialize())
    assert(empty.size == 0 && empty.sorted()._1.isEmpty)
    val rnd = new scala.util.Random(5)
    val buf = new QDigestBuffer(1)
    // enough distinct keys to grow the table several times
    for (_ <- 0 until 5000) buf.add(rnd.nextInt(3), rnd.nextInt(1 << 10), 1 + rnd.nextInt(9), 12)
    val back = QDigestBuffer.deserialize(buf.serialize())
    val (k1, c1) = buf.sorted()
    val (k2, c2) = back.sorted()
    assert(back.size == buf.size && k1.toSeq == k2.toSeq && c1.toSeq == c2.toSeq)
    assert(k1.toSeq == k1.toSeq.sorted && k1.distinct.length == k1.length)
  }

  test("out-of-range level, cell and negative count fail loud through the aggregate") {
    def failure(body: => Unit): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val regs = Seq(("a", 0, 3L, 1L)).toDF("g", "lvl", "cell", "cnt")
    val badLevel = regs.withColumn("lvl", lit(9))
    assert(failure(QuantileDigest.merge(badLevel, Seq(col("g")), 8, 4).collect())
      .contains("level 9 outside [0, 8]"))
    val badCell = Seq(("a", 256L)).toDF("g", "v")
    assert(failure(QuantileDigest.registers(badCell, Seq(col("g")), col("v"), 8, 4).collect())
      .contains("cell 256 outside the 8-bit universe"))
    val badCount = regs.withColumn("cnt", lit(-1L))
    assert(failure(QuantileDigest.merge(badCount, Seq(col("g")), 8, 4).collect())
      .contains("negative count -1"))
  }
}
