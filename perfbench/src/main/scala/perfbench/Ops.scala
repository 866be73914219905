package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.KvBlock
import perfbench.Main.{OpResult, Pin}

/** The operations a pass runs. `label` names the phase about to start
  * (null when the operation is done); traced passes turn it into a job
  * label.
  */
object Ops {
  val CorpusOp = "corpus_62k_pipeline"

  /** A declared query: build, plan, then the checksum action. */
  def query(
      spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
      dataDir: String, label: String => Unit): OpResult = {
    val marks = new Array[Long](4)
    try {
      label("build")
      marks(0) = System.nanoTime()
      val df = fn(spark, dataDir)
      label("plan")
      marks(1) = System.nanoTime()
      val summary = Checks.summary(df)
      summary.queryExecution.executedPlan
      label("action")
      marks(2) = System.nanoTime()
      val row = summary.collect()(0)
      marks(3) = System.nanoTime()
      OpResult(name, marks, ok = true, "", row.getLong(0), row.getLong(1))
    } catch {
      case NonFatal(e) => failure(name, marks, e)
    } finally label(null)
  }

  /** `Bench.corpusPipeline` into `out`. The result's checksum is left 0:
    * [[parseBack]] computes it from the written files.
    */
  def corpus(spark: SparkSession, out: File, label: String => Unit): OpResult = {
    val marks = new Array[Long](4)
    try {
      label("action")
      marks(0) = System.nanoTime()
      marks(1) = marks(0)
      marks(2) = marks(0)
      val n = graft.Bench.corpusPipeline(spark, out.getPath)
      marks(3) = System.nanoTime()
      val parts = files(out).filter(_.getName.startsWith("part-"))
      OpResult(CorpusOp, marks, ok = true, "", n, 0L, parts.size, parts.map(_.length).sum)
    } catch {
      case NonFatal(e) => failure(CorpusOp, marks, e)
    } finally label(null)
  }

  /** Parses the blocks [[corpus]] wrote back: their count must equal the
    * count the pipeline reported, and the checksum covers the parsed name,
    * type and region fields.
    */
  def parseBack(spark: SparkSession, out: File, r: OpResult): OpResult =
    if (!r.ok) r
    else try {
      val kv = col("kv")
      val back = Checks.summary(KvBlock.readPartitioned(spark, out.getPath).select(
        KvBlock.field(kv, "机构名称"), KvBlock.field(kv, "机构类型"),
        KvBlock.field(kv, "区域编号"))).collect()(0)
      if (back.getLong(0) == r.rows) r.copy(checksum = back.getLong(1))
      else r.copy(ok = false, note = s"wrote ${r.rows} records, parsed back ${back.getLong(0)}")
    } catch {
      case NonFatal(e) => r.copy(ok = false, note = e.toString.take(500))
    }

  /** Fails `r` unless its output matches the pinned one. */
  def verify(r: OpResult, pin: Option[Pin]): OpResult =
    if (!r.ok) r
    else pin match {
      case None => r.copy(ok = false, note = "no pinned output")
      case Some(p) if p.rows != r.rows => r.copy(ok = false, note = s"rows ${r.rows}, pinned ${p.rows}")
      case Some(Pin(_, Some(c))) if c != r.checksum =>
        r.copy(ok = false, note = s"checksum ${r.checksum}, pinned $c")
      case _ => r
    }

  private def failure(name: String, marks: Array[Long], e: Throwable): OpResult = {
    val now = System.nanoTime()
    if (marks(0) == 0L) marks(0) = now
    (1 until 4).foreach(i => if (marks(i) == 0L) marks(i) = now)
    OpResult(name, marks, ok = false, e.toString.take(500), -1L, 0L)
  }

  def files(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
