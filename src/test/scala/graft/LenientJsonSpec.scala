package graft

import graft.functions.LenientJsonClean
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** X2 salvage semantics, mirroring the reference's documented behaviors
  * (数据提取.py / PIPE 数据清洗 node): fence-strip, bracket-scan,
  * largest-candidate selection, escape awareness.
  */
class LenientJsonSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def clean(s: String): String = {
    val r = Seq(Option(s)).toDF("x")
      .select(LenientJsonClean.lenientJsonClean(col("x")).as("r"))
      .head()
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("markdown fences stripped") {
    assert(clean("```json\n{\"a\": 1}\n```") == "{\"a\": 1}")
    assert(clean("```JSON\n[1,2]\n```") == "[1,2]")
  }

  test("leading/trailing noise dropped via bracket scan") {
    assert(clean("LLM says: {\"k\": 7} hope that helps!") == "{\"k\": 7}")
  }

  test("largest candidate wins") {
    assert(clean("{\"a\":1} and then {\"b\": {\"c\": 2}}") == "{\"b\": {\"c\": 2}}")
  }

  test("nested brackets and strings with braces/escapes handled") {
    val tricky = "noise {\"s\": \"a } b\", \"t\": \"q\\\" }\", \"u\": [1, {\"v\": 2}]} tail"
    assert(clean(tricky) == "{\"s\": \"a } b\", \"t\": \"q\\\" }\", \"u\": [1, {\"v\": 2}]}")
  }

  test("no candidate → null; unbalanced ignored") {
    assert(clean("no json here") == null)
    assert(clean("{\"open\": 1") == null)
    assert(clean(null) == null)
  }

  test("SQL surface works after registration") {
    // GraftSession sessions carry GraftExtensions, which injects the name
    assert(spark.conf.get("spark.sql.extensions").contains("graft.core.GraftExtensions"))
    val got = spark.sql(
      """SELECT lenient_json_clean('x {"k": 1} y') AS c""").head().getString(0)
    assert(got == "{\"k\": 1}")
  }

  test("parses through get_json_object end-to-end") {
    val got = Seq("```json\n{\"k\": 42}\n```").toDF("x")
      .select(get_json_object(
        LenientJsonClean.lenientJsonClean(col("x")), "$.k").cast("int"))
      .as[Int].head()
    assert(got == 42)
  }
}
