package graft

import graft.functions.{CanonicalText, FixMojibake}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CanonicalText (dedup-key normalization chain) and FixMojibake
  * (CP1252-double-decode repair) — scalar kernels plus the compiled
  * column path.
  */
class TextRepairSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- CanonicalText -------------------------------------------------------

  test("canonicalize: case, accents, decomposition and whitespace collapse") {
    assert(CanonicalText.canonicalize("Hello   World") == "hello world")
    assert(CanonicalText.canonicalize("CAFÉ au lait") == "cafe au lait")
    assert(CanonicalText.canonicalize("Café") == "cafe")        // decomposed
    assert(CanonicalText.canonicalize("  \ttabs\nand newlines  ") == "tabs and newlines")
    assert(CanonicalText.canonicalize("") == "")
    assert(CanonicalText.canonicalize("naïve résumé") == "naive resume")
  }

  test("canonicalize keeps non-accent non-ASCII intact") {
    assert(CanonicalText.canonicalize("中文 Text") == "中文 text")
    // supplementary chars survive the codepoint walk
    val smile = new String(Character.toChars(0x1F600))
    assert(CanonicalText.canonicalize(s"A $smile B") == s"a $smile b")
  }

  test("canonical variants collapse to one dedup key (column path)") {
    val df = Seq("The Quick Fox", "the  quick fox", "THE QUICK FOX",
      "Thé Quick Fox").toDF("s")
    val keys = df.select(CanonicalText.expr(col("s")).as("c"))
      .as[String].collect().toSet
    assert(keys == Set("the quick fox"))
  }

  // ---- FixMojibake ---------------------------------------------------------

  test("repair reverses a CP1252 mis-decode") {
    // "café" mis-decoded: é (C3 A9) read as CP1252 -> "Ã©"
    assert(FixMojibake.repair("cafÃ©") == "café")
    // multi-char: "über" -> ü (C3 BC) -> "Ã¼"
    assert(FixMojibake.repair("Ã¼ber") == "über")
    // CP1252 high-punctuation page: — (E2 80 94) -> "â€”" (€ = 0x80, ” = 0x94)
    assert(FixMojibake.repair("aâ€”b") == "a—b")
  }

  test("repair is a no-op on clean text") {
    assert(FixMojibake.repair("plain ascii stays") == "plain ascii stays")
    // a REAL é: CP1252 byte E9 is not valid UTF-8 -> untouched
    assert(FixMojibake.repair("café") == "café")
    // unmappable-in-CP1252 chars -> untouched
    assert(FixMojibake.repair("中文") == "中文")
    val smile = new String(Character.toChars(0x1F600))
    assert(FixMojibake.repair(s"hi $smile") == s"hi $smile")
    // mixed real-é + mojibake: round trip fails at the real é -> untouched
    // (conservative whole-string contract)
    assert(FixMojibake.repair("café Ã©") == "café Ã©")
  }

  test("repair idempotence on already-repaired text") {
    val once = FixMojibake.repair("cafÃ©")
    assert(FixMojibake.repair(once) == once)
  }

  test("column path repairs and passes nulls") {
    val df = Seq(Option("cafÃ©"), Option("ok"), None).toDF("s")
    val out = df.select(FixMojibake.expr(col("s")).as("f")).collect()
    assert(out.map(r => Option(r.getString(0))).toSet ==
      Set(Some("café"), Some("ok"), None))
  }
}
