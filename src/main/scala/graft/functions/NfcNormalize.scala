package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a compiled Catalyst expression — the
  * canonical-composition pass every web-scraped corpus needs before ANY
  * hash-keyed operator (exact dedup, line dedup, MinHash shingles): "é" as
  * U+0065 U+0301 and as U+00E9 are the same text but different bytes, so an
  * un-normalized corpus under-dedups and double-counts vocabulary.
  *
  * Semantics = `java.text.Normalizer.normalize(s, NFC)` — the Unicode
  * canonical composition algorithm (UAX #15), which DuckDB exposes as
  * `nfc_normalize`, so queries over it are oracle-checkable (q123).
  * The fast path is free: `Normalizer.isNormalized` is an O(n) scan that
  * short-circuits on the first non-starter, and real corpora are
  * overwhelmingly already-NFC, so the common row never allocates.
  *
  * Scale posture: per-row scalar inside WholeStageCodegen (RefKernelCodegen
  * keeps the surrounding projection fused) — no shuffle, no UDF
  * serialization; reference analog: the text-cleaning chain of
  * DATA.clean_text (DATA:1164-1214), which normalizes before rule filters.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) u
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}

object NfcNormalize {

  /** Column bridge for the compiled NFC pass. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(c)))
}
