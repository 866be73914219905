package graft.functions

import java.nio.charset.{CharacterCodingException, Charset, CodingErrorAction}
import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Canonical text form for dedup keying — the standard chain every
  * web-corpus dedup pipeline applies before hashing so that trivial
  * variants (case, accents, decomposed Unicode, whitespace runs) collapse
  * onto one key: NFC → strip accents (NFD, drop combining marks, NFC) →
  * lowercase → collapse whitespace → trim. One compiled pass per row
  * (RefKernelCodegen), oracle-mirrored by DuckDB's
  * `trim(regexp_replace(lower(strip_accents(nfc_normalize(s))), '\s+', ' ', 'g'))`
  * (q126). Reference analog: the clean_text normalization chain
  * (DATA:1164-1214) that precedes the reference's exact-id dedup.
  */
case class CanonicalText(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "canonical_text"

  override protected def withNewChildInternal(newChild: Expression): CanonicalText =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      CanonicalText.canonicalize(input.asInstanceOf[UTF8String].toString))
}

object CanonicalText {

  def canonicalize(s: String): String = {
    // strip accents: decompose, drop combining marks, recompose. Composing
    // first is unnecessary — NFD of NFC(s) == NFD(s) by UAX #15.
    val nfd = Normalizer.normalize(s, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    val stripped = Normalizer.normalize(sb.toString, Normalizer.Form.NFC)
    stripped.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").trim
  }

  /** Column bridge for the compiled canonicalization pass. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(CanonicalText(GraftColumnBridge.expression(c)))
}

/** Mojibake repair (the ftfy core heuristic): text that went through a
  * UTF-8-bytes-read-as-CP1252 mis-decode ("é" → "Ã©") is detected and
  * reversed by round-tripping — re-encode the characters as CP1252 bytes
  * and strictly re-decode as UTF-8. The repair applies ONLY when the
  * round trip (a) encodes losslessly, (b) decodes as valid UTF-8 and
  * (c) changes the string; otherwise the input passes through untouched —
  * ASCII and correctly-decoded text are fixed points, so the pass is safe
  * to run corpus-wide. One compiled pass per row; the q128 oracle replays
  * the planted sequences with static replaces, certifying the GENERAL
  * algorithm on them. Reference analog: the encoding-sniff half of the
  * document parse chain (DATA:1384-1447).
  */
case class FixMojibake(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "fix_mojibake"

  override protected def withNewChildInternal(newChild: Expression): FixMojibake =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      FixMojibake.repair(input.asInstanceOf[UTF8String].toString))
}

object FixMojibake {

  private val cp1252 = Charset.forName("windows-1252")

  def repair(s: String): String = {
    // fast path: pure-ASCII strings cannot be mojibake
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return s
    try {
      val enc = cp1252.newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val bytes = enc.encode(java.nio.CharBuffer.wrap(s))
      val dec = Charset.forName("UTF-8").newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val out = dec.decode(bytes).toString
      if (out != s) out else s
    } catch {
      case _: CharacterCodingException => s
    }
  }

  /** Column bridge for the compiled repair pass. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(FixMojibake(GraftColumnBridge.expression(c)))
}

/** Payment-card redaction with Luhn validation — the upgrade over a bare
  * digit-run regex: a 16-digit order number is NOT a card, and mod-10
  * checks are what separates them. Boundary-anchored runs of 13-19 digits
  * (`(?<!\d)\d{13,19}(?!\d)`; longer runs are not cards by contract —
  * embedded separators are out of scope) that PASS the Luhn checksum are
  * replaced with `[CARD]`; failing runs are left untouched. One compiled
  * pass per row; complements `TextFunctions.redactPii` (email/phone, F12).
  */
case class RedactCardNumbers(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "redact_card_numbers"

  override protected def withNewChildInternal(newChild: Expression): RedactCardNumbers =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      RedactCardNumbers.redact(input.asInstanceOf[UTF8String].toString))
}

object RedactCardNumbers {

  private val run = java.util.regex.Pattern.compile("(?<!\\d)\\d{13,19}(?!\\d)")

  def luhnValid(digits: CharSequence): Boolean = {
    var sum = 0
    var alt = false
    var i = digits.length - 1
    while (i >= 0) {
      var d = digits.charAt(i) - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  def redact(s: String): String = {
    val m = run.matcher(s)
    var sb: java.lang.StringBuilder = null
    var last = 0
    while (m.find()) {
      if (luhnValid(s.subSequence(m.start(), m.end()))) {
        if (sb == null) sb = new java.lang.StringBuilder(s.length)
        sb.append(s, last, m.start()).append("[CARD]")
        last = m.end()
      }
    }
    if (sb == null) s else { sb.append(s, last, s.length); sb.toString }
  }

  /** Column bridge for the compiled redaction pass. */
  def expr(c: Column): Column =
    GraftColumnBridge.column(RedactCardNumbers(GraftColumnBridge.expression(c)))
}
