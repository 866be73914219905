package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.sql.{Column, functions => F}

/** Real image-header decoding from payload BYTES (no metadata trust): PNG
  * IHDR, JPEG SOFn marker walk, GIF logical-screen descriptor, BMP
  * BITMAPINFOHEADER, WebP VP8/VP8L/VP8X, TIFF IFD0 (both byte orders) — the pure-JVM subset of the
  * reference's PIL `Image.open` validation gate
  * (多数据源获取数据.py:396-445: an embedded image must DECODE and be
  * ≥50 px to survive). PNG/JPEG/GIF/BMP pixels additionally decode for
  * real via Multimodal.decodeImages (javax.imageio); WebP is dims-only —
  * the VP8 bitstream has no JDK codec, so the gate still judges its
  * header while pixel decode stays behind the seam.
  *
  * Packed result layout (LongType, codegen-friendly single value):
  * bits 56-63 format tag (1=png 2=jpeg 3=gif 4=bmp 5=webp 6=tiff), bits 28-55
  * width, bits 0-27 height. Null = not a decodable image header.
  */
case class ImageDims(child: Expression)
  extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "image_dims"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"image_dims requires binary input, got ${child.dataType.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): ImageDims =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val packed = ImageDims.parse(input.asInstanceOf[Array[Byte]])
    if (packed < 0) null else java.lang.Long.valueOf(packed)
  }
}

object ImageDims {

  val FmtPng = 1L
  val FmtJpeg = 2L
  val FmtGif = 3L
  val FmtBmp = 4L
  val FmtWebp = 5L
  val FmtTiff = 6L

  /** Packed (fmt<<56 | w<<28 | h), or -1 when the bytes are not a
    * parseable PNG/JPEG/GIF/BMP/WebP/TIFF header.
    */
  def parse(b: Array[Byte]): Long = {
    if (b == null || b.length < 10) return -1L
    def u(i: Int): Int = b(i) & 0xFF
    def be16(i: Int): Int = (u(i) << 8) | u(i + 1)
    def be32(i: Int): Long = (u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    def pack(fmt: Long, w: Long, h: Long): Long =
      if (w <= 0 || h <= 0 || w >= (1L << 28) || h >= (1L << 28)) -1L
      else (fmt << 56) | (w << 28) | h

    // PNG: 8-byte signature, then the IHDR chunk (len + "IHDR" + w + h BE)
    if (u(0) == 0x89 && u(1) == 'P' && u(2) == 'N' && u(3) == 'G' &&
      u(4) == 0x0D && u(5) == 0x0A && u(6) == 0x1A && u(7) == 0x0A) {
      if (b.length < 24) return -1L
      if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R') return -1L
      return pack(FmtPng, be32(16), be32(20))
    }
    // GIF: "GIF87a"/"GIF89a", logical screen w/h as LE uint16
    if (u(0) == 'G' && u(1) == 'I' && u(2) == 'F' && u(3) == '8' &&
      (u(4) == '7' || u(4) == '9') && u(5) == 'a') {
      val w = u(6) | (u(7) << 8)
      val h = u(8) | (u(9) << 8)
      return pack(FmtGif, w, h)
    }
    // BMP: "BM" + BITMAPINFOHEADER (biWidth/biHeight LE32 at 18/22;
    // height may be negative = top-down)
    if (u(0) == 'B' && u(1) == 'M') {
      if (b.length < 26) return -1L
      def le32(i: Int): Int = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
      return pack(FmtBmp, le32(18).toLong, math.abs(le32(22)).toLong)
    }
    // WebP: RIFF container, "WEBP" form; dims per coding chunk —
    // VP8 (lossy): 14-bit w/h after the 0x9D012A sync code;
    // VP8L (lossless): 0x2F signature then 14+14 bits packed LE;
    // VP8X (extended): 24-bit LE canvas w-1/h-1 at payload offsets 4/7
    if (u(0) == 'R' && u(1) == 'I' && u(2) == 'F' && u(3) == 'F' &&
      b.length >= 30 && u(8) == 'W' && u(9) == 'E' && u(10) == 'B' && u(11) == 'P') {
      val cc = new String(b, 12, 4, java.nio.charset.StandardCharsets.US_ASCII)
      cc match {
        case "VP8 " =>
          // 3-byte frame tag, then sync 9D 01 2A, then LE16 w/h (14 bits)
          if (u(23) != 0x9D || u(24) != 0x01 || u(25) != 0x2A) return -1L
          return pack(FmtWebp, (u(26) | (u(27) << 8)) & 0x3FFF, (u(28) | (u(29) << 8)) & 0x3FFF)
        case "VP8L" =>
          if (u(20) != 0x2F) return -1L
          val bits = u(21).toLong | (u(22).toLong << 8) | (u(23).toLong << 16) |
            (u(24).toLong << 24)
          return pack(FmtWebp, (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
        case "VP8X" =>
          val w = (u(24) | (u(25) << 8) | (u(26) << 16)) + 1
          val h = (u(27) | (u(28) << 8) | (u(29) << 16)) + 1
          return pack(FmtWebp, w, h)
        case _ => return -1L
      }
    }
    // TIFF: "II*\0" (little-endian) / "MM\0*" (big-endian), IFD0 offset
    // at byte 4; dims from tags 256 (ImageWidth) / 257 (ImageLength),
    // SHORT values left-justified in the 4-byte field per TIFF 6.0 -- the
    // scanned-document format of archived corpora (JDK imageio writes and
    // decodes it since 9, so the q93 fixture round-trips real bytes)
    if ((u(0) == 'I' && u(1) == 'I' && u(2) == 0x2A && u(3) == 0) ||
      (u(0) == 'M' && u(1) == 'M' && u(2) == 0 && u(3) == 0x2A)) {
      val le = u(0) == 'I'
      def r16(i: Int): Int = if (le) u(i) | (u(i + 1) << 8) else (u(i) << 8) | u(i + 1)
      def r32(i: Int): Long =
        if (le) u(i).toLong | (u(i + 1).toLong << 8) | (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
        else (u(i).toLong << 24) | (u(i + 1).toLong << 16) | (u(i + 2).toLong << 8) | u(i + 3).toLong
      val ifd = r32(4)
      if (ifd < 8 || ifd + 2 > b.length) return -1L
      val n = r16(ifd.toInt)
      var w = -1L; var h = -1L
      var e = 0
      while (e < n && ifd + 2 + 12L * e + 12 <= b.length) {
        val off = ifd.toInt + 2 + 12 * e
        val tag = r16(off)
        // count must be 1: for count > 1 the value field holds a file
        // OFFSET (TIFF 6.0), which would otherwise be misread as a dim
        if ((tag == 256 || tag == 257) && r32(off + 4) == 1) {
          val v: Long = r16(off + 2) match {
            case 3 => r16(off + 8).toLong // SHORT, left-justified inline
            case 4 => r32(off + 8)        // LONG
            case _ => -1L
          }
          if (tag == 256) w = v else h = v
        }
        e += 1
      }
      return pack(FmtTiff, w, h)
    }
    // JPEG: SOI then marker segments; dims live in the first SOFn
    if (u(0) == 0xFF && u(1) == 0xD8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u(i) != 0xFF) return -1L // lost sync
        var m = u(i + 1)
        // fill bytes: consume repeated 0xFF before the marker code
        while (m == 0xFF && i + 2 < b.length) { i += 1; m = u(i + 1) }
        if (m == 0xD9 || m == 0xDA) return -1L // EOI / SOS before any SOF
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) { i += 2 } // standalone
        else {
          if (i + 3 >= b.length) return -1L
          val len = be16(i + 2)
          if (len < 2) return -1L
          val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
          if (isSof) {
            if (i + 8 >= b.length) return -1L
            return pack(FmtJpeg, be16(i + 7), be16(i + 5))
          }
          i += 2 + len
        }
      }
      return -1L
    }
    -1L
  }

  /** Column bridge. */
  def expr(payload: Column): Column =
    GraftColumnBridge.column(ImageDims(GraftColumnBridge.expression(payload)))

  /** Decoded-format name column (null when undecodable). */
  def formatOf(packed: Column): Column =
    F.when(packed.isNull, F.lit(null).cast("string"))
      .when(F.shiftright(packed, 56) === FmtPng, "png")
      .when(F.shiftright(packed, 56) === FmtJpeg, "jpeg")
      .when(F.shiftright(packed, 56) === FmtGif, "gif")
      .when(F.shiftright(packed, 56) === FmtBmp, "bmp")
      .when(F.shiftright(packed, 56) === FmtWebp, "webp")
      .when(F.shiftright(packed, 56) === FmtTiff, "tiff")

  def widthOf(packed: Column): Column =
    F.shiftright(packed, 28).bitwiseAND(F.lit((1L << 28) - 1)).cast("int")

  def heightOf(packed: Column): Column =
    packed.bitwiseAND(F.lit((1L << 28) - 1)).cast("int")
}
