package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EXIF metadata extraction (the EXIF 2.x spec: a TIFF IFD embedded
  * in a JPEG APP1 segment behind the "Exif\0\0" preamble) — the
  * metadata every image-corpus pipeline reads BEFORE pixels:
  * orientation decides whether decode output needs a rotate,
  * DateTime/Make drive dedup heuristics and provenance, and the Exif
  * sub-IFD's pixel dims pre-filter without entropy decode.
  *
  * Traps pinned here: all IFD and value offsets are relative to the
  * TIFF HEADER start, not the file or segment start; both byte
  * orders occur in the wild (II and MM, chosen by the camera maker);
  * ASCII values ≤4 bytes are inline (left-justified), longer ones
  * live at offsets and carry a terminating NUL inside their count;
  * SHORT vs LONG varies per writer for the pixel-dimension tags.
  * Walks: SOI → APP1("Exif\0\0") → IFD0 {Make 271, Orientation 274,
  * DateTime 306, ExifIFDPointer 34665} → Exif IFD {PixelXDimension
  * 40962, PixelYDimension 40963}. Anything malformed → null
  * (PERMISSIVE). Per-row kernel, no shuffle. */
object Exif {

  final case class Meta(orientation: Int, make: String, dateTime: String,
      pxWidth: Long, pxHeight: Long)

  def extract(jpeg: Array[Byte]): Option[Meta] = {
    val tiff = findExifBlock(jpeg).getOrElse(return None)
    parseTiff(tiff)
  }

  /** JPEG marker walk to the APP1 Exif payload (after "Exif\0\0"). */
  private def findExifBlock(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 4) return None
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var p = 2
    while (p + 4 <= b.length) {
      if ((b(p) & 0xff) != 0xff) return None
      val marker = b(p + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) { p += 2 }
      else if (marker == 0xda || marker == 0xd9) return None // scan/EOI: no EXIF
      else {
        val len = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > b.length) return None
        if (marker == 0xe1 && len >= 8 &&
            b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
            b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
          return Some(java.util.Arrays.copyOfRange(b, p + 10, p + 2 + len))
        }
        p += 2 + len
      }
    }
    None
  }

  private def parseTiff(b: Array[Byte]): Option[Meta] = {
    if (b.length < 8) return None
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    def u16(i: Int): Int =
      if (i < 0 || i > b.length - 2) -1
      else if (le) (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      else ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    def u32(i: Int): Long =
      if (i < 0 || i > b.length - 4) -1L
      else if (le) (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
      else ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    if (u16(2) != 42) return None

    // one IFD: map of tag -> (type, count, valueFieldOffset)
    def walk(ifdOff: Long): Map[Int, (Int, Long, Int)] = {
      if (ifdOff < 8 || ifdOff + 2 > b.length) return Map.empty
      val n = u16(ifdOff.toInt)
      if (n <= 0 || ifdOff + 2 + 12L * n > b.length) return Map.empty
      (0 until n).map { i =>
        val e = ifdOff.toInt + 2 + 12 * i
        u16(e) -> ((u16(e + 2), u32(e + 4), e + 8))
      }.toMap
    }
    def shortOrLong(ent: (Int, Long, Int)): Long = ent match {
      case (3, 1L, at) => u16(at).toLong // SHORT, inline, left-justified
      case (4, 1L, at) => u32(at)
      case _ => -1L
    }
    def ascii(ent: (Int, Long, Int)): String = {
      val (ty, cnt, at) = ent
      if (ty != 2 || cnt <= 0 || cnt > 256) return null
      val base = if (cnt <= 4) at else {
        val off = u32(at)
        if (off < 0 || off + cnt > b.length) return null
        off.toInt
      }
      if (base + cnt > b.length) return null
      // count INCLUDES the terminating NUL; tolerate its absence
      val upto = (base until (base + cnt.toInt)).takeWhile(i => b(i) != 0)
      new String(b, base, upto.length, java.nio.charset.StandardCharsets.US_ASCII)
    }

    val ifd0 = walk(u32(4))
    if (ifd0.isEmpty) return None
    val orientation = ifd0.get(274).map(shortOrLong).getOrElse(-1L)
    val make = ifd0.get(271).map(ascii).orNull
    val dateTime = ifd0.get(306).map(ascii).orNull
    val exifIfd = ifd0.get(34665).map {
      case (4, 1L, at) => u32(at)
      case _ => -1L
    }.getOrElse(-1L)
    var pxW = -1L
    var pxH = -1L
    if (exifIfd > 0) {
      val sub = walk(exifIfd)
      pxW = sub.get(40962).map(shortOrLong).getOrElse(-1L)
      pxH = sub.get(40963).map(shortOrLong).getOrElse(-1L)
    }
    if (orientation < 0 && make == null && dateTime == null && pxW < 0)
      return None // an APP1 that resolved to nothing useful
    Some(Meta(orientation.toInt, make, dateTime, pxW, pxH))
  }

  /** Splice a synthesized EXIF APP1 right after SOI of an existing
    * JPEG: Make = "Cam<id%5>", Orientation = 1 + id%8, DateTime =
    * "2026:01:<dd> 12:00:00" with dd = 1 + id%28 zero-padded, pixel
    * dims = the container's (w, h); byte order alternates with id. */
  def withExif(jpeg: Array[Byte], id: Long, w: Int, h: Int): Array[Byte] = {
    // Callable on arbitrary binary via the Column API: never splice
    // into something that is not a JPEG (needs the 2-byte FFD8 SOI).
    if (jpeg == null || jpeg.length < 2 ||
        (jpeg(0) & 0xff) != 0xff || (jpeg(1) & 0xff) != 0xd8) return jpeg
    val le = id % 2 == 0
    val make = s"Cam${id % 5}" + "\u0000"
    val dd = 1 + id % 28
    val dateTime = f"2026:01:$dd%02d 12:00:00" + "\u0000"
    // TIFF block layout (offsets relative to header start):
    //   0 header(8) | 8 IFD0: count(2) + 4 entries(48) + next(4) = 54
    //   62 make bytes | 62+len(make) dateTime bytes | then Exif IFD
    val makeOff = 62
    val dtOff = makeOff + make.length
    val exifOff = dtOff + dateTime.length
    // Exif IFD: count(2) + 2 entries(24) + next(4) = 30
    val total = exifOff + 30
    val t = new Array[Byte](total)
    def w16(i: Int, v: Int): Unit =
      if (le) { t(i) = v.toByte; t(i + 1) = (v >> 8).toByte }
      else { t(i) = (v >> 8).toByte; t(i + 1) = v.toByte }
    def w32(i: Int, v: Int): Unit =
      if (le) {
        t(i) = v.toByte; t(i + 1) = (v >> 8).toByte
        t(i + 2) = (v >> 16).toByte; t(i + 3) = (v >> 24).toByte
      } else {
        t(i) = (v >>> 24).toByte; t(i + 1) = (v >> 16).toByte
        t(i + 2) = (v >> 8).toByte; t(i + 3) = v.toByte
      }
    t(0) = if (le) 'I' else 'M'; t(1) = t(0)
    w16(2, 42); w32(4, 8)
    w16(8, 4) // IFD0 entry count
    var e = 10
    def entry(tag: Int, ty: Int, cnt: Int, writeVal: Int => Unit): Unit = {
      w16(e, tag); w16(e + 2, ty); w32(e + 4, cnt); writeVal(e + 8); e += 12
    }
    entry(271, 2, make.length, at => w32(at, makeOff))
    entry(274, 3, 1, at => w16(at, (1 + id % 8).toInt))
    entry(306, 2, dateTime.length, at => w32(at, dtOff))
    entry(34665, 4, 1, at => w32(at, exifOff))
    w32(e, 0) // next IFD
    System.arraycopy(make.getBytes("US-ASCII"), 0, t, makeOff, make.length)
    System.arraycopy(dateTime.getBytes("US-ASCII"), 0, t, dtOff, dateTime.length)
    w16(exifOff, 2)
    e = exifOff + 2
    entry(40962, 3, 1, at => w16(at, w)) // SHORT on one axis ...
    entry(40963, 4, 1, at => w32(at, h)) // ... LONG on the other: both paths
    w32(e, 0)

    val payload = ("Exif" + "\u0000\u0000").getBytes("US-ASCII") ++ t
    val segLen = payload.length + 2
    val out = new java.io.ByteArrayOutputStream(jpeg.length + segLen + 2)
    out.write(jpeg, 0, 2) // SOI
    out.write(0xff); out.write(0xe1)
    out.write((segLen >> 8) & 0xff); out.write(segLen & 0xff)
    out.write(payload, 0, payload.length)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }
}

/** `exif_meta(jpeg_binary)` -> struct(orientation, make, datetime,
  * px_width, px_height) or null when no readable EXIF is present. */
case class ExifMeta(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("orientation", IntegerType), StructField("make", StringType),
    StructField("datetime", StringType), StructField("px_width", LongType),
    StructField("px_height", LongType)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"exif_meta expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Exif.extract(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(m) =>
        new GenericInternalRow(Array[Any](m.orientation,
          if (m.make == null) null else UTF8String.fromString(m.make),
          if (m.dateTime == null) null else UTF8String.fromString(m.dateTime),
          m.pxWidth, m.pxHeight))
    }
  override protected def withNewChildInternal(newChild: Expression): ExifMeta =
    copy(child = newChild)
  override def prettyName: String = "exif_meta"
}

/** `jpeg_with_exif(jpeg_binary, id, w, h)` -> the same JPEG with the
  * synthesized EXIF APP1 spliced after SOI (see [[Exif.withExif]]). */
case class JpegWithExif(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (BinaryType, LongType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jpeg_with_exif expects (binary, long, int, int), got $other")
    }
  override def nullSafeEval(bA: Any, idA: Any, wA: Any, hA: Any): Any =
    Exif.withExif(bA.asInstanceOf[Array[Byte]], idA.asInstanceOf[Long],
      wA.asInstanceOf[Int], hA.asInstanceOf[Int])
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): JpegWithExif =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
  override def prettyName: String = "jpeg_with_exif"
}

object exif {
  def exif_meta(blob: Column): Column =
    ColumnBridge.column(ExifMeta(ColumnBridge.expression(blob)))
  def jpeg_with_exif(blob: Column, id: Column, w: Column, h: Column): Column =
    ColumnBridge.column(JpegWithExif(ColumnBridge.expression(blob),
      ColumnBridge.expression(id), ColumnBridge.expression(w),
      ColumnBridge.expression(h)))
}
