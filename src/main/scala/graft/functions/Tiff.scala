package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Baseline TIFF (TIFF 6.0 spec, Adobe 1992 — public) — the raster
  * container scientific and scanned-document corpora actually ship.
  * Unlike PNG/JPEG/GIF/BMP/QOI above, TIFF is a *directory* format:
  * an endianness-tagged header ("II" little / "MM" big + magic 42)
  * points at an IFD whose 12-byte entries locate the image data, and
  * values ≤4 bytes are stored INLINE in the entry — left-justified in
  * the value field for big-endian files, a classic decoder trap that
  * value-checked congruences catch (a LE-only reader misreads every
  * MM SHORT tag as 0 or ×65536).
  *
  * Pinned scope (stated, not implied): baseline bilevel-free subset —
  * Compression=1 (none), PhotometricInterpretation 1 (BlackIsZero,
  * SamplesPerPixel 1) or 2 (RGB, SamplesPerPixel 3), BitsPerSample
  * 8 per sample, any RowsPerStrip (multi-strip layouts walked via
  * StripOffsets/StripByteCounts arrays, which overflow the inline
  * value field and live at offsets). Anything else → None
  * (PERMISSIVE: LZW/PackBits/tiled/planar route as null rather than
  * failing the scan). Decode never throws on arbitrary bytes.
  * Per-row kernel: no shuffle, 100 TB shape. */
object Tiff {

  private final class Reader(b: Array[Byte], le: Boolean) {
    def u16(i: Int): Int =
      if (i < 0 || i > b.length - 2) -1
      else if (le) (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      else ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    def u32(i: Int): Long =
      if (i < 0 || i > b.length - 4) -1L
      else if (le) ((b(i) & 0xffL)) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
      else ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  }

  // TIFF field types we honor (sizes in bytes)
  private final val TShort = 3
  private final val TLong = 4

  /** Decode: (width, height, samplesPerPixel, interleaved samples) or
    * None for anything outside the pinned baseline subset. */
  def decode(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (b == null || b.length < 8) return None
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    val r = new Reader(b, le)
    if (r.u16(2) != 42) return None
    val ifd = r.u32(4)
    if (ifd < 8 || ifd + 2 > b.length) return None
    val nEntries = r.u16(ifd.toInt)
    if (nEntries <= 0 || ifd + 2 + 12L * nEntries > b.length) return None

    // one scalar read per tag; arrays resolved separately below.
    // inline values are LEFT-justified in the 4-byte field, so a
    // big-endian SHORT reads from the field's FIRST two bytes in both
    // endiannesses — the justification trap only bites readers that
    // treat the field as a u32 and truncate.
    var width = -1L; var height = -1L
    var bitsOk = true; var compression = 1L; var photometric = -1L
    var spp = 1L; var rowsPerStrip = Long.MaxValue
    var stripOffTy = -1; var stripOffCnt = -1L; var stripOffVal = -1
    var stripCntTy = -1; var stripCntCnt = -1L; var stripCntVal = -1
    var i = 0
    while (i < nEntries) {
      val e = ifd.toInt + 2 + 12 * i
      val tag = r.u16(e)
      val ty = r.u16(e + 2)
      val cnt = r.u32(e + 4)
      def scalar: Long =
        if (cnt != 1) -1
        else if (ty == TShort) r.u16(e + 8).toLong
        else if (ty == TLong) r.u32(e + 8)
        else -1
      tag match {
        case 256 => width = scalar
        case 257 => height = scalar
        case 258 => // BitsPerSample: every sample must be 8
          if (cnt == 1) bitsOk = scalar == 8
          else if (ty == TShort && cnt >= 2 && cnt <= 4) {
            val off = if (cnt * 2 <= 4) e + 8 else r.u32(e + 8).toInt
            var j = 0
            while (j < cnt) {
              if (r.u16(off + 2 * j.toInt) != 8) bitsOk = false
              j += 1
            }
          } else bitsOk = false
        case 259 => compression = scalar
        case 262 => photometric = scalar
        case 273 => stripOffTy = ty; stripOffCnt = cnt; stripOffVal = e + 8
        case 277 => spp = scalar
        case 278 => rowsPerStrip = scalar
        case 279 => stripCntTy = ty; stripCntCnt = cnt; stripCntVal = e + 8
        case _ => // ignore unknown tags (resolution, software, …)
      }
      i += 1
    }
    if (!Limits.pixelsOk(width, height, Limits.TiffPixels)) return None
    if (!bitsOk || compression != 1) return None
    val channels = photometric match {
      case 1 => if (spp != 1) return None else 1
      case 2 => if (spp != 3) return None else 3
      case _ => return None
    }
    if (stripOffCnt <= 0 || stripOffCnt != stripCntCnt) return None
    if (rowsPerStrip <= 0) return None
    // TIFF 6.0 default for tag 278 is 2^32-1 == "one strip"; clamp the
    // default (and any explicit over-height value) so the ceil-divide
    // below cannot overflow to 0/negative strips.
    if (rowsPerStrip > height) rowsPerStrip = height
    val nStrips = ((height + rowsPerStrip - 1) / rowsPerStrip)
    if (nStrips != stripOffCnt) return None

    def arr(ty: Int, cnt: Long, valAt: Int): Option[Array[Long]] = {
      val sz = if (ty == TShort) 2 else if (ty == TLong) 4 else return None
      val inline = cnt * sz <= 4
      val base = if (inline) valAt else r.u32(valAt).toInt
      if (base < 0 || base + cnt * sz > b.length) return None
      val out = new Array[Long](cnt.toInt)
      var j = 0
      while (j < cnt) {
        out(j) = if (ty == TShort) r.u16(base + 2 * j).toLong else r.u32(base + 4 * j)
        if (out(j) < 0) return None
        j += 1
      }
      Some(out)
    }
    val offs = arr(stripOffTy, stripOffCnt, stripOffVal).getOrElse(return None)
    val cnts = arr(stripCntTy, stripCntCnt, stripCntVal).getOrElse(return None)

    val w = width.toInt; val h = height.toInt
    val rowBytes = w * channels
    val px = new Array[Byte](rowBytes * h)
    var strip = 0
    var row = 0L
    while (strip < offs.length) {
      val rowsHere = math.min(rowsPerStrip, height - row)
      val need = rowsHere * rowBytes
      if (cnts(strip) != need) return None // uncompressed: exact framing
      val src = offs(strip)
      if (src < 0 || src + need > b.length) return None
      System.arraycopy(b, src.toInt, px, (row * rowBytes).toInt, need.toInt)
      row += rowsHere
      strip += 1
    }
    if (row != height) return None
    Some((w, h, channels, px))
  }

  /** Encode samples as a baseline TIFF in the requested endianness
    * with the given RowsPerStrip (multi-strip when < h). */
  def encode(w: Int, h: Int, channels: Int, bigEndian: Boolean,
      rowsPerStrip: Int, px: Array[Byte]): Array[Byte] = {
    require(channels == 1 || channels == 3, s"channels must be 1|3, got $channels")
    require(w > 0 && h > 0 && w.toLong * h <= (1 << 20), s"dims out of range: ${w}x$h")
    require(rowsPerStrip > 0, "rowsPerStrip must be positive")
    require(px.length == channels * w * h,
      s"encode: dims ${w}x$h×$channels do not match ${px.length} bytes")
    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val rowBytes = w * channels
    val nTags = 9
    // layout: 8 header | pixel strips | [bits array if rgb] |
    //         [strip offset/count arrays if nStrips > 1] | IFD
    val dataOff = 8
    val dataLen = rowBytes * h
    var p = dataOff + dataLen
    val bitsOff = p
    if (channels == 3) p += 6
    val offArrOff = p
    val cntArrOff = if (nStrips > 1) { p += 4 * nStrips; p } else p
    if (nStrips > 1) p += 4 * nStrips
    val ifdOff = p
    val total = ifdOff + 2 + 12 * nTags + 4
    val out = new Array[Byte](total)
    def w16(i: Int, v: Int): Unit =
      if (bigEndian) { out(i) = (v >> 8).toByte; out(i + 1) = v.toByte }
      else { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    def w32(i: Int, v: Int): Unit =
      if (bigEndian) {
        out(i) = (v >>> 24).toByte; out(i + 1) = (v >>> 16).toByte
        out(i + 2) = (v >>> 8).toByte; out(i + 3) = v.toByte
      } else {
        out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
        out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
      }
    out(0) = if (bigEndian) 'M' else 'I'
    out(1) = out(0)
    w16(2, 42); w32(4, ifdOff)
    System.arraycopy(px, 0, out, dataOff, dataLen)
    if (channels == 3) { w16(bitsOff, 8); w16(bitsOff + 2, 8); w16(bitsOff + 4, 8) }
    if (nStrips > 1) {
      var s = 0
      while (s < nStrips) {
        val rowsHere = math.min(rowsPerStrip, h - s * rowsPerStrip)
        w32(offArrOff + 4 * s, dataOff + s * rowsPerStrip * rowBytes)
        w32(cntArrOff + 4 * s, rowsHere * rowBytes)
        s += 1
      }
    }
    w16(ifdOff, nTags)
    var e = ifdOff + 2
    // entries must be ascending by tag per the spec
    def entryShort(tag: Int, v: Int): Unit = {
      w16(e, tag); w16(e + 2, TShort); w32(e + 4, 1); w16(e + 8, v); e += 12
    }
    def entryLong(tag: Int, v: Int): Unit = {
      w16(e, tag); w16(e + 2, TLong); w32(e + 4, 1); w32(e + 8, v); e += 12
    }
    entryLong(256, w)
    entryLong(257, h)
    if (channels == 3) { // BitsPerSample array of 3 shorts at offset
      w16(e, 258); w16(e + 2, TShort); w32(e + 4, 3); w32(e + 8, bitsOff); e += 12
    } else entryShort(258, 8)
    entryShort(259, 1) // no compression
    entryShort(262, if (channels == 3) 2 else 1)
    if (nStrips > 1) {
      w16(e, 273); w16(e + 2, TLong); w32(e + 4, nStrips); w32(e + 8, offArrOff); e += 12
    } else entryLong(273, dataOff)
    entryShort(277, channels)
    entryLong(278, rowsPerStrip)
    if (nStrips > 1) {
      w16(e, 279); w16(e + 2, TLong); w32(e + 4, nStrips); w32(e + 8, cntArrOff); e += 12
    } else entryLong(279, dataLen)
    w32(e, 0) // next-IFD pointer: none
    out
  }
}

/** `synth_tiff(id, w, h, rgb, big_endian)` -> a complete baseline
  * TIFF whose pixel (x, y) carries the shared per-channel congruences
  * (gray uses the r-channel congruence), written with RowsPerStrip=4
  * so every container is multi-strip — the offset/count arrays and
  * their endianness handling are value-checked, not just parsed. */
case class SynthTiff(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 5, "synth_tiff takes 5 args")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)
  override def checkInputDataTypes() =
    children.map(_.dataType) match {
      case Seq(LongType, IntegerType, IntegerType, BooleanType, BooleanType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"synth_tiff expects (long id, int w, int h, boolean rgb, boolean big_endian), got $other")
    }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    val id = vs(0).asInstanceOf[Long]
    val w = vs(1).asInstanceOf[Int]; val h = vs(2).asInstanceOf[Int]
    val rgb = vs(3).asInstanceOf[Boolean]
    val be = vs(4).asInstanceOf[Boolean]
    require(w > 0 && h > 0 && w.toLong * h <= (1 << 20),
      s"synth_tiff dims out of range: ${w}x$h")
    val channels = if (rgb) 3 else 1
    val px = new Array[Byte](channels * w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val k = channels * (y * w + x)
        px(k) = (((id * 7 + x * 31L + y * 17L) % 256 + 256) % 256).toByte
        if (rgb) {
          px(k + 1) = (((id * 11 + x * 13L + y * 29L) % 256 + 256) % 256).toByte
          px(k + 2) = (((id * 3 + x * 37L + y * 23L) % 256 + 256) % 256).toByte
        }
        x += 1
      }
      y += 1
    }
    Tiff.encode(w, h, channels, be, rowsPerStrip = 4, px)
  }
  override protected def withNewChildrenInternal(
      ns: IndexedSeq[Expression]): SynthTiff = copy(children = ns)
  override def prettyName: String = "synth_tiff"
}

/** `tiff_stats(tiff_binary)` -> struct(width, height, channels, n_px,
  * px_sum, r_sum, g_sum, b_sum, px_min, px_max): exact integer
  * statistics from a REAL baseline TIFF decode (endianness, inline
  * vs offset values, multi-strip reassembly all exercised). Grayscale
  * reports its plane as r_sum with g_sum = b_sum = 0. Null for
  * anything [[Tiff.decode]] rejects. */
case class TiffStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType), StructField("n_px", LongType),
    StructField("px_sum", LongType), StructField("r_sum", LongType),
    StructField("g_sum", LongType), StructField("b_sum", LongType),
    StructField("px_min", IntegerType), StructField("px_max", IntegerType)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"tiff_stats expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Tiff.decode(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some((w, h, channels, px)) =>
        val cs = new Array[Long](3)
        var mn = 256; var mx = -1
        var k = 0
        while (k < px.length) {
          val v = px(k) & 0xff
          cs(k % channels) += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          k += 1
        }
        new GenericInternalRow(Array[Any](w, h, channels, w.toLong * h,
          cs(0) + cs(1) + cs(2), cs(0), cs(1), cs(2), mn, mx))
    }
  override protected def withNewChildInternal(newChild: Expression): TiffStats =
    copy(child = newChild)
  override def prettyName: String = "tiff_stats"
}

object tiff {
  def synth_tiff(id: Column, w: Column, h: Column, rgb: Column,
      bigEndian: Column): Column =
    ColumnBridge.column(SynthTiff(Seq(id, w, h, rgb, bigEndian)
      .map(ColumnBridge.expression)))
  def tiff_stats(blob: Column): Column =
    ColumnBridge.column(TiffStats(ColumnBridge.expression(blob)))
}
