package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** QOI — the "Quite OK Image" format (Szablewski 2022, public
  * one-page spec at qoiformat.org) — the fifth raster container
  * (PNG/JPEG/GIF/BMP above). Losslessly byte-exact and single-pass,
  * which makes it a natural interchange format for image-corpus
  * pipelines (several public datasets ship QOI-repacked frames
  * because encode is ~20-50× faster than PNG at similar sizes).
  *
  * Full spec implemented — all six chunk ops on both sides:
  *   QOI_OP_RGB (0xFE), QOI_OP_RGBA (0xFF),
  *   QOI_OP_INDEX (0b00xxxxxx, 64-slot running palette keyed on
  *     hash = (3r+5g+7b+11a) mod 64),
  *   QOI_OP_DIFF (0b01drdgdb, per-channel wrapping deltas in [-2,1]),
  *   QOI_OP_LUMA (0b10dddddd + byte, dg in [-32,31] with dr-dg and
  *     db-dg in [-8,7]),
  *   QOI_OP_RUN (0b11xxxxxx, lengths 1..62 — 63/64 collide with the
  *     RGB/RGBA tags and are illegal),
  * 14-byte header (magic "qoif", u32-BE dims, channels 3|4,
  * colorspace byte) and the 8-byte end marker (seven 0x00 then 0x01).
  *
  * The encoder is the spec's greedy priority chain
  * (RUN > INDEX > DIFF > LUMA > RGB(A)); the decoder accepts ANY
  * spec-conforming stream, so encode→decode exactness over arbitrary
  * pixels (QoiSpec property) pins both sides independently of the
  * synthesis used by the oracle-gated query. Decode never throws on
  * arbitrary bytes (PERMISSIVE — malformed blobs route as null).
  * Per-row kernel: no shuffle, embarrassingly parallel at 100 TB. */
object Qoi {

  private final val Magic = Array[Byte]('q', 'o', 'i', 'f')

  @inline private def hash(r: Int, g: Int, b: Int, a: Int): Int =
    (r * 3 + g * 5 + b * 7 + a * 11) & 63

  /** Encode interleaved pixels (RGB if channels=3, RGBA if 4) as a
    * complete QOI container. */
  def encode(w: Int, h: Int, channels: Int, px: Array[Byte]): Array[Byte] = {
    require(channels == 3 || channels == 4, s"channels must be 3|4, got $channels")
    require(w > 0 && h > 0 && w.toLong * h <= (1 << 22),
      s"dims out of range: ${w}x$h")
    require(px.length == channels * w * h,
      s"encode: dims ${w}x$h×$channels do not match ${px.length} bytes")
    val out = new java.io.ByteArrayOutputStream(14 + px.length + 8)
    out.write(Magic, 0, 4)
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    be32(w); be32(h); out.write(channels); out.write(0) // sRGB+linear-alpha
    val index = new Array[Int](64) // packed 0xRRGGBBAA; slot 0 pre-seeded below
    // zero-initialized slots decode as (0,0,0,0); pack that explicitly
    var pr = 0; var pg = 0; var pb = 0; var pa = 255
    var run = 0
    val n = w * h
    var i = 0
    while (i < n) {
      val k = channels * i
      val r = px(k) & 0xff; val g = px(k + 1) & 0xff; val b = px(k + 2) & 0xff
      val a = if (channels == 4) px(k + 3) & 0xff else pa
      if (r == pr && g == pg && b == pb && a == pa) {
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val packed = (r << 24) | (g << 16) | (b << 8) | a
        val hi = hash(r, g, b, a)
        if (index(hi) == packed) out.write(hi) // QOI_OP_INDEX
        else {
          index(hi) = packed
          if (a == pa) {
            // wrapping int8 deltas (spec: "wraparound")
            val dr = ((r - pr + 128) & 0xff) - 128
            val dg = ((g - pg + 128) & 0xff) - 128
            val db = ((b - pb + 128) & 0xff) - 128
            if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
              out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            else {
              val drg = ((dr - dg + 128) & 0xff) - 128
              val dbg = ((db - dg + 128) & 0xff) - 128
              if (dg >= -32 && dg <= 31 && drg >= -8 && drg <= 7 &&
                  dbg >= -8 && dbg <= 7) {
                out.write(0x80 | (dg + 32))
                out.write(((drg + 8) << 4) | (dbg + 8))
              } else {
                out.write(0xfe); out.write(r); out.write(g); out.write(b)
              }
            }
          } else {
            out.write(0xff); out.write(r); out.write(g); out.write(b); out.write(a)
          }
        }
        pr = r; pg = g; pb = b; pa = a
      }
      i += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    var z = 0
    while (z < 7) { out.write(0); z += 1 }
    out.write(1)
    out.toByteArray
  }

  /** Decode: (width, height, channels, interleaved pixels — RGB when
    * the header says 3 channels, RGBA when 4) or None on anything
    * malformed: bad magic/dims, a stream that ends mid-chunk, too few
    * or too many pixels, or a missing/garbled end marker. */
  def decode(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (b == null || b.length < 14 + 8) return None
    var i = 0
    while (i < 4) { if (b(i) != Magic(i)) return None; i += 1 }
    def be32(o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    val w = be32(4); val h = be32(8)
    val channels = b(12) & 0xff
    if (!Limits.pixelsOk(w, h, Limits.QoiPixels)) return None
    if (channels != 3 && channels != 4) return None
    if ((b(13) & 0xff) > 1) return None
    val n = w * h
    val px = new Array[Byte](channels * n)
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0; var pa = 255
    var p = 14
    val dataEnd = b.length - 8 // end marker is exactly the last 8 bytes
    var out = 0
    while (out < n) {
      if (p >= dataEnd) return None // ran out of chunks before pixels
      val tag = b(p) & 0xff; p += 1
      var run = 1
      if (tag == 0xfe) { // RGB
        if (p + 3 > dataEnd) return None
        pr = b(p) & 0xff; pg = b(p + 1) & 0xff; pb = b(p + 2) & 0xff; p += 3
      } else if (tag == 0xff) { // RGBA
        if (p + 4 > dataEnd) return None
        pr = b(p) & 0xff; pg = b(p + 1) & 0xff; pb = b(p + 2) & 0xff
        pa = b(p + 3) & 0xff; p += 4
      } else (tag >> 6) match {
        case 0 => // INDEX
          val v = index(tag & 63)
          pr = (v >>> 24) & 0xff; pg = (v >>> 16) & 0xff
          pb = (v >>> 8) & 0xff; pa = v & 0xff
        case 1 => // DIFF
          pr = (pr + ((tag >> 4) & 3) - 2) & 0xff
          pg = (pg + ((tag >> 2) & 3) - 2) & 0xff
          pb = (pb + (tag & 3) - 2) & 0xff
        case 2 => // LUMA
          if (p >= dataEnd) return None
          val dg = (tag & 63) - 32
          val b2 = b(p) & 0xff; p += 1
          pr = (pr + dg + ((b2 >> 4) & 15) - 8) & 0xff
          pg = (pg + dg) & 0xff
          pb = (pb + dg + (b2 & 15) - 8) & 0xff
        case _ => // RUN
          run = (tag & 63) + 1 // 1..62 by construction of the tag space
      }
      // reference-decoder (qoi.c) parity: the index slot is written
      // once per CHUNK — RUN chunks included. For any pixel that was
      // actually emitted the slot already holds it (store-on-emit),
      // so this only matters for a run of the initial (0,0,0,255)
      // pixel, where qoi.c seeds its slot; matching that exactly keeps
      // foreign conforming streams decoding identically.
      index(hash(pr, pg, pb, pa)) = (pr << 24) | (pg << 16) | (pb << 8) | pa
      if (out + run > n) return None // overruns the pixel count
      var j = 0
      while (j < run) {
        val k = channels * out
        px(k) = pr.toByte; px(k + 1) = pg.toByte; px(k + 2) = pb.toByte
        if (channels == 4) px(k + 3) = pa.toByte
        out += 1; j += 1
      }
    }
    if (p != dataEnd) return None // trailing chunk bytes before the marker
    var z = 0
    while (z < 7) { if (b(dataEnd + z) != 0) return None; z += 1 }
    if (b(dataEnd + 7) != 1) return None
    Some((w, h, channels, px))
  }
}

/** `synth_qoi(id, w, h, rgba)` -> a complete QOI container whose
  * pixel (x, y) carries plateau congruences chosen so the greedy
  * encoder emits every chunk family on real data: 4-wide x-plateaus
  * (RUN), +1 steps between plateaus (DIFF), +5/+5/+50 row steps
  * (LUMA on r/g, RGB when the blue delta escapes), mod-256 recurrence
  * (INDEX), and a per-row alpha walk when rgba is set (RGBA). */
case class SynthQoi(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (LongType, IntegerType, IntegerType, BooleanType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"synth_qoi expects (long id, int w, int h, boolean rgba), got $other")
    }
  override def nullSafeEval(idA: Any, wA: Any, hA: Any, rgbaA: Any): Any = {
    val id = idA.asInstanceOf[Long]
    val w = wA.asInstanceOf[Int]; val h = hA.asInstanceOf[Int]
    val rgba = rgbaA.asInstanceOf[Boolean]
    require(w > 0 && h > 0 && w.toLong * h <= (1 << 20),
      s"synth_qoi dims out of range: ${w}x$h")
    val channels = if (rgba) 4 else 3
    val px = new Array[Byte](channels * w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val k = channels * (y * w + x)
        val xq = x / 4 // 4-wide plateaus: RUN inside, ±1 DIFF across
        px(k) = (((id * 7 + xq + y * 5L) % 256 + 256) % 256).toByte
        px(k + 1) = (((id * 11 + xq + y * 5L) % 256 + 256) % 256).toByte
        px(k + 2) = (((id * 3 + xq + y * 50L) % 256 + 256) % 256).toByte
        if (rgba) px(k + 3) = (((id * 5 + y * 7L) % 256 + 256) % 256).toByte
        x += 1
      }
      y += 1
    }
    Qoi.encode(w, h, channels, px)
  }
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): SynthQoi =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
  override def prettyName: String = "synth_qoi"
}

/** `qoi_stats(qoi_binary)` -> struct(width, height, channels, n_px,
  * px_sum, r_sum, g_sum, b_sum, a_sum, px_min, px_max): exact integer
  * statistics from a REAL full-spec QOI decode. px_sum/min/max cover
  * the color channels; alpha is separate (255·n_px for 3-channel
  * containers, whose decode never materializes an alpha byte). Null
  * for anything [[Qoi.decode]] rejects. */
case class QoiStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType), StructField("n_px", LongType),
    StructField("px_sum", LongType), StructField("r_sum", LongType),
    StructField("g_sum", LongType), StructField("b_sum", LongType),
    StructField("a_sum", LongType),
    StructField("px_min", IntegerType), StructField("px_max", IntegerType)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"qoi_stats expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Qoi.decode(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some((w, h, channels, px)) =>
        var rs = 0L; var gs = 0L; var bs = 0L; var as = 0L
        var mn = 256; var mx = -1
        val n = w * h
        var i = 0
        while (i < n) {
          val k = channels * i
          val r = px(k) & 0xff; val g = px(k + 1) & 0xff; val b = px(k + 2) & 0xff
          rs += r; gs += g; bs += b
          as += (if (channels == 4) px(k + 3) & 0xff else 255)
          val lo = math.min(r, math.min(g, b))
          val hi = math.max(r, math.max(g, b))
          if (lo < mn) mn = lo
          if (hi > mx) mx = hi
          i += 1
        }
        new GenericInternalRow(Array[Any](w, h, channels, n.toLong,
          rs + gs + bs, rs, gs, bs, as, mn, mx))
    }
  override protected def withNewChildInternal(newChild: Expression): QoiStats =
    copy(child = newChild)
  override def prettyName: String = "qoi_stats"
}

object qoi {
  def synth_qoi(id: Column, w: Column, h: Column, rgba: Column): Column =
    ColumnBridge.column(SynthQoi(ColumnBridge.expression(id),
      ColumnBridge.expression(w), ColumnBridge.expression(h),
      ColumnBridge.expression(rgba)))
  def qoi_stats(blob: Column): Column =
    ColumnBridge.column(QoiStats(ColumnBridge.expression(blob)))
}
