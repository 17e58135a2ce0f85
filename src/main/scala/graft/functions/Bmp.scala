package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Windows BMP (BITMAPINFOHEADER, 24-bit uncompressed) — the
  * fourth raster container (PNG/JPEG/GIF above): trivial by design
  * but full of layout traps a naive reader gets wrong, all pinned
  * here: rows are stored BOTTOM-UP (unless height is negative —
  * top-down is accepted on decode), pixels are BGR (not RGB), and
  * every row pads to a 4-byte boundary. Lossless, so the oracle
  * replays per-channel congruences exactly. Scope: BI_RGB 24-bit
  * only; other depths/compressions report None (image_dims still
  * reads their headers). Never throws on arbitrary bytes. */
object Bmp {

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** Encode interleaved RGB triples as a complete 24-bit BMP
    * (bottom-up, BGR, 4-byte row padding — the standard layout). */
  def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0, s"dims must be positive, got ${w}x$h")
    require(rgb.length == 3 * w * h,
      s"encode: dims ${w}x$h do not match ${rgb.length} bytes")
    val stride = (3 * w + 3) & ~3
    val dataLen = stride * h
    val out = new Array[Byte](54 + dataLen)
    def le32w(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16w(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32w(2, 54 + dataLen); le32w(6, 0); le32w(10, 54)
    le32w(14, 40); le32w(18, w); le32w(22, h) // positive h: bottom-up
    le16w(26, 1); le16w(28, 24); le32w(30, 0) // planes, bpp, BI_RGB
    le32w(34, dataLen); le32w(38, 2835); le32w(42, 2835)
    le32w(46, 0); le32w(50, 0)
    var y = 0
    while (y < h) {
      val row = 54 + (h - 1 - y) * stride // bottom-up
      var x = 0
      while (x < w) {
        val k = 3 * (y * w + x)
        out(row + 3 * x) = rgb(k + 2) // B
        out(row + 3 * x + 1) = rgb(k + 1) // G
        out(row + 3 * x + 2) = rgb(k) // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode a BI_RGB 24-bit BMP: (width, height, interleaved RGB) or
    * None. Accepts both bottom-up (h > 0) and top-down (h < 0). */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b == null || b.length < 54) return None
    if (b(0) != 'B' || b(1) != 'M') return None
    val dataOff = le32(b, 10)
    val hdrSize = le32(b, 14)
    if (hdrSize < 40) return None // BITMAPCOREHEADER: out of scope
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (!Limits.pixelsOk(w, h, Limits.BmpPixels)) return None
    if (le16(b, 26) != 1) return None
    if (le16(b, 28) != 24) return None // 24-bit only
    if (le32(b, 30) != 0) return None // BI_RGB only
    val stride = (3 * w + 3) & ~3
    if (dataOff < 54 || dataOff.toLong + stride.toLong * h > b.length) return None
    val rgb = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      val srcRow = dataOff + (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val k = 3 * (y * w + x)
        rgb(k) = b(srcRow + 3 * x + 2) // R
        rgb(k + 1) = b(srcRow + 3 * x + 1) // G
        rgb(k + 2) = b(srcRow + 3 * x) // B
        x += 1
      }
      y += 1
    }
    Some((w, h, rgb))
  }
}

/** `synth_bmp(id, w, h)` -> a complete 24-bit BMP whose pixel (x, y)
  * carries the synth_png_rgb per-channel congruences — so the
  * bottom-up flip and the BGR swap are both value-checked. */
case class SynthBmp(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"synth_bmp expects (long id, int w, int h), got $other")
    }
  override def nullSafeEval(idA: Any, wA: Any, hA: Any): Any = {
    val id = idA.asInstanceOf[Long]
    val w = wA.asInstanceOf[Int]; val h = hA.asInstanceOf[Int]
    require(w > 0 && h > 0 && w.toLong * h <= (1 << 20),
      s"synth_bmp dims out of range: ${w}x$h")
    val px = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val k = 3 * (y * w + x)
        px(k) = (((id * 7 + x * 31L + y * 17L) % 256 + 256) % 256).toByte
        px(k + 1) = (((id * 11 + x * 13L + y * 29L) % 256 + 256) % 256).toByte
        px(k + 2) = (((id * 3 + x * 37L + y * 23L) % 256 + 256) % 256).toByte
        x += 1
      }
      y += 1
    }
    Bmp.encode(w, h, px)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): SynthBmp = copy(first = f, second = s, third = t)
  override def prettyName: String = "synth_bmp"
}

/** `bmp_stats_rgb(bmp_binary)` -> struct(width, height, n_px, px_sum,
  * r_sum, g_sum, b_sum, px_min, px_max): exact integer statistics
  * from a REAL 24-bit BMP decode (bottom-up flip + BGR swap applied).
  * Null for anything [[Bmp.decode]] rejects. */
case class BmpStatsRgb(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("n_px", LongType), StructField("px_sum", LongType),
    StructField("r_sum", LongType), StructField("g_sum", LongType),
    StructField("b_sum", LongType),
    StructField("px_min", IntegerType), StructField("px_max", IntegerType)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bmp_stats_rgb expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Bmp.decode(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some((w, h, px)) =>
        var sum = 0L; var mn = 256; var mx = -1
        val cs = new Array[Long](3)
        var k = 0
        while (k < px.length) {
          val v = px(k) & 0xff
          sum += v
          cs(k % 3) += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          k += 1
        }
        new GenericInternalRow(Array[Any](w, h, w.toLong * h, sum,
          cs(0), cs(1), cs(2), mn, mx))
    }
  override protected def withNewChildInternal(newChild: Expression): BmpStatsRgb =
    copy(child = newChild)
  override def prettyName: String = "bmp_stats_rgb"
}

object bmp {
  def synth_bmp(id: Column, w: Column, h: Column): Column =
    ColumnBridge.column(SynthBmp(ColumnBridge.expression(id),
      ColumnBridge.expression(w), ColumnBridge.expression(h)))
  def bmp_stats_rgb(blob: Column): Column =
    ColumnBridge.column(BmpStatsRgb(ColumnBridge.expression(blob)))
}
