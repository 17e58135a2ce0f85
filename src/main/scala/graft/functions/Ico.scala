package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Windows ICO container (the favicon format; public layout
  * documented since Win3.x, PNG entries since Vista) — a DIRECTORY of
  * images at multiple resolutions, each entry either a PNG stream or
  * a header-less DIB (BITMAPINFOHEADER with DOUBLED height covering
  * the XOR color image plus a 1-bit AND transparency mask — the trap
  * a BMP-reusing reader hits first). Web crawls meet ICOs on every
  * host (favicon.ico), so the multimodal family needs the walk:
  * ICONDIR (reserved 0, type 1, count) → 16-byte ICONDIRENTRYs
  * (width/height with 0 meaning 256, size, offset) → per-entry
  * dispatch on the PNG signature.
  *
  * Scope (stated): PNG entries via the full PNG decoder; DIB entries
  * at 24-bit uncompressed. Other DIB depths route as unreadable
  * entries, never exceptions. Per-row kernel: 100 TB shape. */
object Ico {

  private def le16(b: Array[Byte], i: Int): Int =
    if (i < 0 || i > b.length - 2) -1
    else (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    if (i < 0 || i > b.length - 4) -1L
    else (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  final case class Entry(width: Int, height: Int, kind: String,
      px: Array[Byte]) // interleaved RGB (alpha dropped for stats)

  /** Decode every readable entry; None if the container itself is
    * malformed (bad ICONDIR, entry frames out of bounds). An entry
    * whose payload is unreadable yields kind="unreadable" with no
    * pixels — per-entry isolation, like the ZIP walk. */
  def decode(b: Array[Byte]): Option[Seq[Entry]] = {
    if (b == null || b.length < 6) return None
    if (le16(b, 0) != 0 || le16(b, 2) != 1) return None
    val n = le16(b, 4)
    if (n <= 0 || n > 64 || 6 + 16 * n > b.length) return None
    val out = Vector.newBuilder[Entry]
    var e = 0
    while (e < n) {
      val at = 6 + 16 * e
      val size = le32(b, at + 8)
      val off = le32(b, at + 12)
      if (size <= 0 || off < 6 + 16 * n || off + size > b.length) return None
      val blob = java.util.Arrays.copyOfRange(b, off.toInt, (off + size).toInt)
      out += decodeEntry(blob)
      e += 1
    }
    Some(out.result())
  }

  private val pngSig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def decodeEntry(blob: Array[Byte]): Entry = {
    val isPng = blob.length >= 8 &&
      (0 until 8).forall(i => (blob(i) & 0xff) == pngSig(i))
    if (isPng) {
      Png.decodeFull(blob) match {
        case Some((w, h, channels, px)) =>
          // normalize to RGB for the stats contract
          val rgb = new Array[Byte](3 * w * h)
          var i = 0
          while (i < w * h) {
            channels match {
              case 1 =>
                rgb(3 * i) = px(i); rgb(3 * i + 1) = px(i); rgb(3 * i + 2) = px(i)
              case 2 =>
                val g = px(2 * i)
                rgb(3 * i) = g; rgb(3 * i + 1) = g; rgb(3 * i + 2) = g
              case c =>
                rgb(3 * i) = px(c * i); rgb(3 * i + 1) = px(c * i + 1)
                rgb(3 * i + 2) = px(c * i + 2)
            }
            i += 1
          }
          Entry(w, h, "png", rgb)
        case None => Entry(0, 0, "unreadable", Array.emptyByteArray)
      }
    } else decodeDib(blob)
  }

  /** Header-less 24-bit DIB: BITMAPINFOHEADER with biHeight = 2×the
    * visible height (XOR image + AND mask), bottom-up BGR rows padded
    * to 4 bytes, then the 1-bit AND mask rows padded to 32 bits. */
  private def decodeDib(b: Array[Byte]): Entry = {
    val bad = Entry(0, 0, "unreadable", Array.emptyByteArray)
    if (b.length < 40) return bad
    if (le32(b, 0) < 40) return bad
    val w = le32(b, 4).toInt
    val h2 = le32(b, 8).toInt
    if (w <= 0 || h2 <= 0 || (h2 & 1) != 0) return bad
    val h = h2 / 2
    if (!Limits.pixelsOk(w, h, Limits.IcoPixels)) return bad
    if (le16(b, 12) != 1 || le16(b, 14) != 24) return bad
    if (le32(b, 16) != 0) return bad // BI_RGB only
    val xorStride = (3 * w + 3) & ~3
    val andStride = ((w + 31) / 32) * 4
    val need = 40L + xorStride.toLong * h + andStride.toLong * h
    if (need > b.length) return bad
    val rgb = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      val row = 40 + (h - 1 - y) * xorStride // bottom-up
      var x = 0
      while (x < w) {
        val k = 3 * (y * w + x)
        rgb(k) = b(row + 3 * x + 2)
        rgb(k + 1) = b(row + 3 * x + 1)
        rgb(k + 2) = b(row + 3 * x)
        x += 1
      }
      y += 1
    }
    Entry(w, h, "dib", rgb)
  }

  /** Encode a header-less 24-bit DIB entry (all-opaque AND mask). */
  def encodeDib(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h, "dib dims mismatch")
    val xorStride = (3 * w + 3) & ~3
    val andStride = ((w + 31) / 32) * 4
    val out = new Array[Byte](40 + xorStride * h + andStride * h)
    def w32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    def w16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
    }
    w32(0, 40); w32(4, w); w32(8, 2 * h) // DOUBLED height
    w16(12, 1); w16(14, 24); w32(16, 0)
    w32(20, xorStride * h); w32(24, 0); w32(28, 0); w32(32, 0); w32(36, 0)
    var y = 0
    while (y < h) {
      val row = 40 + (h - 1 - y) * xorStride
      var x = 0
      while (x < w) {
        val k = 3 * (y * w + x)
        out(row + 3 * x) = rgb(k + 2)
        out(row + 3 * x + 1) = rgb(k + 1)
        out(row + 3 * x + 2) = rgb(k)
        x += 1
      }
      y += 1
    }
    // AND mask left all-zero: fully opaque
    out
  }

  /** Assemble an ICO container from pre-encoded entry payloads. */
  def container(entries: Seq[(Int, Int, Array[Byte])]): Array[Byte] = {
    val n = entries.length
    val out = new java.io.ByteArrayOutputStream(6 + 16 * n +
      entries.map(_._3.length).sum)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    w16(0); w16(1); w16(n)
    var off = 6 + 16 * n
    entries.foreach { case (w, h, blob) =>
      out.write(if (w >= 256) 0 else w) // 0 means 256
      out.write(if (h >= 256) 0 else h)
      out.write(0); out.write(0) // colors, reserved
      w16(1); w16(24) // planes, bpp hints (informational)
      w32(blob.length); w32(off)
      off += blob.length
    }
    entries.foreach { case (_, _, blob) => out.write(blob, 0, blob.length) }
    out.toByteArray
  }

  /** The synthesis the oracle replays: n entries with strictly growing
    * dims (w_e = 8 + 2e + id%4, h_e = 6 + e), alternating PNG (even e)
    * and DIB (odd e), pixels on the shared congruences seeded id+e —
    * so the LARGEST entry is always e = n−1 and its kind is decided
    * by n's parity. */
  def synth(id: Long, n: Int): Array[Byte] = {
    val entries = (0 until n).map { e =>
      val w = 8 + 2 * e + (id % 4).toInt
      val h = 6 + e
      val seed = id + e
      val px = new Array[Byte](3 * w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val k = 3 * (y * w + x)
          px(k) = (((seed * 7 + x * 31L + y * 17L) % 256 + 256) % 256).toByte
          px(k + 1) = (((seed * 11 + x * 13L + y * 29L) % 256 + 256) % 256).toByte
          px(k + 2) = (((seed * 3 + x * 37L + y * 23L) % 256 + 256) % 256).toByte
          x += 1
        }
        y += 1
      }
      val blob = if (e % 2 == 0) Png.encodeRgb(w, h, px) else encodeDib(w, h, px)
      (w, h, blob)
    }
    container(entries)
  }
}

/** `synth_ico(id, n)` -> an ICO container per [[Ico.synth]]. */
case class SynthIco(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() =
    (left.dataType, right.dataType) match {
      case (LongType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"synth_ico expects (long id, int n), got $other")
    }
  override def nullSafeEval(idA: Any, nA: Any): Any =
    Ico.synth(idA.asInstanceOf[Long], nA.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SynthIco =
    copy(left = l, right = r)
  override def prettyName: String = "synth_ico"
}

/** `ico_stats(ico_binary)` -> struct(n_entries, n_readable, width,
  * height, kind, px_sum, r_sum, g_sum, b_sum) — dims/kind/sums of the
  * LARGEST readable entry (favicon pipelines keep the best
  * resolution). Null if the container is malformed or nothing is
  * readable. */
case class IcoStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_entries", IntegerType), StructField("n_readable", IntegerType),
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("kind", StringType), StructField("px_sum", LongType),
    StructField("r_sum", LongType), StructField("g_sum", LongType),
    StructField("b_sum", LongType)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ico_stats expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Ico.decode(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(entries) =>
        val readable = entries.filter(_.kind != "unreadable")
        if (readable.isEmpty) return null
        val best = readable.maxBy(en => en.width.toLong * en.height)
        val cs = new Array[Long](3)
        var k = 0
        while (k < best.px.length) {
          cs(k % 3) += best.px(k) & 0xff
          k += 1
        }
        new GenericInternalRow(Array[Any](entries.length, readable.length,
          best.width, best.height, UTF8String.fromString(best.kind),
          cs(0) + cs(1) + cs(2), cs(0), cs(1), cs(2)))
    }
  override protected def withNewChildInternal(newChild: Expression): IcoStats =
    copy(child = newChild)
  override def prettyName: String = "ico_stats"
}

object ico {
  def synth_ico(id: Column, n: Column): Column =
    ColumnBridge.column(SynthIco(ColumnBridge.expression(id),
      ColumnBridge.expression(n)))
  def ico_stats(blob: Column): Column =
    ColumnBridge.column(IcoStats(ColumnBridge.expression(blob)))
}
