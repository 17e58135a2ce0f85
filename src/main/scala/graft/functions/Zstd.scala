package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Zstandard FRAME TRIAGE (RFC 8878 §3.1 — the public format spec).
  * Zstd replaced gzip/snappy as the default codec for modern parquet,
  * WARC and dataset shards, so a blob pipeline must at least ROUTE
  * zstd frames and read their envelope: content size (for planning),
  * window size (for memory admission), dictionary id (for dict
  * routing), checksum presence. Triage reads ONLY the header — the
  * cheap dispatch step; full decode (§5 dictionaries, seekable shards)
  * is [[ZstdCodec]] (libzstd through zstd-jni) / [[ZstdSeekable]] —
  * route here, decode there.
  *
  * Parsed: magic 0xFD2FB528; Frame_Header_Descriptor (content-size
  * flag, single-segment, checksum, dictionary-id flag; RESERVED BIT
  * MUST BE ZERO — set → malformed); Window_Descriptor's
  * exponent/mantissa window size (absent when single-segment, where
  * the content size IS the window); 0/1/2/4-byte dictionary id;
  * 0/1/2/4/8-byte content size with the +256 bias on the 2-byte
  * form and the flag-0 single-segment 1-byte quirk. Skippable frames
  * (magic 0x184D2A50..5F + 4-byte length) report their own kind.
  * Anything shorter than its declared header → "malformed";
  * no zstd magic at all → "not_zstd". Never throws. */
object Zstd {

  final case class FrameMeta(kind: String, singleSegment: Boolean,
      checksum: Boolean, dictId: Option[Long], windowSize: Option[Long],
      contentSize: Option[Long])

  private final val NotZstd = FrameMeta("not_zstd", singleSegment = false,
    checksum = false, None, None, None)
  private final val Malformed = FrameMeta("malformed", singleSegment = false,
    checksum = false, None, None, None)

  def frameMeta(b: Array[Byte]): FrameMeta = {
    if (b == null || b.length < 4) return NotZstd
    def u32(i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    val magic = u32(0)
    if ((magic & 0xfffffff0L) == 0x184d2a50L) {
      // skippable frame: 4-byte LE content length follows
      if (b.length < 8) return Malformed
      return FrameMeta("zstd_skippable", singleSegment = false,
        checksum = false, None, None, Some(u32(4)))
    }
    if (magic != 0xfd2fb528L) return NotZstd
    if (b.length < 5) return Malformed
    val fhd = b(4) & 0xff
    if ((fhd & 0x08) != 0) return Malformed // reserved bit (RFC: MUST be 0)
    val fcsFlag = fhd >> 6
    val singleSegment = (fhd & 0x20) != 0
    val checksum = (fhd & 0x04) != 0
    val didFlag = fhd & 0x03
    var p = 5
    var windowSize: Option[Long] = None
    if (!singleSegment) {
      if (p >= b.length) return Malformed
      val wd = b(p) & 0xff; p += 1
      val base = 1L << (10 + (wd >> 3))
      windowSize = Some(base + (base / 8) * (wd & 7))
    }
    val didLen = didFlag match {
      case 0 => 0
      case 1 => 1
      case 2 => 2
      case _ => 4
    }
    if (p + didLen > b.length) return Malformed
    var dictId: Option[Long] = None
    if (didLen > 0) {
      var v = 0L
      var k = 0
      while (k < didLen) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
      dictId = Some(v)
      p += didLen
    }
    val fcsLen = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    if (p + fcsLen > b.length) return Malformed
    var contentSize: Option[Long] = None
    if (fcsLen > 0) {
      var v = 0L
      var k = 0
      while (k < fcsLen) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
      if (fcsLen == 2) v += 256 // RFC 8878: 2-byte field is biased
      contentSize = Some(v)
    }
    // single-segment frames use the content size as the window
    if (singleSegment) windowSize = contentSize
    FrameMeta("zstd", singleSegment, checksum, dictId, windowSize, contentSize)
  }

  /** Header synthesis the oracle replays (garbage block bytes appended
    * — triage never reads past the header). */
  def synth(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(32)
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    val mode = (id % 8).toInt
    if (mode == 6) { // skippable
      w32(0x184d2a50L | (id % 16))
      w32(100 + id % 900)
      out.write(7) // payload garbage
    } else if (mode == 7) { // not zstd
      out.write('z'); out.write('s'); out.write('t'); out.write('?')
    } else {
      w32(0xfd2fb528L)
      val fcsFlag = mode % 4 // 0..3
      val singleSegment = (id / 8) % 2 == 1
      val checksum = (id / 16) % 2 == 1
      val didFlag = ((id / 32) % 4).toInt
      var fhd = (fcsFlag << 6) | (didFlag & 3)
      if (singleSegment) fhd |= 0x20
      if (checksum) fhd |= 0x04
      out.write(fhd)
      if (!singleSegment) out.write((id % 256).toInt) // window descriptor
      val didLen = didFlag match {
        case 0 => 0
        case 1 => 1
        case 2 => 2
        case _ => 4
      }
      var k = 0
      val dv = id % 100000
      while (k < didLen) { out.write(((dv >> (8 * k)) & 0xff).toInt); k += 1 }
      val fcsLen = fcsFlag match {
        case 0 => if (singleSegment) 1 else 0
        case 1 => 2
        case 2 => 4
        case _ => 8
      }
      // the stored bytes; the PARSED value adds 256 for the 2-byte form
      val cv = fcsLen match {
        case 1 => id % 256
        case 2 => id % 1000 // parsed as this + 256
        case _ => 1000 + id % 100000
      }
      k = 0
      while (k < fcsLen) { out.write(((cv >> (8 * k)) & 0xff).toInt); k += 1 }
      out.write(0x21); out.write(0x40) // garbage "block" bytes
    }
    out.toByteArray
  }
}

/** `zstd_frame_meta(binary)` -> struct(kind, single_segment, checksum,
  * dict_id, window_size, content_size) per [[Zstd.frameMeta]]. */
case class ZstdFrameMeta(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("kind", StringType), StructField("single_segment", BooleanType),
    StructField("checksum", BooleanType), StructField("dict_id", LongType),
    StructField("window_size", LongType), StructField("content_size", LongType)))
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zstd_frame_meta expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val m = Zstd.frameMeta(input.asInstanceOf[Array[Byte]])
    new GenericInternalRow(Array[Any](UTF8String.fromString(m.kind),
      m.singleSegment, m.checksum,
      m.dictId.map(Long.box).orNull, m.windowSize.map(Long.box).orNull,
      m.contentSize.map(Long.box).orNull))
  }
  override protected def withNewChildInternal(newChild: Expression): ZstdFrameMeta =
    copy(child = newChild)
  override def prettyName: String = "zstd_frame_meta"
}

/** `synth_zstd(id)` -> a zstd/skippable/non-zstd header per
  * [[Zstd.synth]]. */
case class SynthZstd(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"synth_zstd expects long input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Zstd.synth(input.asInstanceOf[Long])
  override protected def withNewChildInternal(newChild: Expression): SynthZstd =
    copy(child = newChild)
  override def prettyName: String = "synth_zstd"
}

object zstd {
  def zstd_frame_meta(blob: Column): Column =
    ColumnBridge.column(ZstdFrameMeta(ColumnBridge.expression(blob)))
  def synth_zstd(id: Column): Column =
    ColumnBridge.column(SynthZstd(ColumnBridge.expression(id)))
}
