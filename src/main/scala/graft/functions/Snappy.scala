package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Snappy block format (google/snappy format_description.txt — the
  * public spec) in pure JVM. Snappy is the historical default parquet
  * page codec and a common Kafka/RPC payload codec, so a blob-column
  * engine meets snappy-framed bytes constantly; the existing gzip
  * codec (Kernels) covers the DEFLATE family, this covers the
  * LZ77-tag family.
  *
  * Format: a base-128 varint uncompressed length, then tagged
  * elements — literals (tag&3=0, 6-bit length with 60..63 escaping to
  * 1..4 extra LE length bytes) and copies with 1/2/4-byte offsets
  * (tag&3=1: len 4..11 / 11-bit offset; =2: len 1..64 / 16-bit;
  * =3: len 1..64 / 32-bit). Copies may overlap forward (offset <
  * length runs replicate), which the decoder must honor byte-by-byte.
  *
  * The compressor is a greedy 4-byte-window hash matcher emitting
  * tag-2 copies (16-bit offsets — every match lands in the 64 KiB
  * window it searches), split into ≤64-byte ops; it favors
  * simplicity over ratio but is format-exact. The decompressor
  * accepts ANY spec-conforming stream and returns None on malformed
  * input (bad varint, offset before start, overrun, length mismatch)
  * — PERMISSIVE blob-column semantics, never throws.
  * Per-row kernels: no shuffle, 100 TB shape. */
object Snappy {

  /** Greedy hash-match compress. Format-valid for any input. */
  def compress(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length / 2 + 32)
    // uncompressed length varint
    var n = in.length
    while ((n & ~0x7f) != 0) { out.write((n & 0x7f) | 0x80); n >>>= 7 }
    out.write(n)

    def emitLiteral(from: Int, until: Int): Unit = {
      var s = from
      while (s < until) {
        val len = math.min(until - s, 65536) // arbitrary op cap
        val l = len - 1
        if (l < 60) out.write(l << 2)
        else if (l < 256) { out.write(60 << 2); out.write(l) }
        else { out.write(61 << 2); out.write(l & 0xff); out.write((l >> 8) & 0xff) }
        out.write(in, s, len)
        s += len
      }
    }
    def emitCopy(offset: Int, length: Int): Unit = {
      var rem = length
      while (rem > 0) {
        // tag-2 copy: 1..64 bytes; avoid leaving a 1..3-byte tail that
        // the next iteration couldn't emit as a match elsewhere — a
        // tag-2 copy handles ANY 1..64, so just split at 64
        val l = math.min(rem, 64)
        out.write(((l - 1) << 2) | 2)
        out.write(offset & 0xff)
        out.write((offset >> 8) & 0xff)
        rem -= l
      }
    }

    // size the table to the input: a fixed 16K-entry table would cost
    // a 64 KB allocation per ROW on a blob column of small cells
    val bits = math.min(14,
      math.max(8, 32 - Integer.numberOfLeadingZeros(math.max(1, in.length))))
    val table = new Array[Int](1 << bits) // last position+1 of each hash (0 = empty)
    @inline def hash4(i: Int): Int = {
      val v = ((in(i) & 0xff)) | ((in(i + 1) & 0xff) << 8) |
        ((in(i + 2) & 0xff) << 16) | ((in(i + 3) & 0xff) << 24)
      (v * 0x1e35a7bd) >>> (32 - bits)
    }
    var litStart = 0
    var i = 0
    while (i + 4 <= in.length) {
      val h = hash4(i)
      val cand = table(h) - 1
      table(h) = i + 1
      if (cand >= 0 && i - cand <= 65535 &&
          in(cand) == in(i) && in(cand + 1) == in(i + 1) &&
          in(cand + 2) == in(i + 2) && in(cand + 3) == in(i + 3)) {
        emitLiteral(litStart, i)
        var len = 4
        while (i + len < in.length && in(cand + len) == in(i + len)) len += 1
        emitCopy(i - cand, len)
        i += len
        litStart = i
      } else i += 1
    }
    emitLiteral(litStart, in.length)
    out.toByteArray
  }

  /** Strict decompress: None on any malformed framing. */
  def decompress(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length == 0) return None
    var p = 0
    var expect = 0L
    var shift = 0
    var more = true
    while (more) {
      if (p >= b.length || shift > 28) return None
      val v = b(p) & 0xff; p += 1
      expect |= (v & 0x7fL) << shift
      shift += 7
      more = (v & 0x80) != 0
    }
    // each element yields at most 64 bytes per 3 stream bytes (a tag-2
    // copy), so a preamble the rest of the stream cannot fill is
    // refused before its buffer is allocated
    if (expect > Limits.SnappyOut || expect > 22L * (b.length - p)) return None
    val n = expect.toInt
    val out = new Array[Byte](n)
    var o = 0
    while (p < b.length) {
      val tag = b(p) & 0xff; p += 1
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >> 2) + 1
          if (len > 60) {
            val extra = len - 60 // 1..4 length bytes
            if (p + extra > b.length) return None
            var v = 0L
            var k = 0
            while (k < extra) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
            p += extra
            if (v < 0 || v > Int.MaxValue - 1) return None
            len = v.toInt + 1
          }
          if (p + len > b.length || o + len > n) return None
          System.arraycopy(b, p, out, o, len)
          p += len; o += len
        case c =>
          var offset = 0
          var len = 0
          if (c == 1) {
            if (p + 1 > b.length) return None
            len = ((tag >> 2) & 0x7) + 4
            offset = ((tag >> 5) << 8) | (b(p) & 0xff); p += 1
          } else if (c == 2) {
            if (p + 2 > b.length) return None
            len = (tag >> 2) + 1
            offset = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2
          } else {
            if (p + 4 > b.length) return None
            len = (tag >> 2) + 1
            val off = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
              ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
            p += 4
            if (off > Int.MaxValue) return None
            offset = off.toInt
          }
          if (offset <= 0 || offset > o || o + len > n) return None
          // overlap-aware: byte-by-byte replicates runs when offset < len
          var k = 0
          while (k < len) { out(o + k) = out(o - offset + k); k += 1 }
          o += len
      }
    }
    if (o != n) return None
    Some(out)
  }
}

/** `snappy_compress(binary)` -> binary (never null on non-null input). */
case class SnappyCompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"snappy_compress expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Snappy.compress(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): SnappyCompress =
    copy(child = newChild)
  override def prettyName: String = "snappy_compress"
}

/** `snappy_decompress(binary)` -> binary or null on malformed framing
  * (PERMISSIVE — corrupt blobs route, they do not fail the scan). */
case class SnappyDecompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"snappy_decompress expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    Snappy.decompress(input.asInstanceOf[Array[Byte]]).orNull
  override protected def withNewChildInternal(newChild: Expression): SnappyDecompress =
    copy(child = newChild)
  override def prettyName: String = "snappy_decompress"
}

object snappy {
  def snappy_compress(blob: Column): Column =
    ColumnBridge.column(SnappyCompress(ColumnBridge.expression(blob)))
  def snappy_decompress(blob: Column): Column =
    ColumnBridge.column(SnappyDecompress(ColumnBridge.expression(blob)))
}
