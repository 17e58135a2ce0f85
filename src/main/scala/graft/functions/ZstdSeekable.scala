package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Zstandard SEEKABLE format (the published zstd-contrib spec) — the
  * layout that makes a 100 TB shard RANGE-READABLE: the payload is a
  * series of independent zstd frames, followed by a seek table carried
  * in a skippable frame (magic 0x184D2A5E), so a reader can fetch ONE
  * member with two byte-range reads (footer, then the member's frame)
  * instead of scanning the shard. That is exactly how columnar access
  * to a compressed crawl shard works on object storage.
  *
  * Layout (all little-endian):
  *   frame_0 ... frame_{n-1}
  *   skippable: magic 0x184D2A5E, u32 size,
  *     entries[n]: u32 compressed_size, u32 decompressed_size
  *       (+ u32 xxh64-low32 checksum per entry when the descriptor's
  *        checksum bit is set — this writer sets it),
  *     footer: u32 num_frames, u8 descriptor (bit7 = checksum flag,
  *       rest reserved 0), u32 magic 0x8F92EAB1.
  *
  * A seekable payload is ALSO a plain multi-frame zstd payload: the
  * seek table rides a skippable frame, so [[ZstdCodec.decompress]]
  * inflates the whole shard by walking members and skipping the table
  * — both access paths over one artifact. Never throws; malformation
  * -> None. */
object ZstdSeekable {

  private final val SeekMagic = 0x8f92eab1L
  private final val SkipMagicSeek = 0x184d2a5eL

  /** xxHash64 (seed 0); its low 32 bits are the seek table's
    * per-member checksum. */
  private[graft] def xxh64(b: Array[Byte]): Long =
    net.jpountz.xxhash.XXHashFactory.safeInstance().hash64().hash(b, 0, b.length, 0L)

  /** Pack chunks as a seekable shard: one independent frame per chunk
    * + the seek table with per-member checksums. */
  def pack(chunks: Array[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    val cSizes = new Array[Int](chunks.length)
    var i = 0
    while (i < chunks.length) {
      val f = ZstdCodec.compress(chunks(i))
      cSizes(i) = f.length
      out.write(f, 0, f.length)
      i += 1
    }
    // seek table skippable frame
    w32(SkipMagicSeek)
    w32(12L * chunks.length + 9)
    i = 0
    while (i < chunks.length) {
      w32(cSizes(i))
      w32(chunks(i).length)
      w32(xxh64(chunks(i)) & 0xffffffffL)
      i += 1
    }
    w32(chunks.length)
    out.write(0x80) // descriptor: per-entry checksums present
    w32(SeekMagic)
    out.toByteArray
  }

  /** Parsed seek table: (cOffset, cSize, dSize, checksum?) per member.
    * Read from the END (footer-first — the object-storage access
    * pattern: one tail range read). */
  final case class Member(cOffset: Long, cSize: Long, dSize: Long,
      checksum: Option[Long])

  def seekTable(b: Array[Byte]): Option[Array[Member]] = {
    if (b == null || b.length < 17) return None
    @inline def u32(i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    if (u32(b.length - 4) != SeekMagic) return None
    val descriptor = b(b.length - 5) & 0xff
    if ((descriptor & 0x7c) != 0) return None // reserved bits must be 0
    val hasCrc = (descriptor & 0x80) != 0
    val n = u32(b.length - 9)
    if (n < 0 || n > Limits.ZstdSeekFrames) return None
    val entryBytes = if (hasCrc) 12 else 8
    val tableLen = entryBytes * n.toInt + 9
    val skipStart = b.length - tableLen - 8
    if (skipStart < 0) return None
    if (u32(skipStart) != SkipMagicSeek || u32(skipStart + 4) != tableLen)
      return None
    val members = new Array[Member](n.toInt)
    var off = 0L
    var p = skipStart + 8
    var i = 0
    while (i < n) {
      val c = u32(p); val d = u32(p + 4)
      val crc = if (hasCrc) Some(u32(p + 8)) else None
      members(i) = Member(off, c, d, crc)
      off += c
      p += entryBytes
      i += 1
    }
    if (off != skipStart) return None // members must tile the payload
    Some(members)
  }

  /** Decode ONLY member `idx` — the two-range-read path: seek table,
    * then that member's frame bytes. Verifies the member's declared
    * decompressed size and (when present) its seek-table checksum. */
  def read(b: Array[Byte], idx: Int): Option[Array[Byte]] =
    seekTable(b).flatMap { members =>
      if (idx < 0 || idx >= members.length) None
      else {
        val m = members(idx)
        val frame = java.util.Arrays.copyOfRange(b,
          m.cOffset.toInt, (m.cOffset + m.cSize).toInt)
        ZstdCodec.decompress(frame).filter { out =>
          out.length == m.dSize &&
            m.checksum.forall(_ == (xxh64(out) & 0xffffffffL))
        }
      }
    }
}

/** `zstd_seek_meta(binary)` -> struct(n_members, total_compressed,
  * total_decompressed, has_checksums) or null when no valid seek
  * table terminates the payload. */
case class ZstdSeekMeta(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_members", IntegerType),
    StructField("total_compressed", LongType),
    StructField("total_decompressed", LongType),
    StructField("has_checksums", BooleanType)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zstd_seek_meta expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    ZstdSeekable.seekTable(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(ms) =>
        new GenericInternalRow(Array[Any](ms.length,
          ms.map(_.cSize).sum, ms.map(_.dSize).sum,
          ms.forall(_.checksum.isDefined)))
    }
  override protected def withNewChildInternal(newChild: Expression): ZstdSeekMeta =
    copy(child = newChild)
  override def prettyName: String = "zstd_seek_meta"
}

/** `zstd_seek_read(binary, idx)` -> member idx's decoded bytes via
  * the seek table (null when absent/corrupt/out of range). */
case class ZstdSeekRead(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, IntegerType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zstd_seek_read expects (binary, int) input, got $other")
  }
  override def nullSafeEval(input: Any, idx: Any): Any =
    ZstdSeekable.read(input.asInstanceOf[Array[Byte]],
      idx.asInstanceOf[Int]).orNull
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZstdSeekRead = copy(left = newLeft, right = newRight)
  override def prettyName: String = "zstd_seek_read"
}

/** `zstd_seek_pack(array<binary>)` -> a seekable shard of the array's
  * elements (one frame per element + seek table). */
case class ZstdSeekPack(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(BinaryType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zstd_seek_pack expects array<binary> input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val chunks = new Array[Array[Byte]](arr.numElements())
    var i = 0
    while (i < chunks.length) {
      if (arr.isNullAt(i)) return null
      chunks(i) = arr.getBinary(i)
      i += 1
    }
    ZstdSeekable.pack(chunks)
  }
  override protected def withNewChildInternal(newChild: Expression): ZstdSeekPack =
    copy(child = newChild)
  override def prettyName: String = "zstd_seek_pack"
}

object zstdseek {
  def zstd_seek_pack(chunks: Column): Column =
    ColumnBridge.column(ZstdSeekPack(ColumnBridge.expression(chunks)))
  def zstd_seek_meta(shard: Column): Column =
    ColumnBridge.column(ZstdSeekMeta(ColumnBridge.expression(shard)))
  def zstd_seek_read(shard: Column, idx: Column): Column =
    ColumnBridge.column(ZstdSeekRead(ColumnBridge.expression(shard),
      ColumnBridge.expression(idx)))
}
