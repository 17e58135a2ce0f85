package graft.functions

import com.github.luben.zstd.{RecyclingBufferPool, ZstdCompressCtx, ZstdException, ZstdInputStreamNoFinalizer}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Zstandard (RFC 8878) through zstd-jni, the native libzstd binding
  * Spark ships. The SQL functions, seekable shards ([[ZstdSeekable]])
  * and Avro `zstandard` container blocks all decode through
  * [[inputStream]], so the engine has one zstd entry point and one
  * window cap.
  *
  * Decode never throws: truncation, reserved bits, a checksum
  * mismatch, trailing garbage, a dictionary-flagged frame without its
  * dictionary (or with another one), a window past
  * [[Limits.ZstdWindow]] or output past [[Limits.ZstdOut]] -> None, the
  * same permissive-null contract as the gzip/snappy members.
  * Concatenated frames decode in order and skippable frames are
  * skipped; a payload with no content frame (empty, or skippable
  * frames only) is None too.
  *
  * libzstd's window buffer is native memory: a frame may reserve up to
  * [[Limits.ZstdWindow]] of it, held until the stream is closed. Each
  * call here closes its stream before it returns.
  *
  * Encode writes one frame at level 3 with the content size and the
  * xxhash64 checksum declared.
  */
object ZstdCodec {

  private final val Level = 3
  private final val WindowLogMax = java.lang.Long.numberOfTrailingZeros(Limits.ZstdWindow)

  /** A zstd decoding stream over `in` that refuses a frame declaring a
    * window past [[Limits.ZstdWindow]]; `dict` (structured or raw
    * bytes, null for none) serves every frame. The caller closes it. */
  def inputStream(in: java.io.InputStream, dict: Array[Byte] = null): java.io.InputStream = {
    // the pool recycles the stream's 128 KiB input buffer: allocating
    // and zeroing one per call dominates the decode of a small value
    val z = new ZstdInputStreamNoFinalizer(in, RecyclingBufferPool.INSTANCE)
    try {
      z.setLongMax(WindowLogMax)
      if (dict != null) z.setDict(dict)
      z
    } catch { case e: java.io.IOException => z.close(); throw e }
  }

  /** Full decode of a (possibly multi-frame) zstd payload, or None. */
  def decompress(b: Array[Byte]): Option[Array[Byte]] = decode(b, null)

  /** Decode with an RFC 8878 §5 dictionary (structured or raw bytes);
    * every content frame in the payload uses it. A null or unloadable
    * dictionary, or a frame whose declared dictionary id differs,
    * -> None. */
  def decompressWithDict(b: Array[Byte], dict: Array[Byte]): Option[Array[Byte]] =
    if (dict == null) None else decode(b, dict)

  private def decode(b: Array[Byte], dict: Array[Byte]): Option[Array[Byte]] = {
    if (b == null) return None
    var z: java.io.InputStream = null
    try {
      z = inputStream(new java.io.ByteArrayInputStream(b), dict)
      Limits.readAtMost(z, Limits.ZstdOut).filter(_.nonEmpty || hasContentFrame(b))
    } catch {
      case _: java.io.IOException | _: ZstdException => None
    } finally if (z != null) z.close()
  }

  /** Whether anything but skippable frames follows the payload's
    * leading skippable frames. libzstd decodes an empty or
    * skippable-only payload to no bytes; here that is no zstd stream. */
  private def hasContentFrame(b: Array[Byte]): Boolean = {
    val le = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var p = 0L
    while (p + 8 <= b.length && (le.getInt(p.toInt) & 0xfffffff0) == 0x184d2a50)
      p += 8 + (le.getInt(p.toInt + 4) & 0xffffffffL)
    p < b.length
  }

  /** One frame holding `raw`. */
  def compress(raw: Array[Byte]): Array[Byte] = encode(raw, null)

  /** One frame holding `raw`, compressed against `dict` (structured or
    * raw bytes); decode it with [[decompressWithDict]] and the same
    * bytes. None when libzstd cannot load `dict` (a structured
    * dictionary's magic over damaged tables). */
  def compressWithDict(raw: Array[Byte], dict: Array[Byte]): Option[Array[Byte]] =
    try Some(encode(raw, dict)) catch { case _: ZstdException => None }

  private def encode(raw: Array[Byte], dict: Array[Byte]): Array[Byte] = {
    val ctx = new ZstdCompressCtx()
    try {
      ctx.setLevel(Level).setChecksum(true).setContentSize(true)
      if (dict != null) ctx.loadDict(dict)
      ctx.compress(raw)
    } finally ctx.close()
  }
}

/** `zstd_compress(binary)` -> one zstd frame per [[ZstdCodec.compress]]. */
case class ZstdCompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_compress expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    ZstdCodec.compress(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): ZstdCompress =
    copy(child = newChild)
  override def prettyName: String = "zstd_compress"
}

/** `zstd_decompress(binary)` -> decoded bytes, or null when the
  * payload is not a well-formed checksum-clean zstd stream
  * (permissive routing per [[ZstdCodec.decompress]]). */
case class ZstdDecompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_decompress expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    ZstdCodec.decompress(input.asInstanceOf[Array[Byte]]).orNull
  override protected def withNewChildInternal(newChild: Expression): ZstdDecompress =
    copy(child = newChild)
  override def prettyName: String = "zstd_decompress"
}

/** `zstd_compress_dict(binary, dict)` -> one zstd frame compressed
  * against `dict`, or null when the dictionary cannot be loaded;
  * decode with `zstd_decompress_dict` and the same bytes. */
case class ZstdCompressDict(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_compress_dict expects (binary, binary) input, got $other")
  }
  override def nullSafeEval(input: Any, dict: Any): Any =
    ZstdCodec.compressWithDict(input.asInstanceOf[Array[Byte]],
      dict.asInstanceOf[Array[Byte]]).orNull
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZstdCompressDict =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "zstd_compress_dict"
}

/** `zstd_decompress_dict(binary, dict)` -> decoded bytes using an
  * RFC 8878 §5 dictionary (structured OR raw), or null. */
case class ZstdDecompressDict(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_decompress_dict expects (binary, binary) input, got $other")
  }
  override def nullSafeEval(input: Any, dict: Any): Any =
    ZstdCodec.decompressWithDict(input.asInstanceOf[Array[Byte]],
      dict.asInstanceOf[Array[Byte]]).orNull
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZstdDecompressDict =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "zstd_decompress_dict"
}

object zstdio {
  def zstd_compress(blob: Column): Column =
    ColumnBridge.column(ZstdCompress(ColumnBridge.expression(blob)))
  def zstd_decompress(blob: Column): Column =
    ColumnBridge.column(ZstdDecompress(ColumnBridge.expression(blob)))
  def zstd_compress_dict(blob: Column, dict: Column): Column =
    ColumnBridge.column(ZstdCompressDict(ColumnBridge.expression(blob),
      ColumnBridge.expression(dict)))
  def zstd_decompress_dict(blob: Column, dict: Column): Column =
    ColumnBridge.column(ZstdDecompressDict(ColumnBridge.expression(blob),
      ColumnBridge.expression(dict)))
}
