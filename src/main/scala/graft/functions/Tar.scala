package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** USTAR (POSIX tar) container ingest — the archive format dataset
  * releases ship in (model checkpoints, image tarballs, WebDataset
  * shards). Pure JVM: 512-byte header blocks with octal size fields,
  * header CHECKSUM verification (sum of header bytes with the
  * checksum field read as spaces), regular-file payloads padded to
  * 512-byte blocks, end marked by two zero blocks.
  *
  * Failure semantics match [[Warc]]: a header that fails the
  * checksum, magic, or octal parse destroys downstream framing (the
  * size field IS the framing), so the walk emits ONE terminal
  * null-routed row and stops. Non-file entries (directories,
  * symlinks, PAX extended headers) are emitted with their type and a
  * null payload, ok=true — routing metadata, not damage. Never
  * throws on arbitrary bytes. */
object Tar {

  /** Parse an octal field (NUL/space-terminated). -1 = malformed. */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    var seen = false
    val end = off + len
    while (i < end) {
      val c = b(i) & 0xff
      if (c == 0 || c == ' ') {
        if (seen) return v
      } else if (c >= '0' && c <= '7') {
        v = v * 8 + (c - '0')
        if (v > Int.MaxValue.toLong * 2) return -1
        seen = true
      } else return -1
      i += 1
    }
    if (seen) v else -1
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var n = 0
    while (n < len && b(off + n) != 0) n += 1
    new String(b, off, n, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Verify the ustar header checksum: unsigned byte sum with the
    * 8-byte checksum field counted as spaces. */
  private def checksumOk(b: Array[Byte], off: Int): Boolean = {
    val stored = octal(b, off + 148, 8)
    if (stored < 0) return false
    var sum = 0L
    var i = 0
    while (i < 512) {
      sum += (if (i >= 148 && i < 156) ' '.toInt else b(off + i) & 0xff)
      i += 1
    }
    sum == stored
  }

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < 512) { if (b(off + i) != 0) return false; i += 1 }
    true
  }

  /** Walked entry: (name, typeflag, size, payload-or-null). The Left
    * case is the terminal framing failure. */
  def walk(b: Array[Byte]): Seq[(String, String, Long, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Array[Byte])]
    if (b == null) return out.toSeq
    var off = 0
    var done = false
    while (!done) {
      if (off + 512 > b.length) { out += ((null, null, -1L, null)); done = true }
      else if (isZeroBlock(b, off)) done = true // end-of-archive marker
      else if (!checksumOk(b, off)) { out += ((null, null, -1L, null)); done = true }
      else {
        val magic = new String(b, off + 257, 5, "US-ASCII")
        val size = octal(b, off + 124, 12)
        if (magic != "ustar" || size < 0) {
          out += ((null, null, -1L, null)); done = true
        } else {
          val name = cstr(b, off + 0, 100)
          val tf = b(off + 156) & 0xff
          val typeflag = tf match {
            case 0 | '0' => "file"
            case '5' => "dir"
            case '2' => "symlink"
            case 'x' | 'g' => "pax_header"
            case other => s"type_${other.toChar}"
          }
          val dataBlocks = ((size + 511) / 512).toInt
          if (off + 512L + dataBlocks * 512L > b.length || size > Limits.TarEntryOut) {
            out += ((null, null, -1L, null)); done = true
          } else {
            val payload =
              if (typeflag == "file")
                java.util.Arrays.copyOfRange(b, off + 512, off + 512 + size.toInt)
              else null
            out += ((name, typeflag, size, payload))
            off += 512 + dataBlocks * 512
          }
        }
      }
    }
    out.toSeq
  }

  /** Synthesize a ustar archive with `n` regular-file text entries
    * plus one directory entry, correct checksums, two-zero-block
    * terminator. With `corrupt`, the LAST file header's checksum
    * field is damaged — the deterministic terminal-failure fixture. */
  def synth(id: Long, n: Int, corrupt: Boolean): Array[Byte] = {
    require(n >= 1 && n <= 64, s"synth entry count out of range: $n")
    val bos = new java.io.ByteArrayOutputStream()
    def header(name: String, size: Long, typeflag: Char): Array[Byte] = {
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, h, 0, math.min(nb.length, 100))
      def oct(off: Int, len: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val padded = ("0" * (len - 1 - s.length)) + s
        var i = 0
        while (i < len - 1) { h(off + i) = padded.charAt(i).toByte; i += 1 }
        h(off + len - 1) = 0
      }
      oct(100, 8, 420) // mode 0644
      oct(108, 8, 0); oct(116, 8, 0) // uid/gid
      oct(124, 12, size)
      oct(136, 12, 1700000000L) // mtime
      h(156) = typeflag.toByte
      "ustar".getBytes("US-ASCII").copyToArray(h, 257)
      h(262) = 0; h(263) = '0'; h(264) = '0' // version "00"
      // checksum: spaces, then computed
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += h(i) & 0xff; i += 1 }
      val cs = java.lang.Long.toOctalString(sum)
      val padded = ("0" * (6 - cs.length)) + cs
      for (k <- 0 until 6) h(148 + k) = padded.charAt(k).toByte
      h(154) = 0; h(155) = ' '
      h
    }
    bos.write(header(s"data-$id/", 0, '5')) // directory entry
    var i = 0
    while (i < n) {
      val payload = entryText(id, i).getBytes("UTF-8")
      bos.write(header(s"data-$id/part-$i.txt", payload.length.toLong, '0'))
      bos.write(payload)
      val pad = (512 - payload.length % 512) % 512
      bos.write(new Array[Byte](pad))
      i += 1
    }
    bos.write(new Array[Byte](1024)) // two zero blocks
    val out = bos.toByteArray
    if (corrupt) {
      // damage the LAST file header's checksum digits: find it by
      // re-walking our own (valid) output
      var off = 0
      var lastFileHdr = -1
      var stop = false
      while (!stop && off + 512 <= out.length) {
        if (isZeroBlock(out, off)) stop = true
        else {
          val size = octal(out, off + 124, 12)
          if ((out(off + 156) & 0xff) == '0') lastFileHdr = off
          off += 512 + (((size + 511) / 512) * 512).toInt
        }
      }
      if (lastFileHdr >= 0) out(lastFileHdr + 148) = '7'
    }
    out
  }

  /** Deterministic ASCII entry text the oracle rebuilds verbatim. */
  def entryText(id: Long, i: Int): String = {
    val v = (((id * 19 + i * 23) % 911) + 911) % 911
    s"shard $i of tar $id holds sample $v\n" * 4
  }
}

/** `tar_entries(binary)` -> one row per archive member:
  * (entry_idx, name, entry_type, size, payload, ok). Directories and
  * other non-file members carry a null payload with ok=true; a
  * framing failure (bad checksum/magic/octal or truncation) is ONE
  * terminal null row, like [[WarcRecords]] — tar's size field IS the
  * framing. Empty blob -> no rows. */
case class TarEntries(child: Expression)
    extends Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def elementSchema: StructType = StructType(Seq(
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("entry_type", StringType, nullable = true),
    StructField("size", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("ok", BooleanType, nullable = false)))
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"tar_entries expects binary input, got $other")
  }
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val b = v.asInstanceOf[Array[Byte]]
    if (b.length == 0) return Iterator.empty
    Tar.walk(b).iterator.zipWithIndex.map {
      case ((null, _, _, _), idx) =>
        new GenericInternalRow(Array[Any](idx, null, null, null, null, false))
      case ((name, tf, size, payload), idx) =>
        new GenericInternalRow(Array[Any](idx, UTF8String.fromString(name),
          UTF8String.fromString(tf), size, payload, true))
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TarEntries =
    copy(child = newChildren.head)
  override def prettyName: String = "tar_entries"
}

/** `synth_tar(id, n, corrupt)` -> [[Tar.synth]] fixture. */
case class SynthTar(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, IntegerType, BooleanType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"synth_tar expects (long id, int n, boolean corrupt), got $other")
    }
  override def nullSafeEval(idA: Any, nA: Any, cA: Any): Any =
    Tar.synth(idA.asInstanceOf[Long], nA.asInstanceOf[Int],
      cA.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): SynthTar = copy(first = f, second = s, third = t)
  override def prettyName: String = "synth_tar"
}

object tar {
  def tar_entries(blob: Column): Column =
    ColumnBridge.column(TarEntries(ColumnBridge.expression(blob)))
  def synth_tar(id: Column, n: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthTar(ColumnBridge.expression(id),
      ColumnBridge.expression(n), ColumnBridge.expression(corrupt)))
}
