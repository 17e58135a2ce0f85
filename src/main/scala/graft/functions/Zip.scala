package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZIP container ingest in pure JVM — the third container of the
  * family (per-record gzip members, WARC, now ZIP: the format
  * document dumps, mobile app corpora, and office files arrive in).
  *
  * The walk is CENTRAL-DIRECTORY-DRIVEN, the way robust readers work:
  * locate the end-of-central-directory record (PK\5\6, scanned
  * backward past a possible trailing comment), then iterate the
  * central directory's file headers (PK\1\2), which carry
  * AUTHORITATIVE sizes and CRCs even for entries whose local headers
  * deferred them to data descriptors (streaming writers like
  * java.util.zip.ZipOutputStream set flag bit 3 and write zeros in
  * the local header — a local-header walk misframes exactly those).
  * Each entry's payload is then read past its own local header
  * (local name/extra lengths re-read on the spot: they may differ
  * from the central copy) and STORED is copied / DEFLATE inflated
  * with CRC32 + size verification and the 64 MiB bomb cap.
  *
  * Failure semantics: central-directory framing is per-entry
  * reliable, so — unlike the WARC reader, where a corrupt gzip member
  * destroys all downstream framing — a corrupt ENTRY yields one null
  * row and the walk CONTINUES with the next entry; only a broken
  * EOCD/central directory yields a single terminal null row. Never
  * throws on arbitrary bytes. Scope: ZIP64 and encrypted entries
  * classify as unsupported (null row, walk continues). */
object Zip {

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** Central-directory entry: (name, method, flags, csize, usize,
    * crc, localHeaderOffset). */
  final case class Entry(name: String, method: Int, flags: Int,
    csize: Long, usize: Long, crc: Long, localOff: Long)

  /** Locate EOCD + walk the central directory. None = the container
    * itself is unreadable (no EOCD, CD out of bounds, bad signatures). */
  def centralDirectory(b: Array[Byte]): Option[Seq[Entry]] = {
    if (b == null || b.length < 22) return None
    // EOCD: fixed 22 bytes + comment (<= 65535); scan back for PK\5\6
    var e = b.length - 22
    val stop = math.max(0, b.length - 22 - 65535)
    var found = -1
    while (e >= stop && found < 0) {
      if (b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 5 && b(e + 3) == 6 &&
        22 + le16(b, e + 20) == b.length - e) found = e
      else e -= 1
    }
    if (found < 0) return None
    val n = le16(b, found + 10) // entries on this disk (single-disk scope)
    if (n != le16(b, found + 8)) return None // multi-disk: out of scope
    val cdOff = le32(b, found + 16)
    if (cdOff < 0 || cdOff > found) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var p = cdOff
    var i = 0
    while (i < n) {
      val pi = p.toInt
      if (p + 46 > found) return None
      if (!(b(pi) == 'P' && b(pi + 1) == 'K' && b(pi + 2) == 1 && b(pi + 3) == 2))
        return None
      val flags = le16(b, pi + 8)
      val method = le16(b, pi + 10)
      val crc = le32(b, pi + 16)
      val csize = le32(b, pi + 20)
      val usize = le32(b, pi + 24)
      val nameLen = le16(b, pi + 28)
      val extraLen = le16(b, pi + 30)
      val commentLen = le16(b, pi + 32)
      val localOff = le32(b, pi + 42)
      if (p + 46 + nameLen + extraLen + commentLen > found) return None
      val name = new String(b, pi + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      out += Entry(name, method, flags, csize, usize, crc, localOff)
      p += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    Some(out.toSeq)
  }

  /** Extract one entry's payload, verifying CRC32 and size. None =
    * the entry (not the container) is damaged or unsupported. */
  def extract(b: Array[Byte], en: Entry): Option[Array[Byte]] = {
    if ((en.flags & 0x1) != 0) return None // encrypted: unsupported
    if (en.usize > Limits.ZipEntryOut || en.csize > b.length) return None
    if (en.usize == 0xffffffffL || en.csize == 0xffffffffL) return None // ZIP64
    val lo = en.localOff
    if (lo < 0 || lo + 30 > b.length) return None
    val li = lo.toInt
    if (!(b(li) == 'P' && b(li + 1) == 'K' && b(li + 2) == 3 && b(li + 3) == 4))
      return None
    // the LOCAL name/extra lengths frame the data (they can differ
    // from the central copies — streaming writers add local extras)
    val nameLen = le16(b, li + 26)
    val extraLen = le16(b, li + 28)
    val data = lo + 30 + nameLen + extraLen
    if (data + en.csize > b.length) return None
    val di = data.toInt
    val out: Array[Byte] = en.method match {
      case 0 => // stored
        if (en.csize != en.usize) return None
        java.util.Arrays.copyOfRange(b, di, di + en.csize.toInt)
      case 8 => // deflate
        // a 258-byte match costs at least 2 bits, so a deflate stream
        // yields at most 1032 bytes per compressed byte: a larger usize
        // is a lie, refused before its buffer is allocated
        if (en.usize > 1032L * en.csize) return None
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(b, di, en.csize.toInt)
          val res = new Array[Byte](en.usize.toInt)
          var got = 0
          while (got < res.length && !inf.finished()) {
            val k =
              try inf.inflate(res, got, res.length - got)
              catch { case _: java.util.zip.DataFormatException => return None }
            if (k == 0 && !inf.finished()) return None
            got += k
          }
          if (got != res.length) return None
          // the stream must also END here (a longer stream than the
          // declared usize is a framing lie)...
          if (!inf.finished()) {
            val probe = new Array[Byte](1)
            val k = try inf.inflate(probe)
            catch { case _: java.util.zip.DataFormatException => return None }
            if (k > 0) return None
          }
          // ...and must CONSUME exactly csize (trailing bytes inside
          // the declared compressed span are the symmetric lie)
          if (inf.getRemaining != 0) return None
          res
        } finally inf.end()
      case _ => return None // other methods: unsupported
    }
    val crc = new java.util.zip.CRC32()
    crc.update(out)
    if (crc.getValue != en.crc) return None
    Some(out)
  }

  /** Synthesize a ZIP with `n` deflated text entries via the standard
    * library writer (which defers sizes to data descriptors — the
    * exact layout a local-header walk misreads). `corruptFirst` flips
    * a byte inside the FIRST entry's compressed data after writing:
    * CRC catches it, that entry nulls, the rest still extract. */
  def synth(id: Long, n: Int, corruptFirst: Boolean): Array[Byte] = {
    require(n >= 1 && n <= 64, s"synth entry count out of range: $n")
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    var i = 0
    while (i < n) {
      zos.putNextEntry(new java.util.zip.ZipEntry(s"doc-$id-$i.txt"))
      zos.write(entryText(id, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry()
      i += 1
    }
    zos.close()
    val out = bos.toByteArray
    if (corruptFirst) {
      // first local header sits at offset 0; its data follows the
      // 30-byte header + name (+ extra, none from ZipOutputStream)
      val nameLen = le16(out, 26)
      val extraLen = le16(out, 28)
      val data = 30 + nameLen + extraLen
      out(data + 2) = (out(data + 2) ^ 0xff).toByte
    }
    out
  }

  /** Deterministic ASCII entry text the oracle rebuilds verbatim. */
  def entryText(id: Long, i: Int): String = {
    val v = (((id * 13 + i * 17) % 983) + 983) % 983
    s"entry $i of archive $id carries token $v and a tail line\n" * 3
  }
}

/** `zip_entries(binary)` -> one row per central-directory entry:
  * (entry_idx, name, method, usize, payload, ok). A damaged or
  * unsupported ENTRY yields a null row and the walk continues (the
  * central directory keeps per-entry framing reliable — contrast
  * [[WarcRecords]]); an unreadable container yields one terminal
  * null row. Empty blob -> no rows. Runs inside GenerateExec. */
case class ZipEntries(child: Expression)
    extends Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def elementSchema: StructType = StructType(Seq(
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("method", StringType, nullable = true),
    StructField("usize", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("ok", BooleanType, nullable = false)))
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zip_entries expects binary input, got $other")
  }
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val b = v.asInstanceOf[Array[Byte]]
    if (b.length == 0) return Iterator.empty
    Zip.centralDirectory(b) match {
      case None =>
        Iterator.single(new GenericInternalRow(
          Array[Any](0, null, null, null, null, false)))
      case Some(entries) =>
        entries.iterator.zipWithIndex.map { case (en, idx) =>
          Zip.extract(b, en) match {
            case Some(payload) =>
              val m = en.method match {
                case 0 => "stored"
                case 8 => "deflate"
                case _ => "other"
              }
              new GenericInternalRow(Array[Any](idx,
                UTF8String.fromString(en.name), UTF8String.fromString(m),
                en.usize, payload, true))
            case None =>
              new GenericInternalRow(Array[Any](idx, null, null, null,
                null, false))
          }
        }
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZipEntries =
    copy(child = newChildren.head)
  override def prettyName: String = "zip_entries"
}

/** `synth_zip(id, n, corrupt_first)` -> [[Zip.synth]] fixture. */
case class SynthZip(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, IntegerType, BooleanType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"synth_zip expects (long id, int n, boolean corrupt_first), got $other")
    }
  override def nullSafeEval(idA: Any, nA: Any, cA: Any): Any =
    Zip.synth(idA.asInstanceOf[Long], nA.asInstanceOf[Int],
      cA.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): SynthZip = copy(first = f, second = s, third = t)
  override def prettyName: String = "synth_zip"
}

object zip {
  def zip_entries(blob: Column): Column =
    ColumnBridge.column(ZipEntries(ColumnBridge.expression(blob)))
  def synth_zip(id: Column, n: Column, corruptFirst: Column): Column =
    ColumnBridge.column(SynthZip(ColumnBridge.expression(id),
      ColumnBridge.expression(n), ColumnBridge.expression(corruptFirst)))
}
