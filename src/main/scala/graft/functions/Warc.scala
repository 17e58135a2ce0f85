package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC container ingest in pure JVM — the container layer of the
  * web-corpus pipeline (round-9 verdict #3). A Common-Crawl-layout
  * WARC file is a CONCATENATION OF GZIP MEMBERS, one WARC record per
  * member (ISO 28500 recommends per-record compression precisely so
  * readers can split without decompressing the world). This module
  * provides:
  *
  *   - multi-member gzip splitting: RFC 1952 header walk (FEXTRA /
  *     FNAME / FCOMMENT / FHCRC flags all handled) + raw-deflate
  *     inflation per member with CRC32 + ISIZE trailer verification,
  *     the member boundary recovered from the inflater's consumed
  *     count;
  *   - WARC record header parsing: version line, `WARC-Type`,
  *     `WARC-Target-URI`, `Content-Length` (the three routing
  *     headers), then exactly Content-Length payload bytes;
  *   - a Catalyst Generator ([[WarcRecords]]) emitting one row per
  *     record so the stream composes straight into the existing
  *     strip_html → dedup pipeline.
  *
  * Failure semantics (PERMISSIVE, like the whole codec family): a
  * member that fails gzip or WARC parsing yields ONE row with null
  * routing fields covering the remainder of the blob, and the walk
  * stops — once a member's framing is lost, the next boundary is
  * genuinely unknown (production readers resync by scanning for the
  * next 1F 8B 08 magic, a HEURISTIC that can false-positive inside
  * deflate data; this reader refuses to guess, so a corrupt tail
  * routes to the DLQ for offline repair instead of yielding
  * plausible-but-misframed records). Never throws on arbitrary
  * bytes.
  *
  * Scale shape: per-row generator expansion inside GenerateExec — no
  * shuffle, no driver state; 100 TB of WARC shards parallelize
  * embarrassingly across partitions.
  */
object Warc {

  /** Parse an RFC 1952 member header at `off`; returns the offset of
    * the first deflate byte, or -1 if malformed/truncated. */
  def gzipHeaderEnd(b: Array[Byte], off: Int): Int = {
    if (off + 10 > b.length) return -1
    if ((b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b) return -1
    if ((b(off + 2) & 0xff) != 8) return -1 // CM must be deflate
    val flg = b(off + 3) & 0xff
    if ((flg & 0xe0) != 0) return -1 // reserved flag bits must be 0
    var p = off + 10
    if ((flg & 4) != 0) { // FEXTRA: XLEN le16 + payload
      if (p + 2 > b.length) return -1
      val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      p += 2 + xlen
      if (p > b.length) return -1
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated
      while (p < b.length && b(p) != 0) p += 1
      if (p >= b.length) return -1
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
      while (p < b.length && b(p) != 0) p += 1
      if (p >= b.length) return -1
      p += 1
    }
    if ((flg & 2) != 0) { // FHCRC
      p += 2
      if (p > b.length) return -1
    }
    p
  }

  /** Inflate ONE gzip member starting at `off`: returns
    * (decompressed, offsetAfterTrailer) or None for anything
    * malformed — bad header, deflate error, truncation, CRC32 or
    * ISIZE mismatch, or output past [[Limits.WarcMemberOut]]. */
  def inflateMember(b: Array[Byte], off: Int): Option[(Array[Byte], Int)] = {
    val data = gzipHeaderEnd(b, off)
    if (data < 0) return None
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, data, b.length - data)
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (n == 0 && !inf.finished()) return None // truncated stream
        if (bos.size() + n > Limits.WarcMemberOut) return None // bomb guard
        bos.write(buf, 0, n)
      }
      val out = bos.toByteArray
      val trailer = data + ((b.length - data) - inf.getRemaining)
      if (trailer + 8 > b.length) return None
      def le32(i: Int): Long =
        (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
          ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
      val crc = new java.util.zip.CRC32()
      crc.update(out)
      if (crc.getValue != le32(trailer)) return None
      if ((out.length & 0xffffffffL) != le32(trailer + 4)) return None
      Some((out, trailer + 8))
    } finally inf.end() // native zlib memory: never wait for GC
  }

  /** Parsed record: (warcType, targetUri, contentLength, payload). */
  type Record = (String, String, Long, Array[Byte])

  /** Parse one decompressed member as a WARC record: `WARC/…` version
    * line, CRLF header lines until the blank line, then exactly
    * Content-Length payload bytes. Header names are case-insensitive
    * (the spec's rule); a missing WARC-Type or WARC-Target-URI
    * becomes "" (legal — metadata records may omit a URI), a missing
    * or unparseable Content-Length is malformed (the payload cannot
    * be framed without it). */
  def parseRecord(rec: Array[Byte]): Option[Record] = {
    // find header/payload split: first CRLFCRLF
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < rec.length) {
      if (rec(i) == '\r' && rec(i + 1) == '\n' && rec(i + 2) == '\r' &&
        rec(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) return None
    val head = new String(rec, 0, split, java.nio.charset.StandardCharsets.UTF_8)
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty || !lines(0).startsWith("WARC/")) return None
    var warcType = ""; var uri = ""; var clen = -1L
    var li = 1
    while (li < lines.length) {
      val line = lines(li)
      val c = line.indexOf(':')
      if (c > 0) {
        val name = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 1).trim
        name match {
          case "warc-type" => warcType = value
          case "warc-target-uri" => uri = value
          case "content-length" =>
            clen = try value.toLong catch { case _: NumberFormatException => return None }
          case _ => () // other headers pass through unexamined
        }
      }
      li += 1
    }
    if (clen < 0) return None
    val payloadStart = split + 4
    if (payloadStart + clen > rec.length) return None // truncated payload
    val payload = java.util.Arrays.copyOfRange(rec, payloadStart,
      payloadStart + clen.toInt)
    Some((warcType, uri, clen, payload))
  }

  /** Build a synthetic Common-Crawl-layout WARC: `n` response records
    * (HTML payloads keyed on (id, i) congruences — the strip_html
    * oracle can replay them), EACH gzipped as its own member,
    * concatenated. With `corruptLast`, the final member's gzip magic
    * is zeroed — the deterministic malformed-member fixture. */
  def synth(id: Long, n: Int, corruptLast: Boolean): Array[Byte] = {
    require(n >= 1 && n <= 64, s"synth record count out of range: $n")
    val bos = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < n) {
      val html = synthHtml(id, i)
      val payload = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val rec = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append("WARC-Type: response\r\n")
        .append(s"WARC-Target-URI: https://example.test/$id/$i\r\n")
        .append(s"WARC-Record-ID: <urn:synth:$id-$i>\r\n")
        .append(s"Content-Length: ${payload.length}\r\n\r\n")
        .toString.getBytes(java.nio.charset.StandardCharsets.UTF_8) ++
        payload ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(rec); gz.finish()
      i += 1
    }
    val out = bos.toByteArray
    if (corruptLast && n >= 1) {
      // zero the LAST member's magic byte: find its start by walking
      // the members we just wrote (deterministic — we wrote them)
      var off = 0
      var last = 0
      while (off < out.length) {
        inflateMember(out, off) match {
          case Some((_, next)) => last = off; off = next
          case None => off = out.length // unreachable on our own output
        }
      }
      out(last) = 0
    }
    out
  }

  /** The synthetic record payload: deliberately exercises the
    * strip_html chain (tag removal, script stripping, entity decode).
    * ASCII-only so Content-Length == character count in the oracle. */
  def synthHtml(id: Long, i: Int): String = {
    val v = (((id * 31 + i * 7) % 997) + 997) % 997
    s"<html><body><p>doc $id rec $i</p><script>var x=1;</script>" +
      s"<b>tok$v</b> &amp; tail</body></html>"
  }
}

/** `warc_records(binary)` -> one row per WARC record of a multi-member
  * gzip WARC blob: (rec_idx, warc_type, target_uri, content_length,
  * payload, ok). A malformed member emits ONE terminal row with null
  * routing fields and ok=false covering the rest of the blob (see
  * [[Warc]] for why there is no magic-scan resync). An empty blob
  * generates no rows (explode semantics). Runs inside GenerateExec —
  * per-partition streaming, no shuffle, planner-prunable. */
case class WarcRecords(child: Expression)
    extends Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def elementSchema: StructType = StructType(Seq(
    StructField("rec_idx", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_length", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("ok", BooleanType, nullable = false)))
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"warc_records expects binary input, got $other")
  }
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val b = v.asInstanceOf[Array[Byte]]
    if (b.length == 0) return Iterator.empty
    val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var off = 0
    var idx = 0
    var dead = false
    while (!dead && off < b.length) {
      Warc.inflateMember(b, off) match {
        case Some((member, next)) =>
          Warc.parseRecord(member) match {
            case Some((t, uri, clen, payload)) =>
              rows += new GenericInternalRow(Array[Any](idx,
                UTF8String.fromString(t), UTF8String.fromString(uri),
                clen, payload, true))
            case None => // well-framed gzip, but not a WARC record
              rows += new GenericInternalRow(Array[Any](idx, null, null,
                null, null, false))
          }
          off = next
          idx += 1
        case None => // framing lost: one terminal malformed row
          rows += new GenericInternalRow(Array[Any](idx, null, null,
            null, null, false))
          dead = true
      }
    }
    rows
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WarcRecords =
    copy(child = newChildren.head)
  override def prettyName: String = "warc_records"
}

/** `synth_warc(id, n, corrupt_last)` -> a synthetic multi-member WARC
  * blob ([[Warc.synth]]): n per-record gzip members; with
  * corrupt_last, the final member's magic is zeroed (the
  * deterministic malformed fixture the oracle can account for). */
case class SynthWarc(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, IntegerType, BooleanType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"synth_warc expects (long id, int n, boolean corrupt_last), got $other")
    }
  override def nullSafeEval(idA: Any, nA: Any, cA: Any): Any =
    Warc.synth(idA.asInstanceOf[Long], nA.asInstanceOf[Int],
      cA.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): SynthWarc = copy(first = f, second = s, third = t)
  override def prettyName: String = "synth_warc"
}

object warc {
  def warc_records(blob: Column): Column =
    ColumnBridge.column(WarcRecords(ColumnBridge.expression(blob)))
  def synth_warc(id: Column, n: Column, corruptLast: Column): Column =
    ColumnBridge.column(SynthWarc(ColumnBridge.expression(id),
      ColumnBridge.expression(n), ColumnBridge.expression(corruptLast)))
}
