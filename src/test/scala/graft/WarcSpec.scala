package graft

import org.apache.spark.sql.functions._

import graft.functions.{Warc, warc}

/** The WARC container layer (round-10): multi-member gzip splitting
  * with RFC 1952 flag handling and CRC/ISIZE verification, WARC
  * routing-header parse, and the [[graft.functions.WarcRecords]]
  * Generator's failure semantics — a corrupt member yields one
  * terminal null-routed row (framing past it is genuinely unknown;
  * this reader refuses the magic-scan guess), pinned under byte-flip
  * and truncation fuzz. */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  test("synth -> warc_records: every record's routing headers and payload " +
    "come back exactly") {
    val blob = Warc.synth(42L, 4, corruptLast = false)
    val rows = Seq(blob).toDF("b")
      .select(warc.warc_records($"b").as(Seq("rec_idx", "warc_type",
        "target_uri", "content_length", "payload", "ok")))
      .collect()
    assert(rows.length === 4)
    for ((r, i) <- rows.zipWithIndex) {
      assert(r.getInt(0) === i)
      assert(r.getString(1) === "response")
      assert(r.getString(2) === s"https://example.test/42/$i")
      val html = Warc.synthHtml(42L, i)
      assert(r.getLong(3) === html.length.toLong, "ASCII: bytes == chars")
      assert(new String(r.getAs[Array[Byte]](4), "UTF-8") === html)
      assert(r.getBoolean(5))
    }
  }

  test("corrupt last member: n-1 good rows then ONE terminal null-routed " +
    "row, nothing invented past the lost framing") {
    val rows = Seq(Warc.synth(7L, 5, corruptLast = true)).toDF("b")
      .select(warc.warc_records($"b").as(Seq("rec_idx", "warc_type",
        "target_uri", "content_length", "payload", "ok")))
      .collect()
    assert(rows.length === 5)
    assert(rows.take(4).forall(_.getBoolean(5)))
    val bad = rows.last
    assert(bad.getInt(0) === 4)
    assert(!bad.getBoolean(5))
    assert(bad.isNullAt(1) && bad.isNullAt(2) && bad.isNullAt(3) && bad.isNullAt(4))
  }

  test("fuzz: byte flips and truncations anywhere never throw, and rows " +
    "are always a good prefix plus at most one terminal malformed row") {
    val base = Warc.synth(3L, 3, corruptLast = false)
    for (b <- Mutations.byteStorms(base, 500, 11L) ++ Mutations.truncations(base) ++
        Iterator("not a warc at all".getBytes("US-ASCII"))) {
      val rows = WarcEval.rows(b) // direct eval: no Spark job per case
      assert(rows.length <= 4, s"${rows.length} rows")
      val okFlags = rows.map(_._2)
      val firstBad = okFlags.indexOf(false)
      if (firstBad >= 0) {
        assert(firstBad === rows.length - 1,
          "a malformed row must be terminal")
      }
      // indices are always 0,1,2,...
      assert(rows.map(_._1) === rows.indices.toList)
    }
  }

  test("gzip member splitting agrees with java's own multi-member reader") {
    val blob = Warc.synth(9L, 6, corruptLast = false)
    // split ourselves
    var off = 0
    val members = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (off < blob.length) {
      val Some((m, next)) = Warc.inflateMember(blob, off)
      members += m
      off = next
    }
    assert(members.length === 6)
    // GZIPInputStream reads concatenated members as one stream
    val all = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(blob)).readAllBytes()
    assert(all.toSeq === members.flatten.toSeq)
  }

  test("RFC 1952 optional header fields: FEXTRA + FNAME + FCOMMENT + FHCRC " +
    "are walked, reserved flag bits reject") {
    val payload = "WARC/1.0\r\nContent-Length: 2\r\n\r\nhi".getBytes("US-ASCII")
    def member(flg: Int, extras: Array[Byte]): Array[Byte] = {
      val defl = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      val bos = new java.io.ByteArrayOutputStream()
      try {
        defl.setInput(payload); defl.finish()
        val buf = new Array[Byte](256)
        while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
      } finally defl.end()
      val deflated = bos.toByteArray
      val crc = new java.util.zip.CRC32(); crc.update(payload)
      val out = new java.io.ByteArrayOutputStream()
      out.write(0x1f); out.write(0x8b); out.write(8); out.write(flg)
      out.write(Array[Byte](0, 0, 0, 0)); out.write(0); out.write(0xff)
      out.write(extras)
      out.write(deflated)
      def le32(v: Long): Unit =
        for (i <- 0 until 4) out.write(((v >> (8 * i)) & 0xff).toInt)
      le32(crc.getValue); le32(payload.length.toLong)
      out.toByteArray
    }
    // FEXTRA(4): xlen=3 + 3 bytes; FNAME(8): "f\0"; FCOMMENT(16): "c\0";
    // FHCRC(2): 2 bytes (value unchecked per our lenient walk)
    val extras = Array[Byte](3, 0, 1, 2, 3) ++ "f".getBytes :+ 0.toByte
    val full = member(4 | 8 | 16 | 2,
      extras ++ "c".getBytes :+ 0.toByte :+ 0.toByte :+ 0.toByte)
    val Some((rec, next)) = Warc.inflateMember(full, 0)
    assert(rec.toSeq === payload.toSeq)
    assert(next === full.length)
    assert(Warc.parseRecord(rec).exists(_._4.toSeq === "hi".getBytes.toSeq))
    // a reserved flag bit (0xE0 mask) must reject the member
    assert(Warc.inflateMember(member(0x20, Array.empty), 0) === None)
  }

  test("parseRecord: missing Content-Length, truncated payload, and " +
    "non-WARC version lines are malformed; header names are " +
    "case-insensitive") {
    def rec(s: String): Array[Byte] = s.getBytes("US-ASCII")
    assert(Warc.parseRecord(rec("WARC/1.0\r\nWARC-Type: x\r\n\r\n")) === None)
    assert(Warc.parseRecord(rec("WARC/1.0\r\nContent-Length: 99\r\n\r\nshort")) === None)
    assert(Warc.parseRecord(rec("HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n")) === None)
    assert(Warc.parseRecord(rec("WARC/1.0\r\nContent-Length: nan\r\n\r\n")) === None)
    val ok = Warc.parseRecord(rec(
      "WARC/1.1\r\ncontent-length: 3\r\nwarc-type: T\r\nWARC-TARGET-URI: u\r\n\r\nabc"))
    assert(ok === Some(("T", "u", 3L, "abc".getBytes("US-ASCII")))
      || ok.exists(r => r._1 == "T" && r._2 == "u" && r._3 == 3L &&
        r._4.toSeq == "abc".getBytes("US-ASCII").toSeq))
  }
}

/** Direct-eval harness for fuzzing without a Spark job per case. */
private object WarcEval {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.BinaryType

  /** (rec_idx, ok) pairs from one eval of the generator. */
  def rows(b: Array[Byte]): List[(Int, Boolean)] = {
    val gen = graft.functions.WarcRecords(Literal(b, BinaryType))
    gen.eval(InternalRow.empty).iterator.map { r =>
      (r.getInt(0), r.getBoolean(5))
    }.toList
  }
}
