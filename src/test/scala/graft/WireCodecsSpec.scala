package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.{Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Proto, Snappy, TextIngest}

/** The wire-codec wave: Snappy block format (round trips exact,
  * malformed framing detected), protobuf wire-format profiling, and
  * the charset-sniff / HTML-entity text-ingest kernels. */
class WireCodecsSpec extends AnyFunSuite {

  // ------------------------------------------------------------- snappy

  test("snappy: arbitrary bytes round-trip EXACTLY (property, both " +
    "compressible runs and incompressible noise)") {
    val gen = for {
      n <- Gen.choose(0, 4000)
      mode <- Gen.oneOf(0, 1, 2)
      seed <- Gen.choose(0L, 1000000L)
    } yield (n, mode, seed)
    val prop = Prop.forAll(gen) { case (n, mode, seed) =>
      val in = new Array[Byte](n)
      var i = 0
      while (i < n) {
        in(i) = mode match {
          case 0 => ((seed + i / 97) % 7).toByte // long runs: dense copies
          case 1 => (((seed * 2654435761L + i * 40503L) >>> 13) % 256).toByte // noise
          case _ => ((i % 251) ^ (seed % 13)).toByte // cyclic: far matches
        }
        i += 1
      }
      Snappy.decompress(Snappy.compress(in)).exists(_.toSeq == in.toSeq)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(150), prop)
    assert(res.passed, res.status.toString)
  }

  test("snappy: self-concatenated text compresses below raw size " +
    "(the whole-text match lands in the 64 KiB window)") {
    val text = ("the quick brown fox jumps over the lazy dog; " * 20).getBytes("UTF-8")
    val doubled = text ++ text
    val comp = Snappy.compress(doubled)
    assert(comp.length < doubled.length)
    assert(Snappy.decompress(comp).exists(_.toSeq == doubled.toSeq))
  }

  test("snappy: overlapping copy (offset < length) replicates runs — " +
    "hand-built stream per the format spec") {
    // "ab" literal then a copy of length 6 at offset 2 -> "abababab"
    val out = new java.io.ByteArrayOutputStream()
    out.write(8) // varint uncompressed length 8
    out.write((2 - 1) << 2) // literal, len 2
    out.write('a'); out.write('b')
    out.write(((6 - 1) << 2) | 2) // tag-2 copy, len 6
    out.write(2); out.write(0) // offset 2 LE
    val got = Snappy.decompress(out.toByteArray)
    assert(got.exists(b => new String(b, "UTF-8") == "abababab"))
  }

  test("snappy fuzz: truncations and flips never throw; output either " +
    "matches the declared length or is rejected") {
    // truncations and flips: DecoderTotalitySpec's snappy_decompress row
    // offsets before the start of output are rejected
    val bad = new java.io.ByteArrayOutputStream()
    bad.write(4)
    bad.write(((4 - 1) << 2) | 2) // copy len 4 ...
    bad.write(9); bad.write(0) // ... from offset 9 with empty output
    assert(Snappy.decompress(bad.toByteArray).isEmpty)
  }

  // -------------------------------------------------------------- proto

  test("proto: the seven-field synthesis profiles exactly (wire " +
    "arithmetic: zigzag raw values, nested/packed lengths)") {
    for (id <- Seq(0L, 9L, 117L, 4995L)) {
      val Some(p) = Proto.profile(Proto.synth(id, corrupt = false))
      assert(p.nFields === 7)
      assert(p.maxField === 7)
      assert(p.nVarint === 2)
      val s2 = (id % 21) - 10
      assert(p.varintSum === (id % 300) + ((s2 << 1) ^ (s2 >> 63)))
      assert(p.nI64 === 1 && p.i64Sum === id * 3 + 7)
      assert(p.nLen === 3 && p.lenBytes === (5 + id % 11) + 2 + 3)
      assert(p.nI32 === 1 && p.i32Sum === (id * 5 + 1) % 1000)
    }
  }

  test("proto: corrupt (mid-record truncation), groups, field 0, and " +
    "oversize varints all profile as None; never throws on noise") {
    assert(Proto.profile(Proto.synth(18L, corrupt = true)).isEmpty)
    assert(Proto.profile(Array((3 << 3 | 3).toByte)).isEmpty) // group wire type
    assert(Proto.profile(Array(0.toByte, 1.toByte)).isEmpty)  // field 0
    assert(Proto.profile(Array.fill[Byte](11)(0x80.toByte)).isEmpty) // varint >10B
    // noise: DecoderTotalitySpec's proto_stats row
  }

  test("proto: a 10-byte varint encoding of a negative value parses " +
    "(no in-band error sentinel)") {
    // field 1, wire 0, value -1 (ten 0xFF-ish bytes, canonical form)
    val out = new java.io.ByteArrayOutputStream()
    out.write(1 << 3)
    var v = -1L
    var k = 0
    while (k < 9) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7; k += 1 }
    out.write(v.toInt) // final byte 0x01
    val Some(p) = Proto.profile(out.toByteArray)
    assert(p.nVarint === 1 && p.varintSum === -1L)
  }

  // --------------------------------------------------------------- zstd

  test("zstd triage: synth -> parse round-trips the envelope for every " +
    "mode; reserved bit and truncations are malformed; fuzz never throws") {
    import graft.functions.Zstd
    for (id <- 0L until 64L) {
      val m = Zstd.frameMeta(Zstd.synth(id))
      val mode = id % 8
      if (mode == 6) assert(m.kind === "zstd_skippable")
      else if (mode == 7) assert(m.kind === "not_zstd")
      else {
        assert(m.kind === "zstd")
        assert(m.singleSegment === ((id / 8) % 2 == 1))
        assert(m.checksum === ((id / 16) % 2 == 1))
      }
    }
    // reserved bit set -> malformed
    val good = Zstd.synth(0L)
    val bad = good.clone(); bad(4) = (bad(4) | 0x08).toByte
    assert(Zstd.frameMeta(bad).kind === "malformed")
    // truncations and flips: DecoderTotalitySpec's zstd_frame_meta row
  }

  test("zstd triage: 2-byte content size carries the +256 bias; " +
    "single-segment window = content size") {
    import graft.functions.Zstd
    // id=13: mode 5 -> fcsFlag 1 (2-byte), ss = (13/8)%2 = 1
    val m = Zstd.frameMeta(Zstd.synth(13L))
    assert(m.kind === "zstd" && m.singleSegment)
    assert(m.contentSize === Some(13L % 1000 + 256))
    assert(m.windowSize === m.contentSize)
  }

  // ------------------------------------------------------- text ingest

  test("charset sniff: BOM precedence and content heuristics") {
    def sn(bs: Int*) = TextIngest.sniff(bs.map(_.toByte).toArray)
    assert(sn(0x00, 0x00, 0xfe, 0xff, 0, 0, 0, 0x61) === "utf-32be")
    assert(sn(0xff, 0xfe, 0x00, 0x00, 0x61, 0, 0, 0) === "utf-32le")
    assert(sn(0xff, 0xfe, 0x61, 0x00) === "utf-16le") // NOT utf-32le
    assert(sn(0xfe, 0xff, 0x00, 0x61) === "utf-16be")
    assert(sn(0xef, 0xbb, 0xbf, 0x61) === "utf-8-bom")
    assert(TextIngest.sniff("plain".getBytes("UTF-8")) === "ascii")
    assert(TextIngest.sniff("café".getBytes("UTF-8")) === "utf-8")
    assert(sn(0x00, 0xe9) === "binary")
    assert(sn(0x61, 0xe9) === "legacy-8bit")
    assert(TextIngest.sniff(Array.emptyByteArray) === "ascii")
  }

  test("blob_kind: every family detected; overlapping prefixes resolve " +
    "to the more specific family; content fallback tiers") {
    import graft.functions.BlobKind
    assert(BlobKind.kind(graft.functions.Qoi.encode(2, 2, 3,
      Array.fill[Byte](12)(1))) === "qoi")
    assert(BlobKind.kind(graft.functions.Tiff.encode(2, 2, 1,
      bigEndian = true, 2, Array.fill[Byte](4)(1))) === "tiff")
    assert(BlobKind.kind(graft.functions.Ico.synth(1L, 2)) === "ico")
    // a snappy stream of high bytes is invalid UTF-8 -> binary tier
    // (tiny all-ASCII payloads legitimately sniff as text: blob_kind is
    // a prefix dispatch, not a parser)
    assert(BlobKind.kind(Snappy.compress(Array.fill[Byte](4)(0xff.toByte))) === "binary")
    assert(BlobKind.kind("plain".getBytes) === "ascii_text")
    assert(BlobKind.kind("café".getBytes("UTF-8")) === "utf8_text")
    assert(BlobKind.kind("WARC/1.0\r\n".getBytes) === "warc")
    assert(BlobKind.kind(Array[Byte](0x1f, 0x8b.toByte, 8)) === "gzip")
    assert(BlobKind.kind(Array.emptyByteArray) === "empty")
    // 'II*' TIFF magic vs arbitrary ascii starting II: the 42 gate
    assert(BlobKind.kind("IIx*".getBytes) === "ascii_text")
  }

  test("html entities: named/decimal/hex/C1-remap/surrogate/verbatim") {
    def d(s: String) = TextIngest.decodeEntities(s)
    assert(d("a &amp; b") === "a & b")
    assert(d("&#233; = &#xE9;") === "é = é")
    assert(d("&#x80;") === "€")   // HTML5 C1 -> Windows-1252 remap
    assert(d("&#x9F;") === "Ÿ")
    assert(d("&#xD800;") === "�") // surrogate -> replacement
    assert(d("&#0;") === "�")
    assert(d("&#x1F600;") === "😀")    // supplementary plane
    assert(d("&bogus; & &amp") === "&bogus; & &amp") // unknown + no semicolon
    assert(d("&hellip;&mdash;") === "…—")
    assert(d("x &; y") === "x &; y") // empty body stays verbatim
    assert(d("no entities") === "no entities")
    assert(d("&" + "a" * 40 + ";") === "&" + "a" * 40 + ";") // name bound
  }
}
