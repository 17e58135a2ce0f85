package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.Png

/** The pure-JVM PNG codec behind `q_png_decode` (grayscale-8,
  * non-interlaced): encode filters every scanline with type (row mod
  * 5) and DEFLATE-compresses; decode walks chunks, verifies every CRC,
  * concatenates multi-IDAT streams, INFLATEs, and un-filters. The
  * oracle gates the pixel STATISTICS; this spec pins the byte-level
  * codec contract — exact roundtrip, CRC rejection, multi-IDAT
  * assembly, and permissive None on malformed input (the decoder is
  * fed arbitrary corpus bytes and must never throw). */
class PngSpec extends AnyFunSuite {

  private def px(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val a = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w) a(y * w + x) = (f(x, y) & 0xff).toByte
    a
  }

  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val c = new java.util.zip.CRC32
    c.update(t); c.update(data)
    be32(data.length.toLong) ++ t ++ data ++ be32(c.getValue)
  }

  test("roundtrip: all five filters exercised (h >= 5), exact pixels back") {
    val (w, h) = (16, 11)
    val p = px(w, h)((x, y) => x * 31 + y * 17 + 7)
    val Some((dw, dh, dp)) = Png.decode(Png.encode(w, h, p))
    assert((dw, dh) === (w, h))
    assert(dp.toSeq === p.toSeq)
  }

  test("roundtrip: degenerate sizes (1x1, 1xH, Wx1)") {
    for ((w, h) <- Seq((1, 1), (1, 9), (9, 1))) {
      val p = px(w, h)((x, y) => x * 13 + y * 29 + 3)
      val Some((dw, dh, dp)) = Png.decode(Png.encode(w, h, p))
      assert((dw, dh) === (w, h), s"dims for ${w}x$h")
      assert(dp.toSeq === p.toSeq, s"pixels for ${w}x$h")
    }
  }

  test("roundtrip holds on random pixel grids (property)") {
    val gen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      bytes <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, bytes.map(_.toByte).toArray)
    val prop = Prop.forAll(gen) { case (w, h, p) =>
      Png.decode(Png.encode(w, h, p)).exists { case (dw, dh, dp) =>
        dw == w && dh == h && dp.toSeq == p.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("a flipped payload byte fails its chunk CRC -> None") {
    val enc = Png.encode(8, 8, px(8, 8)((x, y) => x + y))
    // find the IDAT chunk and flip one payload byte
    val idx = {
      var i = 8; var at = -1
      while (at < 0 && i + 8 <= enc.length) {
        val len = ((enc(i) & 0xff) << 24) | ((enc(i + 1) & 0xff) << 16) |
          ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
        if (new String(enc, i + 4, 4, "US-ASCII") == "IDAT") at = i + 8
        else i += 12 + len
      }
      at
    }
    assert(idx > 0)
    val bad = enc.clone()
    bad(idx) = (bad(idx) ^ 0x40).toByte
    assert(Png.decode(bad) === None)
  }

  test("multi-IDAT streams are concatenated before INFLATE") {
    val (w, h) = (12, 7)
    val p = px(w, h)((x, y) => x * 5 + y * 11)
    val enc = Png.encode(w, h, p)
    // re-chunk: split the single IDAT payload into two IDAT chunks
    var i = 8
    val out = new java.io.ByteArrayOutputStream()
    out.write(enc, 0, 8)
    while (i + 8 <= enc.length) {
      val len = ((enc(i) & 0xff) << 24) | ((enc(i + 1) & 0xff) << 16) |
        ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
      val typ = new String(enc, i + 4, 4, "US-ASCII")
      val data = java.util.Arrays.copyOfRange(enc, i + 8, i + 8 + len)
      if (typ == "IDAT" && len > 1) {
        val cut = len / 2
        out.write(chunk("IDAT", data.take(cut)))
        out.write(chunk("IDAT", data.drop(cut)))
      } else out.write(chunk(typ, data))
      i += 12 + len
    }
    val Some((dw, dh, dp)) = Png.decode(out.toByteArray)
    assert((dw, dh) === (w, h))
    assert(dp.toSeq === p.toSeq)
  }

  test("zlib FDICT flag returns None instead of hanging the decode loop") {
    // a preset-dictionary stream makes inflate() return 0 with
    // needsDictionary() true and needsInput() false forever — the
    // decoder must bail, not spin
    val enc = Png.encode(6, 6, px(6, 6)((x, y) => x + y * 7))
    var i = 8
    val out = new java.io.ByteArrayOutputStream()
    out.write(enc, 0, 8)
    while (i + 8 <= enc.length) {
      val len = ((enc(i) & 0xff) << 24) | ((enc(i + 1) & 0xff) << 16) |
        ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
      val typ = new String(enc, i + 4, 4, "US-ASCII")
      val data = java.util.Arrays.copyOfRange(enc, i + 8, i + 8 + len)
      if (typ == "IDAT") {
        // 0x78 0xBB: CMF=deflate/32k, FLG with FDICT bit set and a
        // valid check (0x78BB % 31 == 0), then a fake dictionary id
        out.write(chunk("IDAT", Array[Byte](0x78, 0xBB.toByte, 1, 2, 3, 4, 0, 0)))
      } else out.write(chunk(typ, data))
      i += 12 + len
    }
    assert(Png.decode(out.toByteArray) === None)
  }

  test("RGB (color type 2) roundtrip: exact interleaved pixels back") {
    val (w, h) = (11, 9) // h >= 5 exercises all five filters
    val p = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      p(3 * (y * w + x) + c) = ((x * 31 + y * 17 + c * 73 + 5) & 0xff).toByte
    val Some((dw, dh, ch, dp)) = Png.decodeFull(Png.encodeRgb(w, h, p))
    assert((dw, dh, ch) === (w, h, 3))
    assert(dp.toSeq === p.toSeq)
  }

  test("RGB roundtrip holds on random grids (property, 3-byte filter offset)") {
    val gen = for {
      w <- Gen.choose(1, 16)
      h <- Gen.choose(1, 16)
      bytes <- Gen.listOfN(3 * w * h, Gen.choose(0, 255))
    } yield (w, h, bytes.map(_.toByte).toArray)
    val prop = Prop.forAll(gen) { case (w, h, p) =>
      Png.decodeFull(Png.encodeRgb(w, h, p)).exists { case (dw, dh, ch, dp) =>
        dw == w && dh == h && ch == 3 && dp.toSeq == p.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("palette (color type 3) roundtrip: indices expand through PLTE") {
    val (w, h) = (10, 7)
    val pal = new Array[Byte](768)
    for (i <- 0 until 256) {
      pal(3 * i) = ((i * 7 + 3) % 256).toByte
      pal(3 * i + 1) = ((i * 11 + 5) % 256).toByte
      pal(3 * i + 2) = ((i * 13 + 7) % 256).toByte
    }
    val idx = px(w, h)((x, y) => x * 31 + y * 17)
    val Some((dw, dh, ch, dp)) = Png.decodeFull(Png.encodePal(w, h, idx, pal))
    assert((dw, dh, ch) === (w, h, 3))
    for (k <- 0 until w * h) {
      val i = idx(k) & 0xff
      assert(dp(3 * k) === pal(3 * i), s"R at $k")
      assert(dp(3 * k + 1) === pal(3 * i + 1), s"G at $k")
      assert(dp(3 * k + 2) === pal(3 * i + 2), s"B at $k")
    }
  }

  test("palette PNG without a PLTE chunk -> None (PLTE is required)") {
    val pal = Array.tabulate(48)(i => (i * 5).toByte) // 16 entries
    val idx = px(6, 6)((x, y) => (x + y) % 16)
    val enc = Png.encodePal(6, 6, idx, pal)
    // strip the PLTE chunk, keep everything else
    var i = 8
    val out = new java.io.ByteArrayOutputStream()
    out.write(enc, 0, 8)
    while (i + 8 <= enc.length) {
      val len = ((enc(i) & 0xff) << 24) | ((enc(i + 1) & 0xff) << 16) |
        ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
      val typ = new String(enc, i + 4, 4, "US-ASCII")
      if (typ != "PLTE")
        out.write(chunk(typ, java.util.Arrays.copyOfRange(enc, i + 8, i + 8 + len)))
      i += 12 + len
    }
    assert(Png.decodeFull(out.toByteArray) === None)
  }

  test("palette index past the PLTE entry count -> None, not garbage RGB") {
    val pal = Array.tabulate(12)(i => (i * 9).toByte) // 4 entries
    val idx = px(4, 4)((x, y) => (x + y) % 4)
    idx(5) = 7 // out of range (encoder would reject it, so patch after)
    // build via the core through a 8-entry palette, then truncate PLTE
    val enc = Png.encodePal(4, 4, idx, Array.tabulate(24)(i => (i * 9).toByte))
    var i = 8
    val out = new java.io.ByteArrayOutputStream()
    out.write(enc, 0, 8)
    while (i + 8 <= enc.length) {
      val len = ((enc(i) & 0xff) << 24) | ((enc(i + 1) & 0xff) << 16) |
        ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
      val typ = new String(enc, i + 4, 4, "US-ASCII")
      val data = java.util.Arrays.copyOfRange(enc, i + 8, i + 8 + len)
      out.write(chunk(typ, if (typ == "PLTE") data.take(12) else data))
      i += 12 + len
    }
    assert(Png.decodeFull(out.toByteArray) === None)
  }

  test("RGBA (color type 6) roundtrip: exact pixels through the 4-byte " +
    "filter offset") {
    val (w, h) = (9, 8)
    val p = new Array[Byte](4 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 4)
      p(4 * (y * w + x) + c) = ((x * 31 + y * 17 + c * 67 + 11) & 0xff).toByte
    val Some((dw, dh, ch, dp)) = Png.decodeFull(Png.encodeRgba(w, h, p))
    assert((dw, dh, ch) === (w, h, 4))
    assert(dp.toSeq === p.toSeq)
  }

  test("grayscale+alpha (color type 4) roundtrip: exact pixels through the " +
    "2-byte filter offset") {
    val (w, h) = (11, 7)
    val p = new Array[Byte](2 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 2)
      p(2 * (y * w + x) + c) = ((x * 53 + y * 23 + c * 101 + 3) & 0xff).toByte
    val Some((dw, dh, ch, dp)) = Png.decodeFull(Png.encodeGrayAlpha(w, h, p))
    assert((dw, dh, ch) === (w, h, 2))
    assert(dp.toSeq === p.toSeq)
  }

  test("RGBA roundtrip holds on random grids (property)") {
    val gen = for {
      w <- Gen.choose(1, 12)
      h <- Gen.choose(1, 12)
      bytes <- Gen.listOfN(4 * w * h, Gen.choose(0, 255))
    } yield (w, h, bytes.map(_.toByte).toArray)
    val prop = Prop.forAll(gen) { case (w, h, p) =>
      Png.decodeFull(Png.encodeRgba(w, h, p)).exists { case (dw, dh, ch, dp) =>
        dw == w && dh == h && ch == 4 && dp.toSeq == p.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("Adam7 interlaced grayscale roundtrip: exact pixels, including " +
    "dims where some passes are empty") {
    // w or h < 5 leaves later passes empty; 1x1 uses pass 1 only
    for ((w, h) <- Seq((16, 11), (8, 8), (3, 3), (1, 1), (2, 9), (9, 2), (5, 5))) {
      val p = px(w, h)((x, y) => x * 31 + y * 17 + 7)
      val Some((dw, dh, dp)) = Png.decode(Png.encodeInterlaced(w, h, p))
      assert((dw, dh) === (w, h), s"dims for ${w}x$h")
      assert(dp.toSeq === p.toSeq, s"pixels for ${w}x$h")
    }
  }

  test("Adam7 interlaced RGB roundtrip: exact pixels through the 3-byte " +
    "offset within each sub-image") {
    val (w, h) = (13, 10)
    val p = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      p(3 * (y * w + x) + c) = ((x * 29 + y * 43 + c * 71 + 1) & 0xff).toByte
    val Some((dw, dh, ch, dp)) = Png.decodeFull(Png.encodeRgbInterlaced(w, h, p))
    assert((dw, dh, ch) === (w, h, 3))
    assert(dp.toSeq === p.toSeq)
  }

  test("Adam7 roundtrip holds on random grids (property)") {
    val gen = for {
      w <- Gen.choose(1, 20)
      h <- Gen.choose(1, 20)
      bytes <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, bytes.map(_.toByte).toArray)
    val prop = Prop.forAll(gen) { case (w, h, p) =>
      Png.decode(Png.encodeInterlaced(w, h, p)).exists { case (dw, dh, dp) =>
        dw == w && dh == h && dp.toSeq == p.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("interlaced and non-interlaced containers of the same pixels differ " +
    "as bytes but decode identically") {
    val p = px(12, 9)((x, y) => x * 7 + y * 13)
    val plain = Png.encode(12, 9, p)
    val adam7 = Png.encodeInterlaced(12, 9, p)
    assert(plain.toSeq !== adam7.toSeq)
    assert(Png.decode(plain).get._3.toSeq === Png.decode(adam7).get._3.toSeq)
  }

  test("grayscale decode wrapper rejects RGB and palette containers") {
    val rgb = Png.encodeRgb(5, 5, Array.fill(75)(42.toByte))
    val pal = Png.encodePal(5, 5, Array.fill(25)(1.toByte),
      Array.tabulate(6)(_.toByte))
    assert(Png.decode(rgb) === None)
    assert(Png.decode(pal) === None)
    // but decodeFull accepts both
    assert(Png.decodeFull(rgb).exists(_._3 == 3))
    assert(Png.decodeFull(pal).exists(_._3 == 3))
  }

  test("permissive None on malformed input, never a throw") {
    val enc = Png.encode(6, 6, px(6, 6)((x, y) => x * y))
    val cases = Seq[Array[Byte]](
      null,
      Array.emptyByteArray,
      Array.fill(20)(0x41.toByte),          // not a PNG signature
      enc.take(8),                          // signature only
      enc.take(enc.length - 6),             // truncated mid-IEND
      { val b = enc.clone(); b(1) = 'Q'.toByte; b }) // corrupt signature
    cases.foreach(b => assert(Png.decode(b) === None))
    // mislabeled color type (RGB over grayscale-sized scanlines):
    // rebuild IHDR with colorType=2 and a VALID CRC — the inflated
    // stream is a third of the declared RGB geometry, so decodeFull
    // rejects it on length and the grayscale wrapper on color type
    val ihdrData = java.util.Arrays.copyOfRange(enc, 16, 29)
    ihdrData(9) = 2
    val rebuilt = enc.take(8) ++ chunk("IHDR", ihdrData) ++ enc.drop(8 + 25)
    assert(Png.decode(rebuilt) === None)
  }

  // ---- 16-bit depth (round-10) --------------------------------------

  test("16-bit grayscale round-trips bit-exactly through all five filters " +
    "(PNG is lossless at every depth)") {
    for ((w, h, id) <- Seq((16, 12, 3L), (7, 9, 11L), (1, 1, 0L), (24, 6, 255L))) {
      val samples = Array.tabulate(w * h) { k =>
        val x = k % w; val y = k / w
        (((id * 7 + x * 31L + y * 17L) % 65536 + 65536) % 65536).toInt
      }
      val enc = Png.encodeGray16(w, h, samples)
      val Some((dw, dh, ch, bytes)) = Png.decode16(enc)
      assert((dw, dh, ch) === (w, h, 1))
      val got = Array.tabulate(w * h)(k =>
        ((bytes(2 * k) & 0xff) << 8) | (bytes(2 * k + 1) & 0xff))
      assert(got.toSeq === samples.toSeq, s"${w}x$h id=$id")
    }
  }

  test("16-bit: full u16 dynamic range survives (0, 65535, and values " +
    "whose high/low bytes collide with filter arithmetic)") {
    val samples = Array(0, 65535, 0x0100, 0x00ff, 0x8080, 0x7f7f, 0xff00, 0x00aa, 0xaa00)
    val Some((_, _, _, bytes)) = Png.decode16(Png.encodeGray16(3, 3, samples))
    val got = Array.tabulate(9)(k =>
      ((bytes(2 * k) & 0xff) << 8) | (bytes(2 * k + 1) & 0xff))
    assert(got.toSeq === samples.toSeq)
  }

  test("16-bit RGB round-trips bit-exactly (6-byte filter offset)") {
    val (w, h) = (9, 7)
    val samples = Array.tabulate(3 * w * h)(k => (k * 6151 + 17) % 65536)
    val Some((dw, dh, ch, bytes)) = Png.decode16(Png.encodeRgb16(w, h, samples))
    assert((dw, dh, ch) === (w, h, 3))
    val got = Array.tabulate(3 * w * h)(k =>
      ((bytes(2 * k) & 0xff) << 8) | (bytes(2 * k + 1) & 0xff))
    assert(got.toSeq === samples.toSeq)
  }

  test("decode16 and decodeFull are mutually exclusive gates: each depth " +
    "rejects the other's containers, both stay permissive on fuzz") {
    val enc8 = Png.encode(6, 6, px(6, 6)((x, y) => x * y))
    val enc16 = Png.encodeGray16(6, 6, Array.tabulate(36)(_ * 1000))
    assert(Png.decode16(enc8) === None)
    assert(Png.decodeFull(enc16) === None)
    assert(Png.decode16(null) === None)
    // fuzz: DecoderTotalitySpec's png_stats16 and png_stats_rgb rows
  }
}
