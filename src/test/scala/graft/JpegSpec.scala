package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{Jpeg, MediaHeaders}

/** The pure-JVM baseline JPEG codec behind `q_jpeg_decode` (ITU-T
  * T.81 baseline sequential, 8-bit grayscale): encode runs a real
  * float FDCT + all-ones quantization + Annex K Huffman entropy
  * coding with byte stuffing; decode builds its Huffman tables from
  * the stream's DHT segments, entropy-decodes with unstuffing, and
  * IDCTs. Two exactness regimes, both pinned here:
  *   - BLOCK-CONSTANT images (every 8×8 block one value) have DC-only
  *     spectra that survive round(FDCT)/IDCT bit-exactly — the oracle
  *     contract for q_jpeg_decode;
  *   - arbitrary images round-trip within ±2 gray levels (the codec
  *     is honestly lossy; the bound pins that the loss is rounding,
  *     not a transform/zigzag/Huffman bug — a transposed DCT or a
  *     wrong zigzag blows the bound out immediately). */
class JpegSpec extends AnyFunSuite {

  private def blockConstant(w: Int, h: Int, id: Long): Array[Byte] = {
    val a = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      a(y * w + x) =
        (((id * 7 + (x / 8) * 31L + (y / 8) * 17L) % 256 + 256) % 256).toByte
    a
  }

  test("block-constant images round-trip bit-exactly (dims not multiple of 8 too)") {
    for ((w, h) <- Seq((8, 8), (16, 16), (17, 13), (24, 9), (1, 1), (7, 22))) {
      val p = blockConstant(w, h, 42L + w + h)
      val Some((dw, dh, dp)) = Jpeg.decode(Jpeg.encode(w, h, p))
      assert((dw, dh) === (w, h), s"dims for ${w}x$h")
      assert(dp.toSeq === p.toSeq, s"pixels for ${w}x$h")
    }
  }

  test("arbitrary images round-trip within ±2 gray levels (property)") {
    val gen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val p = new Array[Byte](w * h)
      for (y <- 0 until h; x <- 0 until w)
        p(y * w + x) = (((seed * 31 + x * 97L + y * 61L + x * y * 13L) % 256
          + 256) % 256).toByte
      Jpeg.decode(Jpeg.encode(w, h, p)).exists { case (dw, dh, dp) =>
        dw == w && dh == h && (0 until w * h).forall { k =>
          math.abs((dp(k) & 0xff) - (p(k) & 0xff)) <= 2
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("the asymmetric congruence catches transposition: wide vs tall differ") {
    // a transposed FDCT/IDCT pair cancels out in a roundtrip, so ALSO
    // pin the encoded container against the header parser's dims and
    // check a wide image decodes with its own geometry
    val p = blockConstant(24, 8, 7)
    val enc = Jpeg.encode(24, 8, p)
    assert(MediaHeaders.parse(enc) === Some(("jpeg", 24, 8)))
    val Some((dw, dh, _)) = Jpeg.decode(enc)
    assert((dw, dh) === (24, 8))
  }

  test("the entropy stream really is stuffed: raw 0xFF bytes are escaped") {
    // scan the whole container: after SOS, any 0xFF must be followed
    // by 0x00 (stuffing) or a marker code — decode would desync
    // otherwise; this pins the writer's stuffing discipline directly
    val enc = Jpeg.encode(32, 32, blockConstant(32, 32, 99))
    var i = 2
    var sos = -1
    while (sos < 0 && i + 4 < enc.length) {
      if ((enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xda) {
        val len = ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
        sos = i + 2 + len
      } else i += 1
    }
    assert(sos > 0)
    for (k <- sos until enc.length - 2)
      if ((enc(k) & 0xff) == 0xff)
        assert((enc(k + 1) & 0xff) == 0x00 || (enc(k + 1) & 0xff) >= 0xd0,
          s"unstuffed 0xFF at $k")
  }

  test("decoder builds Huffman tables from the stream's DHT, not constants") {
    // swap the Annex K DHT for a DIFFERENT valid table pair (flat
    // 8-bit codes for every DC/AC symbol) and re-encode the entropy
    // data by hand? — too invasive; instead corrupt one DHT byte so
    // the stream's table disagrees with the encoder's: a decoder that
    // used built-in constants would still decode happily, one that
    // honors the stream fails. We remove a code from BITS so the
    // symbol the stream uses becomes undecodable.
    val enc = Jpeg.encode(16, 16, blockConstant(16, 16, 3))
    var i = 2
    var dht = -1
    while (dht < 0 && i + 4 < enc.length) {
      if ((enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xc4) dht = i
      else i += 1
    }
    assert(dht > 0)
    val bad = enc.clone()
    // first BITS array starts at dht+5 (marker 2 + len 2 + TcTh 1):
    // zero all 16 DC BITS counts -> every DC symbol undecodable
    for (k <- 0 until 16) bad(dht + 5 + k) = 0
    // (the table is now invalid for this stream; len stays consistent
    // because BITS counts drive how many HUFFVALs follow — zeroing
    // makes the decoder read 0 vals and mis-walk the segment, which
    // must surface as None, never a throw or a wrong image)
    assert(Jpeg.decode(bad) === None)
  }

  test("permissive None on malformed input, never a throw") {
    val enc = Jpeg.encode(8, 8, blockConstant(8, 8, 1))
    val cases = Seq[Array[Byte]](
      null,
      Array.emptyByteArray,
      Array.fill(16)(0x55.toByte),     // not a JPEG
      enc.take(2),                     // SOI only
      enc.take(enc.length / 2),        // truncated mid-stream
      { val b = enc.clone(); b(0) = 0; b }) // corrupt SOI
    cases.foreach(b => assert(Jpeg.decode(b) === None))
    // trailing bytes AFTER a complete scan do not invalidate the
    // image (libjpeg semantics: all MCUs decoded = done) — permissive
    // in the accepting direction too
    assert(Jpeg.decode(enc.dropRight(2) :+ 0xff.toByte).isDefined)
    // progressive frame type (SOF2) is out of scope -> None
    val prog = enc.clone()
    var i = 2
    while (i + 1 < prog.length) {
      if ((prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0) {
        prog(i + 1) = 0xc2.toByte; i = prog.length
      } else i += 1
    }
    assert(Jpeg.decode(prog) === None)
  }

  test("adversarial high-frequency pixels encode without crashing " +
    "(AC amplitudes clamp to the baseline 10-bit limit)") {
    // a full-amplitude checkerboard maximizes AC energy (|S| ~ 2048,
    // past the largest AC Huffman amplitude) — the encoder must clamp,
    // not die on a missing code; the roundtrip stays a valid decode
    val (w, h) = (16, 16)
    val p = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      p(y * w + x) = (if ((x + y) % 2 == 0) 0 else 255).toByte
    val Some((dw, dh, dp)) = Jpeg.decode(Jpeg.encode(w, h, p))
    assert((dw, dh) === (w, h))
    assert(dp.length === w * h)
  }

  test("a quantization-table selector past 3 -> None, not an index crash") {
    val enc = Jpeg.encode(8, 8, blockConstant(8, 8, 5))
    val bad = enc.clone()
    var i = 2
    var patched = false
    while (!patched && i + 12 < bad.length) {
      if ((bad(i) & 0xff) == 0xff && (bad(i + 1) & 0xff) == 0xc0) {
        bad(i + 12) = 5 // SOF0 component Tq byte (B.2.2 allows 0..3)
        patched = true
      } else i += 1
    }
    assert(patched)
    assert(Jpeg.decode(bad) === None)
  }

  private def blockConstantRgb(w: Int, h: Int, id: Long): Array[Byte] = {
    val a = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val bx = x / 8; val by = y / 8
      val k = 3 * (y * w + x)
      a(k) = (((id * 7 + bx * 31L + by * 17L) % 256 + 256) % 256).toByte
      a(k + 1) = (((id * 11 + bx * 13L + by * 29L) % 256 + 256) % 256).toByte
      a(k + 2) = (((id * 3 + bx * 37L + by * 23L) % 256 + 256) % 256).toByte
    }
    a
  }

  test("3-component 4:4:4: block-constant planes round-trip bit-exactly " +
    "through the interleaved scan") {
    for ((w, h) <- Seq((8, 8), (24, 16), (17, 13), (9, 25))) {
      val p = blockConstantRgb(w, h, 31L + w * h)
      val Some((dw, dh, ch, dp)) = Jpeg.decodeFull(Jpeg.encodeColor(w, h, p))
      assert((dw, dh, ch) === (w, h, 3), s"dims for ${w}x$h")
      assert(dp.toSeq === p.toSeq, s"pixels for ${w}x$h")
    }
  }

  test("3-component: distinct per-channel planes prove the MCU interleave " +
    "and the three DC prediction chains stay separate") {
    // constant-per-channel image where channels differ: a decoder that
    // crosses predictors or mis-interleaves blocks shifts whole planes
    val (w, h) = (32, 24)
    val p = new Array[Byte](3 * w * h)
    for (k <- 0 until w * h) { p(3 * k) = 10; p(3 * k + 1) = 130.toByte; p(3 * k + 2) = 250.toByte }
    val Some((_, _, _, dp)) = Jpeg.decodeFull(Jpeg.encodeColor(w, h, p))
    assert(dp.toSeq === p.toSeq)
  }

  test("3-component arbitrary pixels round-trip within ±2 per channel (property)") {
    val gen = for {
      w <- Gen.choose(1, 16)
      h <- Gen.choose(1, 16)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val p = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        p(3 * (y * w + x) + c) = (((seed * 31 + x * 97L + y * 61L + c * 139L +
          x * y * 13L) % 256 + 256) % 256).toByte
      Jpeg.decodeFull(Jpeg.encodeColor(w, h, p)).exists { case (dw, dh, ch, dp) =>
        dw == w && dh == h && ch == 3 && (0 until 3 * w * h).forall { k =>
          math.abs((dp(k) & 0xff) - (p(k) & 0xff)) <= 2
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  private def region420(w: Int, h: Int, id: Long): Array[Byte] = {
    val a = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val k = 3 * (y * w + x)
      a(k) = (((id * 7 + (x / 8) * 31L + (y / 8) * 17L) % 256 + 256) % 256).toByte
      a(k + 1) = (((id * 11 + (x / 16) * 13L + (y / 16) * 29L) % 256 + 256) % 256).toByte
      a(k + 2) = (((id * 3 + (x / 16) * 37L + (y / 16) * 23L) % 256 + 256) % 256).toByte
    }
    a
  }

  test("4:2:0: region-constant planes survive subsample -> DCT -> " +
    "replication-upsample bit-exactly (dims off the 16-grid too)") {
    for ((w, h) <- Seq((16, 16), (32, 16), (33, 17), (24, 40), (7, 9), (1, 1))) {
      val p = region420(w, h, 5L + w + h)
      val Some((dw, dh, ch, dp)) = Jpeg.decodeFull(Jpeg.encode420(w, h, p))
      assert((dw, dh, ch) === (w, h, 3), s"dims for ${w}x$h")
      assert(dp.toSeq === p.toSeq, s"pixels for ${w}x$h")
    }
  }

  test("4:2:0: luma varying per 8x8 inside one MCU proves the four-Y-block " +
    "raster order") {
    // 32x32 = 4 MCUs, each holding four DIFFERENT Y blocks; a decoder
    // that scans Y blocks in the wrong order swaps quadrants
    val p = region420(32, 32, 77)
    val Some((_, _, _, dp)) = Jpeg.decodeFull(Jpeg.encode420(32, 32, p))
    assert(dp.toSeq === p.toSeq)
  }

  test("4:2:0 arbitrary pixels: luma within ±2, chroma within ±2 of the " +
    "point-downsampled source (honest subsampling loss)") {
    val (w, h) = (20, 14)
    val p = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      p(3 * (y * w + x) + c) =
        (((x * 97 + y * 61 + c * 139 + x * y * 13) % 256 + 256) % 256).toByte
    val Some((_, _, _, dp)) = Jpeg.decodeFull(Jpeg.encode420(w, h, p))
    for (y <- 0 until h; x <- 0 until w) {
      val k = 3 * (y * w + x)
      assert(math.abs((dp(k) & 0xff) - (p(k) & 0xff)) <= 2, s"luma at ($x,$y)")
      // chroma reference = the point-downsampled sample this pixel maps to
      val rk = 3 * ((y / 2 * 2) * w + (x / 2 * 2))
      for (c <- 1 to 2)
        assert(math.abs((dp(k + c) & 0xff) - (p(rk + c) & 0xff)) <= 2,
          s"chroma $c at ($x,$y)")
    }
  }

  test("4:2:2: horizontal-only subsampling round-trips region-constant " +
    "planes exactly (the broadcast layout)") {
    // chroma constant per 16x8 region (8·hf × 8·vf with hf=2, vf=1)
    for ((w, h) <- Seq((16, 8), (32, 24), (19, 11))) {
      val p = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val k = 3 * (y * w + x)
        p(k) = (((7 + (x / 8) * 31 + (y / 8) * 17) % 256)).toByte
        p(k + 1) = (((11 + (x / 16) * 13 + (y / 8) * 29) % 256)).toByte
        p(k + 2) = (((3 + (x / 16) * 37 + (y / 8) * 23) % 256)).toByte
      }
      val Some((dw, dh, ch, dp)) = Jpeg.decodeFull(Jpeg.encode422(w, h, p))
      assert((dw, dh, ch) === (w, h, 3), s"dims for ${w}x$h")
      assert(dp.toSeq === p.toSeq, s"pixels for ${w}x$h")
    }
  }

  test("grayscale decode wrapper rejects 3-component frames") {
    val color = Jpeg.encodeColor(8, 8, blockConstantRgb(8, 8, 2))
    assert(Jpeg.decode(color) === None)
    assert(Jpeg.decodeFull(color).exists(_._3 == 3))
    // and the header parser still reads the color container's dims
    assert(MediaHeaders.parse(color) === Some(("jpeg", 8, 8)))
  }

  test("restart markers: DRI + RSTn streams round-trip bit-exactly " +
    "(the error-resilience layout real encoders write)") {
    // 40x24 = 15 MCUs at interval 2 -> seven RSTn markers cycling 0-7,
    // each byte-aligned with predictors reset on both sides
    val p = blockConstant(40, 24, 21)
    val enc = Jpeg.encode(40, 24, p, restartInterval = 2)
    // the stream REALLY contains restart markers
    val rsts = (2 until enc.length - 1).count(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) >= 0xd0 &&
        (enc(i + 1) & 0xff) <= 0xd7)
    assert(rsts === 7, s"expected 7 RST markers, saw $rsts")
    val Some((dw, dh, dp)) = Jpeg.decode(enc)
    assert((dw, dh) === (40, 24))
    assert(dp.toSeq === p.toSeq)
    // color + interval 1 (every MCU boundary restarts)
    val pc = blockConstantRgb(24, 16, 6)
    val encc = Jpeg.encodeColor(24, 16, pc, restartInterval = 1)
    val Some((_, _, 3, dpc)) = Jpeg.decodeFull(encc)
    assert(dpc.toSeq === pc.toSeq)
    // a corrupted restart marker is malformed, not silently skipped
    val bad = enc.clone()
    var i = 2
    var patched = false
    while (!patched && i + 1 < bad.length) {
      if ((bad(i) & 0xff) == 0xff && (bad(i + 1) & 0xff) >= 0xd0 &&
        (bad(i + 1) & 0xff) <= 0xd7) { bad(i + 1) = 0x3c; patched = true }
      else i += 1
    }
    assert(patched)
    assert(Jpeg.decode(bad) === None)
  }

  test("image_dims sees synth-jpeg containers as real JPEGs") {
    // cross-parser agreement: the SOF-scanning header parser (written
    // before the codec existed) must read the codec's output
    val enc = Jpeg.encode(40, 24, blockConstant(40, 24, 11))
    assert(MediaHeaders.parse(enc) === Some(("jpeg", 40, 24)))
  }

  // ---- JFIF YCbCr color transform (round-10) ----------------------

  test("forwardYcc stays in [0,255] with NO clamp — all 8 RGB-cube " +
    "corners plus a dense sweep") {
    def check(r: Int, g: Int, b: Int): Unit = {
      val p = Jpeg.forwardYcc(r, g, b)
      val y = p & 0xff; val cb = (p >> 8) & 0xff; val cr = (p >> 16) & 0xff
      // the packed fields being the full value (no wrap) is the claim:
      // recompute unpacked and compare
      assert((p & 0xff000000) == 0, s"overflow bits for ($r,$g,$b)")
      assert(y >= 0 && y <= 255 && cb >= 0 && cb <= 255 && cr >= 0 && cr <= 255,
        s"($r,$g,$b) -> ($y,$cb,$cr)")
    }
    for (r <- Seq(0, 255); g <- Seq(0, 255); b <- Seq(0, 255)) check(r, g, b)
    for (r <- 0 to 255 by 5; g <- 0 to 255 by 5; b <- 0 to 255 by 5) check(r, g, b)
  }

  test("forwardYcc matches the real-valued JFIF matrix within rounding") {
    for (r <- 0 to 255 by 7; g <- 0 to 255 by 11; b <- 0 to 255 by 13) {
      val p = Jpeg.forwardYcc(r, g, b)
      val y = p & 0xff; val cb = (p >> 8) & 0xff; val cr = (p >> 16) & 0xff
      val yf = 0.299 * r + 0.587 * g + 0.114 * b
      val cbf = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
      val crf = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
      assert(math.abs(y - yf) <= 1.0, s"Y for ($r,$g,$b)")
      assert(math.abs(cb - math.min(255.0, cbf)) <= 1.0, s"Cb for ($r,$g,$b)")
      assert(math.abs(cr - math.min(255.0, crf)) <= 1.0, s"Cr for ($r,$g,$b)")
    }
  }

  test("transform-only round trip RGB -> YCbCr -> RGB within ±2 " +
    "(rounding is the only loss)") {
    val prop = Prop.forAll(Gen.choose(0, 255), Gen.choose(0, 255),
      Gen.choose(0, 255)) { (r: Int, g: Int, b: Int) =>
      val f = Jpeg.forwardYcc(r, g, b)
      val i = Jpeg.inverseYcc(f & 0xff, (f >> 8) & 0xff, (f >> 16) & 0xff)
      math.abs((i & 0xff) - r) <= 2 &&
        math.abs(((i >> 8) & 0xff) - g) <= 2 &&
        math.abs(((i >> 16) & 0xff) - b) <= 2
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("full JFIF pipeline on block-constant RGB: decodeToRgb equals the " +
    "pinned transform composition EXACTLY (codec layer is identity)") {
    for ((w, h, id) <- Seq((24, 16, 5L), (17, 13, 9L), (8, 8, 0L))) {
      val rgb = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val m = Seq((7L, 31L, 17L), (11L, 13L, 29L), (3L, 37L, 23L))(c)
        rgb(3 * (y * w + x) + c) =
          (((id * m._1 + (x / 8) * m._2 + (y / 8) * m._3) % 256 + 256) % 256).toByte
      }
      val Some((dw, dh, ch, got)) = Jpeg.decodeToRgb(Jpeg.encodeJfifRgb(w, h, rgb))
      assert((dw, dh, ch) === (w, h, 3))
      val expected = Jpeg.ycbcrToRgb(Jpeg.rgbToYcbcr(rgb))
      assert(got.toSeq === expected.toSeq, s"${w}x$h id=$id")
      // and the composition stays within the transform-only tolerance
      for (k <- 0 until 3 * w * h)
        assert(math.abs((got(k) & 0xff) - (rgb(k) & 0xff)) <= 2, s"px $k")
    }
  }

  test("full JFIF pipeline on ARBITRARY RGB round-trips within tolerance " +
    "(transform ±2 + codec ±2 amplified by inverse gains => ±8)") {
    val gen = for {
      w <- Gen.choose(1, 16)
      h <- Gen.choose(1, 16)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val rgb = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        rgb(3 * (y * w + x) + c) = (((seed * 31 + x * 97L + y * 61L + c * 139L +
          x * y * 13L) % 256 + 256) % 256).toByte
      Jpeg.decodeToRgb(Jpeg.encodeJfifRgb(w, h, rgb)).exists {
        case (dw, dh, ch, got) =>
          dw == w && dh == h && ch == 3 && (0 until 3 * w * h).forall { k =>
            math.abs((got(k) & 0xff) - (rgb(k) & 0xff)) <= 8
          }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("decodeToRgb passes grayscale through unchanged (Y IS the plane)") {
    val p = blockConstant(16, 16, 3L)
    val Some((_, _, ch, got)) = Jpeg.decodeToRgb(Jpeg.encode(16, 16, p))
    assert(ch === 1)
    assert(got.toSeq === p.toSeq)
  }

  // ---- coding-mode triage (round-10) -------------------------------

  test("kind(): baseline encodes classify as baseline, marker rewrites " +
    "classify as their mode, and the fixture stays a parseable frame") {
    val gray = Jpeg.encode(24, 16, blockConstant(24, 16, 1L))
    val color = Jpeg.encodeJfifRgb(8, 8, Array.fill(192)(7.toByte))
    assert(Jpeg.kind(gray) === "baseline")
    assert(Jpeg.kind(color) === "baseline")
    assert(Jpeg.kind(Jpeg.withSofMarker(gray, 0xc2)) === "progressive")
    for (sof <- Seq(0xc9, 0xca, 0xcb, 0xcd, 0xce, 0xcf))
      assert(Jpeg.kind(Jpeg.withSofMarker(gray, sof)) === "arithmetic", s"sof=$sof")
    for (sof <- Seq(0xc1, 0xc3, 0xc5, 0xc6, 0xc7))
      assert(Jpeg.kind(Jpeg.withSofMarker(gray, sof)) === "unsupported", s"sof=$sof")
    // the SOF2-marked container still carries a valid frame header:
    // the dimension parser reads it (SOF0/SOF2 share layout B.2.2)
    assert(MediaHeaders.parse(Jpeg.withSofMarker(gray, 0xc2)) ===
      Some(("jpeg", 24, 16)))
  }

  // ---- progressive mode (round-10) ----------------------------------

  test("progressive decode equals BASELINE decode EXACTLY on arbitrary " +
    "grayscale images (same quantized coefficients -> same pixels)") {
    // the decisive cross-check: both pipelines share quantization and
    // IDCT, so a progressive encoder/decoder bug pair can only cancel
    // by reproducing the sequential pipeline's exact output
    val gen = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val p = new Array[Byte](w * h)
      for (y <- 0 until h; x <- 0 until w)
        p(y * w + x) = (((seed * 31 + x * 97L + y * 61L + x * y * 13L) % 256
          + 256) % 256).toByte
      val base = Jpeg.decodeFull(Jpeg.encode(w, h, p))
      val prog = Jpeg.decodeProgressive(Jpeg.encodeProgressive(w, h, p))
      base.nonEmpty && prog.nonEmpty && {
        val Some((bw2, bh2, bc, bp)) = base
        val Some((pw2, ph2, pc, pp)) = prog
        bw2 == pw2 && bh2 == ph2 && bc == pc && bp.toSeq == pp.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("progressive decode equals baseline decode EXACTLY on arbitrary " +
    "3-component images (every scan type: DC SA, split luma bands, " +
    "chroma bands, all refinements)") {
    val gen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val p = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        p(3 * (y * w + x) + c) = (((seed * 31 + x * 97L + y * 61L + c * 139L +
          x * y * 13L) % 256 + 256) % 256).toByte
      val base = Jpeg.decodeFull(Jpeg.encodeColor(w, h, p))
      val prog = Jpeg.decodeProgressive(Jpeg.encodeProgressiveColor(w, h, p))
      base.nonEmpty && prog.nonEmpty && {
        val Some((_, _, _, bp)) = base
        val Some((_, _, _, pp)) = prog
        bp.toSeq == pp.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("progressive: block-constant images round-trip bit-exactly, and " +
    "the container classifies as progressive (a REAL SOF2 stream now)") {
    for ((w, h, id) <- Seq((24, 16, 5L), (17, 13, 9L), (8, 8, 0L), (1, 1, 7L))) {
      val p = blockConstant(w, h, id)
      val enc = Jpeg.encodeProgressive(w, h, p)
      assert(Jpeg.kind(enc) === "progressive")
      assert(MediaHeaders.parse(enc) === Some(("jpeg", w, h)))
      val Some((dw, dh, ch, dp)) = Jpeg.decodeProgressive(enc)
      assert((dw, dh, ch) === (w, h, 1))
      assert(dp.toSeq === p.toSeq, s"${w}x$h id=$id")
    }
  }

  test("progressive JFIF pipeline: decodeToRgb dispatches on kind and " +
    "matches the baseline JFIF pipeline exactly") {
    val (w, h) = (24, 16)
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      rgb(3 * (y * w + x) + c) =
        (((7L * (c + 1) + (x / 8) * 31L + (y / 8) * 17L) % 256 + 256) % 256).toByte
    val Some((_, _, _, viaBase)) = Jpeg.decodeToRgb(Jpeg.encodeJfifRgb(w, h, rgb))
    val Some((_, _, _, viaProg)) = Jpeg.decodeToRgb(Jpeg.encodeProgressiveJfif(w, h, rgb))
    assert(viaBase.toSeq === viaProg.toSeq)
  }

  test("progressive: truncations and byte flips never throw (permissive " +
    "null like every decoder in the family)") {
    // truncations and byte flips: DecoderTotalitySpec's jpeg_stats_ycbcr
    // row (progressive containers decode through decodeToRgb)
    // baseline containers are not this decoder's job
    assert(Jpeg.decodeProgressive(
      Jpeg.encode(8, 8, blockConstant(8, 8, 1L))) === None)
  }

  test("progressive decoder handles LEGAL scripts the default encoder " +
    "never emits: no successive approximation, odd band splits, deep DC " +
    "SA, non-interleaved DC — all must equal baseline exactly") {
    val (w, h) = (20, 14)
    val p = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      p(3 * (y * w + x) + c) =
        (((x * 97L + y * 61L + c * 139L + x * y * 13L) % 256 + 256) % 256).toByte
    val Some((_, _, _, base)) = Jpeg.decodeFull(Jpeg.encodeColor(w, h, p))
    val scripts: Seq[Seq[Jpeg.ProgScan]] = Seq(
      // spectral selection only, no SA (Ah=Al=0 everywhere)
      Seq((Seq(0, 1, 2), 0, 0, 0, 0),
        (Seq(0), 1, 63, 0, 0), (Seq(1), 1, 63, 0, 0), (Seq(2), 1, 63, 0, 0)),
      // odd band splits per component
      Seq((Seq(0, 1, 2), 0, 0, 0, 0),
        (Seq(0), 1, 1, 0, 0), (Seq(0), 2, 9, 0, 0), (Seq(0), 10, 63, 0, 0),
        (Seq(1), 1, 30, 0, 0), (Seq(1), 31, 63, 0, 0),
        (Seq(2), 1, 63, 0, 0)),
      // deep DC successive approximation (3 bits) + AC SA to 0
      Seq((Seq(0, 1, 2), 0, 0, 0, 3),
        (Seq(0, 1, 2), 0, 0, 3, 2), (Seq(0, 1, 2), 0, 0, 2, 1),
        (Seq(0, 1, 2), 0, 0, 1, 0),
        (Seq(0), 1, 63, 0, 1), (Seq(0), 1, 63, 1, 0),
        (Seq(1), 1, 63, 0, 1), (Seq(1), 1, 63, 1, 0),
        (Seq(2), 1, 63, 0, 1), (Seq(2), 1, 63, 1, 0)),
      // NON-interleaved DC scans (one component each), AC after
      Seq((Seq(0), 0, 0, 0, 0), (Seq(1), 0, 0, 0, 0), (Seq(2), 0, 0, 0, 0),
        (Seq(0), 1, 63, 0, 0), (Seq(1), 1, 63, 0, 0), (Seq(2), 1, 63, 0, 0)))
    for ((script, si) <- scripts.zipWithIndex) {
      val enc = Jpeg.encodeProgressiveCore(w, h, 3, p, script)
      assert(Jpeg.kind(enc) === "progressive", s"script $si")
      val Some((_, _, _, got)) = Jpeg.decodeProgressive(enc)
      assert(got.toSeq === base.toSeq, s"script $si")
    }
    // DC-ONLY progressive (AC never sent): legal; on block-constant
    // images (AC exactly zero) it still reconstructs bit-exactly
    val bc = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      bc(3 * (y * w + x) + c) =
        (((7L * (c + 1) + (x / 8) * 31L + (y / 8) * 17L) % 256 + 256) % 256).toByte
    val dcOnly = Jpeg.encodeProgressiveCore(w, h, 3, bc,
      Seq((Seq(0, 1, 2), 0, 0, 0, 1), (Seq(0, 1, 2), 0, 0, 1, 0)))
    val Some((_, _, _, gotBc)) = Jpeg.decodeProgressive(dcOnly)
    assert(gotBc.toSeq === bc.toSeq)
  }

  test("kind(): malformed / not_jpeg triage never throws") {
    val gray = Jpeg.encode(24, 16, blockConstant(24, 16, 2L))
    assert(Jpeg.kind(null) === "not_jpeg")
    assert(Jpeg.kind(Array.empty[Byte]) === "not_jpeg")
    assert(Jpeg.kind("plain text".getBytes("US-ASCII")) === "not_jpeg")
    assert(Jpeg.kind(gray.take(2)) === "malformed") // bare SOI
    assert(Jpeg.kind(gray.take(3)) === "malformed")
    // truncations and byte storms: DecoderTotalitySpec's jpeg_kind row
  }

  // ---- progressive + chroma subsampling (round 11) -------------------

  test("progressive 4:2:0 decode equals BASELINE 4:2:0 decode EXACTLY on " +
    "arbitrary RGB (MCU interleave geometry, padded-grid DC, own-grid AC)") {
    // the decisive cross-check, extended to subsampled layouts: both
    // pipelines share the point-downsample, quantization and IDCT, so
    // the progressive 4:2:0 encoder/decoder pair can only agree by
    // reproducing the sequential 4:2:0 pipeline's exact output —
    // including partial MCUs (w mod 16 in 1..15) where the padded and
    // own block grids genuinely differ
    val gen = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val p = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        p(3 * (y * w + x) + c) = (((seed * 31 + x * 97L + y * 61L + c * 139L +
          x * y * 13L) % 256 + 256) % 256).toByte
      val base = Jpeg.decodeFull(Jpeg.encode420(w, h, p))
      val prog = Jpeg.decodeProgressive(Jpeg.encodeProgressive420(w, h, p))
      base.nonEmpty && prog.nonEmpty && {
        val Some((bw2, bh2, bc, bp)) = base
        val Some((pw2, ph2, pc, pp)) = prog
        bw2 == pw2 && bh2 == ph2 && bc == pc && bp.toSeq == pp.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("progressive 4:2:2 decode equals baseline 4:2:2 decode exactly") {
    val gen = for {
      w <- Gen.choose(1, 36)
      h <- Gen.choose(1, 20)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val p = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        p(3 * (y * w + x) + c) = (((seed * 17 + x * 89L + y * 53L + c * 101L +
          x * y * 7L) % 256 + 256) % 256).toByte
      val base = Jpeg.decodeFull(Jpeg.encode422(w, h, p))
      val prog = Jpeg.decodeProgressive(
        Jpeg.encodeProgressiveSubsampled(w, h, p, 2, 1))
      base.nonEmpty && prog.nonEmpty && base.get._4.toSeq == prog.get._4.toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("progressive 4:2:0 JFIF container classifies progressive and " +
    "region-constant pixels survive the full chain exactly") {
    for ((w, h, id) <- Seq((33, 17, 5L), (48, 24, 9L), (16, 16, 0L), (1, 1, 7L))) {
      val rgb = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val rx = x / 16; val ry = y / 16
        val k = 3 * (y * w + x)
        rgb(k) = (((id * 7 + rx * 31L + ry * 17L) % 256 + 256) % 256).toByte
        rgb(k + 1) = (((id * 11 + rx * 13L + ry * 29L) % 256 + 256) % 256).toByte
        rgb(k + 2) = (((id * 3 + rx * 37L + ry * 23L) % 256 + 256) % 256).toByte
      }
      val enc = Jpeg.encodeProgressive420Jfif(w, h, rgb)
      assert(Jpeg.kind(enc) === "progressive")
      val Some((dw, dh, ch, out)) = Jpeg.decodeToRgb(enc)
      assert((dw, dh, ch) === (w, h, 3))
      // expected: forward + inverse transform of the region constants
      val exp = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val k = 3 * (y * w + x)
        val ycc = Jpeg.forwardYcc(rgb(k) & 0xff, rgb(k + 1) & 0xff, rgb(k + 2) & 0xff)
        val back = Jpeg.inverseYcc(ycc & 0xff, (ycc >> 8) & 0xff, (ycc >> 16) & 0xff)
        exp(k) = (back & 0xff).toByte
        exp(k + 1) = ((back >> 8) & 0xff).toByte
        exp(k + 2) = ((back >> 16) & 0xff).toByte
      }
      assert(out.toSeq === exp.toSeq, s"${w}x$h id=$id")
    }
  }
}
