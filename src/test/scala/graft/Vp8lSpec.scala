package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Vp8l
import graft.functions.Vp8l.EncOpts

/** VP8L (WebP lossless) codec: exact round-trip across every encoder
  * feature (all 14 predictors, color transform, subtract-green,
  * palette bundling at 2/4/8 px per byte, color cache + LZ77, normal
  * and simple prefix codes), the published distance-map spot values,
  * container interop with the Webp triage, and mutation fuzz. There is
  * no JVM-side reference WebP codec to interop against (ImageIO has
  * none), so round-trip + the independently-synthesized pixel oracle
  * in q_webp_lossless are the anchors — the same stance as QOI. */
class Vp8lSpec extends AnyFunSuite {

  private def rng(seed: Long): () => Int = {
    var s = seed
    () => {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33).toInt
    }
  }

  private def randImage(w: Int, h: Int, seed: Long, alpha: Boolean,
      colors: Int = 0): Array[Int] = {
    val r = rng(seed)
    val pal = if (colors > 0) Array.fill(colors)(r()) else null
    Array.fill(w * h) {
      val v = if (pal != null) pal(math.floorMod(r(), colors)) else r()
      if (alpha) v else v | 0xff000000
    }
  }

  private def roundTrip(px: Array[Int], w: Int, h: Int, o: EncOpts): Unit = {
    val blob = Vp8l.encode(px, w, h, o)
    val back = Vp8l.decode(blob)
    assert(back.isDefined, s"decode failed for $o at ${w}x$h")
    assert(back.get.width == w && back.get.height == h)
    val got = back.get.argb
    var i = 0
    while (i < px.length) {
      assert(got(i) == px(i),
        f"pixel $i (${i % w},${i / w}): got 0x${got(i)}%08x want 0x${px(i)}%08x opts=$o")
      i += 1
    }
  }

  test("plain literal images round-trip (incl. full-alpha variation)") {
    for ((w, h) <- Seq((1, 1), (3, 2), (16, 16), (37, 23), (64, 1), (1, 64)))
      roundTrip(randImage(w, h, w * 131L + h, alpha = true), w, h, EncOpts())
  }

  test("subtract-green round-trips") {
    for ((w, h) <- Seq((8, 8), (33, 17)))
      roundTrip(randImage(w, h, 7L * w + h, alpha = false), w, h,
        EncOpts(subtractGreen = true))
  }

  test("ALL 14 predictor modes round-trip exactly") {
    for (mode <- 0 to 13) {
      roundTrip(randImage(29, 19, 1000L + mode, alpha = true), 29, 19,
        EncOpts(predictorMode = mode))
      roundTrip(randImage(8, 8, 2000L + mode, alpha = false), 8, 8,
        EncOpts(subtractGreen = true, predictorMode = mode))
    }
  }

  test("predictor edge geometry: 1-wide, 1-tall, tile-boundary widths") {
    for (mode <- Seq(3, 5, 9, 11, 12, 13); (w, h) <- Seq((1, 9), (9, 1), (8, 8), (9, 9), (17, 3)))
      roundTrip(randImage(w, h, mode * 31L + w * 7 + h, alpha = true), w, h,
        EncOpts(predictorMode = mode))
  }

  test("color transform round-trips (incl. negative int8 multipliers)") {
    for (ct <- Seq((0, 0, 0), (17, 33, 200), (255, 128, 1), (91, 200, 255)))
      roundTrip(randImage(21, 13, ct._1 * 7L + ct._2, alpha = false), 21, 13,
        EncOpts(colorTransform = Some(ct)))
    roundTrip(randImage(16, 16, 5L, alpha = false), 16, 16,
      EncOpts(subtractGreen = true, colorTransform = Some((200, 100, 50))))
  }

  test("color cache + LZ77 runs round-trip") {
    // runs of identical pixels + few distinct colors -> cache hits AND
    // backward references in one stream
    val w = 40; val h = 30
    val r = rng(99L)
    val px = new Array[Int](w * h)
    var i = 0
    while (i < px.length) {
      val run = 1 + math.floorMod(r(), 9)
      val v = 0xff000000 | (math.floorMod(r(), 7) * 0x201030)
      var k = 0
      while (k < run && i < px.length) { px(i) = v; i += 1; k += 1 }
    }
    for (bits <- Seq(1, 4, 6, 11)) {
      roundTrip(px, w, h, EncOpts(cacheBits = bits, lz77 = true))
      roundTrip(px, w, h, EncOpts(cacheBits = bits, lz77 = false))
    }
    roundTrip(px, w, h, EncOpts(cacheBits = 0, lz77 = true))
  }

  test("palette mode round-trips at every bundling width (8/4/2/1 px per byte)") {
    for (colors <- Seq(2, 3, 4, 9, 16, 17, 100, 256)) {
      val w = 41; val h = 11 // odd width exercises partial last packed byte
      roundTrip(randImage(w, h, colors * 13L, alpha = true, colors = colors),
        w, h, EncOpts(palette = true))
    }
  }

  test("the generated distance map matches the published plane-code table") {
    // spot values from the spec's 120-entry table via the decode rule
    // dist = dy*xsize + dx; probe with xsize=100 so (dx, dy) is legible
    def d(code: Int) = {
      val m = classOf[Vp8l.type].getDeclaredMethod("planeToDist",
        classOf[Int], classOf[Int])
      m.setAccessible(true)
      m.invoke(Vp8l, Integer.valueOf(code), Integer.valueOf(100))
        .asInstanceOf[Int]
    }
    assert(d(1) === 100) // (0,1)
    assert(d(2) === 1) // (1,0)
    assert(d(3) === 101) // (1,1)
    assert(d(4) === 99) // (-1,1)
    assert(d(5) === 200) // (0,2)
    assert(d(6) === 2) // (2,0)
    assert(d(7) === 201) // (1,2)
    assert(d(8) === 199) // (-1,2)
    assert(d(9) === 102) // (2,1)
    assert(d(10) === 98) // (-2,1)
    assert(d(96) === 494) // (-6,5), the last of the d2=61 tie group
    assert(d(97) === 8) // (8,0) — table index 96 is 0x00
    assert(d(119) === 608) // (8,6)
    assert(d(120) === 708) // (8,7) — last entry
    assert(d(121) === 1) // beyond the map: dist = code - 120
    assert(d(130) === 10)
    // the clamp: (dx,dy)=(1,0) at any xsize stays >= 1
    val m2 = classOf[Vp8l.type].getDeclaredMethod("planeToDist",
      classOf[Int], classOf[Int])
    m2.setAccessible(true)
    assert(m2.invoke(Vp8l, Integer.valueOf(4), Integer.valueOf(1))
      .asInstanceOf[Int] >= 1) // (-1,1) at xsize=1 -> 0 -> clamped to 1
  }

  test("HAND-ASSEMBLED stream: normal code with 17/18 zero runs + a " +
    "2D-mapped LZ77 distance (decoder-only paths the encoder never emits)") {
    // 4x2 image. Green tree via the NORMAL code-length path: symbols
    // {100 (literal), 257 (length code 1 -> copy length 2)} at 1 bit
    // each, declared with 18-repeats of zeros. Distance tree is a
    // single-symbol {0}: prefix value 1 -> plane code 1 -> DistMap[0]
    // = (0,1) -> dist = xsize: row 2 copies row 1 through the 2D map
    // (our encoder only ever emits codes > 120).
    val bw = new graft.functions.BitWriter
    def bits(s: String): Unit = s.foreach(c => bw.add(if (c == '1') 1L else 0L, 1))
    def simpleSingle(sym: Int): Unit = {
      bw.add(1L, 1); bw.add(0L, 1) // simple, one symbol
      if (sym < 2) { bw.add(0L, 1); bw.add(sym.toLong, 1) }
      else { bw.add(1L, 1); bw.add(sym.toLong, 8) }
    }
    bits("0") // no transforms
    bits("0") // no color cache
    bits("0") // no meta prefix
    // --- green tree, normal form
    bits("0") // not simple
    bw.add(0L, 4) // num_code_lengths = 4 (covers ClOrder 17,18,0,1)
    bw.add(0L, 3) // len(17) = 0
    bw.add(1L, 3) // len(18) = 1
    bw.add(0L, 3) // len(0) = 0
    bw.add(1L, 3) // len(1) = 1
    // canonical cl tree: sym1 -> 0, sym18 -> 1 (ascending symbol order)
    bits("0") // no max-symbol cut
    // lengths: 100 zeros, 1, 138+18 zeros, 1, 22 zeros  (total 280)
    bits("1"); bw.add(89L, 7) // 18: 11+89 = 100 zeros
    bits("0") // symbol 100 -> length 1
    bits("1"); bw.add(127L, 7) // 18: 138 zeros
    bits("1"); bw.add(7L, 7) // 18: 18 zeros  (-> at symbol 257)
    bits("0") // symbol 257 -> length 1
    bits("1"); bw.add(11L, 7) // 18: 22 zeros -> 280 total
    // --- red {7}, blue {9}, alpha {255}, distance {0}
    simpleSingle(7); simpleSingle(9); simpleSingle(255); simpleSingle(0)
    // --- pixels: green canonical: 100 -> code 0, 257 -> code 1
    bits("0000") // row 1: four literals (r/b/a are zero-bit)
    bits("1") // copy: length sym 257 -> prefixVal(1) = 2; dist sym 0 bits
    bits("1") // second copy of 2
    bw.alignForward()
    val stream = bw.toArray
    // wrap as RIFF/WEBP VP8L 4x2
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    out.write("RIFF".getBytes, 0, 4); w32(4 + 8 + 5 + stream.length + ((5 + stream.length) & 1))
    out.write("WEBP".getBytes, 0, 4); out.write("VP8L".getBytes, 0, 4)
    w32(5L + stream.length)
    out.write(0x2f)
    w32(3L | (1L << 14)) // (w-1)=3, (h-1)=1
    out.write(stream, 0, stream.length)
    if (((5 + stream.length) & 1) == 1) out.write(0)
    val img = Vp8l.decode(out.toByteArray)
    assert(img.isDefined, "hand-assembled stream did not decode")
    assert(img.get.width == 4 && img.get.height == 2)
    val want = 0xff000000 | (7 << 16) | (100 << 8) | 9
    assert(img.get.argb.forall(_ == want),
      img.get.argb.map(v => f"0x$v%08x").mkString(","))
  }

  test("HAND-ASSEMBLED stream: meta-prefix entropy image with two " +
    "huffman groups (the encoder never writes one)") {
    // 8x1 image, metaBits=2 -> entropy image 2x1: tile 0 -> group 0,
    // tile 1 -> group 1. All main trees are single-symbol (zero bits
    // per pixel), so the pixel values come ENTIRELY from which group
    // the tile lookup selects.
    val bw = new graft.functions.BitWriter
    def bits(s: String): Unit = s.foreach(c => bw.add(if (c == '1') 1L else 0L, 1))
    def simpleSingle(sym: Int): Unit = {
      bw.add(1L, 1); bw.add(0L, 1)
      if (sym < 2) { bw.add(0L, 1); bw.add(sym.toLong, 1) }
      else { bw.add(1L, 1); bw.add(sym.toLong, 8) }
    }
    def simplePair(s0: Int, s1: Int): Unit = {
      bw.add(1L, 1); bw.add(1L, 1)
      if (s0 < 2) { bw.add(0L, 1); bw.add(s0.toLong, 1) }
      else { bw.add(1L, 1); bw.add(s0.toLong, 8) }
      bw.add(s1.toLong, 8)
    }
    bits("0"); bits("0") // no transforms, no cache
    bits("1") // meta prefix present
    bw.add(0L, 3) // metaBits = 2
    // ---- entropy image stream (2x1, level != 0): cache bit + 5 trees
    bits("0") // no cache
    simplePair(0, 1) // green: {0, 1} -> group index = green
    simpleSingle(0) // red
    simpleSingle(0) // blue
    simpleSingle(255) // alpha
    simpleSingle(0) // distance
    bits("0"); bits("1") // entropy pixels: tile0 -> 0, tile1 -> 1
    // ---- group 0 trees: literal (a=255, r=1, g=65, b=2)
    simpleSingle(65); simpleSingle(1); simpleSingle(2); simpleSingle(255)
    simpleSingle(0)
    // ---- group 1 trees: literal (a=255, r=3, g=66, b=4)
    simpleSingle(66); simpleSingle(3); simpleSingle(4); simpleSingle(255)
    simpleSingle(0)
    // ---- main pixels: 8 x zero bits
    bw.alignForward()
    val stream = bw.toArray
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    out.write("RIFF".getBytes, 0, 4); w32(4 + 8 + 5 + stream.length + ((5 + stream.length) & 1))
    out.write("WEBP".getBytes, 0, 4); out.write("VP8L".getBytes, 0, 4)
    w32(5L + stream.length)
    out.write(0x2f)
    w32(7L | (0L << 14)) // (w-1)=7, (h-1)=0
    out.write(stream, 0, stream.length)
    if (((5 + stream.length) & 1) == 1) out.write(0)
    val img = Vp8l.decode(out.toByteArray)
    assert(img.isDefined, "meta-prefix stream did not decode")
    val a = 0xff000000 | (1 << 16) | (65 << 8) | 2
    val b = 0xff000000 | (3 << 16) | (66 << 8) | 4
    assert(img.get.argb.toSeq == Seq(a, a, a, a, b, b, b, b),
      img.get.argb.map(v => f"0x$v%08x").mkString(","))
  }

  test("synth modes 0..5 decode back to the synthPixels arithmetic") {
    for (mode <- 0 to 5; id <- Seq(0L, 23L, 46L, 391L)) {
      val w = 20 + (id % 13).toInt
      val h = 12 + (id % 7).toInt
      val want = Vp8l.synthPixels(id, w, h, mode)
      val img = Vp8l.decode(Vp8l.synth(id, w, h, mode, corrupt = false))
      assert(img.isDefined, s"mode=$mode id=$id")
      assert(img.get.argb.sameElements(want), s"mode=$mode id=$id")
      assert(Vp8l.decode(Vp8l.synth(id, w, h, mode, corrupt = true)).isEmpty)
    }
  }

  test("container interop: encoded files triage as lossless in Webp.meta") {
    val blob = Vp8l.encode(randImage(24, 18, 3L, alpha = true), 24, 18, EncOpts())
    val m = graft.functions.Webp.meta(blob)
    assert(m.exists(x => x.kind == "lossless" && x.width == 24 && x.height == 18))
    assert(graft.functions.BlobKind.kind(blob) == "webp" ||
      graft.functions.BlobKind.kind(blob) == "riff")
  }

  test("truncation at every byte never throws and never mis-decodes") {
    val px = randImage(19, 13, 77L, alpha = true)
    val blob = Vp8l.encode(px, 19, 13,
      EncOpts(subtractGreen = true, predictorMode = 7))
    for (cut <- Mutations.truncations(blob)) {
      val r = Vp8l.decode(cut)
      assert(r.isEmpty || !r.get.argb.sameElements(px))
    }
    assert(Vp8l.decode(null).isEmpty)
    assert(Vp8l.decode(Array.empty[Byte]).isEmpty)
  }

  test("bit-flip fuzz: PERMISSIVE — every mutation is null or a valid image") {
    val px = randImage(17, 11, 5150L, alpha = false)
    for (mode <- 0 to 5) {
      val blob = Vp8l.encode(px, 17, 11, Vp8l.optsFor(3L, mode))
      // a rejection is fine; an admitted image must be sane, not garbage state
      for (mut <- Mutations.bitFlips(blob, 400, mode * 7919L)) Vp8l.decode(mut).foreach { img =>
        assert(img.width >= 1 && img.height >= 1)
        assert(img.argb.length == img.width * img.height)
      }
    }
  }

  test("admission: oversized declared dims are rejected from the header") {
    // forge a 16384x16384 (256 Mpx) header with no real payload behind it
    val tiny = Vp8l.encode(Array.fill(4)(0xff000000), 2, 2, EncOpts())
    // VP8L payload starts at byte 20 (RIFF 12 + "VP8L" 4 + size 4)
    val forged = tiny.clone()
    val hdr = 0x3fffL | (0x3fffL << 14)
    forged(21) = (hdr & 0xff).toByte
    forged(22) = ((hdr >> 8) & 0xff).toByte
    forged(23) = ((hdr >> 16) & 0xff).toByte
    forged(24) = ((hdr >> 24) & 0xff).toByte
    assert(Vp8l.decode(forged).isEmpty)
  }
}
