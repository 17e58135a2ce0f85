package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.{Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Qoi, Robots, Tiff, Utf8}

/** The ingest-hardening wave: QOI and baseline-TIFF codecs (lossless —
  * round trips must be EXACT), the WHATWG UTF-8 decoder with
  * maximal-subpart substitution, and RFC 9309 robots.txt evaluation. */
class PipelineKernelsSpec extends AnyFunSuite {

  // ---------------------------------------------------------------- QOI

  private def qoiPixels(w: Int, h: Int, channels: Int, seed: Long): Array[Byte] = {
    val px = new Array[Byte](channels * w * h)
    var i = 0
    while (i < px.length) {
      // mix of smooth ramps (DIFF/LUMA), plateaus (RUN) and jumps
      // (RGB/RGBA/INDEX) — plus raw pseudo-noise at odd seeds
      px(i) =
        if (seed % 2 == 0) (((seed * 31 + i * 7L + (i / 16) * 5L) % 256 + 256) % 256).toByte
        else (((seed * 2654435761L + i * 40503L) >>> 11) % 256).toByte
      i += 1
    }
    px
  }

  test("qoi: arbitrary pixels round-trip EXACTLY, channels 3 and 4 (property)") {
    val gen = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      channels <- Gen.oneOf(3, 4)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, channels, seed)
    val prop = Prop.forAll(gen) { case (w, h, channels, seed) =>
      val px = qoiPixels(w, h, channels, seed)
      Qoi.decode(Qoi.encode(w, h, channels, px)).exists {
        case (dw, dh, dc, dp) =>
          dw == w && dh == h && dc == channels && dp.toSeq == px.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(120), prop)
    assert(res.passed, res.status.toString)
  }

  test("qoi: constant image collapses to runs (size must be tiny) and " +
    "still round-trips") {
    val px = Array.fill[Byte](3 * 64 * 32)(17)
    val blob = Qoi.encode(64, 32, 3, px)
    // 2048 px -> 34 run chunks (62 each) + first-pixel chunk; header 14 + marker 8
    assert(blob.length < 70, s"constant image should be ~run-only, got ${blob.length}")
    assert(Qoi.decode(blob).exists(_._4.toSeq == px.toSeq))
  }

  test("qoi: an initial run of the implicit (0,0,0,255) start pixel decodes " +
    "(reference-decoder parity: the run chunk seeds the index slot)") {
    // hand-built stream: RUN(3) then INDEX(hash(0,0,0,255)) — qoi.c
    // decodes the 4th pixel as (0,0,0,255) via the run-seeded slot
    val slot = (0 * 3 + 0 * 5 + 0 * 7 + 255 * 11) & 63
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('q', 'o', 'i', 'f'), 0, 4)
    out.write(Array[Byte](0, 0, 0, 2, 0, 0, 0, 2, 3, 0), 0, 10) // 2x2, 3ch
    out.write(0xc0 | (3 - 1)) // RUN 3
    out.write(slot)           // INDEX -> must be (0,0,0,255)
    for (_ <- 0 until 7) out.write(0)
    out.write(1)
    val Some((w, h, c, px)) = Qoi.decode(out.toByteArray)
    assert((w, h, c) === (2, 2, 3))
    assert(px.toSeq === Seq.fill(4)(Seq[Byte](0, 0, 0)).flatten)
  }

  test("qoi fuzz: byte flips and all truncations never throw; damage is " +
    "detected (null) or decodes to the right pixel count") {
    val base = Qoi.encode(9, 7, 4, qoiPixels(9, 7, 4, 5L))
    for (b <- Mutations.truncations(base) ++ Mutations.bitFlips(base, 4 * base.length, 55L))
      assert(Qoi.decode(b).forall(_._4.length == 4 * 9 * 7))
  }

  test("qoi: trailing garbage between pixels and end marker is rejected") {
    val good = Qoi.encode(2, 2, 3, Array.fill[Byte](12)(9))
    // splice a spare RUN chunk before the marker: pixel overrun -> None
    val evil = good.dropRight(8) ++ Array[Byte](0xc0.toByte) ++ good.takeRight(8)
    assert(Qoi.decode(evil).isEmpty)
  }

  // --------------------------------------------------------------- TIFF

  private def tiffPixels(w: Int, h: Int, channels: Int, seed: Long): Array[Byte] = {
    val px = new Array[Byte](channels * w * h)
    var i = 0
    while (i < px.length) {
      px(i) = (((seed * 131 + i * 29L) % 256 + 256) % 256).toByte
      i += 1
    }
    px
  }

  test("tiff: round-trips EXACTLY over gray/rgb × LE/BE × strip heights " +
    "(property)") {
    val gen = for {
      w <- Gen.choose(1, 30)
      h <- Gen.choose(1, 30)
      channels <- Gen.oneOf(1, 3)
      be <- Gen.oneOf(true, false)
      rps <- Gen.choose(1, 31)
      seed <- Gen.choose(0L, 1000000L)
    } yield (w, h, channels, be, rps, seed)
    val prop = Prop.forAll(gen) { case (w, h, channels, be, rps, seed) =>
      val px = tiffPixels(w, h, channels, seed)
      Tiff.decode(Tiff.encode(w, h, channels, be, rps, px)).exists {
        case (dw, dh, dc, dp) =>
          dw == w && dh == h && dc == channels && dp.toSeq == px.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(120), prop)
    assert(res.passed, res.status.toString)
  }

  test("tiff: big-endian inline SHORT values are left-justified — a " +
    "BE container decodes to the same pixels as its LE twin") {
    val px = tiffPixels(11, 5, 3, 77L)
    val le = Tiff.decode(Tiff.encode(11, 5, 3, bigEndian = false, 4, px))
    val be = Tiff.decode(Tiff.encode(11, 5, 3, bigEndian = true, 4, px))
    assert(le.isDefined && be.isDefined)
    assert(le.get._4.toSeq === be.get._4.toSeq)
  }

  test("tiff: out-of-scope layouts route as None, not exceptions " +
    "(LZW compression, 16-bit samples, palette photometric)") {
    val good = Tiff.encode(6, 4, 1, bigEndian = false, 4, tiffPixels(6, 4, 1, 3L))
    // compression tag (259) lives in entry 3 of the gray IFD; flip its
    // inline value to 5 (LZW) by rewriting through a decode-reject probe:
    // find the IFD and patch the matching entry
    def patchTag(b: Array[Byte], tag: Int, newVal: Int): Array[Byte] = {
      val out = b.clone()
      val ifd = (b(4) & 0xff) | ((b(5) & 0xff) << 8) | ((b(6) & 0xff) << 16) | ((b(7) & 0xff) << 24)
      val n = (b(ifd) & 0xff) | ((b(ifd + 1) & 0xff) << 8)
      for (i <- 0 until n) {
        val e = ifd + 2 + 12 * i
        val t = (b(e) & 0xff) | ((b(e + 1) & 0xff) << 8)
        if (t == tag) { out(e + 8) = (newVal & 0xff).toByte; out(e + 9) = ((newVal >> 8) & 0xff).toByte }
      }
      out
    }
    assert(Tiff.decode(patchTag(good, 259, 5)).isEmpty)   // LZW
    assert(Tiff.decode(patchTag(good, 258, 16)).isEmpty)  // 16-bit
    assert(Tiff.decode(patchTag(good, 262, 3)).isEmpty)   // palette
  }

  // -------------------------------------------------------------- UTF-8

  private def stats(bytes: Array[Byte]) = Utf8.scan(bytes, build = true)

  test("utf8: clean multibyte text is valid with exact class counts") {
    val s = "abc é€😀 é"
    val (valid, nChars, repl, a, b2, b3, b4, out) = stats(s.getBytes("UTF-8"))
    assert(valid && repl == 0)
    assert(out === s)
    assert(b2 === 2L) // é twice
    assert(b3 === 1L) // €
    assert(b4 === 1L) // 😀
    assert(a === 5L)  // a b c and two spaces
    assert(nChars === 9L)
  }

  test("utf8: the Unicode §3.9 maximal-subpart counts — FF=1, C0 AF=2, " +
    "ED A0 80=3, truncated F0 9F 98=1, lone continuation=1") {
    def replOf(bs: Int*): Long = stats(bs.map(_.toByte).toArray)._3
    assert(replOf(0xff) === 1L)
    assert(replOf(0xc0, 0xaf) === 2L)
    assert(replOf(0xed, 0xa0, 0x80) === 3L)
    assert(replOf(0xf0, 0x9f, 0x98) === 1L)
    assert(replOf(0x80) === 1L)
    // F4 90 80 80 (above U+10FFFF): F4 leads but 90 > 0x8F -> subpart F4
    // is one replacement, then 90/80/80 are three stray continuations
    assert(replOf(0xf4, 0x90, 0x80, 0x80) === 4L)
  }

  test("utf8: the offending byte after an invalid prefix restarts as a " +
    "lead — E9 does not swallow a following valid sequence") {
    // E1 (3-byte lead) followed by 'é' (C3 A9): C3 is not a valid
    // continuation -> one U+FFFD for the E1 subpart, then é decodes
    val bytes = Array(0xe1.toByte, 0xc3.toByte, 0xa9.toByte)
    val (_, nChars, repl, _, b2, _, _, out) = stats(bytes)
    assert(repl === 1L && b2 === 1L && nChars === 2L)
    assert(out === "�é")
  }

  test("utf8: sanitize is total and idempotent on its own output (property)") {
    val gen = Gen.listOf(Gen.choose(0, 255)).map(_.map(_.toByte).toArray)
    val prop = Prop.forAll(gen) { bytes =>
      val (_, nChars, _, _, _, _, _, out) = stats(bytes)
      val again = stats(out.getBytes("UTF-8"))
      // re-scanning the sanitized text finds it valid with equal chars
      again._1 && again._2 == nChars && again._8 == out
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("utf8: surrogate code points are never emitted (WHATWG range checks)") {
    // every 3-byte sequence ED A0..BF xx would be a surrogate; sample them
    for (b2 <- 0xa0 to 0xbf; b3 <- Seq(0x80, 0xbf)) {
      val (_, _, repl, _, _, n3, _, _) =
        stats(Array(0xed.toByte, b2.toByte, b3.toByte))
      assert(n3 === 0L, f"ED $b2%02x $b3%02x decoded as a 3-byte char")
      assert(repl >= 1L)
    }
  }

  // ------------------------------------------------------------- robots

  private val robotsTxt =
    """# example per RFC 9309
      |User-Agent: graftbot
      |Disallow: /private
      |Allow: /private/pub
      |Allow: /index*l$
      |Disallow: /tmp1
      |
      |User-agent: *
      |Disallow: /
      |""".stripMargin

  test("robots: longest-match precedence, Allow ties, byte-prefix semantics") {
    def d(path: String) = Robots.decide(robotsTxt, "GraftBot", path)
    assert(d("/private/x") === ((false, "/private")))
    assert(d("/private/pub/x") === ((true, "/private/pub"))) // longer Allow wins
    assert(d("/private") === ((false, "/private")))          // exact prefix
    assert(d("/privateX") === ((false, "/private")))         // bytes, not segments
    assert(d("/public") === ((true, "")))                    // no rule matched
    assert(d("/index.html") === ((true, "/index*l$")))       // wildcard + anchor
    assert(d("/index.htm") === ((true, "")))                 // anchor really anchors
    assert(d("/tmp1/x") === ((false, "/tmp1")))
    assert(d("/tmp2/x") === ((true, "")))
  }

  test("robots: group selection — specific group shadows *, absent falls back") {
    // GraftBot has a specific group: '*'s Disallow / must NOT apply
    assert(Robots.decide(robotsTxt, "graftbot", "/anything")._1 === true)
    // another agent falls to '*': everything blocked
    assert(Robots.decide(robotsTxt, "otherbot", "/anything") === ((false, "/")))
    // RFC 9309 ABNF: user-agent lines separated only by blank lines
    // MERGE into one group — the '*' rules then DO bind graftbot
    val merged = "User-agent: graftbot\n\nUser-agent: *\nDisallow: /\n"
    assert(Robots.decide(merged, "graftbot", "/x") === ((false, "/")))
    // a specific group that exists but has NO rules (only possible at
    // EOF per the ABNF) allows everything — it still shadows '*'
    val emptyGroup = "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\n"
    assert(Robots.decide(emptyGroup, "graftbot", "/x") === ((true, "")))
  }

  test("robots: pattern matcher — *, $, empty and degenerate patterns") {
    assert(Robots.matches("/a*b", "/aXXb"))
    assert(Robots.matches("/a*b", "/ab"))
    assert(!Robots.matches("/a*b", "/aXX"))
    assert(Robots.matches("/a*b$", "/aXXb"))
    assert(!Robots.matches("/a*b$", "/aXXbc"))
    assert(Robots.matches("/a*", "/a"))
    assert(Robots.matches("/a*$", "/aanything"))
    assert(Robots.matches("/fish*.php$", "/fishheads/catfish.php"))
    assert(!Robots.matches("/fish*.php$", "/fish.php?id=2"))
    assert(!Robots.matches("", "/x"))        // empty pattern matches nothing
    assert(Robots.matches("/*.gif$", "/a/b/pic.gif"))
    assert(!Robots.matches("$", "/x"))
  }

  test("robots: comments, case-insensitive keys, unknown keys, null file") {
    val messy = "USER-AGENT: graftbot # trailing\nSitemap: http://x/s.xml\n" +
      "DISALLOW: /a # comment\ncrawl-delay: 10\nallow: /a/b\n"
    assert(Robots.decide(messy, "GRAFTBOT", "/a/z") === ((false, "/a")))
    assert(Robots.decide(messy, "GRAFTBOT", "/a/b/z") === ((true, "/a/b")))
    assert(Robots.decide(null, "graftbot", "/x") === ((true, "")))
  }
}
