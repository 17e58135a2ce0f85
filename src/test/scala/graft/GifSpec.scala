package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{Gif, MediaHeaders}

/** The pure-JVM GIF89a codec behind `q_gif_decode`: real variable-width
  * LSB-first LZW (GIF spec Appendix F) with CLEAR/EOI codes and
  * encoder/decoder code-width lockstep, 255-byte sub-block framing,
  * color-table expansion and 4-pass interlacing. Lossless, so the
  * contract is exact roundtrip — the property tests push past the
  * 9→10→11→12-bit width boundaries and the 4096-entry CLEAR reset,
  * where a width-timing bug desynchronizes immediately. */
class GifSpec extends AnyFunSuite {

  private def pal(f: Int => (Int, Int, Int)): Array[Byte] = {
    val a = new Array[Byte](768)
    for (i <- 0 until 256) {
      val (r, g, b) = f(i)
      a(3 * i) = (r & 0xff).toByte; a(3 * i + 1) = (g & 0xff).toByte
      a(3 * i + 2) = (b & 0xff).toByte
    }
    a
  }
  private val palette = pal(i => ((i * 7 + 3) % 256, (i * 11 + 5) % 256, (i * 13 + 7) % 256))

  private def idx(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val a = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w) a(y * w + x) = (f(x, y) & 0xff).toByte
    a
  }

  private def expectRgb(ix: Array[Byte]): Seq[Byte] =
    ix.flatMap { b =>
      val i = b & 0xff
      Seq(palette(3 * i), palette(3 * i + 1), palette(3 * i + 2))
    }.toSeq

  test("roundtrip: palette expansion exact on a structured grid") {
    val (w, h) = (23, 17)
    val ix = idx(w, h)((x, y) => x * 31 + y * 17)
    val Some((dw, dh, px)) = Gif.decode(Gif.encode(w, h, ix, palette))
    assert((dw, dh) === (w, h))
    assert(px.toSeq === expectRgb(ix))
  }

  test("roundtrip crosses every LZW width boundary and the CLEAR reset") {
    // a high-entropy 128x128 image grows the dictionary through 9, 10,
    // 11 and 12 bits and past 4096 entries (forcing the mid-stream
    // CLEAR); any width-lockstep bug desynchronizes the stream here
    val (w, h) = (128, 128)
    val ix = idx(w, h)((x, y) => x * 97 + y * 61 + x * y * 13 + (x ^ y))
    val Some((dw, dh, px)) = Gif.decode(Gif.encode(w, h, ix, palette))
    assert((dw, dh) === (w, h))
    assert(px.toSeq === expectRgb(ix))
  }

  test("roundtrip: runs of one index exercise the KwKwK decode case") {
    // long constant runs make the encoder emit a code the decoder has
    // not yet registered (code == nextCode) on every run extension
    val (w, h) = (64, 8)
    val ix = idx(w, h)((x, _) => if (x < 48) 7 else x)
    val Some((_, _, px)) = Gif.decode(Gif.encode(w, h, ix, palette))
    assert(px.toSeq === expectRgb(ix))
  }

  test("interlaced roundtrip: 4-pass row order restored exactly") {
    for ((w, h) <- Seq((16, 13), (9, 4), (5, 1), (1, 9))) {
      val ix = idx(w, h)((x, y) => x * 31 + y * 17)
      val Some((dw, dh, px)) = Gif.decode(Gif.encode(w, h, ix, palette, interlaced = true))
      assert((dw, dh) === (w, h), s"dims for ${w}x$h")
      assert(px.toSeq === expectRgb(ix), s"pixels for ${w}x$h")
    }
  }

  test("interlaced and plain containers decode identically (property)") {
    val gen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      seed <- Gen.choose(0, 100000)
    } yield (w, h, seed)
    val prop = Prop.forAll(gen) { case (w, h, seed) =>
      val ix = idx(w, h)((x, y) => seed + x * 31 + y * 17)
      val a = Gif.decode(Gif.encode(w, h, ix, palette))
      val b = Gif.decode(Gif.encode(w, h, ix, palette, interlaced = true))
      a.isDefined && b.isDefined &&
        a.get._3.toSeq == b.get._3.toSeq && a.get._3.toSeq == expectRgb(ix)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("extensions are skipped; image after a graphic-control block decodes") {
    val enc = Gif.encode(6, 5, idx(6, 5)((x, y) => x + y), palette)
    // splice a graphic-control extension (0x21 0xF9, 4-byte block,
    // terminator) between the GCT and the image descriptor
    val gce = Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0)
    val at = 13 + 768 // header + LSD + GCT
    val spliced = enc.take(at) ++ gce ++ enc.drop(at)
    val Some((dw, dh, _)) = Gif.decode(spliced)
    assert((dw, dh) === (6, 5))
  }

  test("permissive None on malformed input, never a throw") {
    val enc = Gif.encode(8, 8, idx(8, 8)((x, y) => x * y), palette)
    val cases = Seq[Array[Byte]](
      null,
      Array.emptyByteArray,
      Array.fill(20)(0x47.toByte),          // "GGGG…", not a GIF
      enc.take(6),                          // header only
      enc.take(enc.length / 2),             // truncated mid-LZW
      { val b = enc.clone(); b(4) = '6'.toByte; b }, // GIF86a
      enc.dropRight(2))                     // missing terminator+trailer
    cases.foreach(b => assert(Gif.decode(b) === None))
  }

  test("header parser agrees with the codec's containers") {
    val enc = Gif.encode(33, 21, idx(33, 21)((x, y) => x + y), palette)
    assert(MediaHeaders.parse(enc) === Some(("gif", 33, 21)))
  }
}
