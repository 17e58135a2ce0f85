package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BlobKind, Webp}

/** RIFF/WEBP triage: all three payload kinds, padding rule, fuzz. */
class WebpSpec extends AnyFunSuite {

  test("all three payload kinds parse with the synthesis contract") {
    for (id <- 0L until 60L) {
      val w = (20 + id % 300).toInt
      val h = (16 + id % 200).toInt
      val m = Webp.meta(Webp.synth(id, w, h, corrupt = false))
      assert(m.isDefined, s"id=$id")
      val meta = m.get
      val mode = (id % 3).toInt
      assert(meta.kind == Seq("lossy", "lossless", "extended")(mode))
      assert(meta.width == w && meta.height == h, s"id=$id")
      assert(meta.hasAlpha == ((mode == 1 && id % 2 == 1) || mode == 2))
      assert(meta.hasAnim == (mode == 2))
      // round-12: extended files carry ANIM + 2-4 ANMF frames
      val nf = (2 + (id / 3) % 3).toInt
      assert(meta.nChunks == (if (mode == 2) 4 + nf else 1), s"id=$id")
      if (mode == 2) {
        assert(meta.nFrames == nf, s"id=$id")
        assert(meta.loopCount == (id % 7).toInt, s"id=$id")
        val wantMs = (0 until nf).map(j => 40L + (id + j * 7) % 200).sum
        assert(meta.animMs == wantMs, s"id=$id")
      } else {
        assert(meta.nFrames == 0 && meta.loopCount == 0 && meta.animMs == 0L)
      }
      assert(Webp.meta(Webp.synth(id, w, h, corrupt = true)).isEmpty)
      assert(BlobKind.kind(Webp.synth(id, w, h, corrupt = false)) == "webp")
    }
  }

  test("truncation at every byte and non-webp RIFFs never throw") {
    // every truncation: DecoderTotalitySpec's webp_meta row
    assert(Webp.meta(null).isEmpty)
    assert(Webp.meta("RIFFxxxxWAVEfmt ".getBytes).isEmpty)
    assert(Webp.meta(Array.empty[Byte]).isEmpty)
    // broken lossy sync and nonzero VP8L version must gate
    val lossy = Webp.synth(0, 32, 24, corrupt = false)
    lossy(23) = 0x00 // sync byte
    assert(Webp.meta(lossy).isEmpty)
    val lossless = Webp.synth(1, 32, 24, corrupt = false)
    lossless(24) = (lossless(24) | 0xe0).toByte // version bits
    assert(Webp.meta(lossless).isEmpty)
  }
}
