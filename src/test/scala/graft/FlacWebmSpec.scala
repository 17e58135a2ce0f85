package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BlobKind, Flac, Webm}

/** FLAC STREAMINFO + WebM/EBML triage: synth replay and structural
  * gates (round-13 — completes the A/V container family). Fuzz:
  * DecoderTotalitySpec's flac_meta and webm_meta rows. */
class FlacWebmSpec extends AnyFunSuite {

  test("flac synth replays the arithmetic") {
    for (id <- 0L to 24L) {
      val m = Flac.meta(Flac.synth(id, corrupt = false))
      assert(m.isDefined, s"id=$id")
      val g = m.get
      assert(g.sampleRate === 8000L * (1 + id % 6))
      assert(g.channels === (1 + id % 2).toInt)
      assert(g.bitsPerSample === Seq(16, 24, 8)((id % 3).toInt))
      assert(g.totalSamples === 10000L + id % 1000000)
      assert(g.minBlock === 1024 && g.maxBlock === 4096)
      assert(g.nVorbisComment === 1)
      assert(g.nSeektable === (if (id % 3 == 0) 1 else 0))
      assert(g.nPadding === 1)
      assert(g.hasFrames)
      assert(g.md5Hex.length === 32)
      assert(Flac.meta(Flac.synth(id, corrupt = true)).isEmpty, s"id=$id corrupt")
      assert(BlobKind.kind(Flac.synth(id, corrupt = false)) === "flac")
    }
  }

  test("flac structural gates: STREAMINFO must be first and unique") {
    val ok = Flac.synth(7L, corrupt = false)
    // magic broken
    val bad = ok.clone(); bad(0) = 'X'
    assert(Flac.meta(bad).isEmpty)
    // block-0 type changed away from STREAMINFO
    val t = ok.clone(); t(4) = (t(4) | 0x03).toByte
    assert(Flac.meta(t).isEmpty)
    assert(Flac.meta(null).isEmpty)
    assert(Flac.meta(Array.empty[Byte]).isEmpty)
  }

  test("webm synth replays the arithmetic") {
    for (id <- 0L to 24L) {
      val m = Webm.meta(Webm.synth(id, corrupt = false))
      assert(m.isDefined, s"id=$id")
      val g = m.get
      assert(g.docType === "webm")
      assert(g.docTypeVersion === 2 + id % 3)
      assert(g.timestampScale === 1000000L * (1 + id % 3))
      assert(g.nTracks === (1 + id % 2).toInt)
      assert(g.nVideo === 1)
      assert(g.nAudio === (id % 2).toInt)
      assert(g.codecs === (if (id % 2 == 0) "V_VP8" else "A_VORBIS,V_VP9"))
      assert(g.nClusters === (1 + id % 4).toInt)
      assert(Webm.meta(Webm.synth(id, corrupt = true)).isEmpty, s"id=$id corrupt")
      assert(BlobKind.kind(Webm.synth(id, corrupt = false)) === "webm")
    }
  }
}
