package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Mp3

/** MP3 frame-walk triage: synth replay across all version/rate-mode
  * combinations, tag handling, and the strict-tiling gates. */
class Mp3Spec extends AnyFunSuite {

  test("synth streams replay the arithmetic (all 4 version x mode combos)") {
    for (id <- 0L to 23L) {
      val m = Mp3.meta(Mp3.synth(id, corrupt = false))
      assert(m.isDefined, s"id=$id")
      val v1 = id % 2 == 0
      val isCbr = (id / 2) % 2 == 0
      assert(m.get.version === (if (v1) "1" else "2"), s"id=$id")
      val rate = if (v1) Array(44100, 48000, 32000)((id % 3).toInt)
        else Array(22050, 24000, 16000)((id % 3).toInt)
      assert(m.get.sampleRate === rate, s"id=$id")
      val n = (3 + id % 6).toInt
      assert(m.get.nFrames === n, s"id=$id")
      assert(m.get.cbr === isCbr, s"id=$id")
      val brs = if (v1) Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
        160, 192, 224, 256, 320) else Array(0, 8, 16, 24, 32, 40, 48, 56,
        64, 80, 96, 112, 128, 144, 160)
      val wantSum = (0 until n).map { j =>
        val idx = if (isCbr) (1 + id % 14).toInt else (1 + (id + j * 3) % 14).toInt
        brs(idx).toLong
      }.sum
      assert(m.get.kbpsSum === wantSum, s"id=$id")
      val spf = if (v1) 1152 else 576
      assert(m.get.durationMs === n.toLong * spf * 1000 / rate, s"id=$id")
      assert(m.get.id3v2Bytes === (if (id % 3 == 0) (30 + id % 40).toInt else 0))
      assert(m.get.hasId3v1 === (id % 4 == 1), s"id=$id")
      assert(Mp3.meta(Mp3.synth(id, corrupt = true)).isEmpty, s"id=$id")
    }
  }

  test("strict tiling: truncation, trailing garbage, mid-stream switches gate") {
    val blob = Mp3.synth(6L, corrupt = false)
    val full = Mp3.meta(blob).get
    for (cut <- Mutations.truncations(blob)) {
      // a prefix ending EXACTLY on a frame boundary is a legal shorter
      // stream; anything else must fail the strict tiling
      val r = Mp3.meta(cut)
      assert(r.isEmpty || r.get.nFrames < full.nFrames,
        s"truncation at ${cut.length} admitted with full frame count")
    }
    // trailing garbage that is not a 128-byte TAG block
    assert(Mp3.meta(blob ++ Array[Byte](1, 2, 3)).isEmpty)
    assert(Mp3.meta(null).isEmpty)
    assert(Mp3.meta(Array.empty[Byte]).isEmpty)
    // Layer II header rejected (layer bits 2): flip the layer field of
    // the FIRST FRAME header (which sits after the ID3v2 tag here)
    val l2 = blob.clone()
    val hdr = full.id3v2Bytes + 1
    l2(hdr) = ((l2(hdr) & ~0x06) | (2 << 1)).toByte
    assert(Mp3.meta(l2).isEmpty)
    // ID3v2 with a non-syncsafe size byte rejected
    val id3 = Mp3.synth(0L, corrupt = false) // id 0 carries ID3v2
    val bad = id3.clone(); bad(6) = 0x80.toByte
    assert(Mp3.meta(bad).isEmpty)
  }

  test("bit-flip fuzz: null or a sane envelope, never a throw") {
    for (id <- Seq(2L, 5L, 12L); blob <- Mutations.bitFlips(Mp3.synth(id, corrupt = false), 500, 777L + id))
      Mp3.meta(blob).foreach(m => assert(m.nFrames >= 1 && m.sampleRate > 0 && m.kbpsSum > 0))
  }
}
