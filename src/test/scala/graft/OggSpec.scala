package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BlobKind, Ogg}

/** RFC 3533 page walk: synth replay, strict tiling, codec magic
  * dispatch, fuzz. */
class OggSpec extends AnyFunSuite {

  test("synth streams replay the arithmetic (1- and 2-stream files)") {
    for (id <- 0L to 19L) {
      val m = Ogg.meta(Ogg.synth(id, corrupt = false))
      assert(m.isDefined, s"id=$id")
      val nS = (1 + id % 2).toInt
      val pages = (0 until nS).map(s => (2 + (id + s) % 3).toInt)
      assert(m.get.nPages === pages.sum, s"id=$id")
      assert(m.get.nStreams === nS && m.get.nBos === nS && m.get.nEos === nS)
      val wantPayload = (0 until nS).flatMap(s =>
        (0 until pages(s)).map(j => 40L + (id + s * 7 + j * 3) % 200)).sum
      assert(m.get.payloadBytes === wantPayload, s"id=$id")
      val wantGranule = (0 until nS).flatMap(s =>
        (0 until pages(s)).map(j => (id % 97) * 100 + s * 10 + j)).max
      assert(m.get.maxGranule === wantGranule, s"id=$id")
      assert(m.get.codec === (if (id % 2 == 0) "opus" else "vorbis"))
      assert(Ogg.meta(Ogg.synth(id, corrupt = true)).isEmpty, s"id=$id")
      assert(BlobKind.kind(Ogg.synth(id, corrupt = false)) === "ogg")
    }
  }

  test("strict tiling and reserved-bit gates") {
    val blob = Ogg.synth(4L, corrupt = false)
    // truncation: a prefix ending exactly on a page boundary is a
    // legal shorter stream; anything else fails
    val full = Ogg.meta(blob).get
    for (cut <- Mutations.truncations(blob)) {
      val r = Ogg.meta(cut)
      assert(r.isEmpty || r.get.nPages < full.nPages, s"at ${cut.length}")
    }
    assert(Ogg.meta(blob ++ Array[Byte](1, 2)).isEmpty) // trailing garbage
    assert(Ogg.meta(null).isEmpty)
    assert(Ogg.meta(Array.empty[Byte]).isEmpty)
    val ver = blob.clone(); ver(4) = 1 // stream structure version != 0
    assert(Ogg.meta(ver).isEmpty)
    val flags = blob.clone(); flags(5) = 0x12 // reserved header-type bit
    assert(Ogg.meta(flags).isEmpty)
  }

  test("distinct-serial bound: 64 streams triage, a 65th returns None") {
    // hand-rolled minimal pages: 27-byte header, zero segments, BOS set,
    // valid RFC 3533 CRC (round-13: meta() verifies it)
    def page(serial: Long): Array[Byte] = {
      val b = new Array[Byte](27)
      b(0) = 'O'; b(1) = 'g'; b(2) = 'g'; b(3) = 'S'
      b(5) = 0x02 // BOS
      var k = 0
      while (k < 4) { b(14 + k) = ((serial >> (8 * k)) & 0xff).toByte; k += 1 }
      b(26) = 0 // zero lacing segments
      val crc = Ogg.pageCrc(b, 0, 27, 22)
      k = 0
      while (k < 4) { b(22 + k) = ((crc >> (8 * k)) & 0xff).toByte; k += 1 }
      b
    }
    def blobOf(n: Int): Array[Byte] =
      (0 until n).toArray.flatMap(i => page(5000L + i))
    val ok = Ogg.meta(blobOf(64))
    assert(ok.isDefined && ok.get.nStreams === 64 && ok.get.nPages === 64)
    // the silent-saturation bug: 65+ streams must NOT report 64
    assert(Ogg.meta(blobOf(65)).isEmpty)
    assert(Ogg.meta(blobOf(80)).isEmpty)
  }

  test("CRC verification routes byte-flipped-after-CRC pages to null") {
    for (id <- 0L to 9L) {
      // structurally perfect, CRC-invalid: only real verification catches
      assert(Ogg.meta(Ogg.synthCrcBroken(id)).isEmpty, s"id=$id")
      // and the honest twin passes with codec id fields populated
      val m = Ogg.meta(Ogg.synth(id, corrupt = false)).get
      if (id % 2 == 0) {
        assert(m.codec === "opus")
        assert(m.channels === (1 + id % 2).toInt)
        assert(m.sampleRate === 48000L)
        assert(m.preSkip === (300 + id % 100).toInt)
      } else {
        assert(m.codec === "vorbis")
        assert(m.channels === (1 + id % 2).toInt)
        assert(m.sampleRate === 8000L * (1 + id % 5))
        assert(m.preSkip === -1)
      }
    }
    // a wrong declared CRC (zeroed field) is likewise rejected
    val blob = Ogg.synth(3L, corrupt = false)
    val z = blob.clone(); z(22) = 0; z(23) = 0; z(24) = 0; z(25) = 0
    assert(Ogg.meta(z).isEmpty)
  }

  test("bit-flip fuzz: null or sane, never a throw") {
    for (id <- Seq(1L, 6L, 13L); blob <- Mutations.bitFlips(Ogg.synth(id, corrupt = false), 500, 31337L + id))
      Ogg.meta(blob).foreach(m => assert(m.nPages >= 1 && m.nStreams >= 1))
  }
}
