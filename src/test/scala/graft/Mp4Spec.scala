package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Mp4

/** ISO-BMFF box walk: both mvhd layouts, 64-bit largesize, size==0
  * run-to-end, and truncation fuzz pinning the never-throw contract. */
class Mp4Spec extends AnyFunSuite {

  test("both mvhd versions and the largesize mdat parse") {
    for (id <- 0L until 50L) {
      val m = Mp4.meta(Mp4.synth(id, corrupt = false))
      assert(m.isDefined, s"id=$id")
      val meta = m.get
      assert(meta.majorBrand == "isom")
      assert(meta.timescale == 1000 + id % 9000)
      assert(meta.duration == meta.timescale * (1 + id % 300))
      assert(meta.nTracks == 1 + id % 3)
      assert(meta.mdatBytes == 16 + id % 48)
      assert(Mp4.meta(Mp4.synth(id, corrupt = true)).isEmpty, s"corrupt id=$id")
    }
  }

  test("co64 / ctts / elst per-track fields replay the arithmetic (round-13)") {
    for (id <- 0L until 40L) {
      val ts = Mp4.tracks(Mp4.synth(id, corrupt = false))
      assert(ts.isDefined, s"id=$id")
      for ((t, k) <- ts.get.zipWithIndex) {
        val nc = 1 + (id + k) % 4
        assert(t.nChunks === nc, s"id=$id k=$k")
        if ((id + k) % 2 == 1) {
          assert(t.offsetBits === 64, s"id=$id k=$k")
          assert(t.maxChunkOffset ===
            (1L << 32) * (k + 1) + id % 100000 + (nc - 1) * 1000,
            s"id=$id k=$k")
          assert(t.maxChunkOffset > (1L << 32), "must exercise >4 GiB offsets")
          assert(t.editCount === -1L) // elst only on even (id+k)
        } else {
          assert(t.offsetBits === 32, s"id=$id k=$k")
          assert(t.maxChunkOffset === id % 100000 + (nc - 1) * 1000)
          val ne = 1 + ((id + k) / 2) % 2
          assert(t.editCount === ne, s"id=$id k=$k")
          assert(t.editDurationSum ===
            (0 until ne.toInt).map(j => 500L + j * 100 + id % 50).sum)
        }
        if ((id + k) % 3 != 2) {
          val m = 2 + (id + k) % 3
          assert(t.nCtts === m, s"id=$id k=$k")
          assert(t.cttsSampleSum ===
            (0 until m.toInt).map(j => 3L + (id + k + j) % 5).sum)
        } else assert(t.nCtts === -1L && t.cttsSampleSum === -1L)
      }
    }
  }

  test("size==0 (runs to end) is accepted for the last box") {
    val base = Mp4.synth(7, corrupt = false)
    // append a trailing free box with size 0
    val tail = Array[Byte](0, 0, 0, 0, 'f', 'r', 'e', 'e', 1, 2, 3)
    assert(Mp4.meta(base ++ tail).isDefined)
  }

  test("truncation at every byte never throws; ftyp-less blobs -> null") {
    val full = Mp4.synth(13, corrupt = false)
    // every truncation: DecoderTotalitySpec's mp4_meta row
    for (cut <- Mutations.truncations(full).take(16)) assert(Mp4.meta(cut).isEmpty)
    assert(Mp4.meta(null).isEmpty)
    assert(Mp4.meta("AAAAAAAAAAAAAAAAAAAA".getBytes).isEmpty)
    assert(Mp4.meta(Array.empty[Byte]).isEmpty)
  }
}
