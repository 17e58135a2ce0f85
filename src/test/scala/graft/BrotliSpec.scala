package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BlobKind, Brotli}

/** RFC 7932 structural layer: store-mode round trip, WBITS codes,
  * metadata-block skip, compressed-block routing, hint-gated dispatch. */
class BrotliSpec extends AnyFunSuite {

  private def bytes(n: Int, seed: Long): Array[Byte] = {
    var s = seed
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33).toByte
    }
  }

  test("store-mode wrap/unwrap round-trips, incl. multi-block > 64 KiB") {
    for (n <- Seq(0, 1, 100, 65536, 65537, 200000)) {
      val src = bytes(n, n + 7L)
      val stream = Brotli.wrap(src)
      val back = Brotli.unwrap(stream)
      assert(back.exists(_.sameElements(src)), s"n=$n")
      val m = Brotli.meta(stream)
      assert(m.kind == "br_store" && m.wbits == 16 && m.windowSize == 65520)
      assert(m.storeBytes == n)
      assert(m.nStoreBlocks == (n + 65535) / 65536)
    }
  }

  test("WBITS variable-length codes parse") {
    // craft streams with just WBITS + ISLAST + ISLASTEMPTY
    def stream(bits: Seq[Int]): Array[Byte] = {
      val bw = new graft.functions.BitWriter
      bits.foreach(b => bw.add(b.toLong, 1))
      bw.add(1L, 1); bw.add(1L, 1) // ISLAST + ISLASTEMPTY
      bw.alignForward()
      bw.toArray
    }
    assert(Brotli.meta(stream(Seq(0))).wbits == 16)
    // '1' + 3 bits n=1 (LSB first: 1,0,0) -> 18
    assert(Brotli.meta(stream(Seq(1, 1, 0, 0))).wbits == 18)
    // '1' + n=0 + m=0 -> 17
    assert(Brotli.meta(stream(Seq(1, 0, 0, 0, 0, 0, 0))).wbits == 17)
    // '1' + n=0 + m=1 -> invalid
    assert(Brotli.meta(stream(Seq(1, 0, 0, 0, 1, 0, 0))).kind == "malformed")
    // '1' + n=0 + m=2 (0,1,0) -> 10
    assert(Brotli.meta(stream(Seq(1, 0, 0, 0, 0, 1, 0))).wbits == 10)
  }

  test("metadata blocks are skipped; compressed meta-blocks route to 'br'") {
    val bw = new graft.functions.BitWriter
    bw.add(0L, 1) // WBITS 16
    // metadata block: ISLAST=0, MNIBBLES=3 (0b11), reserved=0,
    // MSKIPBYTES=1, len byte = 4 (-> skip 5 bytes)
    bw.add(0L, 1); bw.add(3L, 2); bw.add(0L, 1); bw.add(1L, 2)
    bw.add(4L, 8)
    bw.alignForward()
    (1 to 5).foreach(i => bw.add(i.toLong, 8)) // skipped payload
    // then a store block "ab"
    bw.add(0L, 1); bw.add(0L, 2); bw.add(1L, 16); bw.add(1L, 1)
    bw.alignForward()
    bw.add('a'.toLong, 8); bw.add('b'.toLong, 8)
    bw.add(1L, 1); bw.add(1L, 1) // last, empty
    bw.alignForward()
    val s = bw.toArray
    assert(Brotli.unwrap(s).exists(_.sameElements("ab".getBytes)))
    assert(Brotli.meta(s).nStoreBlocks == 1)

    // MSKIPBYTES=1 with length byte 0x00 is VALID (MSKIPLEN=1): the
    // nonzero-last-byte rule applies only when MSKIPBYTES > 1
    val bw1 = new graft.functions.BitWriter
    bw1.add(0L, 1) // WBITS 16
    bw1.add(0L, 1); bw1.add(3L, 2); bw1.add(0L, 1); bw1.add(1L, 2)
    bw1.add(0L, 8) // len byte 0x00 -> skip exactly 1 byte
    bw1.alignForward()
    bw1.add(0xeeL, 8) // the skipped byte
    bw1.add(0L, 1); bw1.add(0L, 2); bw1.add(0L, 16); bw1.add(1L, 1) // store "x"
    bw1.alignForward()
    bw1.add('x'.toLong, 8)
    bw1.add(1L, 1); bw1.add(1L, 1)
    bw1.alignForward()
    assert(Brotli.unwrap(bw1.toArray).exists(_.sameElements("x".getBytes)))
    // a 2-byte length field whose last byte IS zero stays malformed
    val bw1b = new graft.functions.BitWriter
    bw1b.add(0L, 1)
    bw1b.add(0L, 1); bw1b.add(3L, 2); bw1b.add(0L, 1); bw1b.add(2L, 2)
    bw1b.add(4L, 16) // high byte zero -> reject
    bw1b.alignForward()
    assert(Brotli.meta(bw1b.toArray).kind == "malformed")

    // compressed meta-block: ISLAST=1, ISLASTEMPTY=0, MNIBBLES=0,
    // MLEN-1=9 -> header parses, entropy layer starts -> kind 'br'
    val bw2 = new graft.functions.BitWriter
    bw2.add(0L, 1); bw2.add(1L, 1); bw2.add(0L, 1); bw2.add(0L, 2)
    bw2.add(9L, 16)
    bw2.add(0x5aL, 8); bw2.add(0xa5L, 8) // opaque entropy bits
    bw2.alignForward()
    assert(Brotli.meta(bw2.toArray).kind == "br")
    assert(Brotli.unwrap(bw2.toArray).isEmpty) // decode out of scope
  }

  test("structural size accounting: synth streams replay every field") {
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 5L, 7L, 11L, 23L, 1000L)) {
      val m = Brotli.meta(Brotli.synthStructural(id, corrupt = false))
      val wantKind = if (id % 4 != 3) "br" else "br_store"
      assert(m.kind == wantKind, s"id=$id")
      assert(m.wbits == Array(16, 18, 22, 10, 24)((id % 5).toInt), s"id=$id")
      assert(m.windowSize == (1L << m.wbits) - 16)
      assert(m.nMetaBlocks == 1 + (id % 3).toInt, s"id=$id")
      val wantSkip = (0 until m.nMetaBlocks)
        .map(j => 1 + (id * 7 + j * 11) % 50).sum
      assert(m.skipBytes == wantSkip, s"id=$id")
      assert(m.nStoreBlocks == 1 + (id % 2).toInt)
      val wantStore = (0 until m.nStoreBlocks)
        .map(j => 10 + (id + j * 17) % 30).sum
      assert(m.storeBytes == wantStore, s"id=$id")
      if (id % 4 != 3) {
        val wantMlen = (id % 3) match {
          case 0 => 100L + id % 60000
          case 1 => 65537L + id % 900000
          case _ => 1048577L + id % 9000000
        }
        assert(m.compressedMlen == wantMlen, s"id=$id")
      } else assert(m.compressedMlen == 0L)
      // corrupt variant is deterministically malformed
      assert(Brotli.meta(Brotli.synthStructural(id, corrupt = true))
        .kind == "malformed", s"id=$id")
    }
  }

  test("truncation at every byte never throws and never round-trips") {
    val src = bytes(500, 3L)
    val stream = Brotli.wrap(src)
    for (cut <- Mutations.truncations(stream)) {
      val r = Brotli.unwrap(cut)
      assert(r.isEmpty || !r.get.sameElements(src))
    }
    assert(Brotli.meta(null).kind == "malformed")
    assert(Brotli.meta(Array.empty[Byte]).kind == "malformed")
  }

  test("hinted dispatch: 'br' only with the hint AND a plausible stream") {
    val stream = Brotli.wrap("hello brotli".getBytes)
    assert(BlobKind.kindHinted(stream, "br") == "br")
    assert(BlobKind.kindHinted(stream, "gzip") != "br")
    assert(BlobKind.kindHinted(stream, null) != "br") // no magic, no guess
    // a hinted blob that is structurally NOT brotli falls through:
    // 0x91 = bits 1,0,0,0,1 -> WBITS pattern '1 000' + m=1 -> invalid
    val notBr = Array.fill(8)(0x91.toByte)
    assert(BlobKind.kindHinted(notBr, "br") == "binary")
    // magic families win over content: zstd + mp4 routing
    val z = graft.functions.ZstdCodec.compress("zzz".getBytes)
    assert(BlobKind.kind(z) == "zstd")
    assert(BlobKind.kind(graft.functions.Mp4.synth(5, corrupt = false)) == "mp4")
  }
}
