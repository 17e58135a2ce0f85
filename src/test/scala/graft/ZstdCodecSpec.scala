package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Zstd, ZstdCodec}

/** The zstd codec's contract over libzstd (zstd-jni): frames from
  * every compression level decode, damage is null and never a wrong
  * answer, the window and output caps hold, dictionaries load or
  * refuse, multi-frame and skippable payloads walk, and seekable
  * shards range-read. */
class ZstdCodecSpec extends AnyFunSuite {

  private def lcgBytes(seed: Long, n: Int, alphabet: Int): Array[Byte] = {
    var s = seed
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % alphabet + 'a').toByte
    }
  }

  private def textLike(seed: Long, n: Int): Array[Byte] = {
    val words = Array("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "zstd", "frame", "block", "sequence", "entropy")
    val sb = new StringBuilder
    var s = seed
    while (sb.length < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      sb.append(words(((s >>> 33) % words.length).toInt)).append(' ')
    }
    sb.substring(0, n).getBytes("US-ASCII")
  }

  private def jniDecompress(frame: Array[Byte], expectLen: Int): Array[Byte] =
    com.github.luben.zstd.Zstd.decompress(frame, math.max(expectLen, 1))

  /** Repetitive runs, word salad and binary islands in one input. */
  private val mixed: Array[Byte] = (0 until 40).map { i =>
    if (i % 3 == 0) Array.fill(1000 + i * 13)((i + 'A').toByte)
    else if (i % 3 == 1) textLike(i, 2000)
    else lcgBytes(i, 500, 200)
  }.reduce(_ ++ _)

  private def jniCompress(src: Array[Byte], level: Int, checksum: Boolean): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(src)
    } finally ctx.close()
  }

  private val corpus: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.empty[Byte],
    "one" -> Array('x'.toByte),
    "tiny" -> "abc".getBytes,
    "allsame-small" -> Array.fill(100)('z'.toByte),
    "allsame-big" -> Array.fill(300 * 1024)('q'.toByte),
    "text-1k" -> textLike(1, 1024),
    "text-64k" -> textLike(2, 64 * 1024),
    "text-200k" -> textLike(3, 200 * 1024), // multi-block
    "doubled" -> { val t = textLike(4, 30000); t ++ t },
    "random-ascii" -> lcgBytes(5, 5000, 26),
    "random-binary" -> { // incompressible: raw-block path
      var s = 99L
      Array.fill(4096) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 33).toByte
      }
    },
    "nonascii" -> { // alphabet > 127: literals fall back to raw
      var s = 7L
      Array.fill(2000) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (128 + ((s >>> 33) % 64)).toByte
      }
    },
    "mixed" -> mixed)

  // The two tests below keep the names they had when the encoder had an
  // explicit-tables mode; compress has one mode now, and the tests check
  // its frames against the one-shot reference API and our decoder.
  test("our frames decode with reference zstd (both table modes)") {
    for ((name, src) <- corpus) {
      val frame = ZstdCodec.compress(src)
      assert(Zstd.frameMeta(frame).contentSize.contains(src.length.toLong), name)
      assert(Zstd.frameMeta(frame).checksum, name)
      assert(jniDecompress(frame, src.length).sameElements(src), name)
      assert(ZstdCodec.decompress(frame).exists(_.sameElements(src)), s"$name self")
    }
  }

  test("large random-structured input with explicit tables round-trips") {
    val frame = ZstdCodec.compress(mixed)
    assert(jniDecompress(frame, mixed.length).sameElements(mixed))
    assert(ZstdCodec.decompress(frame).exists(_.sameElements(mixed)))
  }

  test("compression is real: doubled text shrinks well below raw") {
    val t = textLike(10, 20000)
    val frame = ZstdCodec.compress(t ++ t)
    assert(frame.length < t.length, // < half of raw: the self-match fires
      s"expected < ${t.length}, got ${frame.length}")
  }

  test("reference frames decode with our decoder (levels, checksum)") {
    for ((name, src) <- corpus; level <- Seq(1, 3, 9, 19);
         checksum <- Seq(false, true)) {
      val frame = jniCompress(src, level, checksum)
      val mine = ZstdCodec.decompress(frame)
      assert(mine.exists(_.sameElements(src)),
        s"$name level=$level checksum=$checksum")
    }
  }

  test("multi-frame payloads: frame + skippable + frame concatenate") {
    val a = textLike(20, 4000)
    val b = lcgBytes(21, 1000, 26)
    val skippable = Array[Byte](0x52, 0x2a, 0x4d, 0x18, 4, 0, 0, 0, 1, 2, 3, 4)
    val payload = ZstdCodec.compress(a) ++ skippable ++
      jniCompress(b, 3, true)
    val out = ZstdCodec.decompress(payload)
    assert(out.exists(_.sameElements(a ++ b)))
    // a payload with no content frame -> null; a frame of no bytes is
    // content
    assert(ZstdCodec.decompress(skippable).isEmpty)
    assert(ZstdCodec.decompress(skippable ++ skippable).isEmpty)
    assert(ZstdCodec.decompress(Array.empty[Byte]).isEmpty)
    val none = ZstdCodec.compress(Array.empty[Byte])
    assert(ZstdCodec.decompress(none).exists(_.isEmpty))
    assert(ZstdCodec.decompress(skippable ++ none ++ skippable).exists(_.isEmpty))
  }

  test("truncation at every byte -> null (never a wrong answer)") {
    val src = textLike(30, 3000)
    val frame = ZstdCodec.compress(src)
    for (cut <- Mutations.truncations(frame))
      assert(ZstdCodec.decompress(cut).isEmpty, s"truncated at ${cut.length} decoded to Some")
  }

  test("single-byte corruption -> null or the original (checksum gate)") {
    val src = textLike(31, 2000)
    val frame = ZstdCodec.compress(src)
    for (bad <- Mutations.bitFlips(frame, 8 * frame.length, 41L)) {
      val r = ZstdCodec.decompress(bad)
      assert(r.isEmpty || r.exists(_.sameElements(src)), s"flip in ${bad.toSeq}")
    }
  }

  test("dictionary-flagged frames WITHOUT the dictionary route to null") {
    // hand-build: magic, FHD with dict-id flag 1, window descriptor,
    // 1-byte dict id, then a raw last block
    val f = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte,
      0x01, // FHD: dict-id flag only
      0x00, // window descriptor (1 KiB)
      0x07, // dictionary id = 7
      0x09, 0x00, 0x00, // block header: last=1, raw, size=1
      0x41)
    assert(ZstdCodec.decompress(f).isEmpty)
  }

  test("reserved block type and FHD reserved bit -> null") {
    val okFrame = ZstdCodec.compress("abcdef".getBytes)
    val badFhd = okFrame.clone()
    badFhd(4) = (badFhd(4) | 0x08).toByte // FHD reserved bit
    assert(ZstdCodec.decompress(badFhd).isEmpty)
    // single-segment, 1-byte content size, then a last block of the
    // reserved type 3; the same frame with a raw block decodes
    val frame = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0x20, 0x01)
    assert(ZstdCodec.decompress(frame ++ Array[Byte](0x09, 0, 0, 'A')).exists(_.sameElements("A".getBytes)))
    assert(ZstdCodec.decompress(frame ++ Array[Byte](0x0f, 0, 0, 'A')).isEmpty)
    assert(ZstdCodec.decompress("not zstd at all".getBytes).isEmpty)
    assert(ZstdCodec.decompress(null).isEmpty)
    assert(ZstdCodec.decompress(Array.empty[Byte]).isEmpty)
  }

  test("xxh64 matches the reference checksum end-to-end") {
    // the seek table's member checksum; known xxh64 values (seed 0)
    // from the published test vectors
    import graft.functions.ZstdSeekable
    assert(ZstdSeekable.xxh64(Array.empty[Byte]) == 0xef46db3751d8e999L)
    assert(ZstdSeekable.xxh64("abc".getBytes("US-ASCII")) == 0x44bc2cf5ad770999L)
  }

  test("TRAINED structured dictionaries (reference-built) decode: " +
    "entropy-table seeding, dict window, dict-id checks") {
    // train a real dictionary with the reference implementation over
    // doc-shaped samples, compress small docs against it, decode with
    // OUR dict parser — validating the §5 layout (huf + OF/ML/LL FSE
    // tables + reps + content) against ground truth
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(1 << 20, 16 * 1024)
    for (i <- 0 until 200) trainer.addSample(textLike(i, 800))
    val dict = trainer.trainSamples()
    assert(dict.length > 100)
    for (seed <- 50L until 60L; level <- Seq(1, 3, 19)) {
      val src = textLike(seed, 700)
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      val frame = try { ctx.setLevel(level); ctx.loadDict(dict); ctx.compress(src) }
        finally ctx.close()
      val mine = ZstdCodec.decompressWithDict(frame, dict)
      assert(mine.exists(_.sameElements(src)), s"seed=$seed level=$level")
      // without the dictionary the frame must refuse, not misdecode
      assert(ZstdCodec.decompress(frame).isEmpty, s"no-dict seed=$seed")
      // with a DIFFERENT trained dictionary: id mismatch -> null
      val trainer2 = new com.github.luben.zstd.ZstdDictTrainer(1 << 20, 16 * 1024)
      for (i <- 500 until 700) trainer2.addSample(textLike(i, 800))
      val wrong = trainer2.trainSamples()
      assert(ZstdCodec.decompressWithDict(frame, wrong).isEmpty ||
        !ZstdCodec.decompressWithDict(frame, wrong).get.sameElements(src))
    }
  }

  test("RAW dictionaries round-trip both directions vs reference zstd") {
    val dict = textLike(7, 2000)
    for (seed <- 70L until 78L) {
      val src = textLike(seed, 1500)
      // ours-compress -> reference-decompress with the same raw dict
      val frame = ZstdCodec.compressWithDict(src, dict).get
      val dctx = new com.github.luben.zstd.ZstdDecompressCtx()
      val back = try { dctx.loadDict(dict); dctx.decompress(frame, src.length) }
        finally dctx.close()
      assert(back.sameElements(src), s"jni side seed=$seed")
      // and with our own decoder
      assert(ZstdCodec.decompressWithDict(frame, dict)
        .exists(_.sameElements(src)), s"self seed=$seed")
    }
    // the dict genuinely helps: text whose first half IS the dict
    val half = textLike(99, 400)
    val doc = half ++ textLike(100, 400)
    val withD = ZstdCodec.compressWithDict(doc, half).get
    val withoutD = ZstdCodec.compress(doc)
    assert(withD.length < withoutD.length,
      s"dict should shrink: ${withD.length} vs ${withoutD.length}")
    // garbage structured dict (magic + junk) -> null, never a throw
    val junk = Array[Byte](0x37, 0xa4.toByte, 0x30, 0xec.toByte, 1, 2, 3, 4, 5)
    assert(ZstdCodec.decompressWithDict(withD, junk).isEmpty)
    assert(ZstdCodec.decompressWithDict(withD, null).isEmpty)
    assert(ZstdCodec.compressWithDict(doc, junk).isEmpty)
  }

  test("pure-random blobs never throw and never 'decode' (10k fuzz)") {
    // each blob also comes magic-prefixed, which forces the frame parser deep in
    val magic = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte)
    for (blob <- Mutations.randomBlobs(10000, 42L, magic))
      assert(ZstdCodec.decompress(blob).isEmpty || blob.startsWith(magic))
  }

  test("decompression bombs hit the admission cap, not the heap") {
    // declared content size beyond the 128 MiB cap -> rejected from
    // the header alone
    val big = new java.io.ByteArrayOutputStream()
    big.write(Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte), 0, 4)
    big.write(0x20 | (3 << 6)) // single-segment, 8-byte content size
    var v = 1L << 40
    for (_ <- 0 until 8) { big.write((v & 0xff).toInt); v >>= 8 }
    big.write(Array[Byte](0x09, 0, 0, 0x41), 0, 4) // last raw block "A"
    assert(ZstdCodec.decompress(big.toByteArray).isEmpty)
    // undeclared-size RLE bomb: blocks expand until the cap trips;
    // must return None without exhausting memory
    val bomb = new java.io.ByteArrayOutputStream()
    bomb.write(Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte), 0, 4)
    bomb.write(0x00) // FHD: no content size, window descriptor follows
    bomb.write(0xff) // max window descriptor (clamped by MaxWindow gate)
    assert(ZstdCodec.decompress(bomb.toByteArray).isEmpty) // window too big
    // the window cap is exact: a frame declaring Limits.ZstdWindow
    // (2^27) decodes, one declaring 2^28 does not
    def windowed(descriptor: Int) = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0x00,
      descriptor.toByte, 0x09, 0, 0, 'A')
    assert(graft.functions.Limits.ZstdWindow == 1L << 27)
    assert(ZstdCodec.decompress(windowed(17 << 3)).exists(_.sameElements("A".getBytes)))
    assert(ZstdCodec.decompress(windowed(18 << 3)).isEmpty)
    val bomb2 = new java.io.ByteArrayOutputStream()
    bomb2.write(Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte), 0, 4)
    bomb2.write(0x00)
    bomb2.write(0x70) // ~128 KiB window: admissible
    val rleHeader = (0 << 0) | (1 << 1) | (131071 << 3) // non-last RLE, max size
    for (_ <- 0 until 2000) { // would be ~256 MiB expanded
      bomb2.write(rleHeader & 0xff); bomb2.write((rleHeader >> 8) & 0xff)
      bomb2.write((rleHeader >> 16) & 0xff); bomb2.write('z')
    }
    assert(ZstdCodec.decompress(bomb2.toByteArray).isEmpty)
    // 8-byte content size with bit 63 set would wrap negative; it must
    // fail admission, not bypass the contentSize compares
    val neg = new java.io.ByteArrayOutputStream()
    neg.write(Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte), 0, 4)
    neg.write(0x20 | (3 << 6)) // single-segment, 8-byte content size
    for (i <- 0 until 8) neg.write(if (i == 7) 0x80 else 0x00) // 2^63
    neg.write(Array[Byte](0x01, 0, 0), 0, 3) // last raw block, 0 bytes
    assert(ZstdCodec.decompress(neg.toByteArray).isEmpty)
  }

  test("many-block frames decode in O(frame), not O(blocks x frame)") {
    // one frame = 2000 raw blocks of 4 KiB: with per-block window
    // re-materialization this would cost ~16 GB of memcpy; with the
    // single growable window it is linear and finishes instantly
    val payload = textLike(99, 4096)
    val f = new java.io.ByteArrayOutputStream()
    f.write(Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte), 0, 4)
    f.write(0x00); f.write(0x70) // no FCS, ~128 KiB window
    val n = 2000
    for (i <- 0 until n) {
      val bh = ((if (i == n - 1) 1 else 0) << 0) | (0 << 1) | (4096 << 3)
      f.write(bh & 0xff); f.write((bh >> 8) & 0xff); f.write((bh >> 16) & 0xff)
      f.write(payload, 0, 4096)
    }
    val t0 = System.nanoTime()
    val out = ZstdCodec.decompress(f.toByteArray)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(out.exists(_.length == n * 4096))
    assert(ms < 5000, s"decode took $ms ms — window re-materialization regressed")
  }

  test("seekable shards: member range-reads, table walk, corrupt gates") {
    import graft.functions.ZstdSeekable
    val chunks = (0 until 7).map(i => textLike(i * 3 + 1, 500 + i * 37)).toArray
    val shard = ZstdSeekable.pack(chunks)
    val table = ZstdSeekable.seekTable(shard)
    assert(table.exists(_.length == 7))
    assert(table.get.forall(_.checksum.isDefined))
    for (i <- chunks.indices)
      assert(ZstdSeekable.read(shard, i).exists(_.sameElements(chunks(i))), s"member $i")
    assert(ZstdSeekable.read(shard, 7).isEmpty)
    assert(ZstdSeekable.read(shard, -1).isEmpty)
    // the shard is ALSO a plain multi-frame payload: whole-shard
    // inflate walks members and skips the seek table
    assert(ZstdCodec.decompress(shard)
      .exists(_.sameElements(chunks.reduce(_ ++ _))))
    // footer corruption kills the seek path (whole-shard path unaffected)
    val badFooter = shard.clone()
    badFooter(shard.length - 1) = 0x00
    assert(ZstdSeekable.seekTable(badFooter).isEmpty)
    // a flipped byte inside one member: that member's read -> None
    // (frame checksum/parse or the seek-table checksum catches it),
    // OTHER members still read fine (the point of range reads)
    val m0 = table.get(0)
    val flipped = shard.clone()
    flipped((m0.cOffset + m0.cSize / 2).toInt) =
      (flipped((m0.cOffset + m0.cSize / 2).toInt) ^ 0x55).toByte
    assert(ZstdSeekable.read(flipped, 0).isEmpty ||
      ZstdSeekable.read(flipped, 0).get.sameElements(chunks(0)))
    assert(ZstdSeekable.read(flipped, 3).exists(_.sameElements(chunks(3))))
    // empty shard: zero members is a valid table
    val empty = ZstdSeekable.pack(Array.empty)
    assert(ZstdSeekable.seekTable(empty).exists(_.isEmpty))
  }
}
