package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bmp, Tar}

/** The round-10 USTAR walk and 24-bit BMP codec: round trips, the
  * layout traps (bottom-up rows, BGR order, row padding; checksum
  * verification, octal framing), and fuzz permissiveness. */
class TarBmpSpec extends AnyFunSuite {

  private def tarRows(b: Array[Byte]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    graft.functions.TarEntries(Literal(b, BinaryType))
      .eval(InternalRow.empty).iterator.toList
  }

  test("tar synth -> walk: directory + every file with exact text, " +
    "checksums verified") {
    val rows = tarRows(Tar.synth(4L, 3, corrupt = false))
    assert(rows.length === 4)
    assert(rows.head.getString(1) === "data-4/")
    assert(rows.head.getString(2) === "dir")
    assert(rows.head.isNullAt(4) && rows.head.getBoolean(5))
    for (i <- 0 until 3) {
      val r = rows(i + 1)
      assert(r.getString(1) === s"data-4/part-$i.txt")
      assert(r.getString(2) === "file")
      val text = Tar.entryText(4L, i)
      assert(r.getLong(3) === text.getBytes("UTF-8").length.toLong)
      assert(new String(r.getBinary(4), "UTF-8") === text)
      assert(r.getBoolean(5))
    }
  }

  test("tar: a damaged header checksum is TERMINAL — entries before it " +
    "survive, one null row after, nothing invented") {
    val rows = tarRows(Tar.synth(8L, 4, corrupt = true))
    assert(rows.length === 5) // dir + 3 good files + terminal null
    assert(rows.take(4).forall(_.getBoolean(5)))
    val bad = rows.last
    assert(!bad.getBoolean(5))
    assert(bad.isNullAt(1) && bad.isNullAt(3) && bad.isNullAt(4))
  }

  test("tar fuzz: flips and truncations never throw; a malformed row is " +
    "always terminal") {
    val base = Tar.synth(2L, 2, corrupt = false)
    for (b <- Mutations.byteStorms(base, 400, 23L) ++ Mutations.truncations(base) ++
        Iterator("not a tar".getBytes("US-ASCII"))) {
      val rows = tarRows(b)
      val bads = rows.zipWithIndex.filter(!_._1.getBoolean(5))
      assert(bads.size <= 1)
      bads.foreach { case (_, i) => assert(i === rows.length - 1) }
    }
  }

  test("bmp round-trips exactly across odd widths (padding) and both " +
    "row orders") {
    for ((w, h) <- Seq((1, 1), (15, 12), (16, 9), (17, 3), (3, 17))) {
      val rgb = Array.tabulate(3 * w * h)(k => ((k * 41 + 5) % 256).toByte)
      val enc = Bmp.encode(w, h, rgb)
      val Some((dw, dh, got)) = Bmp.decode(enc)
      assert((dw, dh) === (w, h))
      assert(got.toSeq === rgb.toSeq, s"${w}x$h")
      // flip to top-down (negative height) and re-decode: same pixels
      val td = enc.clone()
      val neg = -h
      td(22) = (neg & 0xff).toByte; td(23) = ((neg >> 8) & 0xff).toByte
      td(24) = ((neg >> 16) & 0xff).toByte; td(25) = ((neg >> 24) & 0xff).toByte
      // rows must be reordered for the same visual: decoding the
      // UNCHANGED data top-down mirrors vertically
      val Some((_, _, flipped)) = Bmp.decode(td)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert(flipped(3 * (y * w + x) + c) ===
          rgb(3 * ((h - 1 - y) * w + x) + c))
    }
  }

  test("bmp: BGR order is real — raw bytes at the pixel array differ " +
    "from RGB unless R==B") {
    val rgb = Array[Byte](10, 20, 30) // one pixel
    val enc = Bmp.encode(1, 1, rgb)
    assert(enc(54) === 30 && enc(55) === 20 && enc(56) === 10)
  }

  test("bmp permissive None: truncations, flips, wrong depth/compression") {
    val enc = Bmp.encode(9, 7, Array.tabulate(189)(k => (k % 256).toByte))
    // truncations and flips: DecoderTotalitySpec's bmp_stats_rgb row
    val depth8 = enc.clone(); depth8(28) = 8
    assert(Bmp.decode(depth8) === None)
    val rle = enc.clone(); rle(30) = 1 // BI_RLE8
    assert(Bmp.decode(rle) === None)
    assert(Bmp.decode(null) === None)
  }
}
