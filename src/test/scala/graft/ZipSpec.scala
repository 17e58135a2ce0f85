package graft

import graft.functions.Zip

/** The ZIP container walk (round-10): central-directory-driven
  * framing, CRC-verified extraction, per-entry failure isolation, and
  * permissiveness under byte-flip/truncation fuzz. */
class ZipSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("synth -> centralDirectory -> extract: every entry's name and " +
    "text come back exactly (data-descriptor layout included)") {
    val b = Zip.synth(11L, 5, corruptFirst = false)
    val Some(entries) = Zip.centralDirectory(b)
    assert(entries.length === 5)
    for ((en, i) <- entries.zipWithIndex) {
      assert(en.name === s"doc-11-$i.txt")
      assert(en.method === 8, "ZipOutputStream deflates by default")
      assert((en.flags & 0x8) != 0,
        "fixture must use data descriptors or the CD walk is untested")
      val Some(payload) = Zip.extract(b, en)
      assert(new String(payload, "UTF-8") === Zip.entryText(11L, i))
      assert(payload.length.toLong === en.usize)
    }
  }

  test("a corrupt entry nulls ALONE; the central directory keeps the " +
    "rest extractable (contrast: WARC's terminal member loss)") {
    val b = Zip.synth(3L, 4, corruptFirst = true)
    val Some(entries) = Zip.centralDirectory(b)
    assert(entries.length === 4)
    assert(Zip.extract(b, entries(0)) === None, "flipped bytes must fail CRC")
    for (i <- 1 to 3)
      assert(Zip.extract(b, entries(i)).exists(p =>
        new String(p, "UTF-8") == Zip.entryText(3L, i)), s"entry $i")
  }

  test("EOCD is found past a trailing archive comment") {
    val base = Zip.synth(7L, 2, corruptFirst = false)
    val comment = "trailing archive comment bytes".getBytes("US-ASCII")
    val b = base.clone()
    // patch the comment length field of the EOCD, then append
    b(b.length - 2) = (comment.length & 0xff).toByte
    b(b.length - 1) = ((comment.length >> 8) & 0xff).toByte
    val withComment = b ++ comment
    val Some(entries) = Zip.centralDirectory(withComment)
    assert(entries.length === 2)
    assert(Zip.extract(withComment, entries(1)).isDefined)
  }

  test("encrypted and unknown-method entries classify as unsupported " +
    "(null), not a crash") {
    val b = Zip.synth(9L, 2, corruptFirst = false)
    val Some(entries) = Zip.centralDirectory(b)
    assert(Zip.extract(b, entries(0).copy(flags = entries(0).flags | 1)) === None)
    assert(Zip.extract(b, entries(0).copy(method = 12)) === None)
    assert(Zip.extract(b, entries(0).copy(usize = 0xffffffffL)) === None)
    // a csize that OVERSTATES the deflate stream is a framing lie too:
    // the stream ends early, leaving unconsumed declared bytes
    assert(Zip.extract(b, entries(0).copy(csize = entries(0).csize + 4)) === None)
  }

  test("fuzz: flips and truncations never throw; container damage is a " +
    "single terminal row, entry damage is per-entry") {
    val b = Zip.synth(5L, 3, corruptFirst = false)
    def rows(x: Array[Byte]): List[Boolean] = {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.BinaryType
      graft.functions.ZipEntries(Literal(x, BinaryType))
        .eval(InternalRow.empty).iterator.map(_.getBoolean(5)).toList
    }
    assert(rows(b) === List(true, true, true))
    assert(rows(Array.empty[Byte]) === Nil)
    assert(rows("not a zip at all".getBytes("US-ASCII")) === List(false))
    // row count stays bounded; truncations: DecoderTotalitySpec's zip_entries row
    for (x <- Mutations.byteStorms(b, 500, 17L)) assert(rows(x).length <= 3 + 1)
  }
}
