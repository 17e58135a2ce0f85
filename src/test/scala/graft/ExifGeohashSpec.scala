package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.{Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Exif, Geohash, Jpeg}

/** EXIF APP1 extraction and geohash encoding. */
class ExifGeohashSpec extends AnyFunSuite {

  // --------------------------------------------------------------- exif

  private def gray(w: Int, h: Int, seed: Long): Array[Byte] = {
    val px = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      px(y * w + x) = (((seed * 31 + x * 7L + y * 13L) % 256 + 256) % 256).toByte
    Jpeg.encode(w, h, px)
  }

  test("exif: splice -> extract round-trips all fields, both byte orders") {
    for (id <- Seq(0L, 1L, 25L, 4950L)) { // even = II, odd = MM
      val jpeg = gray(16, 8, id)
      val Some(m) = Exif.extract(Exif.withExif(jpeg, id, 16, 8))
      assert(m.orientation === (1 + id % 8).toInt)
      assert(m.make === s"Cam${id % 5}")
      assert(m.dateTime === f"2026:01:${1 + id % 28}%02d 12:00:00")
      assert(m.pxWidth === 16L && m.pxHeight === 8L)
    }
  }

  test("exif: the spliced APP1 does not disturb pixel decode") {
    val jpeg = gray(16, 8, 3L)
    val withApp1 = Exif.withExif(jpeg, 3L, 16, 8)
    val base = Jpeg.decode(jpeg)
    val spliced = Jpeg.decode(withApp1)
    assert(base.isDefined && spliced.isDefined)
    assert(base.get._3.toSeq === spliced.get._3.toSeq)
  }

  test("exif: a JPEG without APP1, truncated APP1, and non-JPEG bytes " +
    "all extract as None; fuzz never throws") {
    assert(Exif.extract(gray(8, 8, 1L)).isEmpty)
    assert(Exif.extract("not a jpeg".getBytes).isEmpty)
    // fuzz: DecoderTotalitySpec's exif_meta row
  }

  // ------------------------------------------------------------ geohash

  test("geohash: canonical test vectors") {
    // the classic example: 57.64911, 10.40744 -> u4pruydqqvj
    assert(Geohash.encode(57649110L, 10407440L, 11) === "u4pruydqqvj")
    assert(Geohash.encode(0L, 0L, 8).startsWith("s000"))
    assert(Geohash.encode(90000000L, 180000000L, 8) === "zzzzzzzz")
    assert(Geohash.encode(-90000000L, -180000000L, 8) === "00000000")
    // ezs42 is the RFC-circulated example for 42.605, -5.603
    assert(Geohash.encode(42605000L, -5603000L, 5) === "ezs42")
  }

  test("geohash: shorter precisions are prefixes of longer ones (property)") {
    val gen = for {
      lat <- Gen.choose(-90000000L, 90000000L)
      lon <- Gen.choose(-180000000L, 180000000L)
      p <- Gen.choose(1, 11)
    } yield (lat, lon, p)
    val prop = Prop.forAll(gen) { case (lat, lon, p) =>
      val longer = Geohash.encode(lat, lon, p + 1)
      longer != null && longer.startsWith(Geohash.encode(lat, lon, p))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("geohash: out-of-range coordinates and precisions are null") {
    assert(Geohash.encode(90000001L, 0L, 8) === null)
    assert(Geohash.encode(0L, -180000001L, 8) === null)
    assert(Geohash.encode(0L, 0L, 0) === null)
    assert(Geohash.encode(0L, 0L, 13) === null)
  }
}
