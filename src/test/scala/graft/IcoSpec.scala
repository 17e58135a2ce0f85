package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Ico

/** ICO directory walk: PNG/DIB dispatch, the doubled-height DIB trap,
  * per-entry failure isolation, and fuzz permissiveness. */
class IcoSpec extends AnyFunSuite {

  test("synth -> decode: every entry readable, dims grow, kinds alternate") {
    for (n <- 2 to 4; id <- Seq(0L, 25L, 4975L)) {
      val Some(entries) = Ico.decode(Ico.synth(id, n))
      assert(entries.length === n)
      assert(entries.forall(_.kind != "unreadable"))
      assert(entries.map(_.kind) === (0 until n).map(e => if (e % 2 == 0) "png" else "dib"))
      assert(entries.map(e => e.width.toLong * e.height).sliding(2)
        .forall(p => p.length < 2 || p(0) < p(1)))
    }
  }

  test("png and dib entries of the SAME pixels decode identically " +
    "(the BGR/bottom-up/doubled-height DIB handling is value-equal)") {
    val w = 9; val h = 5
    val px = Array.tabulate[Byte](3 * w * h)(i => ((i * 37 + 11) % 256).toByte)
    val ico = Ico.container(Seq(
      (w, h, graft.functions.Png.encodeRgb(w, h, px)),
      (w, h, Ico.encodeDib(w, h, px))))
    val Some(entries) = Ico.decode(ico)
    assert(entries(0).kind === "png")
    assert(entries(1).kind === "dib")
    assert(entries(0).px.toSeq === px.toSeq)
    assert(entries(1).px.toSeq === px.toSeq)
  }

  test("a DIB whose height field is NOT doubled is unreadable — and " +
    "does not poison sibling entries (per-entry isolation)") {
    val w = 4; val h = 3
    val px = Array.fill[Byte](3 * w * h)(5)
    val dib = Ico.encodeDib(w, h, px)
    // corrupt: overwrite biHeight (offset 8) with the visible height
    val badDib = dib.clone()
    badDib(8) = h.toByte // odd -> rejected by the (h2 & 1) check
    val ico = Ico.container(Seq(
      (w, h, badDib),
      (w, h, graft.functions.Png.encodeRgb(w, h, px))))
    val Some(entries) = Ico.decode(ico)
    assert(entries(0).kind === "unreadable")
    assert(entries(1).kind === "png")
    assert(entries(1).px.toSeq === px.toSeq)
  }

  test("container-level malformations are None; fuzz never throws") {
    // type 2 is a CURSOR (.cur) container — out of scope, rejected
    assert(Ico.decode(Array[Byte](0, 0, 2, 0, 1, 0)).isEmpty)
    val good = Ico.synth(7L, 3)
    assert(Ico.decode(good.take(5)).isEmpty)
    // entry frame out of bounds
    val cut = good.take(good.length - 4)
    assert(Ico.decode(cut).isEmpty)
    // fuzz: DecoderTotalitySpec's ico_stats row
  }
}
