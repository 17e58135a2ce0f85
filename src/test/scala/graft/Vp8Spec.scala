package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Vp8

/** VP8 (lossy WebP) key-frame decoder vs the system libwebp: the
  * fixtures were encoded AND decoded by libwebp (tools/
  * gen_vp8_fixtures.py dumps its YUV420 reconstruction), so a
  * bit-exact plane match is a genuine cross-implementation anchor —
  * every stage (bool decoder, trained tables, tokens, dequant,
  * transforms, all intra modes, both loop filters) must be right for
  * even one file to match. */
class Vp8Spec extends AnyFunSuite {

  private val dir = new java.io.File("fixtures/vp8")

  private def fixtures: Seq[java.io.File] =
    dir.listFiles().filter(_.getName.endsWith(".webp")).sortBy(_.getName).toSeq

  test("every libwebp fixture decodes to libwebp's own YUV planes, bit-exact") {
    assert(dir.isDirectory, s"missing fixtures dir: $dir")
    val files = fixtures
    assert(files.size >= 32)
    for (f <- files) {
      val webp = java.nio.file.Files.readAllBytes(f.toPath)
      val yuvPath = new java.io.File(dir, f.getName.stripSuffix(".webp") + ".yuv")
      val expected = java.nio.file.Files.readAllBytes(yuvPath.toPath)
      val got = Vp8.decodeWebp(webp)
      assert(got.isDefined, s"${f.getName}: decode returned None")
      val yuv = got.get
      val w = yuv.width; val h = yuv.height
      val cw = (w + 1) / 2; val ch = (h + 1) / 2
      assert(expected.length === w * h + 2 * cw * ch, s"${f.getName}: size")
      def cmp(plane: Array[Byte], offset: Int, pw: Int, name: String): Unit = {
        var i = 0
        while (i < plane.length) {
          if (plane(i) != expected(offset + i)) {
            fail(s"${f.getName} $name plane first mismatch at idx $i " +
              s"(x=${i % pw}, y=${i / pw}): got ${plane(i) & 0xff} " +
              s"want ${expected(offset + i) & 0xff}")
          }
          i += 1
        }
      }
      cmp(yuv.y, 0, w, "Y")
      cmp(yuv.u, w * h, cw, "U")
      cmp(yuv.v, w * h + cw * ch, cw, "V")
    }
  }

  test("expected.json stats replay (the q_webp_lossy oracle numbers)") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "expected.json").toPath), "UTF-8")
    // minimal JSON walk: objects are flat
    val entries = "\\{[^{}]*\\}".r.findAllIn(txt).toSeq
    assert(entries.size >= 32)
    for (e <- entries) {
      def str(k: String) = ("\"" + k + "\": \"([^\"]+)\"").r
        .findFirstMatchIn(e).orElse(("\"" + k + "\":\"([^\"]+)\"").r
          .findFirstMatchIn(e)).get.group(1)
      def num(k: String) = ("\"" + k + "\":\\s*([-\\d.]+)").r
        .findFirstMatchIn(e).get.group(1)
      val file = str("file")
      val webp = java.nio.file.Files.readAllBytes(new java.io.File(dir, file).toPath)
      val st = Vp8.stats(webp).getOrElse(fail(s"$file: stats None"))
      assert(st.width === num("w").toInt, file)
      assert(st.height === num("h").toInt, file)
      assert(st.ySum === num("y_sum").toLong, s"$file y_sum")
      assert(st.uSum === num("u_sum").toLong, s"$file u_sum")
      assert(st.vSum === num("v_sum").toLong, s"$file v_sum")
      assert(st.yMin === num("y_min").toInt, file)
      assert(st.yMax === num("y_max").toInt, file)
      assert(st.yMd5 === str("y_md5"), s"$file y_md5")
      assert(st.uMd5 === str("u_md5"), s"$file u_md5")
      assert(st.vMd5 === str("v_md5"), s"$file v_md5")
    }
  }

  test("lossy-with-ALPHA fixtures match libwebp truth on all four planes") {
    // fixtures/vp8a: VP8X + ALPH (lossless-compressed alpha, green
    // channel, header-less VP8L stream) + VP8 color. Truth: libwebp's
    // own YUV planes + the A bytes of its RGBA output (alpha is
    // carried unconverted).
    val adir = new java.io.File("fixtures/vp8a")
    val files = adir.listFiles().filter(_.getName.endsWith(".webp")).sortBy(_.getName)
    assert(files.length >= 18)
    for (f <- files) {
      val webp = java.nio.file.Files.readAllBytes(f.toPath)
      val expected = java.nio.file.Files.readAllBytes(
        new java.io.File(adir, f.getName.stripSuffix(".webp") + ".yuva").toPath)
      val yuv = Vp8.decodeWebp(webp).getOrElse(fail(s"${f.getName}: decode None"))
      val w = yuv.width; val h = yuv.height
      val cw = (w + 1) / 2; val ch = (h + 1) / 2
      assert(expected.length === w * h * 2 + 2 * cw * ch, s"${f.getName} size")
      assert(yuv.alpha != null, s"${f.getName}: no alpha decoded")
      assert(java.util.Arrays.equals(yuv.y,
        java.util.Arrays.copyOfRange(expected, 0, w * h)), s"${f.getName} Y")
      assert(java.util.Arrays.equals(yuv.u,
        java.util.Arrays.copyOfRange(expected, w * h, w * h + cw * ch)),
        s"${f.getName} U")
      assert(java.util.Arrays.equals(yuv.v,
        java.util.Arrays.copyOfRange(expected, w * h + cw * ch, w * h + 2 * cw * ch)),
        s"${f.getName} V")
      assert(java.util.Arrays.equals(yuv.alpha,
        java.util.Arrays.copyOfRange(expected, w * h + 2 * cw * ch, expected.length)),
        s"${f.getName} ALPHA")
    }
  }

  test("encoder-subset synth streams match libwebp truth (branches its encoder never emits)") {
    // fixtures/vp8s: Vp8Enc.synth streams (simple filter, lf deltas,
    // multiple token partitions, quant deltas, delta/absolute
    // segmentation, skip MBs, big cat3-6 tokens), each decoded by the
    // SYSTEM libwebp at generation time (tools/gen_vp8_synth_truth.py).
    // Every stream must be accepted AND match bit-exact.
    val sdir = new java.io.File("fixtures/vp8s")
    val streams = sdir.listFiles().filter(_.getName.endsWith(".vp8")).sortBy(_.getName)
    assert(streams.length >= 72)
    for (f <- streams) {
      val truthFile = new java.io.File(sdir, f.getName.stripSuffix(".vp8") + ".yuv")
      assert(truthFile.exists(),
        s"${f.getName}: no libwebp truth — the stream was rejected at generation time")
      val blob = java.nio.file.Files.readAllBytes(f.toPath)
      val expected = java.nio.file.Files.readAllBytes(truthFile.toPath)
      val yuv = Vp8.decode(blob).getOrElse(fail(s"${f.getName}: decode None"))
      val w = yuv.width; val h = yuv.height
      val cw = (w + 1) / 2; val ch = (h + 1) / 2
      assert(expected.length === w * h + 2 * cw * ch, s"${f.getName} size")
      assert(java.util.Arrays.equals(yuv.y,
        java.util.Arrays.copyOfRange(expected, 0, w * h)), s"${f.getName} Y")
      assert(java.util.Arrays.equals(yuv.u,
        java.util.Arrays.copyOfRange(expected, w * h, w * h + cw * ch)), s"${f.getName} U")
      assert(java.util.Arrays.equals(yuv.v,
        java.util.Arrays.copyOfRange(expected, w * h + cw * ch, expected.length)),
        s"${f.getName} V")
    }
  }

  test("synth corrupt lane (mode+8) truncates mid-stream and decodes to None") {
    for (m <- 0 until 6; id <- Seq(1L, 5L)) {
      val blob = graft.functions.Vp8Enc.synth(id, 48, 32, m + 8)
      assert(Vp8.decode(blob).isEmpty, s"m=$m id=$id should reject truncation")
      // and the untruncated twin decodes
      assert(Vp8.decode(graft.functions.Vp8Enc.synth(id, 48, 32, m)).isDefined)
    }
  }

  test("encode/decode round-trip is deterministic and never throws (off-fixture ids)") {
    for (id <- 100L to 115L) {
      val m = (id % 6).toInt
      val blob = graft.functions.Vp8Enc.synth(id, 64, 32, m)
      val a = Vp8.decode(blob)
      val b = Vp8.decode(blob)
      assert(a.isDefined, s"id=$id")
      assert(java.util.Arrays.equals(a.get.y, b.get.y))
      assert(a.get.width === 64 && a.get.height === 32)
    }
  }

  test("animation frames decode to libwebp's per-frame truth") {
    // fixtures/vp8anim: mixed VP8 / VP8+raw-ALPH / VP8L frames; truth
    // from tools/gen_vp8_anim_truth.py (libwebp decodes every rewrapped
    // ANMF payload independently)
    val adir = new java.io.File("fixtures/vp8anim")
    val txt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(adir, "expected.json").toPath), "UTF-8")
    val entries = "\\{[^{}]*\\}".r.findAllIn(txt).toSeq
    assert(entries.size >= 36)
    val byFile = entries.groupBy(e =>
      "\"file\": \"([^\"]+)\"".r.findFirstMatchIn(e).get.group(1))
    for ((file, rows) <- byFile) {
      val blob = java.nio.file.Files.readAllBytes(new java.io.File(adir, file).toPath)
      val frames = graft.functions.WebpAnim.frames(blob)
        .getOrElse(fail(s"$file: frames None"))
      assert(frames.size === rows.size, file)
      for (e <- rows) {
        def num(k: String) = ("\"" + k + "\":\\s*(-?[\\d]+)").r
          .findFirstMatchIn(e).get.group(1).toLong
        def str(k: String) = ("\"" + k + "\":\\s*\"([^\"]+)\"").r
          .findFirstMatchIn(e).get.group(1)
        def bool(k: String) = ("\"" + k + "\":\\s*(true|false)").r
          .findFirstMatchIn(e).get.group(1).toBoolean
        val fr = frames(num("idx").toInt)
        assert(fr.w === num("w").toInt && fr.h === num("h").toInt, s"$file/${fr.idx}")
        assert(fr.x === num("x").toInt && fr.y === num("y").toInt, s"$file/${fr.idx}")
        assert(fr.durationMs === num("duration_ms").toInt, s"$file/${fr.idx}")
        assert(fr.blend === bool("blend") && fr.dispose === bool("dispose"))
        assert(fr.kind === str("kind"), s"$file/${fr.idx}")
        assert(fr.sum1 === num("sum1"), s"$file/${fr.idx} sum1")
        assert(fr.md5 === str("md5"), s"$file/${fr.idx} md5")
        assert(fr.aSum === num("a_sum"), s"$file/${fr.idx} a_sum")
      }
    }
    // corrupt lane: truncated last frame -> null; round-trip of synth
    for (id <- 0L to 5L) {
      assert(graft.functions.WebpAnim.frames(
        graft.functions.WebpAnim.synthAnim(id, corrupt = true)).isEmpty, s"id=$id")
    }
  }

  test("bit-flip fuzz: null or sane, never a throw") {
    val webp = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "f05_32x32_q50.webp").toPath)
    for (blob <- Mutations.bitFlips(webp, 800, 97531L)) Vp8.decodeWebp(blob).foreach { yuv =>
      assert(yuv.width > 0 && yuv.height > 0)
      assert(yuv.y.length === yuv.width * yuv.height)
    }
    // truncations: DecoderTotalitySpec's vp8_stats row
    assert(Vp8.decodeWebp(null).isEmpty)
    assert(Vp8.decodeWebp(Array.empty[Byte]).isEmpty)
  }
}
