package graft

import org.apache.spark.sql.functions._

import graft.functions.{G711, audio}

/** G.711 companded-audio expansion + WAV triage: the expansions are
  * pinned against the classic published table endpoints (so a sign
  * convention or bias slip cannot hide), monotonicity and symmetry
  * properties, and the container walk against hostile bytes. */
class G711Spec extends SparkSpec {
  import spark.implicits._

  test("u-law endpoints match the published table: 0x00 -> -32124, " +
    "0xFF -> 0, 0x80 -> +32124, 0x7F -> 0") {
    assert(G711.mulawToLinear(0x00) === -32124)
    assert(G711.mulawToLinear(0xff) === 0)
    assert(G711.mulawToLinear(0x80) === 32124)
    assert(G711.mulawToLinear(0x7f) === 0)
  }

  test("A-law endpoints match the published table (inverted sign " +
    "convention): 0x55 -> -8, 0xD5 -> +8, 0x2A -> -32256, 0xAA -> +32256") {
    assert(G711.alawToLinear(0x55) === -8)
    assert(G711.alawToLinear(0xd5) === 8)
    assert(G711.alawToLinear(0x2a) === -32256)
    assert(G711.alawToLinear(0xaa) === 32256)
  }

  test("both laws are sign-symmetric and magnitude-monotone over the " +
    "full code space") {
    // u-law: codes 0x80..0xFF are the positives, 0x00..0x7F the
    // negatives, mirrored: mulaw(c) == -mulaw(c ^ 0x80)
    for (c <- 0 to 0x7f)
      assert(G711.mulawToLinear(c) === -G711.mulawToLinear(c ^ 0x80), s"u-law $c")
    // A-law mirrors across bit 7 of the XORed value -> code ^ 0x80
    for (c <- 0 to 0x7f)
      assert(G711.alawToLinear(c) === -G711.alawToLinear(c ^ 0x80), s"A-law $c")
    // within the positive half, magnitude is monotone in the segment
    // structure: sorted distinct magnitudes count 128 per law (every
    // positive code a distinct level for u-law above 0 tie)
    val uPos = (0x80 to 0xff).map(G711.mulawToLinear)
    assert(uPos.forall(_ >= 0) && uPos.max === 32124)
    val aPos = (0 to 0xff).map(G711.alawToLinear).filter(_ > 0)
    assert(aPos.max === 32256 && aPos.min === 8)
  }

  test("synth -> audio_stats_g711 round trip: exact stats both laws, " +
    "and wav_kind routes the container") {
    for (alaw <- Seq(false, true)) {
      val id = 5L; val n = 300
      val row = spark.range(1).select(
        audio.audio_stats_g711(
          audio.synth_wav_g711(lit(id), lit(n), lit(alaw))).as("s"))
        .select($"s.law", $"s.n_samples", $"s.sum_abs", $"s.sum_sq",
          $"s.peak", $"s.zero_crossings").head()
      val samples = (0 until n).map { t =>
        val byte = ((((id * 7919 + t * 2654435761L) % 256) + 256) % 256).toInt
        if (alaw) G711.alawToLinear(byte) else G711.mulawToLinear(byte)
      }
      assert(row.getString(0) === (if (alaw) "alaw" else "ulaw"))
      assert(row.getLong(1) === n.toLong)
      assert(row.getLong(2) === samples.map(s => math.abs(s).toLong).sum)
      assert(row.getLong(3) === samples.map(s => s.toLong * s).sum)
      assert(row.getInt(4) === samples.map(math.abs).max)
      assert(row.getLong(5) === samples.sliding(2)
        .count(p => p.head.toLong * p.last < 0).toLong)
      val bytes = spark.range(1)
        .select(audio.synth_wav_g711(lit(id), lit(n), lit(alaw)).as("b"))
        .head().getAs[Array[Byte]](0)
      assert(G711.kind(bytes) === (if (alaw) "alaw" else "ulaw"))
    }
  }

  test("wav_kind triage: PCM widths, float, extensible, garbage, " +
    "truncations — never throws") {
    val pcm16 = spark.range(1).select(
      graft.functions.media.synth_wav_pcm(lit(1L), lit(8)).as("b"))
      .head().getAs[Array[Byte]](0)
    assert(G711.kind(pcm16) === "pcm16")
    // rewrite the format tag in place for the float/extensible cases
    def withTag(tag: Int): Array[Byte] = {
      val b = pcm16.clone()
      b(20) = (tag & 0xff).toByte; b(21) = ((tag >> 8) & 0xff).toByte
      b
    }
    assert(G711.kind(withTag(3)) === "ieee_float")
    assert(G711.kind(withTag(0xfffe)) === "extensible")
    assert(G711.kind(withTag(2)) === "unsupported") // ADPCM
    assert(G711.kind(null) === "not_wav")
    assert(G711.kind("RIFFxxxxNOPE".getBytes("US-ASCII")) === "not_wav")
    assert(G711.kind("plain".getBytes("US-ASCII")) === "not_wav")
    // truncations and flips: DecoderTotalitySpec's wav_kind row
    // g711 stats reject non-G.711 tags and malformed payloads
    val out = Seq(pcm16, withTag(3)).toDF("b")
      .select(audio.audio_stats_g711($"b").as("s")).collect()
    assert(out.forall(_.isNullAt(0)))
  }
}
