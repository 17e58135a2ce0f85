package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL user surface: a session built with GraftExtensions
  * must expose the ingest-kernel family as SQL functions — same
  * Expression classes the Column API plans, resolved by name through
  * the catalog. (A fresh SparkSession is forced so the extension list
  * actually applies; getOrCreate would silently reuse a session built
  * without it.) */
class SqlSurfaceSpec extends AnyFunSuite {

  private lazy val sql: SparkSession = {
    // reuse the shared context but force a NEW session so
    // withExtensions takes effect
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    GraftSession.builder(2)
      .appName("sql-surface")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
  }

  private def one[T](q: String): T =
    sql.sql(q).head().get(0).asInstanceOf[T]

  test("text kernels resolve and evaluate through spark.sql") {
    assert(one[String]("SELECT utf8_sanitize(cast('ok' as binary))") === "ok")
    assert(one[Boolean](
      "SELECT utf8_stats(cast('café' as binary)).valid") === true)
    assert(one[String]("SELECT charset_sniff(cast('plain' as binary))") === "ascii")
    assert(one[String]("SELECT html_entity_decode('a &amp; b')") === "a & b")
    assert(one[String]("SELECT qp_decode('a=3Db')") === "a=b")
    assert(one[String](
      "SELECT percent_decode('caf%C3%A9', false)") === "café")
    assert(one[String]("SELECT idna_decode('xn--n3h.net')") === "☃.net")
    assert(one[String]("SELECT url_parse('HTTPS://X.com/a').normalized")
      === "https://x.com/a")
  }

  test("blob kernels resolve and evaluate through spark.sql") {
    assert(one[String]("SELECT blob_kind(cast('GIF89a...' as binary))") === "gif")
    assert(one[Array[Byte]](
      "SELECT snappy_decompress(snappy_compress(cast('abcabcabc' as binary)))")
      .sameElements("abcabcabc".getBytes))
    assert(one[String](
      "SELECT zstd_frame_meta(cast('nope' as binary)).kind") === "not_zstd")
    assert(one[String]("SELECT geohash(57649110L, 10407440L, 5)") === "u4pru")
    assert(one[Boolean](
      "SELECT robots_decision('User-agent: *\nDisallow: /private\n', " +
        "'bot', '/private/x').allowed") === false)
    // round-11 kernels: full zstd codec, brotli store layer, mp4
    // triage, hinted dispatch
    assert(one[Array[Byte]](
      "SELECT zstd_decompress(zstd_compress(cast('frame frame frame' as binary), true))")
      .sameElements("frame frame frame".getBytes))
    assert(one[Array[Byte]](
      "SELECT brotli_unwrap(brotli_wrap(cast('stored bytes' as binary)))")
      .sameElements("stored bytes".getBytes))
    assert(one[String](
      "SELECT brotli_meta(brotli_wrap(cast('x' as binary))).kind") === "br_store")
    assert(one[String](
      "SELECT blob_kind_hinted(brotli_wrap(cast('x' as binary)), 'br')") === "br")
    assert(one[String](
      "SELECT mp4_meta(cast('not a box walk' as binary)).major_brand") === null)
    // round-12 kernels: VP8L pixel decode, MP4 sample-table walk,
    // brotli structural synth
    assert(one[Boolean](
      "SELECT vp8l_stats(cast('not a webp' as binary)) IS NULL") === true)
    // round-13: VP8 lossy key-frame pixel decode
    assert(one[Boolean](
      "SELECT vp8_stats(cast('not a vp8 frame' as binary)) IS NULL") === true)
    // round-13: FLAC/WebM triage + CRC-broken ogg synth
    assert(one[Boolean](
      "SELECT flac_meta(cast('not flac' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT webm_meta(cast('not webm' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT ogg_meta(synth_ogg_crcbad(5::long)) IS NULL") === true)
    assert(one[Long](
      "SELECT flac_meta(synth_flac(6::long, false)).sample_rate") === 8000L)
    assert(one[String](
      "SELECT webm_meta(synth_webm(4::long, false)).doc_type") === "webm")
    assert(one[Boolean](
      "SELECT webp_anim_frames(cast('no anim here' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT mp4_tracks(cast('not an mp4' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT parquet_footer(cast('PAR1 nope' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT mp3_meta(cast('not audio' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT ogg_meta(cast('OggS nope' as binary)) IS NULL") === true)
  }

  test("the asof planner strategy and codec-elimination rule ride the " +
    "same extension class (smoke: session plans a query)") {
    // a plain SQL round through the new session proves the injected
    // optimizer rules/strategies didn't break ordinary planning
    assert(sql.sql("SELECT 1 + 1").head().getInt(0) === 2)
  }
}
