package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

import graft.avro.{AvroOcf, FromAvroDatum, FromAvroOcf, ToAvroDatum, ToAvroOcf}

/** Optimizer rule: `from_avro_ocf(to_avro_ocf(x, s), s)` -> `x`.
  *
  * The codec pair is a lossless round-trip by construction
  * (AvroCodecSpec property), so re-decoding bytes we just encoded is
  * dead work — this erases it at plan time (SURVEY.md §4 "optional
  * polish" row). Guarded on schema equality AND on the child's struct
  * type matching the decoder's output type exactly, so a widening or
  * field-reorder through the codec is never erased incorrectly.
  * Nullability is checked per field: a nullable child field is only
  * eliminated when the Avro field is a [null, T] union — otherwise the
  * unoptimized plan would THROW at encode time on a null value, and
  * erasing the codec would silently convert that runtime error into
  * null pass-through.
  */
object CodecRoundTripElimination extends Rule[LogicalPlan] {
  private def nullabilityCompatible(
      child: org.apache.spark.sql.types.DataType,
      decoded: org.apache.spark.sql.types.StructType): Boolean = child match {
    case st: org.apache.spark.sql.types.StructType =>
      st.length == decoded.length &&
        st.fields.zip(decoded.fields).forall { case (c, d) => !c.nullable || d.nullable }
    case _ => false
  }

  /** Recursive field-NAME equality. equalsStructurally ignores names,
    * so on its own it would erase a REORDERED same-typed struct — a
    * round trip the unoptimized plan rejects loudly (the codec's
    * positional checkFieldOrder throws "reorder the struct"), and one
    * where erasure would silently swap columns. Only a true no-op
    * (names match position-for-position, recursively) may be erased. */
  private def sameFieldNames(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall { case (c, d) =>
          c.name == d.name && sameFieldNames(c.dataType, d.dataType)
        }
      case (x: ArrayType, y: ArrayType) => sameFieldNames(x.elementType, y.elementType)
      case (x: MapType, y: MapType) => sameFieldNames(x.valueType, y.valueType)
      case _ => true
    }
  }

  private def erasable(child: org.apache.spark.sql.catalyst.expressions.Expression,
      schemaJson: String): Boolean = {
    val decoded = AvroOcf.sparkTypeFor(new org.apache.avro.Schema.Parser().parse(schemaJson))
    org.apache.spark.sql.types.DataType.equalsStructurally(
      child.dataType, decoded, ignoreNullability = true) &&
      sameFieldNames(child.dataType, decoded) &&
      nullabilityCompatible(child.dataType, decoded)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case FromAvroOcf(ToAvroOcf(child, s1), s2) if s1 == s2 && erasable(child, s2) =>
      child
    case FromAvroDatum(ToAvroDatum(child, s1), s2) if s1 == s2 && erasable(child, s2) =>
      child
    case other => other
  }
}

/** Session extensions: register the codec SQL functions, the
  * round-trip elimination rule, and the native as-of join planner
  * strategy. Activate with
  * `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `GraftSession.builder(cpus).withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CodecRoundTripElimination)
    e.injectOptimizerRule(_ => AsofFilterPushdown)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    def litStr(x: org.apache.spark.sql.catalyst.expressions.Expression): String = x match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(s"schema must be a string literal: $other")
    }
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("from_avro_ocf"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[FromAvroOcf].getName, "from_avro_ocf"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FromAvroOcf(es.head, litStr(es(1)))))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("to_avro_ocf"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[ToAvroOcf].getName, "to_avro_ocf"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ToAvroOcf(es.head, litStr(es(1)))))
    def litInt(x: org.apache.spark.sql.catalyst.expressions.Expression): Int = x match {
      case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => i
      case other => throw new IllegalArgumentException(s"expected int literal: $other")
    }
    // the UDTF of the extension trio — usable as a SQL generator:
    // SELECT doc_id, c.* FROM docs LATERAL VIEW chunk_document(tokens, 64, 16) c
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("chunk_document"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.ChunkDocument].getName, "chunk_document"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.ChunkDocument(es.head, litInt(es(1)), litInt(es(2)))))

    // the ingest-kernel family as SQL functions, so the pure-SQL user
    // surface (registerTables + spark.sql) reaches every blob/text
    // kernel the Column API has — same Expression classes, no wrappers
    import org.apache.spark.sql.catalyst.expressions.Expression
    def unary(name: String, cls: Class[_], f: Expression => Expression): Unit =
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        (es: Seq[Expression]) => {
          require(es.length == 1, s"$name takes 1 argument, got ${es.length}")
          f(es.head)
        }))
    def binary(name: String, cls: Class[_],
        f: (Expression, Expression) => Expression): Unit =
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        (es: Seq[Expression]) => {
          require(es.length == 2, s"$name takes 2 arguments, got ${es.length}")
          f(es(0), es(1))
        }))
    def ternary(name: String, cls: Class[_],
        f: (Expression, Expression, Expression) => Expression): Unit =
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        (es: Seq[Expression]) => {
          require(es.length == 3, s"$name takes 3 arguments, got ${es.length}")
          f(es(0), es(1), es(2))
        }))
    import graft.functions._
    unary("blob_kind", classOf[BlobKindOf], BlobKindOf)
    unary("charset_sniff", classOf[CharsetSniff], CharsetSniff)
    unary("utf8_stats", classOf[Utf8Stats], Utf8Stats)
    unary("utf8_sanitize", classOf[Utf8Sanitize], Utf8Sanitize)
    unary("html_entity_decode", classOf[HtmlEntityDecode], HtmlEntityDecode)
    unary("qp_decode", classOf[QpDecode], QpDecode)
    unary("idna_decode", classOf[IdnaDecode], IdnaDecode)
    unary("url_parse", classOf[UrlParse], UrlParse)
    unary("snappy_compress", classOf[SnappyCompress], SnappyCompress)
    unary("snappy_decompress", classOf[SnappyDecompress], SnappyDecompress)
    unary("proto_stats", classOf[ProtoStats], ProtoStats)
    unary("zstd_frame_meta", classOf[ZstdFrameMeta], ZstdFrameMeta)
    // round-11 additions: full zstd codec, brotli structural layer,
    // MP4 triage, hinted dispatch
    unary("zstd_decompress", classOf[ZstdDecompress], ZstdDecompress)
    binary("zstd_compress", classOf[ZstdCompress], ZstdCompress)
    binary("zstd_compress_dict", classOf[ZstdCompressDict], ZstdCompressDict)
    binary("zstd_decompress_dict", classOf[ZstdDecompressDict], ZstdDecompressDict)
    unary("zstd_seek_pack", classOf[ZstdSeekPack], ZstdSeekPack)
    unary("zstd_seek_meta", classOf[ZstdSeekMeta], ZstdSeekMeta)
    binary("zstd_seek_read", classOf[ZstdSeekRead], ZstdSeekRead)
    unary("brotli_meta", classOf[BrotliMeta], BrotliMeta)
    unary("brotli_wrap", classOf[BrotliWrap], BrotliWrap)
    unary("brotli_unwrap", classOf[BrotliUnwrap], BrotliUnwrap)
    unary("mp4_meta", classOf[Mp4Meta], Mp4Meta)
    unary("mp4_tracks", classOf[Mp4Tracks], Mp4Tracks)
    unary("parquet_footer", classOf[ParquetFooterMeta], ParquetFooterMeta)
    unary("mp3_meta", classOf[Mp3Meta], Mp3Meta)
    unary("ogg_meta", classOf[OggMeta], OggMeta)
    unary("synth_ogg_crcbad", classOf[SynthOggCrcBad], SynthOggCrcBad)
    unary("flac_meta", classOf[FlacMeta], FlacMeta)
    binary("synth_flac", classOf[SynthFlac], SynthFlac)
    unary("webm_meta", classOf[WebmMeta], WebmMeta)
    binary("synth_webm", classOf[SynthWebm], SynthWebm)
    unary("webp_meta", classOf[WebpMeta], WebpMeta)
    unary("vp8l_stats", classOf[Vp8lStats], Vp8lStats)
    unary("vp8_stats", classOf[Vp8StatsExpr], Vp8StatsExpr)
    unary("webp_anim_frames", classOf[WebpAnimFrames], WebpAnimFrames)
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("synth_vp8"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SynthVp8].getName, "synth_vp8"),
      (es: Seq[Expression]) => {
        require(es.length == 4, s"synth_vp8 takes 4 arguments, got ${es.length}")
        SynthVp8(es(0), es(1), es(2), es(3))
      }))
    binary("blob_kind_hinted", classOf[BlobKindHinted], BlobKindHinted)
    unary("qoi_stats", classOf[QoiStats], QoiStats)
    unary("tiff_stats", classOf[TiffStats], TiffStats)
    unary("ico_stats", classOf[IcoStats], IcoStats)
    unary("exif_meta", classOf[ExifMeta], ExifMeta)
    unary("adpcm_stats", classOf[AdpcmStats], AdpcmStats)
    binary("percent_decode", classOf[PercentDecodeExpr], PercentDecodeExpr)
    ternary("robots_decision", classOf[RobotsDecision], RobotsDecision)
    ternary("geohash", classOf[GeohashEncode], GeohashEncode)
  }
}
