package graft

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Generator, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExtensionFunctions
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.model.Schemas

/** One robustness policy for every binary-input decoder. Each row's
  * expression gets every truncation of its valid seeds, seeded bit
  * flips and byte storms, forged oversize sizes, and random blobs
  * ([[Mutations]]). It must never throw, and every output must be null
  * or within [[Limits]]: no binary, string or array past the largest
  * output cap, no image past the row's pixel cap, and no call
  * allocating past twice the largest cap. The completeness guard
  * derives the functions that need a row from the registrations; a new
  * kernel adds a row with its name and a valid seed or two. */
class DecoderTotalitySpec extends AnyFunSuite {

  private val registries = Seq(ExtensionFunctions.of(new graft.plans.GraftExtensions),
    { val r = new SimpleFunctionRegistry; graft.avro.functions.register(r); r })
  private def functionFor(name: String) =
    registries.flatMap(_.lookupFunctionBuilder(FunctionIdentifier(name))).headOption

  /** Registered functions that type-check with a binary first argument
    * and some literals after it. */
  private lazy val binaryInput: Seq[String] = {
    val bin: Expression = Literal(Array[Byte](1), BinaryType)
    val others = Seq(Literal(true), bin, Literal(1), Literal(1L), Literal(Schemas.orderAvroJson))
    def arguments(arity: Int) = (1 until arity).foldLeft(Iterator(Seq(bin)))((acc, _) =>
      acc.flatMap(args => others.iterator.map(args :+ _)))
    registries.flatMap(_.listFunction()).map(_.funcName).distinct.sorted.filter(n =>
      (1 to 4).iterator.flatMap(arguments).exists(args =>
        scala.util.Try(functionFor(n).get(args).checkInputDataTypes().isSuccess).getOrElse(false)))
  }

  /** Decoders no registry names, fuzzed on their expressions. */
  private val unregistered: Map[String, Expression => Expression] = Map(
    "audio_stats_g711" -> (AudioStatsG711(_)), "bmp_stats_rgb" -> (BmpStatsRgb(_)),
    "gif_stats" -> (GifStats(_)), "gzip_decompress" -> (GzipDecompress(_)),
    "jpeg_kind" -> (JpegKind(_)), "jpeg_stats_rgb" -> (JpegStatsRgb(_)),
    "jpeg_stats_ycbcr" -> (JpegStatsYcbcr(_)), "png_stats16" -> (PngStats16(_)),
    "png_stats_rgb" -> (PngStatsRgb(_)), "tar_entries" -> (TarEntries(_)),
    "warc_records" -> (WarcRecords(_)), "wav_kind" -> (WavKind(_)), "zip_entries" -> (ZipEntries(_)))

  /** A function, its valid seeds, the arguments after the binary one,
    * and for a pixel decoder its pixel cap. */
  private case class Row(name: String, seeds: Seq[Array[Byte]],
      args: Seq[Expression] = Nil, pixelCap: Int = 0)

  private def ramp(n: Int, mul: Int) = Array.tabulate(n)(k => (k * mul % 251).toByte)
  private def read(path: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
  private val text = ("abcabcabc duplicate duplicate 123 café ☃ " * 40).getBytes("UTF-8")
  private val dict = ("duplicate abc 123 " * 8).getBytes("UTF-8")
  private val png = Png.encode(20, 14, ramp(280, 31))
  private val brotli = Brotli.wrap(ramp(500, 37))
  private val jpegGray = Jpeg.encode(24, 18, ramp(24 * 18, 9))
  private val seekable = ZstdSeekable.pack(Array(text.take(300), text.drop(300)))
  private val schemaJson = Literal(Schemas.orderAvroJson)
  private val avroSchema = new org.apache.avro.Schema.Parser().parse(Schemas.orderAvroJson)
  private val (ocf, datum, confluent) = {
    import graft.avro.AvroOcf
    val order = InternalRow(UTF8String.fromString("order-1"), UTF8String.fromString("Widget"), 12.5f)
    (AvroOcf.encodeRow(order, Schemas.order, avroSchema), AvroOcf.encodeDatumRow(order, Schemas.order, avroSchema),
      AvroOcf.encodeConfluentRow(order, Schemas.order, avroSchema, 1))
  }
  /** One order in a container whose blocks `codec` compresses. */
  private def compressed(codec: org.apache.avro.file.CodecFactory): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[AnyRef](new org.apache.avro.generic.GenericDatumWriter[AnyRef](avroSchema))
    w.setCodec(codec).create(avroSchema, out)
    w.append(new org.apache.avro.generic.GenericRecordBuilder(avroSchema)
      .set("orderId", "order-2").set("product", "Zipped").set("price", 7.25f).build())
    w.close()
    out.toByteArray
  }

  private lazy val rows: Seq[Row] = Seq(
    Row("adpcm_stats", Seq(Adpcm.synth(5L, 48))),
    Row("avro_framing", Seq(ocf, datum, confluent)),
    Row("blob_kind", Seq(png, brotli, text, Flac.synth(2L, corrupt = false))),
    Row("blob_kind_hinted", Seq(brotli, png), Seq(Literal("br"))),
    Row("brotli_meta", Seq(brotli, Brotli.synthStructural(3L, corrupt = false))),
    Row("brotli_unwrap", Seq(brotli)),
    Row("brotli_wrap", Seq(text)),
    Row("charset_sniff", Seq(text, png)),
    Row("exif_meta", Seq(Exif.withExif(Jpeg.encode(8, 8, ramp(64, 7)), 1L, 8, 8))),
    Row("flac_meta", Seq(2L, 7L, 12L).map(Flac.synth(_, corrupt = false))),
    Row("from_avro_confluent", Seq(confluent), Seq(schemaJson, Literal(1))),
    Row("from_avro_datum", Seq(datum), Seq(schemaJson)),
    Row("from_avro_ocf", ocf +: { import org.apache.avro.file.CodecFactory._
      Seq(deflateCodec(6), snappyCodec(), bzip2Codec(), xzCodec(6), zstandardCodec(3)).map(compressed) }, Seq(schemaJson)),
    Row("ico_stats", Seq(Ico.synth(7L, 3)), pixelCap = Limits.IcoPixels),
    Row("mp3_meta", Seq(2L, 6L, 12L).map(Mp3.synth(_, corrupt = false))),
    Row("mp4_meta", Seq(Mp4.synth(13L, corrupt = false))),
    Row("mp4_tracks", Seq(Mp4.synth(13L, corrupt = false))),
    Row("ogg_meta", Seq(1L, 4L, 13L).map(Ogg.synth(_, corrupt = false))),
    Row("parquet_footer", Seq(ParquetFooter.synth(9L, corrupt = false), read(s"${Bench.WarmupDir}/region.parquet"))),
    Row("proto_stats", Seq(Proto.synth(9L, corrupt = false))),
    Row("qoi_stats", Seq(Qoi.encode(9, 7, 4, ramp(4 * 9 * 7, 13))), pixelCap = Limits.QoiPixels),
    Row("snappy_compress", Seq(text)),
    Row("snappy_decompress", Seq(Snappy.compress(text))),
    Row("tiff_stats", Seq(Tiff.encode(7, 9, 3, bigEndian = true, 4, ramp(3 * 7 * 9, 11)),
      Tiff.encode(5, 4, 1, bigEndian = false, 2, ramp(20, 3))), pixelCap = Limits.TiffPixels),
    Row("utf8_sanitize", Seq(text)),
    Row("utf8_stats", Seq(text)),
    Row("vp8_stats", Seq(read("fixtures/vp8/f05_32x32_q50.webp")), pixelCap = Limits.Vp8Pixels),
    Row("vp8l_stats", Seq(0, 3, 5).map(Vp8l.synth(3L, 17, 11, _, corrupt = false)), pixelCap = Limits.Vp8lPixels),
    Row("webm_meta", Seq(2L, 7L, 12L).map(Webm.synth(_, corrupt = false))),
    Row("webp_anim_frames", Seq(WebpAnim.synthAnim(3L, corrupt = false))),
    Row("webp_meta", Seq(Webp.synth(5L, 64, 48, corrupt = false))),
    Row("zstd_compress", Seq(text)),
    Row("zstd_compress_dict", Seq(text), Seq(Literal(dict))),
    Row("zstd_decompress", Seq(ZstdCodec.compress(text), ZstdCodec.compress(text.take(700)))),
    Row("zstd_decompress_dict", Seq(ZstdCodec.compressWithDict(text, dict).get), Seq(Literal(dict))),
    Row("zstd_frame_meta", Seq(Zstd.synth(0L), Zstd.synth(9L))),
    Row("zstd_seek_meta", Seq(seekable)),
    Row("zstd_seek_read", Seq(seekable), Seq(Literal(1))),
    // decoders no registry names
    Row("audio_stats_g711", Seq(G711.synth(1L, 64, alaw = false), G711.synth(2L, 64, alaw = true))),
    Row("bmp_stats_rgb", Seq(Bmp.encode(9, 7, ramp(189, 1))), pixelCap = Limits.BmpPixels),
    Row("gif_stats", Seq(Gif.encode(24, 18, ramp(24 * 18, 17), ramp(768, 7))), pixelCap = Limits.GifPixels),
    Row("gzip_decompress", Seq(GzipCompress(Literal(text)).eval().asInstanceOf[Array[Byte]])),
    Row("jpeg_kind", Seq(jpegGray)),
    Row("jpeg_stats_rgb", Seq(jpegGray, Jpeg.encodeColor(16, 16, ramp(768, 5)),
      Jpeg.encode420(20, 12, ramp(720, 3))), pixelCap = Limits.JpegPixels),
    Row("jpeg_stats_ycbcr", Seq(Jpeg.encodeProgressiveColor(17, 13, ramp(663, 37))), pixelCap = Limits.ProgressiveJpegPixels),
    Row("png_stats16", Seq(Png.encodeGray16(6, 6, Array.tabulate(36)(_ * 1000))), pixelCap = Limits.PngPixels),
    Row("png_stats_rgb", Seq(png, Png.encodeRgba(10, 9, ramp(360, 7)),
      Png.encodeInterlaced(15, 12, ramp(180, 3))), pixelCap = Limits.PngPixels),
    Row("tar_entries", Seq(Tar.synth(2L, 2, corrupt = false))),
    Row("warc_records", Seq(Warc.synth(3L, 3, corruptLast = false))),
    Row("wav_kind", Seq(G711.synth(1L, 64, alaw = false),
      SynthWavPcm(Literal(1L), Literal(8)).eval().asInstanceOf[Array[Byte]])),
    Row("zip_entries", Seq(Zip.synth(5L, 3, corruptFirst = false))))

  private val MaxBytes = Limits.ZstdOut // the largest output cap

  private def within(v: Any, dt: DataType, pixelCap: Int): Boolean = v == null || (dt match {
    case BinaryType => v.asInstanceOf[Array[Byte]].length <= MaxBytes
    case StringType => v.asInstanceOf[UTF8String].numBytes <= MaxBytes
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      val fields = st.fields.indices.filterNot(r.isNullAt).map(i => st(i) -> r.get(i, st(i).dataType))
      def dim(n: String) = fields.collectFirst { case (f, x: java.lang.Number) if f.name == n => x.longValue }
      fields.forall { case (f, x) => within(x, f.dataType, pixelCap) } &&
        (pixelCap == 0 || dim("width").zip(dim("height")).forall { case (w, h) => Limits.pixelsOk(w, h, pixelCap) })
    case at: ArrayType =>
      val a = v.asInstanceOf[ArrayData]
      a.numElements <= MaxBytes && (0 until a.numElements).forall(i =>
        a.isNullAt(i) || within(a.get(i, at.elementType), at.elementType, pixelCap))
    case _ => true
  })

  test("completeness guard: every registered binary-input function has a row") {
    assert(binaryInput.contains("from_avro_ocf") && binaryInput.contains("tiff_stats"))
    val missing = binaryInput.filterNot(rows.map(_.name).toSet)
    assert(missing.isEmpty, s"add a DecoderTotalitySpec row for: ${missing.mkString(", ")}")
  }

  for (name <- rows.map(_.name)) test(s"$name: total on truncations, flips, blobs and forged sizes") {
    val row = rows.find(_.name == name).get
    val input = BoundReference(0, BinaryType, nullable = true)
    val e = unregistered.get(name).map(_(input)).getOrElse(functionFor(name).get(input +: row.args))
    for (s <- row.seeds) assert(e.eval(InternalRow(s)) match {
      case null => false
      case out: IterableOnce[_] => out.iterator.nonEmpty
      case _ => true
    }, s"$name does not decode its own seed")
    val inputs = row.seeds.iterator.zipWithIndex.flatMap { case (s, k) =>
      Mutations.truncations(s) ++ Mutations.bitFlips(s, 300, 17L + k) ++ Mutations.byteStorms(s, 100, 31L + k) ++
        Mutations.forgedSizes(s, math.max(1, s.length / 256))
    } ++ Mutations.randomBlobs(200, 42L, row.seeds.head.take(4)) ++ Iterator(null)
    var maxAlloc = 0L
    val failures = inputs.flatMap { b =>
      var verdict: Option[String] = None
      maxAlloc = math.max(maxAlloc, Mutations.allocatedBy {
        verdict = try {
          val out = e match {
            case g: Generator => g.eval(InternalRow(b)).iterator.map(_ -> g.elementSchema).toSeq
            case _ => Seq(e.eval(InternalRow(b)) -> e.dataType)
          }
          out.find { case (v, dt) => !within(v, dt, row.pixelCap) }.map(o => s"output past Limits: ${o._1}")
        } catch { case t: Throwable => Some(t.toString) }
      })
      verdict.map(v => s"${Option(b).fold("null")(_.map("%02x".format(_)).mkString)}: $v")
    }.take(3).toList
    assert(failures.isEmpty, failures.mkString("\n"))
    info(s"most allocated by one call: ${maxAlloc >> 10} KiB")
    assert(maxAlloc <= 2L * MaxBytes, s"one call allocated ${maxAlloc >> 20} MiB")
  }

  test("snappy_decompress: a forged 64 MiB preamble is refused before its buffer is allocated") {
    def varint(n: Long): Array[Byte] =
      if (n < 0x80) Array(n.toByte) else ((n & 0x7f) | 0x80).toByte +: varint(n >>> 7)
    val seed = Snappy.compress(text)
    val forged = varint(Limits.SnappyOut) ++ seed.drop(seed.indexWhere(_ >= 0) + 1)
    assert(Snappy.decompress(forged).isEmpty)
    val allocated = Mutations.allocatedBy(Snappy.decompress(forged))
    assert(allocated < (1L << 20), s"one call allocated ${allocated >> 10} KiB")
  }

  test("zip_entries: a forged 16 MiB deflate usize is refused before its buffer is allocated") {
    val forged = Zip.synth(5L, 3, corruptFirst = false)
    val cd = forged.indices.find(i => forged.slice(i, i + 4).sameElements(Array[Byte](0x50, 0x4b, 1, 2))).get
    java.nio.ByteBuffer.wrap(forged).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(cd + 24, 16 << 20)
    def entries() = ZipEntries(Literal(forged, BinaryType)).eval().iterator.map(_.getBoolean(5)).toList
    assert(entries() === List(false, true, true))
    val allocated = Mutations.allocatedBy(entries())
    assert(allocated < (1L << 20), s"one call allocated ${allocated >> 10} KiB")
  }

  test("jpeg_stats_ycbcr: a forged frame width is refused before its coefficient stores are allocated") {
    val seed = Jpeg.encodeProgressiveColor(17, 13, ramp(663, 37))
    val sof = seed.indices.find(i => (seed(i) & 0xff) == 0xff && (seed(i + 1) & 0xff) == 0xc2).get
    val forged = seed.clone()
    forged(sof + 7) = 0xff.toByte; forged(sof + 8) = 0xff.toByte // width 65535: 49152 blocks
    assert(Jpeg.decodeProgressive(forged).isEmpty)
    val allocated = Mutations.allocatedBy(Jpeg.decodeProgressive(forged))
    assert(allocated < (1L << 20), s"one call allocated ${allocated >> 10} KiB")
    // the bound never refuses a whole stream (JpegSpec pins the pixels)
    for ((s, shape) <- Seq(seed -> (17, 13, 3), Jpeg.encodeProgressive420(17, 13, ramp(663, 37)) -> (17, 13, 3),
        Jpeg.encodeProgressive(24, 18, ramp(432, 9)) -> (24, 18, 1)))
      assert(Jpeg.decodeProgressive(s).map(d => (d._1, d._2, d._3)) === Some(shape))
  }

  test("tiff_stats: u32 sides whose product wraps negative decode to null") {
    // 110 bytes, little-endian, 8 entries: ImageWidth 0xFFFFFFFF,
    // ImageLength 0x80000001, 8-bit grey, uncompressed, one strip
    val bb = java.nio.ByteBuffer.allocate(110).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("II".getBytes).putShort(42).putInt(8).putShort(8)
    for ((tag, ty, v) <- Seq((256, 4, 0xffffffff), (257, 4, 0x80000001), (258, 3, 8), (259, 3, 1),
        (262, 3, 1), (273, 4, 8), (278, 4, 0x80000001), (279, 4, 0x7fffffff))) {
      bb.putShort(tag.toShort).putShort(ty.toShort).putInt(1)
      if (ty == 3) bb.putShort(v.toShort).putShort(0) else bb.putInt(v)
    }
    assert(bb.putInt(0).position() === 110)
    assert(Tiff.decode(bb.array()).isEmpty)
    assert(TiffStats(Literal(bb.array(), BinaryType)).eval() === null)
  }
}
