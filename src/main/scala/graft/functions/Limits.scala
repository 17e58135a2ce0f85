package graft.functions

/** Every decode-side admission cap in one place.
  *
  * A decoder reads sizes out of its input: image dimensions, declared
  * lengths, frame and entry counts. Each cap below bounds one such
  * size before the decoder allocates for it, so hostile or damaged
  * bytes become a null (PERMISSIVE, routed to the DLQ) and never an
  * executor OOM. `DecoderTotalitySpec` feeds every registered binary
  * kernel truncations, bit flips, random blobs and forged sizes and
  * checks each output against these values.
  *
  * The encoders' and synthesizers' `require`s check caller arguments,
  * not outside input, and are not caps in this sense.
  */
object Limits {

  // Pixel caps (width x height), one per image decoder.
  final val BmpPixels = 1 << 24
  final val IcoPixels = 1 << 20
  final val PngPixels = 1 << 24
  final val GifPixels = 1 << 24
  final val JpegPixels = 1 << 24
  final val ProgressiveJpegPixels = 1 << 22
  final val QoiPixels = 1 << 22
  final val TiffPixels = 1 << 22
  final val Vp8Pixels = 1 << 26
  /** 4 Mpx (16 MiB ARGB), a thumbnail/screenshot ceiling: VP8L's 14-bit
    * sides alone would admit 256 Mpx (1 GiB) from 5 header bytes. */
  final val Vp8lPixels = 1 << 22

  // Output and entry caps, in bytes unless named otherwise. Past a cap
  // the value is malformed (null), so a zip bomb becomes a routed row.
  /** gzip output per value ([[GzipDecompress]]), 64 MiB. */
  final val GzipOut = 1 << 26
  /** Snappy preamble's declared length, 64 MiB per cell value. */
  final val SnappyOut = 1 << 26
  final val TarEntryOut = 1 << 26
  final val ZipEntryOut = 1 << 26
  /** Inflated size of one gzip member of a WARC file. */
  final val WarcMemberOut = 1 << 26
  /** zstd output per value, across frames (128 MiB). */
  final val ZstdOut = 1 << 27
  final val ZstdWindow = 1L << 27
  /** Frame count of a seekable-zstd seek table. */
  final val ZstdSeekFrames = 1 << 22
  /** Inflated size of one compressed Avro container block. */
  final val AvroBlockOut = 1 << 26
  /** Items of zero encoded bytes (null, an empty record) in one Avro
    * datum, summed over all its arrays; items of at least one byte are
    * bounded by the bytes left. */
  final val AvroZeroByteItems = 1 << 20
  /** Schema nesting one Avro datum walk may descend (unions, records,
    * arrays and maps each count one level). */
  final val AvroDepth = 256

  /** The bytes `in` yields, or None once they pass `cap`: a stream
    * that inflates past its cap is read at most one chunk beyond it.
    * The caller closes `in`. */
  def readAtMost(in: java.io.InputStream, cap: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size > cap - n) return None
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    Some(out.toByteArray)
  }

  /** Whether a `w` x `h` image is admitted under `cap` pixels. Each
    * side is bounded before the multiply, so two u32 sides cannot wrap
    * the product past the cap. */
  def pixelsOk(w: Long, h: Long, cap: Int): Boolean =
    w > 0 && h > 0 && w <= cap && h <= cap && w * h <= cap
}
