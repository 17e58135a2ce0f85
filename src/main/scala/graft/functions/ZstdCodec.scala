package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Zstandard FULL CODEC (RFC 8878 — the public format spec).
  *
  * Round-10 left zstd as the container family's one header-only member
  * ([[Zstd.frameMeta]] routes frames; this object DECODES them), yet
  * zstd is the codec the real web-corpus distribution actually uses
  * (WARC/WET shards, parquet pages, dataset dumps). The decoder
  * implements the complete block format:
  *
  *   - frames: magic, header (window/dict-id/content-size), multiple
  *     blocks, optional xxhash64 content checksum (VERIFIED, low 32
  *     bits), concatenated frames and skippable frames;
  *   - blocks: Raw / RLE / Compressed (reserved type -> null);
  *   - literals: Raw / RLE / Huffman-compressed (1-stream and
  *     4-stream) / Treeless (table reuse across blocks); Huffman
  *     weights both direct (4-bit nibbles) and FSE-compressed
  *     (two interleaved states over a backward bitstream);
  *   - sequences: Predefined / RLE / FSE_Compressed / Repeat modes
  *     per code family (LL/OF/ML), custom FSE table descriptions
  *     (variable-bit normalized counts with zero-run repeats),
  *     backward-bitstream state machine, offset extra bits, the
  *     three-slot repeat-offset history incl. the ll==0 shifted
  *     semantics and the rep1-1 special;
  *   - sequence execution with overlap-safe match copy against the
  *     whole decoded window.
  *
  * DICTIONARIES (RFC 8878 §5) are supported on the decode side in
  * both forms — structured (magic 0xEC30A437: dictionary id, Huffman
  * literals table, OF/ML/LL FSE tables seeding the first block's
  * Repeat/Treeless modes, initial repeat offsets, content-as-history)
  * and raw (arbitrary bytes as prefix history) — via
  * [[ZstdCodec.decompressWithDict]]; the compressor consumes RAW
  * dictionaries (match history; structured-dict table seeding on the
  * ENCODE side is out of scope, stated). A dict-flagged frame decoded
  * WITHOUT a dictionary -> null (dict routing is
  * [[Zstd.frameMeta]]'s `dict_id`). Window sizes above
  * 128 MiB -> null (admission control, not a format gap). Never throws;
  * malformation of ANY kind (truncation, reserved bits, FSE counts
  * not summing, offset past window, checksum mismatch, trailing
  * garbage) -> None — the same permissive-null contract as the
  * gzip/snappy members.
  *
  * The COMPRESSOR is a real single-pass zstd encoder (not a raw-block
  * shim): greedy hash-chain LZ77 over each <=128 KiB block, canonical
  * Huffman literals (direct-weight header, 1- or 4-stream), and FSE
  * sequence coding against the RFC's predefined distributions — with
  * an `explicitTables` mode that writes the same distributions as
  * in-stream FSE table descriptions instead, so the oracle round-trip
  * exercises BOTH the predefined and the table-read decode paths.
  * Output is interoperable: the spec round-trips it through the
  * reference zstd implementation in both directions.
  */
object ZstdCodec {

  // ---------------------------------------------------------------- limits
  final val BlockMax = 128 * 1024

  /** Control-flow exception for corrupt input: caught at the
    * decompress() boundary and turned into None (never escapes). */
  private final class Corrupt extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Corrupt

  @inline private def highBit(v: Int): Int = 31 - Integer.numberOfLeadingZeros(v)

  // ---------------------------------------------------------------- xxh64
  private final val P1 = 0x9e3779b185ebca87L
  private final val P2 = 0xc2b2ae3d27d4eb4fL
  private final val P3 = 0x165667b19e3779f9L
  private final val P4 = 0x85ebca77c2b2ae63L
  private final val P5 = 0x27d4eb2f165667c5L

  /** xxHash64 (seed 0) — the frame checksum RFC 8878 §3.1.1 mandates. */
  def xxh64(b: Array[Byte], off: Int, len: Int): Long = {
    @inline def le64(i: Int): Long = {
      var v = 0L; var k = 0
      while (k < 8) { v |= (b(i + k) & 0xffL) << (8 * k); k += 1 }; v
    }
    @inline def le32(i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    var p = off
    val end = off + len
    var h: Long =
      if (len >= 32) {
        var v1 = P1 + P2; var v2 = P2; var v3 = 0L; var v4 = -P1
        while (p <= end - 32) {
          v1 = java.lang.Long.rotateLeft(v1 + le64(p) * P2, 31) * P1; p += 8
          v2 = java.lang.Long.rotateLeft(v2 + le64(p) * P2, 31) * P1; p += 8
          v3 = java.lang.Long.rotateLeft(v3 + le64(p) * P2, 31) * P1; p += 8
          v4 = java.lang.Long.rotateLeft(v4 + le64(p) * P2, 31) * P1; p += 8
        }
        var acc = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
          java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
        def merge(acc0: Long, v: Long): Long =
          (acc0 ^ (java.lang.Long.rotateLeft(v * P2, 31) * P1)) * P1 + P4
        acc = merge(acc, v1); acc = merge(acc, v2)
        acc = merge(acc, v3); acc = merge(acc, v4)
        acc
      } else P5
    h += len
    while (p <= end - 8) {
      h = java.lang.Long.rotateLeft(h ^ (java.lang.Long.rotateLeft(le64(p) * P2, 31) * P1), 27) * P1 + P4
      p += 8
    }
    while (p <= end - 4) {
      h = java.lang.Long.rotateLeft(h ^ (le32(p) * P1), 23) * P2 + P3
      p += 4
    }
    while (p < end) {
      h = java.lang.Long.rotateLeft(h ^ ((b(p) & 0xffL) * P5), 11) * P1
      p += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // ------------------------------------------------------------ bitstreams

  /** Backward bitstream reader (RFC 8878 §4.1: bits written LSB-first
    * forward, read from the end; last byte carries a 1-bit sentinel at
    * its highest set position). read(n) returns the n highest unread
    * bits with the LOWEST bit index as the result's LSB. */
  private final class BackReader(b: Array[Byte], start: Int, end: Int) {
    var bitsLeft: Int = {
      if (end <= start) fail()
      val last = b(end - 1) & 0xff
      if (last == 0) fail() // missing sentinel
      (end - start - 1) * 8 + highBit(last)
    }
    @inline private def extract(pos: Int, n: Int): Long = {
      val byteOff = start + (pos >> 3)
      val sh = pos & 7
      var acc = 0L
      var i = 0
      while (i < 8 && byteOff + i < end) {
        acc |= (b(byteOff + i) & 0xffL) << (8 * i); i += 1
      }
      (acc >>> sh) & ((1L << n) - 1)
    }
    def read(n: Int): Int = readLong(n).toInt
    def readLong(n: Int): Long = {
      if (n == 0) return 0L
      bitsLeft -= n
      if (bitsLeft < 0) fail()
      extract(bitsLeft, n)
    }
    /** Huffman lookahead: zero-pads below the stream start (valid
      * streams never rely on the padding for real bits). */
    def peek(n: Int): Int =
      if (bitsLeft >= n) extract(bitsLeft - n, n).toInt
      else (extract(0, math.max(bitsLeft, 0)) << (n - math.max(bitsLeft, 0))).toInt
    def consume(n: Int): Unit = bitsLeft -= n
  }

  /** Forward LSB-first reader — FSE table descriptions only. Reads
    * past `end` ZERO-PAD rather than fail: the low/high-split value
    * reads PEEK one bit more than the short form consumes, which on a
    * valid stream whose last value sits flush at the final byte
    * boundary looks one bit past the description (the reference
    * implementation's bounded-buffer lookahead has the same
    * semantics); real corruption is still caught by the remaining==1
    * and downstream bounds checks. */
  private final class ForeReader(b: Array[Byte], start: Int, end: Int) {
    var bitPos = 0
    @inline private def bit(i: Int): Int = {
      val byteOff = start + (i >> 3)
      if (byteOff >= end) 0
      else (b(byteOff) >> (i & 7)) & 1
    }
    def read(n: Int): Int = { val v = peek(n); bitPos += n; v }
    def peek(n: Int): Int = {
      var res = 0; var k = 0
      while (k < n) { res |= bit(bitPos + k) << k; k += 1 }
      res
    }
    def consume(n: Int): Unit = bitPos += n
    def bytesConsumed: Int = (bitPos + 7) >> 3
  }

  /** Forward LSB-first writer; `closeBackStream` appends the 1-bit
    * sentinel + zero padding that makes the buffer a valid backward
    * stream. */
  final class BitWriter {
    private var buf = new Array[Byte](64)
    private var len = 0
    private var cur = 0L
    private var nb = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
    def add(v: Long, n: Int): Unit = {
      cur |= (v & ((1L << n) - 1)) << nb
      nb += n
      while (nb >= 8) {
        ensure(1); buf(len) = cur.toByte; len += 1; cur >>>= 8; nb -= 8
      }
    }
    def closeBackStream(): Unit = { add(1L, 1); if (nb > 0) { ensure(1); buf(len) = cur.toByte; len += 1; cur = 0; nb = 0 } }
    def alignForward(): Unit = if (nb > 0) { ensure(1); buf(len) = cur.toByte; len += 1; cur = 0; nb = 0 }
    def bitCount: Int = len * 8 + nb
    def toArray: Array[Byte] = {
      require(nb == 0, "unflushed bits")
      java.util.Arrays.copyOf(buf, len)
    }
  }

  // ------------------------------------------------------------------- FSE

  /** FSE decode table: per-state symbol, bit count and baseline. */
  private final class FseDec(val symbol: Array[Int], val nbBits: Array[Int],
      val baseline: Array[Int], val accuracyLog: Int)

  /** Spread symbols over the table exactly as RFC 8878 §4.1.1
    * prescribes: "less than 1" (-1) symbols take single cells at the
    * top, the rest walk position by the (5/8·size + 3) step. Shared
    * between the decode- and encode-table builders so they are inverses
    * by construction. */
  private def spreadSymbols(counts: Array[Int], al: Int): Array[Int] = {
    val size = 1 << al
    val spread = new Array[Int](size)
    var highThreshold = size - 1
    var s = 0
    while (s < counts.length) {
      if (counts(s) == -1) { spread(highThreshold) = s; highThreshold -= 1 }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < counts.length) {
      var i = 0
      while (i < counts(s)) {
        spread(pos) = s
        pos = (pos + step) & mask
        while (pos > highThreshold) pos = (pos + step) & mask
        i += 1
      }
      s += 1
    }
    if (pos != 0) fail() // counts don't sum to table size
    spread
  }

  private def buildFseDec(counts: Array[Int], al: Int): FseDec = {
    if (al < 5 || al > 12) fail()
    val size = 1 << al
    val spread = spreadSymbols(counts, al)
    val symbolNext = new Array[Int](counts.length)
    var s = 0
    while (s < counts.length) {
      symbolNext(s) = if (counts(s) == -1) 1 else counts(s)
      s += 1
    }
    val nbBits = new Array[Int](size)
    val baseline = new Array[Int](size)
    var i = 0
    while (i < size) {
      val sym = spread(i)
      val x = symbolNext(sym); symbolNext(sym) += 1
      val nb = al - highBit(x)
      nbBits(i) = nb
      baseline(i) = (x << nb) - size
      i += 1
    }
    new FseDec(spread, nbBits, baseline, al)
  }

  /** Single-state RLE "table": always this symbol, zero bits. */
  private def rleFseDec(symbol: Int): FseDec =
    new FseDec(Array(symbol), Array(0), Array(0), 0)

  /** Read a normalized-count table description (forward bitstream):
    * 4-bit accuracy, variable-bit probabilities with the low/high split
    * and 2-bit zero-run repeats. Returns (counts, accuracyLog); the
    * reader is left byte-aligned past the description. */
  private def readNCount(fr: ForeReader, maxAl: Int, maxSym: Int): (Array[Int], Int) = {
    val al = fr.read(4) + 5
    if (al > maxAl) fail()
    var remaining = (1 << al) + 1
    var threshold = 1 << al
    var nbBits = al + 1
    val counts = new Array[Int](maxSym + 1)
    var charnum = 0
    var previous0 = false
    while (remaining > 1 && charnum <= maxSym) {
      if (previous0) {
        var n = fr.read(2)
        while (n == 3) { charnum += 3; if (charnum > maxSym) fail(); n = fr.read(2) }
        charnum += n
        if (charnum > maxSym) fail()
        previous0 = false
      }
      if (remaining > 1 && charnum <= maxSym) {
        val max = (2 * threshold - 1) - remaining
        var count = fr.peek(nbBits - 1)
        if (count < max) fr.consume(nbBits - 1)
        else {
          count = fr.peek(nbBits); fr.consume(nbBits)
          if (count >= threshold) count -= max
        }
        count -= 1 // shift: stored value is probability + 1 (-1 == "less than 1")
        remaining -= (if (count < 0) -count else count)
        if (remaining < 1) fail()
        counts(charnum) = count
        charnum += 1
        previous0 = count == 0
        while (remaining < threshold) { nbBits -= 1; threshold >>= 1 }
      }
    }
    if (remaining != 1) fail()
    // align to byte boundary: description sizes are whole bytes
    fr.bitPos = fr.bytesConsumed * 8
    (counts, al)
  }

  // ---------------------------------------------------- predefined tables
  // RFC 8878 §3.1.1.3.2.2 default distributions (values verified against
  // the reference implementation's tables).
  private[functions] val LlDefaultCounts: Array[Int] = Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private[functions] val MlDefaultCounts: Array[Int] = Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1, -1, -1)
  private[functions] val OfDefaultCounts: Array[Int] = Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1)
  private final val LlDefaultAl = 6
  private final val MlDefaultAl = 6
  private final val OfDefaultAl = 5
  private final val LlMaxAl = 9
  private final val MlMaxAl = 9
  private final val OfMaxAl = 8
  private final val LlMaxSym = 35
  private final val MlMaxSym = 52
  private final val OfMaxSym = 31

  /** Literals-length code -> (baseline, extra bits). Codes 0-15 are
    * the value itself. */
  private[functions] val LlBase: Array[Int] = Array(
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 18, 20,
    22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048, 4096, 8192,
    16384, 32768, 65536)
  private[functions] val LlBits: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2,
    3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  /** Match-length code -> (baseline, extra bits). Codes 0-31 are
    * value - 3. */
  private[functions] val MlBase: Array[Int] = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20,
    21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 37, 39,
    41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027, 2051, 4099,
    8195, 16387, 32771, 65539)
  private[functions] val MlBits: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7,
    8, 9, 10, 11, 12, 13, 14, 15, 16)

  private lazy val LlDefaultDec = buildFseDec(LlDefaultCounts, LlDefaultAl)
  private lazy val MlDefaultDec = buildFseDec(MlDefaultCounts, MlDefaultAl)
  private lazy val OfDefaultDec = buildFseDec(OfDefaultCounts, OfDefaultAl)

  // --------------------------------------------------------------- Huffman

  /** Huffman decode table: direct lookup on maxBits peeked bits. */
  private final class HufDec(val symbol: Array[Byte], val nbBits: Array[Int],
      val maxBits: Int)

  /** Build the canonical table from explicit weights (implied last
    * weight already appended). Fill order: ascending weight, ascending
    * symbol — RFC 8878 §4.2.1's canonical assignment. */
  private def buildHufFromWeights(weights: Array[Int]): HufDec = {
    var total = 0L
    var maxW = 0
    var s = 0
    while (s < weights.length) {
      val w = weights(s)
      if (w > 0) { total += 1L << (w - 1); if (w > maxW) maxW = w }
      s += 1
    }
    if (total == 0 || maxW > 11 + 1) fail()
    val maxBits = highBit(total.toInt) // total must be 2^maxBits
    if ((1L << maxBits) != total || maxBits > 11 || maxBits < 1) fail()
    val size = 1 << maxBits
    val symbol = new Array[Byte](size)
    val nbBits = new Array[Int](size)
    var pos = 0
    var w = 1
    while (w <= maxBits) {
      var sy = 0
      while (sy < weights.length) {
        if (weights(sy) == w) {
          val len = maxBits + 1 - w
          val cells = 1 << (w - 1)
          var i = 0
          while (i < cells) { symbol(pos + i) = sy.toByte; nbBits(pos + i) = len; i += 1 }
          pos += cells
        }
        sy += 1
      }
      w += 1
    }
    if (pos != size) fail()
    new HufDec(symbol, nbBits, maxBits)
  }

  /** Parse a Huffman tree description at b[off..end): direct 4-bit
    * weights (header >= 128) or FSE-compressed weights (header < 128:
    * two interleaved states over a backward stream). Returns
    * (table, bytes consumed). */
  private def readHufTable(b: Array[Byte], off: Int, end: Int): (HufDec, Int) = {
    if (off >= end) fail()
    val hb = b(off) & 0xff
    if (hb >= 128) {
      val numWeights = hb - 127
      val nibBytes = (numWeights + 1) / 2
      if (off + 1 + nibBytes > end) fail()
      val weights = new Array[Int](numWeights + 1)
      var i = 0
      while (i < numWeights) {
        val byte = b(off + 1 + (i >> 1)) & 0xff
        weights(i) = if ((i & 1) == 0) byte >> 4 else byte & 0xf
        i += 1
      }
      weights(numWeights) = impliedLastWeight(weights, numWeights)
      (buildHufFromWeights(weights), 1 + nibBytes)
    } else {
      val compSize = hb
      if (off + 1 + compSize > end) fail()
      val regionStart = off + 1
      val regionEnd = off + 1 + compSize
      val fr = new ForeReader(b, regionStart, regionEnd)
      val (counts, al) = readNCount(fr, maxAl = 6, maxSym = 15)
      val table = buildFseDec(counts, al)
      val streamStart = regionStart + fr.bytesConsumed
      if (streamStart >= regionEnd) fail()
      val back = new BackReader(b, streamStart, regionEnd)
      var st1 = back.read(al)
      var st2 = back.read(al)
      val ws = new Array[Int](256)
      var n = 0
      var done = false
      while (!done) {
        if (n >= 255) fail()
        ws(n) = table.symbol(st1); n += 1
        if (back.bitsLeft < table.nbBits(st1)) {
          if (n >= 255) fail()
          ws(n) = table.symbol(st2); n += 1
          done = true
        } else {
          st1 = table.baseline(st1) + back.read(table.nbBits(st1))
          val t = st1; st1 = st2; st2 = t
        }
      }
      val weights = new Array[Int](n + 1)
      System.arraycopy(ws, 0, weights, 0, n)
      weights(n) = impliedLastWeight(weights, n)
      (buildHufFromWeights(weights), 1 + compSize)
    }
  }

  /** The last symbol's weight is implied: the leftover to the next
    * power of two, which must itself be a power of two. */
  private def impliedLastWeight(weights: Array[Int], n: Int): Int = {
    var total = 0L
    var i = 0
    while (i < n) { if (weights(i) > 0) total += 1L << (weights(i) - 1); i += 1 }
    if (total == 0) fail()
    val maxBits = highBit(total.toInt) + 1
    val leftover = (1L << maxBits) - total
    if (leftover <= 0 || (leftover & (leftover - 1)) != 0) fail()
    highBit(leftover.toInt) + 1
  }

  /** Decode one Huffman stream of exactly `count` symbols into
    * out[outPos..). Requires the stream to be consumed exactly. */
  private def hufDecodeStream(table: HufDec, b: Array[Byte], start: Int,
      end: Int, out: Array[Byte], outPos: Int, count: Int): Unit = {
    val back = new BackReader(b, start, end)
    var produced = 0
    while (produced < count) {
      val idx = back.peek(table.maxBits)
      out(outPos + produced) = table.symbol(idx)
      back.consume(table.nbBits(idx))
      if (back.bitsLeft < 0) fail()
      produced += 1
    }
    if (back.bitsLeft != 0) fail()
  }

  // ---------------------------------------------------------- dictionaries

  /** A parsed RFC 8878 §5 dictionary: entropy tables seed the first
    * block's Repeat/Treeless modes, reps seed the offset history,
    * content is prefix match history. Raw dictionaries (no magic) are
    * pure content with default tables/reps. */
  private final class ZDict(val dictId: Long, val huf: HufDec,
      val ofTab: FseDec, val mlTab: FseDec, val llTab: FseDec,
      val rep1: Long, val rep2: Long, val rep3: Long,
      val content: Array[Byte])

  private final val DictMagic = 0xec30a437L

  private def parseDictionary(d: Array[Byte]): ZDict = {
    if (d == null) fail()
    @inline def u32(i: Int): Long =
      (d(i) & 0xffL) | ((d(i + 1) & 0xffL) << 8) |
        ((d(i + 2) & 0xffL) << 16) | ((d(i + 3) & 0xffL) << 24)
    if (d.length < 8 || u32(0) != DictMagic)
      return new ZDict(0, null, null, null, null, 1L, 4L, 8L, d) // raw dict
    val dictId = u32(4)
    var p = 8
    val (huf, used) = readHufTable(d, p, d.length)
    p += used
    // FSE tables in stream order: offsets, match lengths, literal
    // lengths (each description byte-aligned)
    val fr1 = new ForeReader(d, p, d.length)
    val (ofC, ofAl) = readNCount(fr1, OfMaxAl, OfMaxSym)
    val ofTab = buildFseDec(ofC, ofAl)
    p += fr1.bytesConsumed
    val fr2 = new ForeReader(d, p, d.length)
    val (mlC, mlAl) = readNCount(fr2, MlMaxAl, MlMaxSym)
    val mlTab = buildFseDec(mlC, mlAl)
    p += fr2.bytesConsumed
    val fr3 = new ForeReader(d, p, d.length)
    val (llC, llAl) = readNCount(fr3, LlMaxAl, LlMaxSym)
    val llTab = buildFseDec(llC, llAl)
    p += fr3.bytesConsumed
    if (p + 12 > d.length) fail()
    val r1 = u32(p); val r2 = u32(p + 4); val r3 = u32(p + 8)
    p += 12
    if (r1 <= 0 || r2 <= 0 || r3 <= 0) fail()
    val content = java.util.Arrays.copyOfRange(d, p, d.length)
    if (r1 > content.length || r2 > content.length || r3 > content.length)
      fail() // reps must point into representable history
    new ZDict(dictId, huf, ofTab, mlTab, llTab, r1, r2, r3, content)
  }

  // -------------------------------------------------------------- literals

  /** Per-frame decoder state carried across blocks (Treeless literals
    * and Repeat sequence modes); seeded from the dictionary when one
    * is in play. */
  private final class FrameState(dict: ZDict) {
    var huf: HufDec = if (dict != null) dict.huf else null
    var llTab: FseDec = if (dict != null) dict.llTab else null
    var ofTab: FseDec = if (dict != null) dict.ofTab else null
    var mlTab: FseDec = if (dict != null) dict.mlTab else null
    var rep1 = if (dict != null) dict.rep1 else 1L
    var rep2 = if (dict != null) dict.rep2 else 4L
    var rep3 = if (dict != null) dict.rep3 else 8L
    // This frame's regenerated output, held in ONE growable window so
    // match copies read it directly: total decode cost stays O(frame
    // bytes) regardless of block count (no per-block re-materialize).
    var frame: Array[Byte] = new Array[Byte](4096)
    var frameLen: Int = 0
    def ensure(n: Int): Unit = {
      val need = frameLen + n
      if (need > frame.length) {
        var cap = frame.length
        while (cap < need) cap <<= 1
        frame = java.util.Arrays.copyOf(frame, cap)
      }
    }
  }

  /** Decode the literals section at b[p..blockEnd). Returns
    * (literals bytes, literal count, bytes consumed). */
  private def decodeLiterals(b: Array[Byte], p: Int, blockEnd: Int,
      st: FrameState): (Array[Byte], Int, Int) = {
    if (p >= blockEnd) fail()
    val b0 = b(p) & 0xff
    val litType = b0 & 3
    val sizeFormat = (b0 >> 2) & 3
    if (litType <= 1) {
      // Raw / RLE
      var regen = 0
      var hdr = 0
      if ((sizeFormat & 1) == 0) { regen = b0 >> 3; hdr = 1 }
      else if (sizeFormat == 1) {
        if (p + 2 > blockEnd) fail()
        regen = (b0 >> 4) | ((b(p + 1) & 0xff) << 4); hdr = 2
      } else {
        if (p + 3 > blockEnd) fail()
        regen = (b0 >> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 0xff) << 12); hdr = 3
      }
      if (regen > BlockMax) fail()
      val lits = new Array[Byte](regen)
      if (litType == 0) {
        if (p + hdr + regen > blockEnd) fail()
        System.arraycopy(b, p + hdr, lits, 0, regen)
        (lits, regen, hdr + regen)
      } else {
        if (p + hdr + 1 > blockEnd) fail()
        java.util.Arrays.fill(lits, b(p + hdr))
        (lits, regen, hdr + 1)
      }
    } else {
      // Compressed / Treeless
      var regen = 0; var comp = 0; var hdr = 0; var fourStreams = true
      sizeFormat match {
        case 0 | 1 =>
          if (p + 3 > blockEnd) fail()
          regen = (b0 >> 4) | ((b(p + 1) & 0x3f) << 4)
          comp = ((b(p + 1) & 0xff) >> 6) | ((b(p + 2) & 0xff) << 2)
          hdr = 3
          fourStreams = sizeFormat == 1
        case 2 =>
          if (p + 4 > blockEnd) fail()
          regen = (b0 >> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 3) << 12)
          comp = ((b(p + 2) & 0xff) >> 2) | ((b(p + 3) & 0xff) << 6)
          hdr = 4
        case _ =>
          if (p + 5 > blockEnd) fail()
          regen = (b0 >> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 0x3f) << 12)
          comp = ((b(p + 2) & 0xff) >> 6) | ((b(p + 3) & 0xff) << 2) |
            ((b(p + 4) & 0xff) << 10)
          hdr = 5
      }
      if (regen > BlockMax || comp <= 0 || p + hdr + comp > blockEnd) fail()
      var q = p + hdr
      val compEnd = q + comp
      if (litType == 2) {
        val (tab, used) = readHufTable(b, q, compEnd)
        st.huf = tab
        q += used
      } else if (st.huf == null) fail() // Treeless without a prior table
      val table = st.huf
      val lits = new Array[Byte](regen)
      if (!fourStreams) {
        hufDecodeStream(table, b, q, compEnd, lits, 0, regen)
      } else {
        if (q + 6 > compEnd) fail()
        @inline def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
        val s1 = u16(q); val s2 = u16(q + 2); val s3 = u16(q + 4)
        q += 6
        val quarter = (regen + 3) / 4
        val last = regen - 3 * quarter
        if (last < 0) fail()
        val e1 = q + s1; val e2 = e1 + s2; val e3 = e2 + s3
        if (e3 > compEnd) fail()
        hufDecodeStream(table, b, q, e1, lits, 0, quarter)
        hufDecodeStream(table, b, e1, e2, lits, quarter, quarter)
        hufDecodeStream(table, b, e2, e3, lits, 2 * quarter, quarter)
        hufDecodeStream(table, b, e3, compEnd, lits, 3 * quarter, last)
      }
      (lits, regen, hdr + comp)
    }
  }

  // ------------------------------------------------------------- sequences

  /** Read one sequence-code table per its 2-bit mode. */
  private def readSeqTable(mode: Int, b: Array[Byte], p0: Int, end: Int,
      prev: FseDec, defaultDec: => FseDec, maxAl: Int, maxSym: Int): (FseDec, Int) =
    mode match {
      case 0 => (defaultDec, 0)
      case 1 =>
        if (p0 >= end) fail()
        val sym = b(p0) & 0xff
        if (sym > maxSym) fail()
        (rleFseDec(sym), 1)
      case 2 =>
        val fr = new ForeReader(b, p0, end)
        val (counts, al) = readNCount(fr, maxAl, maxSym)
        (buildFseDec(counts, al), fr.bytesConsumed)
      case _ =>
        if (prev == null) fail() // Repeat without a prior table
        (prev, 0)
    }

  /** Decode and execute the sequences section; appends the block's
    * regenerated bytes to `st.frame` (this frame's window). `hist` is
    * the dictionary content preceding the frame for match copies. */
  private def decodeSequences(b: Array[Byte], p0: Int, blockEnd: Int,
      lits: Array[Byte], litLen: Int, st: FrameState,
      hist: Array[Byte]): Unit = {
    var p = p0
    if (p >= blockEnd) fail()
    // sequence count: 1-3 bytes
    val h0 = b(p) & 0xff; p += 1
    var nbSeq = 0
    if (h0 < 128) nbSeq = h0
    else if (h0 < 255) {
      if (p >= blockEnd) fail()
      nbSeq = ((h0 - 128) << 8) + (b(p) & 0xff); p += 1
    } else {
      if (p + 2 > blockEnd) fail()
      nbSeq = (b(p) & 0xff) + ((b(p + 1) & 0xff) << 8) + 0x7f00; p += 2
    }
    if (nbSeq == 0) {
      // literals only; tables untouched
      if (p != blockEnd) fail()
      st.ensure(litLen)
      System.arraycopy(lits, 0, st.frame, st.frameLen, litLen)
      st.frameLen += litLen
      return
    }
    if (p >= blockEnd) fail()
    val modes = b(p) & 0xff; p += 1
    if ((modes & 3) != 0) fail() // reserved bits
    val llMode = (modes >> 6) & 3
    val ofMode = (modes >> 4) & 3
    val mlMode = (modes >> 2) & 3
    val (llTab, c1) = readSeqTable(llMode, b, p, blockEnd, st.llTab, LlDefaultDec, LlMaxAl, LlMaxSym)
    p += c1
    val (ofTab, c2) = readSeqTable(ofMode, b, p, blockEnd, st.ofTab, OfDefaultDec, OfMaxAl, OfMaxSym)
    p += c2
    val (mlTab, c3) = readSeqTable(mlMode, b, p, blockEnd, st.mlTab, MlDefaultDec, MlMaxAl, MlMaxSym)
    p += c3
    st.llTab = llTab; st.ofTab = ofTab; st.mlTab = mlTab

    val back = new BackReader(b, p, blockEnd)
    var llState = back.read(llTab.accuracyLog)
    var ofState = back.read(ofTab.accuracyLog)
    var mlState = back.read(mlTab.accuracyLog)

    var litPos = 0
    val blockStart = st.frameLen
    var seq = 0
    while (seq < nbSeq) {
      val ofCode = ofTab.symbol(ofState)
      if (ofCode > 31) fail()
      val offsetValue = (1L << ofCode) + back.readLong(ofCode)
      val mlCode = mlTab.symbol(mlState)
      if (mlCode > MlMaxSym) fail()
      val ml = MlBase(mlCode) + back.read(MlBits(mlCode))
      val llCode = llTab.symbol(llState)
      if (llCode > LlMaxSym) fail()
      val ll = LlBase(llCode) + back.read(LlBits(llCode))

      // repeat-offset resolution (RFC 8878 §3.1.1.5)
      var offset = 0L
      if (offsetValue > 3) {
        offset = offsetValue - 3
        st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
      } else {
        val idx = if (ll == 0) offsetValue + 1 else offsetValue
        idx match {
          case 1 => offset = st.rep1
          case 2 =>
            offset = st.rep2
            st.rep2 = st.rep1; st.rep1 = offset
          case 3 =>
            offset = st.rep3
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
          case _ => // ll == 0 && offsetValue == 3 -> rep1 - 1
            offset = st.rep1 - 1
            if (offset <= 0) fail()
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
        }
      }

      if (seq < nbSeq - 1) {
        llState = llTab.baseline(llState) + back.read(llTab.nbBits(llState))
        mlState = mlTab.baseline(mlState) + back.read(mlTab.nbBits(mlState))
        ofState = ofTab.baseline(ofState) + back.read(ofTab.nbBits(ofState))
      }

      // execute: literals run, then match copy
      if (litPos + ll > litLen) fail()
      st.ensure(ll + ml)
      System.arraycopy(lits, litPos, st.frame, st.frameLen, ll)
      litPos += ll; st.frameLen += ll
      // the match window starts at the dictionary's first byte, then
      // THIS frame's first byte; offsets reaching further back are
      // corrupt
      if (offset > st.frameLen.toLong + hist.length) fail()
      if (st.frameLen.toLong + ml > Limits.ZstdOut) fail()
      var k = 0L
      while (k < ml) {
        val src = st.frameLen.toLong - offset
        st.frame(st.frameLen) =
          if (src >= 0) st.frame(src.toInt)
          else hist((hist.length + src).toInt) // dictionary history
        st.frameLen += 1
        k += 1
      }
      seq += 1
    }
    if (back.bitsLeft != 0) fail()
    // trailing literals
    val rest = litLen - litPos
    st.ensure(rest)
    System.arraycopy(lits, litPos, st.frame, st.frameLen, rest)
    st.frameLen += rest
    if (st.frameLen - blockStart > BlockMax) fail()
  }

  // ---------------------------------------------------------------- frames

  /** Decode one zstd frame starting at b(off); appends content to
    * `out`, returns the offset just past the frame. `dict` may be
    * null (then a dict-flagged frame fails). */
  private def decodeFrame(b: Array[Byte], off: Int,
      out: java.io.ByteArrayOutputStream, dict: ZDict): Int = {
    var p = off + 4 // past magic
    if (p >= b.length) fail()
    val fhd = b(p) & 0xff; p += 1
    if ((fhd & 0x08) != 0) fail() // reserved bit
    val fcsFlag = fhd >> 6
    val singleSegment = (fhd & 0x20) != 0
    val hasChecksum = (fhd & 0x04) != 0
    val didFlag = fhd & 3
    var windowSize = 0L
    if (!singleSegment) {
      if (p >= b.length) fail()
      val wd = b(p) & 0xff; p += 1
      val base = 1L << (10 + (wd >> 3))
      windowSize = base + (base / 8) * (wd & 7)
    }
    val didLen = didFlag match { case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4 }
    if (p + didLen > b.length) fail()
    var dictId = 0L
    var k = 0
    while (k < didLen) { dictId |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
    p += didLen
    if (dictId != 0) {
      // a dict-flagged frame needs the matching dictionary supplied
      if (dict == null) fail()
      if (dict.dictId != 0 && dict.dictId != dictId) fail()
    }
    val fcsLen = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    if (p + fcsLen > b.length) fail()
    var contentSize = -1L
    if (fcsLen > 0) {
      contentSize = 0L
      k = 0
      while (k < fcsLen) { contentSize |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
      if (fcsLen == 2) contentSize += 256
      // an 8-byte FCS with bit 63 set would wrap negative and slip past
      // the admission + verification compares below: treat as over-cap
      if (contentSize < 0) fail()
      p += fcsLen
    }
    if (singleSegment) windowSize = if (contentSize >= 0) contentSize else 0L
    if (windowSize > Limits.ZstdWindow) fail() // admission control, not format
    if (contentSize > Limits.ZstdOut) fail()

    val st = new FrameState(dict)
    val hist = if (dict != null) dict.content else Array.emptyByteArray
    var last = false
    while (!last) {
      if (p + 3 > b.length) fail()
      val bh = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)
      p += 3
      last = (bh & 1) != 0
      val btype = (bh >> 1) & 3
      val bsize = bh >>> 3
      btype match {
        case 0 => // Raw
          if (p + bsize > b.length || bsize > BlockMax) fail()
          st.ensure(bsize)
          System.arraycopy(b, p, st.frame, st.frameLen, bsize)
          st.frameLen += bsize; p += bsize
        case 1 => // RLE: 1 stored byte, bsize = regenerated size
          if (p >= b.length || bsize > BlockMax) fail()
          val v = b(p); p += 1
          st.ensure(bsize)
          java.util.Arrays.fill(st.frame, st.frameLen, st.frameLen + bsize, v)
          st.frameLen += bsize
        case 2 => // Compressed
          if (p + bsize > b.length || bsize > BlockMax + 3) fail()
          val blockEnd = p + bsize
          val (lits, litLen, used) = decodeLiterals(b, p, blockEnd, st)
          decodeSequences(b, p + used, blockEnd, lits, litLen, st, hist)
          p = blockEnd
        case _ => fail() // Reserved
      }
      if (st.frameLen > Limits.ZstdOut) fail()
    }
    val produced = st.frameLen
    if (contentSize >= 0 && produced != contentSize) fail()
    if (hasChecksum) {
      if (p + 4 > b.length) fail()
      val h = xxh64(st.frame, 0, produced)
      val stored = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
      if ((h & 0xffffffffL) != stored) fail()
      p += 4
    }
    out.write(st.frame, 0, produced)
    p
  }

  /** Full decode of a (possibly multi-frame) zstd payload; skippable
    * frames are skipped; trailing garbage, truncation, or any
    * malformation -> None. */
  def decompress(b: Array[Byte]): Option[Array[Byte]] =
    decompressInner(b, null)

  /** Decode with an RFC 8878 §5 dictionary (structured or raw bytes);
    * every content frame in the payload uses it. A null/unparseable
    * dictionary, or a frame whose declared dictionary id mismatches,
    * -> None. */
  def decompressWithDict(b: Array[Byte], dict: Array[Byte]): Option[Array[Byte]] = {
    try decompressInner(b, parseDictionary(dict))
    catch {
      case _: Corrupt => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  private def decompressInner(b: Array[Byte], dict: ZDict): Option[Array[Byte]] = {
    if (b == null) return None
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 3 + 64, 1 << 20))
      var p = 0
      var sawFrame = false
      while (p < b.length) {
        if (p + 4 > b.length) fail()
        val magic = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
          ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
        if ((magic & 0xfffffff0L) == 0x184d2a50L) {
          if (p + 8 > b.length) fail()
          val len = (b(p + 4) & 0xffL) | ((b(p + 5) & 0xffL) << 8) |
            ((b(p + 6) & 0xffL) << 16) | ((b(p + 7) & 0xffL) << 24)
          if (p + 8 + len > b.length) fail()
          p += 8 + len.toInt
        } else if (magic == 0xfd2fb528L) {
          p = decodeFrame(b, p, out, dict)
          sawFrame = true
          if (out.size() > Limits.ZstdOut) fail() // total cap across frames
        } else fail()
      }
      if (!sawFrame) None else Some(out.toByteArray)
    } catch {
      case _: Corrupt => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  // ============================================================== ENCODER

  /** FSE encode table (the exact inverse of [[buildFseDec]] over the
    * same symbol spread). deltaNbBits/deltaFindState follow the
    * published state-machine construction; encoding emits
    * `(state + deltaNbBits) >> 16` bits of the current state and hops
    * through `nextState`. */
  private final class FseEnc(counts: Array[Int], val al: Int) {
    val size = 1 << al
    private val spread = spreadSymbols(counts, al)
    val nextState = new Array[Int](size)
    val deltaNbBits = new Array[Int](counts.length)
    val deltaFindState = new Array[Int](counts.length)
    locally {
      val cumul = new Array[Int](counts.length + 1)
      var s = 0
      while (s < counts.length) {
        cumul(s + 1) = cumul(s) + (if (counts(s) == -1) 1 else counts(s))
        s += 1
      }
      val idx = java.util.Arrays.copyOf(cumul, counts.length)
      var p = 0
      while (p < size) {
        val sym = spread(p)
        nextState(idx(sym)) = size + p
        idx(sym) += 1
        p += 1
      }
      var total = 0
      s = 0
      while (s < counts.length) {
        counts(s) match {
          case 0 =>
            deltaNbBits(s) = ((al + 1) << 16) - size // never encoded
          case -1 | 1 =>
            deltaNbBits(s) = (al << 16) - size
            deltaFindState(s) = total - 1
            total += 1
          case c =>
            val maxBitsOut = al - highBit(c - 1)
            deltaNbBits(s) = (maxBitsOut << 16) - (c << maxBitsOut)
            deltaFindState(s) = total - c
            total += c
        }
        s += 1
      }
    }
    def init(sym: Int): Int = {
      val nbBitsOut = (deltaNbBits(sym) + (1 << 15)) >> 16
      nextState((((nbBitsOut << 16) - deltaNbBits(sym)) >> nbBitsOut) + deltaFindState(sym))
    }
    def encode(state: Int, sym: Int, bw: BitWriter): Int = {
      val nbBitsOut = (state + deltaNbBits(sym)) >> 16
      bw.add(state.toLong, nbBitsOut)
      nextState((state >> nbBitsOut) + deltaFindState(sym))
    }
    def flush(state: Int, bw: BitWriter): Unit = bw.add(state.toLong, al)
  }

  private lazy val LlDefaultEnc = new FseEnc(LlDefaultCounts.clone(), LlDefaultAl)
  private lazy val MlDefaultEnc = new FseEnc(MlDefaultCounts.clone(), MlDefaultAl)
  private lazy val OfDefaultEnc = new FseEnc(OfDefaultCounts.clone(), OfDefaultAl)

  /** Write a normalized-count description (the inverse of
    * [[readNCount]]): 4-bit accuracy, low/high split values, 2-bit
    * zero-run repeats, byte-aligned. */
  private[functions] def writeNCount(bw: BitWriter, counts: Array[Int], al: Int): Unit = {
    bw.add((al - 5).toLong, 4)
    var remaining = (1 << al) + 1
    var threshold = 1 << al
    var nbBits = al + 1
    var charnum = 0
    var previous0 = false
    while (remaining > 1 && charnum < counts.length) {
      if (previous0) {
        var start = charnum
        while (charnum < counts.length && counts(charnum) == 0) charnum += 1
        while (charnum >= start + 3) { bw.add(3L, 2); start += 3 }
        bw.add((charnum - start).toLong, 2)
        previous0 = false
      }
      if (remaining > 1 && charnum < counts.length) {
        val c = counts(charnum)
        charnum += 1
        var v = c + 1 // -1 -> 0
        val max = (2 * threshold - 1) - remaining
        remaining -= (if (c < 0) -c else c)
        if (v >= threshold) v += max
        if (v < max) bw.add(v.toLong, nbBits - 1)
        else bw.add(v.toLong, nbBits)
        previous0 = c == 0
        while (remaining < threshold) { nbBits -= 1; threshold >>= 1 }
      }
    }
    bw.alignForward()
  }

  /** Value -> code for literal lengths / match lengths. */
  @inline private def llCode(v: Int): Int = {
    if (v < 16) v
    else {
      var c = 35
      while (LlBase(c) > v) c -= 1
      c
    }
  }
  @inline private def mlCode(v: Int): Int = {
    if (v <= 34) v - 3
    else {
      var c = 52
      while (MlBase(c) > v) c -= 1
      c
    }
  }

  private final case class Seq_(ll: Int, ml: Int, offset: Int)

  /** Greedy hash-chain LZ77: 4-byte hashes, bounded chain walk,
    * matches extend as far as they reach. `b` = history ++ data;
    * sequences and literals are emitted for positions [histLen, to)
    * only, but matches may anchor anywhere in `b` — history positions
    * are pre-seeded into the chains, so a RAW dictionary (or any
    * caller-supplied prefix) serves as match history exactly as the
    * decoder's dict window allows. */
  private def findSequences(b: Array[Byte], histLen: Int, to: Int):
      (Array[Seq_], Array[Byte], Int) = {
    val n = to - histLen
    val seqs = scala.collection.mutable.ArrayBuffer.empty[Seq_]
    val lits = new Array[Byte](n)
    var litLen = 0
    if (n < 16) { // too small to bother
      System.arraycopy(b, histLen, lits, 0, n)
      return (Array.empty, lits, n)
    }
    val hashLog = 15
    val hashSize = 1 << hashLog
    val head = new Array[Int](hashSize)
    java.util.Arrays.fill(head, -1)
    val chain = new Array[Int](to)
    @inline def hash4(i: Int): Int = {
      val v = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
      (v * -1640531527) >>> (32 - hashLog) // Knuth multiplicative
    }
    val limit = to - 4
    // seed the chains with the history positions
    var i = 0
    while (i < histLen && i <= limit) {
      val h = hash4(i)
      chain(i) = head(h)
      head(h) = i
      i += 1
    }
    i = histLen
    var anchor = histLen
    while (i <= limit) {
      val h = hash4(i)
      var cand = head(h)
      var bestLen = 0
      var bestPos = -1
      var steps = 0
      while (cand >= 0 && steps < 16) {
        // verify + extend
        var l = 0
        val maxL = to - i
        while (l < maxL && b(cand + l) == b(i + l)) l += 1
        if (l > bestLen) { bestLen = l; bestPos = cand }
        cand = chain(cand)
        steps += 1
      }
      chain(i) = head(h)
      head(h) = i
      if (bestLen >= 4) {
        val ll = i - anchor
        System.arraycopy(b, anchor, lits, litLen, ll)
        litLen += ll
        val ml = math.min(bestLen, 131074) // max expressible match
        seqs += Seq_(ll, ml, i - bestPos)
        // index a few positions inside the match so later matches can
        // anchor there (cheap middle ground vs full insertion)
        var j = i + 1
        val insEnd = math.min(i + ml, limit)
        while (j < insEnd && j - i <= 8) {
          val hj = hash4(j)
          chain(j) = head(hj)
          head(hj) = j
          j += 1
        }
        i += ml
        anchor = i
      } else i += 1
    }
    val tail = to - anchor
    System.arraycopy(b, anchor, lits, litLen, tail)
    litLen += tail
    (seqs.toArray, lits, litLen)
  }

  /** Canonical Huffman over the literal bytes. Returns null when
    * Huffman can't help or can't be represented with direct weights
    * (alphabet > 128, depth > 11, single symbol): the caller falls
    * back to Raw/RLE literals. Code values come from the same
    * ascending-(weight, symbol) fill as the decoder table, so they
    * agree by construction. */
  private final class HufEnc(val codes: Array[Int], val lens: Array[Int],
      val maxBits: Int, val maxSymbol: Int, val weights: Array[Int])

  private def buildHufEnc(lits: Array[Byte], litLen: Int): HufEnc = {
    val freq = new Array[Long](256)
    var i = 0
    while (i < litLen) { freq(lits(i) & 0xff) += 1; i += 1 }
    var maxSymbol = -1
    var distinct = 0
    i = 0
    while (i < 256) {
      if (freq(i) > 0) { maxSymbol = i; distinct += 1 }
      i += 1
    }
    if (distinct < 2 || maxSymbol > 127) return null
    // plain two-queue Huffman over (freq, symbol)
    final case class Node(f: Long, sym: Int, l: Node, r: Node)
    val pq = new scala.collection.mutable.PriorityQueue[Node]()(
      Ordering.by((n: Node) => (-n.f, -n.sym)))
    i = 0
    while (i < 256) { if (freq(i) > 0) pq.enqueue(Node(freq(i), i, null, null)); i += 1 }
    while (pq.size > 1) {
      val a = pq.dequeue(); val b2 = pq.dequeue()
      pq.enqueue(Node(a.f + b2.f, math.min(a.sym, b2.sym), a, b2))
    }
    val lens = new Array[Int](maxSymbol + 1)
    def walk(n: Node, d: Int): Unit =
      if (n.l == null) lens(n.sym) = math.max(d, 1)
      else { walk(n.l, d + 1); walk(n.r, d + 1) }
    walk(pq.dequeue(), 0)
    var maxLen = 0
    i = 0
    while (i <= maxSymbol) { if (lens(i) > maxLen) maxLen = lens(i); i += 1 }
    if (maxLen > 11) return null // depth cap (rare; Raw fallback is valid)
    // weights + canonical codes via the decoder's fill order
    val weights = new Array[Int](maxSymbol + 1)
    i = 0
    while (i <= maxSymbol) {
      if (lens(i) > 0) weights(i) = maxLen + 1 - lens(i)
      i += 1
    }
    val codes = new Array[Int](maxSymbol + 1)
    var pos = 0
    var w = 1
    while (w <= maxLen) {
      var s = 0
      while (s <= maxSymbol) {
        if (weights(s) == w) {
          codes(s) = pos >> (w - 1)
          pos += 1 << (w - 1)
        }
        s += 1
      }
      w += 1
    }
    if (pos != (1 << maxLen)) return null // incomplete (shouldn't happen)
    new HufEnc(codes, lens, maxLen, maxSymbol, weights)
  }

  /** One Huffman stream: symbols' codes written in REVERSE symbol
    * order (the backward reader then yields them forward), sentinel
    * closed. Returns the stream bytes. */
  private def hufEncodeStream(enc: HufEnc, lits: Array[Byte], from: Int,
      until: Int): Array[Byte] = {
    val bw = new BitWriter
    var i = until - 1
    while (i >= from) {
      val s = lits(i) & 0xff
      bw.add(enc.codes(s).toLong, enc.lens(s))
      i -= 1
    }
    bw.closeBackStream()
    bw.toArray
  }

  /** Literals section (header + optional tree + streams) for one
    * block. Chooses RLE / Huffman-compressed / Raw. */
  private def encodeLiterals(lits: Array[Byte], litLen: Int,
      out: java.io.ByteArrayOutputStream): Unit = {
    // RLE literals
    var allSame = litLen > 0
    var i = 1
    while (allSame && i < litLen) { allSame = lits(i) == lits(0); i += 1 }
    if (allSame && litLen >= 2) {
      writeRawRleLitHeader(out, 1, litLen)
      out.write(lits(0))
      return
    }
    val enc = if (litLen >= 32) buildHufEnc(lits, litLen) else null
    if (enc != null) {
      // tree description: direct 4-bit weights
      val numWeights = enc.maxSymbol // weights 0..maxSymbol-1; last implied
      val tree = new java.io.ByteArrayOutputStream(1 + (numWeights + 1) / 2)
      tree.write(127 + numWeights)
      var k = 0
      while (k < numWeights) {
        val hi = enc.weights(k)
        val lo = if (k + 1 < numWeights) enc.weights(k + 1) else 0
        tree.write((hi << 4) | lo)
        k += 2
      }
      val treeBytes = tree.toByteArray
      val oneStream = litLen <= 1023
      val body = new java.io.ByteArrayOutputStream(litLen / 2 + 16)
      body.write(treeBytes, 0, treeBytes.length)
      if (oneStream) {
        val s = hufEncodeStream(enc, lits, 0, litLen)
        body.write(s, 0, s.length)
      } else {
        val quarter = (litLen + 3) / 4
        val s1 = hufEncodeStream(enc, lits, 0, quarter)
        val s2 = hufEncodeStream(enc, lits, quarter, 2 * quarter)
        val s3 = hufEncodeStream(enc, lits, 2 * quarter, 3 * quarter)
        val s4 = hufEncodeStream(enc, lits, 3 * quarter, litLen)
        if (s1.length > 0xffff || s2.length > 0xffff || s3.length > 0xffff) {
          writeRawLiterals(out, lits, litLen); return
        }
        body.write(s1.length & 0xff); body.write(s1.length >> 8)
        body.write(s2.length & 0xff); body.write(s2.length >> 8)
        body.write(s3.length & 0xff); body.write(s3.length >> 8)
        body.write(s1, 0, s1.length); body.write(s2, 0, s2.length)
        body.write(s3, 0, s3.length); body.write(s4, 0, s4.length)
      }
      val comp = body.toByteArray
      val headerLen = if (oneStream) 3 else if (litLen <= 16383 && comp.length <= 16383) 4 else 5
      if (comp.length + headerLen < litLen) {
        if (oneStream) {
          if (comp.length <= 1023) {
            // sf 00: 1 stream, 10-bit sizes
            out.write(2 | (0 << 2) | ((litLen & 0xf) << 4))
            out.write(((litLen >> 4) & 0x3f) | ((comp.length & 3) << 6))
            out.write((comp.length >> 2) & 0xff)
            out.write(comp, 0, comp.length)
            return
          }
        } else if (headerLen == 4) {
          // sf 10: 4 streams, 14-bit sizes
          out.write(2 | (2 << 2) | ((litLen & 0xf) << 4))
          out.write((litLen >> 4) & 0xff)
          out.write(((litLen >> 12) & 3) | ((comp.length & 0x3f) << 2))
          out.write((comp.length >> 6) & 0xff)
          out.write(comp, 0, comp.length)
          return
        } else {
          // sf 11: 4 streams, 18-bit sizes
          out.write(2 | (3 << 2) | ((litLen & 0xf) << 4))
          out.write((litLen >> 4) & 0xff)
          out.write(((litLen >> 12) & 0x3f) | ((comp.length & 3) << 6))
          out.write((comp.length >> 2) & 0xff)
          out.write((comp.length >> 10) & 0xff)
          out.write(comp, 0, comp.length)
          return
        }
      }
    }
    writeRawLiterals(out, lits, litLen)
  }

  private def writeRawRleLitHeader(out: java.io.ByteArrayOutputStream,
      litType: Int, regen: Int): Unit = {
    if (regen < 32) out.write(litType | (regen << 3))
    else if (regen < 4096) {
      out.write(litType | (1 << 2) | ((regen & 0xf) << 4))
      out.write((regen >> 4) & 0xff)
    } else {
      out.write(litType | (3 << 2) | ((regen & 0xf) << 4))
      out.write((regen >> 4) & 0xff)
      out.write((regen >> 12) & 0xff)
    }
  }

  private def writeRawLiterals(out: java.io.ByteArrayOutputStream,
      lits: Array[Byte], litLen: Int): Unit = {
    writeRawRleLitHeader(out, 0, litLen)
    out.write(lits, 0, litLen)
  }

  /** Sequences section: count, modes byte, (optionally) explicit FSE
    * descriptions of the predefined distributions, then the backward
    * interleaved state/extra-bits stream in the published write order. */
  private def encodeSequences(seqs: Array[Seq_], explicitTables: Boolean,
      out: java.io.ByteArrayOutputStream): Unit = {
    val n = seqs.length
    if (n < 128) out.write(n)
    else if (n < 0x7f00) { out.write((n >> 8) + 128); out.write(n & 0xff) }
    else { out.write(255); out.write((n - 0x7f00) & 0xff); out.write(((n - 0x7f00) >> 8) & 0xff) }
    if (n == 0) return
    val mode = if (explicitTables) 2 else 0
    out.write((mode << 6) | (mode << 4) | (mode << 2))
    if (explicitTables) {
      // LL, OF, ML descriptions, in stream order
      val bw = new BitWriter
      writeNCount(bw, LlDefaultCounts, LlDefaultAl)
      val a = bw.toArray; out.write(a, 0, a.length)
      val bw2 = new BitWriter
      writeNCount(bw2, OfDefaultCounts, OfDefaultAl)
      val b2 = bw2.toArray; out.write(b2, 0, b2.length)
      val bw3 = new BitWriter
      writeNCount(bw3, MlDefaultCounts, MlDefaultAl)
      val c = bw3.toArray; out.write(c, 0, c.length)
    }
    // per-sequence codes (no repeat-offset use: offset value = off + 3)
    val llC = new Array[Int](n); val mlC = new Array[Int](n); val ofC = new Array[Int](n)
    val llX = new Array[Int](n); val mlX = new Array[Int](n); val ofX = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = seqs(i)
      llC(i) = llCode(s.ll); llX(i) = s.ll - LlBase(llC(i))
      mlC(i) = mlCode(s.ml); mlX(i) = s.ml - MlBase(mlC(i))
      val ov = s.offset.toLong + 3
      ofC(i) = highBit(ov.toInt)
      ofX(i) = ov - (1L << ofC(i))
      i += 1
    }
    val bw = new BitWriter
    var stML = MlDefaultEnc.init(mlC(n - 1))
    var stOF = OfDefaultEnc.init(ofC(n - 1))
    var stLL = LlDefaultEnc.init(llC(n - 1))
    bw.add(llX(n - 1).toLong, LlBits(llC(n - 1)))
    bw.add(mlX(n - 1).toLong, MlBits(mlC(n - 1)))
    bw.add(ofX(n - 1), ofC(n - 1))
    i = n - 2
    while (i >= 0) {
      stOF = OfDefaultEnc.encode(stOF, ofC(i), bw)
      stML = MlDefaultEnc.encode(stML, mlC(i), bw)
      stLL = LlDefaultEnc.encode(stLL, llC(i), bw)
      bw.add(llX(i).toLong, LlBits(llC(i)))
      bw.add(mlX(i).toLong, MlBits(mlC(i)))
      bw.add(ofX(i), ofC(i))
      i -= 1
    }
    MlDefaultEnc.flush(stML, bw)
    OfDefaultEnc.flush(stOF, bw)
    LlDefaultEnc.flush(stLL, bw)
    bw.closeBackStream()
    val stream = bw.toArray
    out.write(stream, 0, stream.length)
  }

  /** Compress `raw` into a single zstd frame: single-segment, content
    * size declared, xxhash64 checksum appended. `explicitTables`
    * switches sequence coding from Predefined_Mode to explicit
    * FSE_Compressed_Mode descriptions of the same distributions. */
  def compress(raw: Array[Byte], explicitTables: Boolean = false): Array[Byte] =
    compressWithDict(raw, null, explicitTables)

  /** Compress against a RAW dictionary: `dict` bytes serve as match
    * history for every block (the decoder must be handed the same
    * bytes — [[decompressWithDict]]). The frame does NOT declare a
    * dictionary id (raw dicts have none; RFC 8878 permits dictionary
    * use without declaration). Structured-dict table seeding on the
    * encode side is out of scope (stated). */
  def compressWithDict(raw: Array[Byte], dict: Array[Byte],
      explicitTables: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    // frame header
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    val fcsFlag = if (raw.length < 256) 0 else if (raw.length < 65536 + 256) 1 else 2
    out.write((fcsFlag << 6) | 0x20 | 0x04) // single-segment + checksum
    fcsFlag match {
      case 0 => out.write(raw.length)
      case 1 =>
        val v = raw.length - 256
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
      case _ =>
        var v = raw.length
        var k = 0
        while (k < 4) { out.write(v & 0xff); v >>= 8; k += 1 }
    }
    if (raw.length == 0) {
      out.write(1); out.write(0); out.write(0) // last raw block, size 0
    } else {
      val hist = if (dict == null) Array.emptyByteArray else dict
      var from = 0
      while (from < raw.length) {
        val to = math.min(from + BlockMax, raw.length)
        val last = to == raw.length
        // search buffer = dictionary ++ the WHOLE raw prefix ++ block:
        // buffer distances then equal true stream distances for every
        // match target (dict bytes, earlier blocks, this block), which
        // is what the decoder's window check measures. Re-seeding the
        // prefix each block is O(n²/blockMax) hashing — fine for the
        // frame sizes this encoder writes (round-trips, shard tests);
        // the DECODER is the 100 TB path.
        val buf = new Array[Byte](hist.length + to)
        System.arraycopy(hist, 0, buf, 0, hist.length)
        System.arraycopy(raw, 0, buf, hist.length, to)
        val (seqs, lits, litLen) =
          findSequences(buf, hist.length + from, buf.length)
        val body = new java.io.ByteArrayOutputStream(to - from + 32)
        encodeLiterals(lits, litLen, body)
        encodeSequences(seqs, explicitTables, body)
        val comp = body.toByteArray
        val rawLen = to - from
        if (comp.length < rawLen) {
          val bh = (if (last) 1 else 0) | (2 << 1) | (comp.length << 3)
          out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
          out.write(comp, 0, comp.length)
        } else {
          val bh = (if (last) 1 else 0) | (0 << 1) | (rawLen << 3)
          out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
          out.write(raw, from, rawLen)
        }
        from = to
      }
    }
    val h = xxh64(raw, 0, raw.length)
    var k = 0
    var hv = h & 0xffffffffL
    while (k < 4) { out.write((hv & 0xff).toInt); hv >>= 8; k += 1 }
    out.toByteArray
  }
}

/** `zstd_compress(binary, explicit_tables)` -> one zstd frame
  * (single-segment, content size declared, xxhash64 checksum) per
  * [[ZstdCodec.compress]]. */
case class ZstdCompress(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, BooleanType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_compress expects (binary, boolean) input, got $other")
  }
  override def nullSafeEval(input: Any, mode: Any): Any =
    ZstdCodec.compress(input.asInstanceOf[Array[Byte]],
      mode.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZstdCompress = copy(left = newLeft, right = newRight)
  override def prettyName: String = "zstd_compress"
}

/** `zstd_decompress(binary)` -> decoded bytes, or null when the
  * payload is not a well-formed checksum-clean zstd stream
  * (permissive routing per [[ZstdCodec.decompress]]). */
case class ZstdDecompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_decompress expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    ZstdCodec.decompress(input.asInstanceOf[Array[Byte]]).orNull
  override protected def withNewChildInternal(newChild: Expression): ZstdDecompress =
    copy(child = newChild)
  override def prettyName: String = "zstd_decompress"
}

/** `zstd_compress_dict(binary, dict)` -> one zstd frame whose matches
  * may reach into the RAW dictionary `dict` (predefined sequence
  * tables); decode with `zstd_decompress_dict` and the same bytes. */
case class ZstdCompressDict(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_compress_dict expects (binary, binary) input, got $other")
  }
  override def nullSafeEval(input: Any, dict: Any): Any =
    ZstdCodec.compressWithDict(input.asInstanceOf[Array[Byte]],
      dict.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZstdCompressDict =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "zstd_compress_dict"
}

/** `zstd_decompress_dict(binary, dict)` -> decoded bytes using an
  * RFC 8878 §5 dictionary (structured OR raw), or null. */
case class ZstdDecompressDict(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zstd_decompress_dict expects (binary, binary) input, got $other")
  }
  override def nullSafeEval(input: Any, dict: Any): Any =
    ZstdCodec.decompressWithDict(input.asInstanceOf[Array[Byte]],
      dict.asInstanceOf[Array[Byte]]).orNull
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZstdDecompressDict =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "zstd_decompress_dict"
}

object zstdio {
  import org.apache.spark.sql.functions.lit
  def zstd_compress(blob: Column, explicitTables: Column): Column =
    ColumnBridge.column(ZstdCompress(ColumnBridge.expression(blob),
      ColumnBridge.expression(explicitTables)))
  def zstd_compress(blob: Column): Column = zstd_compress(blob, lit(false))
  def zstd_decompress(blob: Column): Column =
    ColumnBridge.column(ZstdDecompress(ColumnBridge.expression(blob)))
  def zstd_compress_dict(blob: Column, dict: Column): Column =
    ColumnBridge.column(ZstdCompressDict(ColumnBridge.expression(blob),
      ColumnBridge.expression(dict)))
  def zstd_decompress_dict(blob: Column, dict: Column): Column =
    ColumnBridge.column(ZstdDecompressDict(ColumnBridge.expression(blob),
      ColumnBridge.expression(dict)))
}

