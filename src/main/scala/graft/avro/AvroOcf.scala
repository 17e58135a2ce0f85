package graft.avro

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Limits

/** Avro **Object Container File** codec for single-record messages.
  *
  * The reference frames every Kafka message as a complete Avro OCF —
  * magic `Obj\x01`, embedded writer schema, sync markers — holding exactly
  * one record (producer.py:36-48 `writer(bytes, schema, [record])`;
  * consumer.py:50-65 reads the first record back). This is NOT the
  * Confluent wire format and NOT spark-avro's raw-datum framing, so even
  * if the `spark-avro` connector were present (it is not in this
  * environment), its `from_avro`/`to_avro` could not decode these bytes.
  * Hence this hand-rolled codec on the core `org.apache.avro` generic API
  * (avro-1.12.1 ships with Spark).
  *
  * Design notes for scale:
  *  - `Schema` is not serialization-friendly; expressions carry the JSON
  *    string and parse lazily per executor (SURVEY.md §1.2).
  *  - The sync marker is derived deterministically from the schema
  *    fingerprint instead of `DataFileWriter`'s random marker, so encode
  *    output is a pure function of its input (required for the driver's
  *    DuckDB-oracle hash compare and for replay-idempotent sinks).
  *  - OCF-per-message embeds the schema in every message (~200-300 B
  *    overhead, SURVEY.md §6) — faithful to the reference; a raw-datum
  *    mode would be the scale optimization once framing is negotiable.
  */
object AvroOcf {

  /** Deterministic 16-byte sync marker from the schema fingerprint. */
  private def syncFor(schema: Schema): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(schema.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Container header (magic + metadata + sync) for a schema — byte-
    * identical for every message of that schema, so it is built once
    * and prepended, instead of re-serializing the schema JSON and
    * re-hashing the sync marker per record (which dominated codec
    * cost: the OCF-per-message framing overhead of SURVEY.md §6). */
  private val headerCache = new java.util.concurrent.ConcurrentHashMap[String, (Array[Byte], Array[Byte])]()

  /** Public so the codec expressions can resolve the header ONCE per
    * operator instance (Schema.toString is uncached in Avro 1.12, so a
    * per-record map lookup keyed on it would still re-serialize the
    * schema JSON every row). */
  def headerAndSync(schema: Schema): (Array[Byte], Array[Byte]) =
    headerCache.computeIfAbsent(schema.toString, _ => {
      val sync = syncFor(schema)
      val out = new ByteArrayOutputStream(256)
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, out, sync)
      w.close() // zero records appended -> header bytes only
      (out.toByteArray, sync)
    })

  private def startsWith(bytes: Array[Byte], prefix: Array[Byte]): Boolean = {
    if (bytes.length < prefix.length) return false
    var i = 0
    while (i < prefix.length) { if (bytes(i) != prefix(i)) return false; i += 1 }
    true
  }

  /** Spark type for a (possibly nullable-union) Avro record, over the
    * FULL Avro type lattice: nested records, arrays, maps, enums
    * (→ string), fixed (→ binary), bytes/fixed decimal logical types
    * (→ DecimalType), date (→ DateType), timestamp-millis/micros
    * (→ TimestampType). Only general (non-`[null, T]`) unions remain
    * unsupported — they have no faithful columnar shape and fail
    * loudly here rather than silently coercing. */
  def sparkTypeFor(schema: Schema): StructType =
    sparkTypeFor(schema, Set.empty)

  private def sparkTypeFor(schema: Schema, seen: Set[String]): StructType = {
    require(schema.getType == Schema.Type.RECORD, s"expected record, got $schema")
    // RECURSIVE record types (a field referencing an enclosing record)
    // have no columnar shape — Catalyst types are finite trees. Detect
    // the cycle and fail loudly instead of overflowing the stack.
    require(!seen.contains(schema.getFullName),
      s"recursive record type has no Spark representation: ${schema.getFullName}")
    val seen2 = seen + schema.getFullName
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (t, nullable) = fieldType(f.schema(), seen2)
      StructField(f.name(), t, nullable)
    })
  }

  private def fieldType(s: Schema, seen: Set[String]): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val nonNull = s.getTypes.asScala.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1, s"only [null, T] unions supported: $s")
      (fieldType(nonNull.head, seen)._1, true)
    case Schema.Type.RECORD  => (sparkTypeFor(s, seen), false)
    case Schema.Type.ARRAY   =>
      val (et, en) = fieldType(s.getElementType, seen)
      (ArrayType(et, containsNull = en), false)
    case Schema.Type.MAP     =>
      val (vt, vn) = fieldType(s.getValueType, seen)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case Schema.Type.ENUM    => (StringType, false)
    case Schema.Type.FIXED   => s.getLogicalType match {
      case d: org.apache.avro.LogicalTypes.Decimal =>
        (DecimalType(d.getPrecision, d.getScale), false)
      case _ => (BinaryType, false)
    }
    case Schema.Type.STRING  => (StringType, false)
    case Schema.Type.FLOAT   => (FloatType, false)
    case Schema.Type.DOUBLE  => (DoubleType, false)
    case Schema.Type.INT     => s.getLogicalType match {
      case _: org.apache.avro.LogicalTypes.Date => (DateType, false)
      case _ => (IntegerType, false)
    }
    case Schema.Type.LONG    => s.getLogicalType match {
      case _: org.apache.avro.LogicalTypes.TimestampMillis |
           _: org.apache.avro.LogicalTypes.TimestampMicros => (TimestampType, false)
      case _: org.apache.avro.LogicalTypes.LocalTimestampMillis |
           _: org.apache.avro.LogicalTypes.LocalTimestampMicros => (TimestampNTZType, false)
      case _ => (LongType, false)
    }
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.BYTES   => s.getLogicalType match {
      case d: org.apache.avro.LogicalTypes.Decimal =>
        (DecimalType(d.getPrecision, d.getScale), false)
      case _ => (BinaryType, false)
    }
    case other => throw new IllegalArgumentException(s"unsupported avro type $other")
  }

  /** The single non-null branch of a `[null, T]` union (or the schema
    * itself when not a union) — value converters resolve through this
    * before dispatching on the Avro type. */
  private def nonNullBranch(s: Schema): Schema = s.getType match {
    case Schema.Type.UNION =>
      val nonNull = s.getTypes.asScala.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1, s"only [null, T] unions supported: $s")
      nonNull.head
    case _ => s
  }

  /** One InternalRow -> OCF bytes holding exactly one record. */
  def encodeRow(row: InternalRow, sparkType: StructType, schema: Schema): Array[Byte] =
    encodeRow(row, sparkType, schema, headerAndSync(schema))

  /** Catalyst value (internal representation) -> Avro generic value,
    * recursively over the full supported lattice. `dt` and `s0` walk in
    * lockstep (the caller derived `dt` from the schema via
    * [[sparkTypeFor]], or supplied a struct that matches it). */
  private def toAvroValue(v: Any, dt: DataType, s0: Schema): AnyRef = {
    if (v == null) return null
    val s = nonNullBranch(s0)
    dt match {
      case StringType => s.getType match {
        case Schema.Type.ENUM => new GenericData.EnumSymbol(s, v.toString)
        case _ => v.toString // UTF8String
      }
      case FloatType | DoubleType | BooleanType | IntegerType | LongType =>
        v.asInstanceOf[AnyRef]
      case DateType => v.asInstanceOf[AnyRef] // days since epoch, int both sides
      case TimestampType | TimestampNTZType =>
        val micros = v.asInstanceOf[java.lang.Long].longValue()
        s.getLogicalType match {
          case _: org.apache.avro.LogicalTypes.TimestampMillis |
               _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
            java.lang.Long.valueOf(Math.floorDiv(micros, 1000L))
          case _ => java.lang.Long.valueOf(micros) // (local-)timestamp-micros
        }
      case BinaryType => s.getType match {
        case Schema.Type.FIXED =>
          val bytes = v.asInstanceOf[Array[Byte]]
          // GenericDatumWriter.writeFixed emits exactly getFixedSize
          // bytes: an undersized array crashes loudly, but an OVERSIZED
          // one would be silently truncated on the wire — validate here
          // like the decimal-fixed path already does
          require(bytes.length == s.getFixedSize,
            s"fixed(${s.getFixedSize}) field requires exactly " +
              s"${s.getFixedSize} bytes, got ${bytes.length}")
          new GenericData.Fixed(s, bytes)
        case _ => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      }
      case d: DecimalType =>
        val unscaled = v.asInstanceOf[Decimal].toJavaBigDecimal
          .setScale(d.scale).unscaledValue().toByteArray
        s.getType match {
          case Schema.Type.FIXED =>
            // sign-extend to the fixed width (two's complement big-endian)
            val size = s.getFixedSize
            require(unscaled.length <= size,
              s"decimal unscaled value needs ${unscaled.length} bytes, fixed($size) too small")
            val padded = new Array[Byte](size)
            if (unscaled(0) < 0) java.util.Arrays.fill(padded, -1: Byte)
            System.arraycopy(unscaled, 0, padded, size - unscaled.length, unscaled.length)
            new GenericData.Fixed(s, padded)
          case _ => java.nio.ByteBuffer.wrap(unscaled)
        }
      case st: StructType =>
        toRecord(v.asInstanceOf[InternalRow], st, s)
      case at: ArrayType =>
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val n = arr.numElements()
        val out = new java.util.ArrayList[AnyRef](n)
        var i = 0
        while (i < n) {
          val ev = if (arr.isNullAt(i)) null else arr.get(i, at.elementType)
          out.add(toAvroValue(ev, at.elementType, s.getElementType))
          i += 1
        }
        out
      case mt: MapType =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        val n = m.numElements()
        val out = new java.util.LinkedHashMap[String, AnyRef](n * 2)
        var i = 0
        while (i < n) {
          val mv = if (vs.isNullAt(i)) null else vs.get(i, mt.valueType)
          out.put(ks.getUTF8String(i).toString,
            toAvroValue(mv, mt.valueType, s.getValueType))
          i += 1
        }
        out
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }

  /** The codec matches struct fields to Avro fields by POSITION (the
    * struct's shape mirrors the schema — spark-avro matches by name
    * by default, so the difference must never bite silently). This
    * guard catches the one silently-corrupting case: a struct whose
    * field NAME also exists in the schema but at a DIFFERENT position
    * (i.e. a reordered struct of same-typed fields — last_name written
    * into first_name with no type error). Arbitrary aliases that don't
    * collide with schema names remain allowed (positional intent).
    * Structural, so checked once per (struct, schema) pair, not per
    * row. */
  private val orderChecked =
    new java.util.concurrent.ConcurrentHashMap[(StructType, Schema), java.lang.Boolean]()
  private def checkFieldOrder(sparkType: StructType, schema: Schema): Unit = {
    orderChecked.computeIfAbsent((sparkType, schema), _ => {
      val n = math.min(sparkType.length, schema.getFields.size)
      var i = 0
      while (i < n) {
        val sf = sparkType(i); val af = schema.getFields.get(i)
        if (sf.name != af.name) {
          val byName = schema.getField(sf.name)
          if (byName != null && byName.pos != i)
            throw new IllegalArgumentException(
              s"struct field '${sf.name}' at position $i would be written into " +
                s"Avro field '${af.name}' (the codec matches by POSITION), but the " +
                s"schema has a field named '${sf.name}' at position ${byName.pos} — " +
                "reorder the struct to schema order")
        }
        i += 1
      }
      java.lang.Boolean.TRUE
    })
    ()
  }

  private def toRecord(row: InternalRow, sparkType: StructType, schema: Schema): GenericRecord = {
    checkFieldOrder(sparkType, schema)
    val rec = new GenericData.Record(schema)
    val fields = schema.getFields
    var i = 0
    while (i < sparkType.length) {
      val field = sparkType(i)
      val v =
        if (row.isNullAt(i)) null
        else toAvroValue(row.get(i, field.dataType), field.dataType, fields.get(i).schema())
      rec.put(i, v)
      i += 1
    }
    rec
  }

  /** One InternalRow -> RAW Avro datum bytes (binary encoding, NO
    * container framing). The scale mode of SURVEY §7.3: the OCF frame
    * embeds the writer schema + sync in EVERY message (~250 B for the
    * 3-field order record whose datum is ~20 B) — when both ends agree
    * on the schema out-of-band, the raw datum recovers that overhead.
    * The payload is the byte-identical datum block an OCF message
    * carries between header and sync. */
  def encodeDatumRow(row: InternalRow, sparkType: StructType, schema: Schema): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    val enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(toRecord(row, sparkType, schema), enc)
    enc.flush()
    out.toByteArray
  }

  /** The reader that resolves data written with `writer` into `reader`
    * (Avro spec schema resolution, by the library whose checker
    * `avro_can_read` asks). Every framing prepares its reader here,
    * once: OCF per distinct header ([[preparedFor]]), raw datum per
    * expression, Confluent per schema id. */
  def resolvingReader(writer: Schema, reader: Schema): GenericDatumReader[GenericRecord] =
    new GenericDatumReader[GenericRecord](writer, reader)

  /** The datum decode every framing (OCF, raw datum, Confluent) ends
    * in: the first datum of `bytes[off, off + len)`, read by a
    * [[resolvingReader]] into a row of `sparkType` (the Spark type of
    * its reader schema). [[checkDatum]] walks the datum against the
    * writer schema first, so `GenericDatumReader` never allocates for a
    * declared length the bytes cannot hold. Throws on malformed input;
    * callers choose null-on-error (PERMISSIVE). */
  def decodeDatum(bytes: Array[Byte], off: Int, len: Int,
      reader: GenericDatumReader[GenericRecord], sparkType: StructType): InternalRow = {
    if (off < 0 || len < 0 || off > bytes.length - len)
      throw new IllegalArgumentException("truncated avro datum")
    checkDatum(new Cursor(bytes, off, off + len), reader.getSchema, 0)
    val dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, off, len, null)
    recordToRow(reader.read(null, dec), sparkType, reader.getExpected)
  }

  /** Walks one datum of writer schema `s` and checks, before anything
    * is allocated for them, that every string/bytes length and array or
    * map block fits in the bytes left. An item count over items that
    * encode to at least one byte is bounded by the bytes left; items of
    * zero bytes (null, empty records) by [[Limits.AvroZeroByteItems]]
    * over the whole datum. Nesting deeper than [[Limits.AvroDepth]] (a writer schema may be
    * recursive) is refused too, so the walk and the read after it stay
    * off the end of the stack. */
  private def checkDatum(c: Cursor, s: Schema, depth: Int): Unit = {
    if (depth > Limits.AvroDepth) throw new IllegalArgumentException("avro datum nested too deep")
    s.getType match {
      case Schema.Type.NULL =>
      case Schema.Type.BOOLEAN => c.skip(1)
      case Schema.Type.INT | Schema.Type.LONG | Schema.Type.ENUM => c.long()
      case Schema.Type.FLOAT => c.skip(4)
      case Schema.Type.DOUBLE => c.skip(8)
      case Schema.Type.STRING | Schema.Type.BYTES => c.skip(c.length())
      case Schema.Type.FIXED => c.skip(s.getFixedSize)
      case Schema.Type.UNION =>
        val branch = c.long()
        if (branch < 0 || branch >= s.getTypes.size)
          throw new IllegalArgumentException(s"avro union branch $branch out of range")
        checkDatum(c, s.getTypes.get(branch.toInt), depth + 1)
      case Schema.Type.RECORD =>
        val fields = s.getFields
        var i = 0
        while (i < fields.size) { checkDatum(c, fields.get(i).schema, depth + 1); i += 1 }
      case Schema.Type.ARRAY =>
        val item = s.getElementType
        checkItems(c, encodesToBytes(item, Set.empty), checkDatum(c, item, depth + 1))
      case Schema.Type.MAP =>
        checkItems(c, itemHasBytes = true, { c.skip(c.length()); checkDatum(c, s.getValueType, depth + 1) })
    }
  }

  /** The blocks of one array or map: a count, a byte size when the
    * count is negative, the items; a zero count ends it. Zero-byte
    * items count against the whole datum's [[Limits.AvroZeroByteItems]],
    * so nested arrays cannot multiply the cap. */
  private def checkItems(c: Cursor, itemHasBytes: Boolean, item: => Unit): Unit = {
    var n = c.long()
    while (n != 0) {
      if (n < 0) { n = -n; c.length() }
      if (n < 0 || (if (itemHasBytes) n > c.left else n > Limits.AvroZeroByteItems - c.zeroByteItems))
        throw new IllegalArgumentException(s"avro block of $n items does not fit")
      if (!itemHasBytes) c.zeroByteItems += n
      while (n > 0) { item; n -= 1 }
      n = c.long()
    }
  }

  /** Whether every datum of `s` takes at least one byte. */
  private def encodesToBytes(s: Schema, seen: Set[Schema]): Boolean = s.getType match {
    case Schema.Type.NULL => false
    case Schema.Type.FIXED => s.getFixedSize > 0
    case Schema.Type.RECORD =>
      !seen.contains(s) && s.getFields.asScala.exists(f => encodesToBytes(f.schema, seen + s))
    case _ => true
  }

  /** Confluent Schema Registry wire format: `0x00` magic byte, 4-byte
    * big-endian schema id, then the raw binary datum — the framing the
    * dominant real Kafka deployment uses (public Confluent wire-format
    * spec). The payload after the 5-byte prefix is byte-identical to
    * [[encodeDatumRow]]'s output. */
  def encodeConfluentRow(row: InternalRow, sparkType: StructType, schema: Schema,
      schemaId: Int): Array[Byte] = {
    val datum = encodeDatumRow(row, sparkType, schema)
    val out = new Array[Byte](5 + datum.length)
    out(0) = 0 // magic
    out(1) = (schemaId >>> 24).toByte
    out(2) = (schemaId >>> 16).toByte
    out(3) = (schemaId >>> 8).toByte
    out(4) = schemaId.toByte
    System.arraycopy(datum, 0, out, 5, datum.length)
    out
  }

  /** The schema id of a Confluent-framed message, or -1 when the frame
    * is malformed (too short / wrong magic byte). */
  def confluentSchemaId(bytes: Array[Byte]): Int =
    if (bytes.length < 5 || bytes(0) != 0) -1
    else ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)

  def encodeRow(row: InternalRow, sparkType: StructType, schema: Schema,
      hs: (Array[Byte], Array[Byte])): Array[Byte] = {
    // fast path equivalent to DataFileWriter.create+append+close with a
    // fixed sync marker: cached header ++ one data block
    // (zigzag-varint count=1, size, datum bytes, sync) — byte-identical
    // output, verified against the DataFileWriter form in tests
    val (header, sync) = hs
    val datum = encodeDatumRow(row, sparkType, schema)
    val out = new ByteArrayOutputStream(header.length + datum.length + 24)
    out.write(header)
    val blockEnc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(out, null)
    blockEnc.writeLong(1L)
    blockEnc.writeLong(datum.length.toLong)
    blockEnc.flush()
    out.write(datum)
    out.write(sync)
    out.toByteArray
  }

  /** OCF bytes -> InternalRow of the FIRST record (consumer.py:60-65
    * returns only the first record of the container). Throws on
    * malformed input; callers choose null-on-error (PERMISSIVE).
    *
    * One path for every container, whatever its sync marker and codec:
    * walk the metadata map to the header's sync marker, look up the
    * reader prepared for that header ([[preparedFor]]), then decode
    * the first datum only once the first block is known to fit and to
    * end in the header's sync marker. A damaged, cut-off or over-long
    * block is an error whichever marker the producer picked, as it is
    * for `DataFileStream`. A compressed block (an `avro.codec` other
    * than `null`) is inflated first, up to [[Limits.AvroBlockOut]]. */
  def decodeRow(bytes: Array[Byte], sparkType: StructType, readerSchema: Schema): InternalRow = {
    if (!startsWith(bytes, Magic)) throw new IllegalArgumentException("not an avro container")
    val c = new Cursor(bytes, Magic.length)
    var entries = c.long()
    while (entries != 0) {
      if (entries < 0) { entries = -entries; c.long() } // block byte size
      while (entries > 0) { c.skip(c.length()); c.skip(c.length()); entries -= 1 }
      entries = c.long()
    }
    val syncAt = c.pos
    val prepared = preparedFor(bytes, syncAt, readerSchema)
    c.skip(SyncSize)
    val count = c.long()
    val size = c.length()
    if (count < 1) throw new IllegalArgumentException("empty avro container")
    if (size > c.left - SyncSize ||
        !java.util.Arrays.equals(bytes, c.pos + size, c.pos + size + SyncSize,
          bytes, syncAt, syncAt + SyncSize))
      throw new IllegalArgumentException("Invalid sync!")
    if (prepared.codec == null)
      decodeDatum(bytes, c.pos, size, prepared.reader, sparkType)
    else {
      val block = inflate(prepared.codec, bytes, c.pos, size)
      decodeDatum(block, 0, block.length, prepared.reader, sparkType)
    }
  }

  /** `hs` is what [[headerAndSync]] gives for `readerSchema`; decode no
    * longer needs it (every header goes through [[preparedFor]]), so
    * this form only keeps existing callers compiling. */
  def decodeRow(bytes: Array[Byte], sparkType: StructType, readerSchema: Schema,
      hs: (Array[Byte], Array[Byte])): InternalRow =
    decodeRow(bytes, sparkType, readerSchema)

  private val Magic = Array[Byte]('O', 'b', 'j', 1)
  private val SyncSize = 16

  /** Zigzag-varint reader over `bytes[pos, end)`; every read is
    * checked against `end`, so damaged bytes fail fast. */
  private final class Cursor(bytes: Array[Byte], var pos: Int, end: Int) {
    def this(bytes: Array[Byte], pos: Int) = this(bytes, pos, bytes.length)
    /** Zero-byte array items a [[checkDatum]] walk has admitted so far. */
    var zeroByteItems = 0L
    def left: Int = end - pos
    def long(): Long = {
      var v = 0L
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (pos >= end || shift > 63)
          throw new IllegalArgumentException("truncated avro container")
        b = bytes(pos)
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      }
      (v >>> 1) ^ -(v & 1)
    }
    /** A length prefix, which must fit in what is left of the bytes. */
    def length(): Int = {
      val n = long()
      if (n < 0 || n > end - pos)
        throw new IllegalArgumentException("truncated avro container")
      n.toInt
    }
    def skip(n: Int): Unit = {
      if (n > end - pos) throw new IllegalArgumentException("truncated avro container")
      pos += n
    }
  }

  /** A container header (magic + metadata, up to the sync marker) with
    * the reader schema it is read into. Lookups wrap the message bytes
    * without copying; stored keys own a copy. Avro caches
    * `Schema.hashCode`; on a hit `eq` settles the schema half when the
    * caller reuses one schema instance, a structural compare (~0.1 µs)
    * when it does not. */
  private final class HeaderKey(val bytes: Array[Byte], val len: Int, val reader: Schema) {
    override val hashCode: Int = {
      var h = reader.hashCode
      var i = 0
      while (i < len) { h = 31 * h + bytes(i); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case k: HeaderKey => k.len == len &&
        java.util.Arrays.equals(bytes, 0, len, k.bytes, 0, len) &&
        ((k.reader eq reader) || k.reader == reader)
      case _ => false
    }
  }

  /** Bound on [[preparedFor]]'s cache. Distinct headers come from writer
    * schema versions and codecs, so a topic sees a handful; past the
    * bound the cache is emptied and refills. */
  private[graft] val PreparedBound = 64
  private val preparedReaders = new java.util.concurrent.ConcurrentHashMap[HeaderKey, Prepared]()
  private[graft] def preparedCount: Int = preparedReaders.size

  /** A header's reader (writer schema resolved into the reader schema)
    * and its block codec, null when blocks are stored uncompressed. */
  private final class Prepared(val reader: GenericDatumReader[GenericRecord], val codec: String)

  /** What decoding under this header needs, built once per distinct
    * header with `DataFileStream`'s own header parse (schema JSON,
    * codec check), so the per-message cost is a hash lookup. */
  private def preparedFor(bytes: Array[Byte], syncAt: Int, readerSchema: Schema): Prepared = {
    val probe = new HeaderKey(bytes, syncAt, readerSchema)
    var hit = preparedReaders.get(probe)
    if (hit == null) {
      if (bytes.length - syncAt < SyncSize) throw new IllegalArgumentException("truncated avro container")
      val header = new DataFileStream[GenericRecord](
        new ByteArrayInputStream(bytes, 0, syncAt + SyncSize), new GenericDatumReader[GenericRecord]())
      val codec = header.getMetaString(org.apache.avro.file.DataFileConstants.CODEC)
      hit = new Prepared(resolvingReader(header.getSchema, readerSchema),
        if (codec == org.apache.avro.file.DataFileConstants.NULL_CODEC) null else codec)
      if (preparedReaders.size >= PreparedBound) preparedReaders.clear()
      preparedReaders.put(new HeaderKey(java.util.Arrays.copyOf(bytes, syncAt), syncAt, readerSchema), hit)
    }
    hit
  }

  /** One compressed block, inflated with its codec up to
    * [[Limits.AvroBlockOut]] bytes; a block that inflates past the cap
    * is an error, like a damaged one. */
  private def inflate(codec: String, bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    def in = new ByteArrayInputStream(bytes, off, len)
    var inflater: java.util.zip.Inflater = null // ended here: the stream ends only its own
    val stream: java.io.InputStream = codec match {
      case "deflate" =>
        inflater = new java.util.zip.Inflater(true)
        new java.util.zip.InflaterInputStream(in, inflater)
      case "bzip2" => new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(in)
      // the block header declares the LZMA2 dictionary (up to 1.5 GiB),
      // allocated before any output: refuse one past the block cap
      case "xz" => new org.tukaani.xz.SingleXZInputStream(in, (Limits.AvroBlockOut >> 10) + 1024)
      case "zstandard" => graft.functions.ZstdCodec.inputStream(in)
      case "snappy" =>
        // raw snappy, then the big-endian CRC32 of the inflated bytes
        if (len < 4) throw new IllegalArgumentException("truncated snappy block")
        val out = graft.functions.Snappy.decompress(java.util.Arrays.copyOfRange(bytes, off, off + len - 4))
          .getOrElse(throw new IllegalArgumentException("damaged snappy block"))
        val crc = new java.util.zip.CRC32()
        crc.update(out)
        if (crc.getValue.toInt != java.nio.ByteBuffer.wrap(bytes, off + len - 4, 4).getInt)
          throw new IllegalArgumentException("snappy block checksum mismatch")
        if (out.length > Limits.AvroBlockOut) throw new IllegalArgumentException("avro block too large")
        return out
      case other => throw new IllegalArgumentException(s"unsupported avro codec $other")
    }
    try Limits.readAtMost(stream, Limits.AvroBlockOut)
      .getOrElse(throw new IllegalArgumentException("avro block too large"))
    finally {
      stream.close()
      if (inflater != null) inflater.end()
    }
  }

  /** Avro generic value -> Catalyst internal value, recursively. Map
    * keys are SORTED lexicographically on decode so the columnar map
    * is a deterministic function of the payload (Avro decodes maps
    * into a HashMap whose iteration order is an implementation
    * detail; a hash-compare oracle needs bit-stable output). */
  private def fromAvroValue(v: Any, dt: DataType, s0: Schema): Any = {
    if (v == null) return null
    val s = nonNullBranch(s0)
    dt match {
      case StringType => UTF8String.fromString(v.toString) // Utf8 | String | EnumSymbol
      case FloatType  => v.asInstanceOf[java.lang.Float].floatValue()
      case DoubleType => v.asInstanceOf[java.lang.Double].doubleValue()
      case IntegerType | DateType => v.asInstanceOf[java.lang.Integer].intValue()
      case LongType   => v.asInstanceOf[java.lang.Long].longValue()
      case TimestampType | TimestampNTZType =>
        val l = v.asInstanceOf[java.lang.Long].longValue()
        s.getLogicalType match {
          case _: org.apache.avro.LogicalTypes.TimestampMillis |
               _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
            Math.multiplyExact(l, 1000L)
          case _ => l
        }
      case BooleanType => v.asInstanceOf[java.lang.Boolean].booleanValue()
      case BinaryType => v match {
        case bb: java.nio.ByteBuffer =>
          val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
        case gf: org.apache.avro.generic.GenericFixed => gf.bytes().clone()
        case other => throw new IllegalArgumentException(s"unsupported binary value $other")
      }
      case d: DecimalType =>
        val unscaled = v match {
          case bb: java.nio.ByteBuffer =>
            val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
          case gf: org.apache.avro.generic.GenericFixed => gf.bytes()
          case other => throw new IllegalArgumentException(s"unsupported decimal value $other")
        }
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(unscaled), d.scale), d.precision, d.scale)
      case st: StructType => recordToRow(v.asInstanceOf[GenericRecord], st, s)
      case at: ArrayType =>
        val it = v.asInstanceOf[java.lang.Iterable[_]].iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
        while (it.hasNext)
          buf += fromAvroValue(it.next(), at.elementType, s.getElementType)
        new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
      case mt: MapType =>
        val jm = v.asInstanceOf[java.util.Map[_, _]]
        val entries = jm.entrySet().asScala.toArray
          .map(e => (e.getKey.toString, e.getValue))
          .sortBy(_._1)
        org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          entries.map(e => UTF8String.fromString(e._1): Any),
          entries.map(e => fromAvroValue(e._2, mt.valueType, s.getValueType)))
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }

  private def recordToRow(rec: GenericRecord, sparkType: StructType,
      schema: Schema): InternalRow = {
    val vals = new Array[Any](sparkType.length)
    val fields = schema.getFields
    var i = 0
    while (i < sparkType.length) {
      vals(i) = fromAvroValue(rec.get(i), sparkType(i).dataType, fields.get(i).schema())
      i += 1
    }
    new GenericInternalRow(vals)
  }
}
