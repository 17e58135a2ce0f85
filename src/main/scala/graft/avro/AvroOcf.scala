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

  /** RAW datum bytes -> InternalRow, written with the reader schema
    * itself (Avro's one-schema reader is writer = reader). Throws on
    * malformed input; callers choose null-on-error (PERMISSIVE). */
  def decodeDatumRow(bytes: Array[Byte], sparkType: StructType, readerSchema: Schema): InternalRow =
    decodeDatumRowResolved(bytes, 0, sparkType, readerSchema, readerSchema)

  /** Datum bytes at an offset, resolved from a WRITER schema through a
    * READER schema (Avro spec schema resolution — the Confluent wire
    * format's decode path, where the writer schema comes from the
    * registry id embedded in the frame). */
  def decodeDatumRowResolved(bytes: Array[Byte], offset: Int, sparkType: StructType,
      writerSchema: Schema, readerSchema: Schema): InternalRow = {
    val dec = org.apache.avro.io.DecoderFactory.get()
      .binaryDecoder(bytes, offset, bytes.length - offset, null)
    val rec = new GenericDatumReader[GenericRecord](writerSchema, readerSchema)
      .read(null, dec)
    recordToRow(rec, sparkType, readerSchema)
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
    * malformed input; callers choose null-on-error (PERMISSIVE). */
  def decodeRow(bytes: Array[Byte], sparkType: StructType, readerSchema: Schema): InternalRow =
    decodeRow(bytes, sparkType, readerSchema, headerAndSync(readerSchema))

  def decodeRow(bytes: Array[Byte], sparkType: StructType, readerSchema: Schema,
      hs: (Array[Byte], Array[Byte])): InternalRow = {
    // fast path: a container we encoded ourselves (identical header incl
    // deterministic sync) — decode the first datum directly, skipping the
    // per-message header schema-JSON parse. Foreign containers (other
    // sync markers, codecs, writer schemas) take the generic path below.
    val (header, _) = hs
    if (startsWith(bytes, header) && bytes.length > header.length) {
      val dec = org.apache.avro.io.DecoderFactory.get()
        .binaryDecoder(bytes, header.length, bytes.length - header.length, null)
      val count = dec.readLong()
      dec.readLong() // block byte size
      if (count >= 1) {
        val rec = new GenericDatumReader[GenericRecord](readerSchema).read(null, dec)
        return recordToRow(rec, sparkType, readerSchema)
      }
    }
    val in = new DataFileStream[GenericRecord](
      new ByteArrayInputStream(bytes), new GenericDatumReader[GenericRecord](readerSchema))
    try {
      if (!in.hasNext) throw new IllegalArgumentException("empty avro container")
      val rec = in.next()
      recordToRow(rec, sparkType, readerSchema)
    } finally in.close()
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
