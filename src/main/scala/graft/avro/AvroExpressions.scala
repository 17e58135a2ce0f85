package graft.avro

import org.apache.avro.{Schema, SchemaCompatibility}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Catalyst expressions for the OCF codec (SURVEY.md §2.1 rows S2/S5).
  *
  * Native `Expression`s (not Scala UDFs) so null semantics are explicit
  * and there is no Encoder round-trip per value; `CodegenFallback` is
  * acceptable because Avro (de)serialization is an I/O-boundary black box
  * either way (SURVEY.md §4 "codegen" row).
  */

/** `from_avro_ocf(binary)` -> struct; null on decode failure (PERMISSIVE
  * semantics — the decode-failure row is routed to the DLQ by the R4
  * null-check predicate, mirroring consumer.py:228-229 + 272-276). */
case class FromAvroOcf(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val structType = AvroOcf.sparkTypeFor(avroSchema)

  override def dataType: DataType = structType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"from_avro_ocf expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    try AvroOcf.decodeRow(input.asInstanceOf[Array[Byte]], structType, avroSchema)
    catch { case _: Exception => null }
  override protected def withNewChildInternal(newChild: Expression): FromAvroOcf =
    copy(child = newChild)
  override def prettyName: String = "from_avro_ocf"
}

/** `to_avro_ocf(struct)` -> binary. Deterministic (fixed sync marker). */
case class ToAvroOcf(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val structType = child.dataType.asInstanceOf[StructType]
  @transient private lazy val hs = AvroOcf.headerAndSync(avroSchema)

  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case _: StructType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"to_avro_ocf expects struct input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    AvroOcf.encodeRow(input.asInstanceOf[InternalRow], structType, avroSchema, hs)
  override protected def withNewChildInternal(newChild: Expression): ToAvroOcf =
    copy(child = newChild)
  override def prettyName: String = "to_avro_ocf"
}

/** `from_avro_datum(binary)` -> struct: RAW binary-encoded datum, no
  * container framing (the schema travels out-of-band — SURVEY §7.3's
  * scale mode). Null on decode failure (PERMISSIVE). */
case class FromAvroDatum(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val structType = AvroOcf.sparkTypeFor(avroSchema)
  @transient private lazy val reader = AvroOcf.resolvingReader(avroSchema, avroSchema)

  override def dataType: DataType = structType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"from_avro_datum expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    try AvroOcf.decodeDatum(bytes, 0, bytes.length, reader, structType)
    catch { case _: Exception => null }
  }
  override protected def withNewChildInternal(newChild: Expression): FromAvroDatum =
    copy(child = newChild)
  override def prettyName: String = "from_avro_datum"
}

/** `to_avro_datum(struct)` -> binary (raw datum, no framing). */
case class ToAvroDatum(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val structType = child.dataType.asInstanceOf[StructType]

  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case _: StructType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"to_avro_datum expects struct input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    AvroOcf.encodeDatumRow(input.asInstanceOf[InternalRow], structType, avroSchema)
  override protected def withNewChildInternal(newChild: Expression): ToAvroDatum =
    copy(child = newChild)
  override def prettyName: String = "to_avro_datum"
}

/** `to_avro_confluent(struct)` -> binary in Confluent Schema Registry
  * wire framing: `0x00` magic + 4-byte big-endian schema id + raw
  * datum (the public Confluent wire-format spec — what most Kafka
  * shops actually put on the wire, vs the reference's OCF framing). */
case class ToAvroConfluent(child: Expression, schemaJson: String, schemaId: Int)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val structType = child.dataType.asInstanceOf[StructType]

  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case _: StructType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"to_avro_confluent expects struct input, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    AvroOcf.encodeConfluentRow(input.asInstanceOf[InternalRow], structType,
      avroSchema, schemaId)
  override protected def withNewChildInternal(newChild: Expression): ToAvroConfluent =
    copy(child = newChild)
  override def prettyName: String = "to_avro_confluent"
}

/** `from_avro_confluent(binary)` -> struct of the READER schema. The
  * embedded 4-byte schema id selects the WRITER schema through the
  * [[SchemaRegistryResolver]] seam (offline: a static registry-dump
  * snapshot; live: an HTTP client — either way bounded by schema
  * VERSIONS, never by data volume), and decode resolves writer→reader
  * per the Avro spec, so consumers keep working across producer schema
  * evolution. The writer→reader reader is prepared once per (executor,
  * id), so the resolver — including a live client's remote fetch — is
  * hit once per new id, like the official client's identity cache. Null
  * on wrong magic, unknown id, or datum decode failure (PERMISSIVE →
  * DLQ, like the OCF path). */
case class FromAvroConfluent(child: Expression, readerSchemaJson: String,
    registry: SchemaRegistryResolver)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val readerSchema = new Schema.Parser().parse(readerSchemaJson)
  @transient private lazy val structType = AvroOcf.sparkTypeFor(readerSchema)
  // cache-miss path: resolve (a live client fetches here) → parse →
  // prepare → cache; an unknown id re-resolves per call, which is what
  // a live client's negative-lookup does too (the id may appear in the
  // registry seconds later)
  @transient private lazy val readers =
    new java.util.concurrent.ConcurrentHashMap[Integer, GenericDatumReader[GenericRecord]]()
  private def readerFor(id: Int): Option[GenericDatumReader[GenericRecord]] =
    Option(readers.get(id)).orElse {
      val prepared = registry.resolve(id).map(js =>
        AvroOcf.resolvingReader(new Schema.Parser().parse(js), readerSchema))
      prepared.foreach(r => readers.putIfAbsent(id, r))
      prepared
    }

  override def dataType: DataType = structType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"from_avro_confluent expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val id = AvroOcf.confluentSchemaId(bytes)
    if (id < 0) return null
    readerFor(id) match {
      case None => null
      case Some(reader) =>
        try AvroOcf.decodeDatum(bytes, 5, bytes.length - 5, reader, structType)
        catch { case _: Exception => null }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): FromAvroConfluent =
    copy(child = newChild)
  override def prettyName: String = "from_avro_confluent"
}

/** `avro_can_read(writer_json, reader_json)` -> boolean: Avro spec
  * schema-resolution compatibility ([[AvroCanRead.canRead]]) as a
  * row-level predicate — the shape a registry-dump audit needs
  * (subjects × versions is a real table; each check is metadata-cheap).
  * Parsed schemas are cached per-executor keyed by the JSON text:
  * schema catalogs are bounded by version history, never data volume.
  * Null inputs or unparseable schemas yield null (PERMISSIVE, like the
  * codec family). */
case class AvroCanRead(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (StringType, StringType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"avro_can_read expects (string, string) schema JSON, got $other")
  }
  override def nullSafeEval(w: Any, r: Any): Any =
    try java.lang.Boolean.valueOf(AvroCanRead.canRead(
      AvroCanRead.parse(w.toString), AvroCanRead.parse(r.toString)))
    catch { case _: Exception => null }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AvroCanRead =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "avro_can_read"
}

object AvroCanRead {
  /** Can data written with `writer` be read as `reader`? The verdict of
    * `SchemaCompatibility`, the checker of the library whose
    * `GenericDatumReader` resolves every decode
    * ([[AvroOcf.resolvingReader]]); SchemaCompatSpec checks that a true
    * verdict decodes. The library takes (reader, writer). */
  def canRead(writer: Schema, reader: Schema): Boolean =
    SchemaCompatibility.checkReaderWriterCompatibility(reader, writer).getType ==
      SchemaCompatibility.SchemaCompatibilityType.COMPATIBLE

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Schema]()
  private def parse(js: String): Schema = {
    if (cache.size > 4096) cache.clear() // registry histories are tiny; cap defensively
    cache.computeIfAbsent(js, s => new Schema.Parser().parse(s))
  }
}

/** `avro_framing(binary)` -> 'ocf' | 'confluent' | 'other': which wire
  * framing a payload carries — the triage primitive for a mixed or
  * misconfigured topic (and the first dispatch step of a
  * format-agnostic consumer). OCF = `Obj\x01` magic; Confluent =
  * `0x00` + 4-byte id with at least one datum byte; anything else
  * (raw datums included — they are indistinguishable from noise
  * without a schema) is 'other'. The label is a HEURISTIC for raw
  * datums in both directions: a >5-byte raw datum whose first field
  * happens to encode as a leading zero byte (empty string, zigzag 0)
  * is reported 'confluent' — triage consumers must treat the label as
  * a routing hint, not proof of framing. */
case class AvroFraming(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"avro_framing expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val kind =
      if (b.length >= 4 && b(0) == 'O'.toByte && b(1) == 'b'.toByte &&
        b(2) == 'j'.toByte && b(3) == 1.toByte) "ocf"
      else if (b.length > 5 && b(0) == 0.toByte) "confluent"
      else "other"
    org.apache.spark.unsafe.types.UTF8String.fromString(kind)
  }
  override protected def withNewChildInternal(newChild: Expression): AvroFraming =
    copy(child = newChild)
  override def prettyName: String = "avro_framing"
}

object functions {
  /** Decode a binary column of single-record Avro OCF messages. */
  def from_avro_ocf(c: Column, schemaJson: String): Column =
    ColumnBridge.column(FromAvroOcf(ColumnBridge.expression(c), schemaJson))

  /** Encode a struct column as single-record Avro OCF messages. */
  def to_avro_ocf(c: Column, schemaJson: String): Column =
    ColumnBridge.column(ToAvroOcf(ColumnBridge.expression(c), schemaJson))

  /** Decode a binary column of raw Avro datums (no framing). */
  def from_avro_datum(c: Column, schemaJson: String): Column =
    ColumnBridge.column(FromAvroDatum(ColumnBridge.expression(c), schemaJson))

  /** Encode a struct column as raw Avro datums (no framing). */
  def to_avro_datum(c: Column, schemaJson: String): Column =
    ColumnBridge.column(ToAvroDatum(ColumnBridge.expression(c), schemaJson))

  /** Encode a struct column in Confluent wire framing (magic + id + datum). */
  def to_avro_confluent(c: Column, schemaJson: String, schemaId: Int): Column =
    ColumnBridge.column(ToAvroConfluent(ColumnBridge.expression(c), schemaJson, schemaId))

  /** Decode Confluent-framed messages: the embedded id picks the writer
    * schema from a static registry snapshot; output is shaped by
    * `readerSchemaJson`. */
  def from_avro_confluent(c: Column, readerSchemaJson: String,
      writerSchemasById: Map[Int, String]): Column =
    from_avro_confluent(c, readerSchemaJson, StaticSchemaRegistry(writerSchemasById))

  /** Decode Confluent-framed messages through an arbitrary
    * [[SchemaRegistryResolver]] — the live-client seam. */
  def from_avro_confluent(c: Column, readerSchemaJson: String,
      registry: SchemaRegistryResolver): Column =
    ColumnBridge.column(FromAvroConfluent(ColumnBridge.expression(c),
      readerSchemaJson, registry))

  /** Avro spec schema-resolution compatibility as a predicate column. */
  def avro_can_read(writerJson: Column, readerJson: Column): Column =
    ColumnBridge.column(AvroCanRead(
      ColumnBridge.expression(writerJson), ColumnBridge.expression(readerJson)))

  /** Wire-framing classifier: 'ocf' | 'confluent' | 'other'. */
  def avro_framing(c: Column): Column =
    ColumnBridge.column(AvroFraming(ColumnBridge.expression(c)))

  private def stringLit(e: Expression): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(s"schema must be a string literal, got $other")
  }
  private def intLit(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, IntegerType) if v != null =>
      v.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(s"schema id must be an int literal, got $other")
  }

  /** Every Avro SQL function: its name, expression class and builder.
    * [[register]] and `graft.plans.GraftExtensions` both read this
    * table, so a plain session and an extension session resolve the
    * same functions. The SQL confluent pair covers the single-version
    * case (id -> the reader schema itself); the multi-version registry
    * map is the Scala API's job. */
  private[graft] val sqlFunctions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("from_avro_ocf", classOf[FromAvroOcf], es => FromAvroOcf(es.head, stringLit(es(1)))),
      ("to_avro_ocf", classOf[ToAvroOcf], es => ToAvroOcf(es.head, stringLit(es(1)))),
      ("from_avro_datum", classOf[FromAvroDatum], es => FromAvroDatum(es.head, stringLit(es(1)))),
      ("to_avro_datum", classOf[ToAvroDatum], es => ToAvroDatum(es.head, stringLit(es(1)))),
      ("to_avro_confluent", classOf[ToAvroConfluent],
        es => ToAvroConfluent(es.head, stringLit(es(1)), intLit(es(2)))),
      ("from_avro_confluent", classOf[FromAvroConfluent],
        es => FromAvroConfluent(es.head, stringLit(es(1)),
          StaticSchemaRegistry(Map(intLit(es(2)) -> stringLit(es(1)))))),
      ("avro_can_read", classOf[AvroCanRead], es => AvroCanRead(es.head, es(1))),
      ("avro_framing", classOf[AvroFraming], es => AvroFraming(es.head)))

  /** Register every [[sqlFunctions]] entry for SQL use:
    * `from_avro_ocf(col, 'schema-json')`. */
  def register(spark: SparkSession): Unit = register(spark.sessionState.functionRegistry)

  def register(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    sqlFunctions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
