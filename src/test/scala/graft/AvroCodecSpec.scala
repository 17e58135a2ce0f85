package graft

import org.apache.avro.Schema
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.avro.{AvroOcf, functions => A}
import graft.model.Schemas

/** The custom OCF codec kernel (SURVEY.md §2.1 S2/S5): round-trip
  * identity, PERMISSIVE decode failure, single-record framing. */
class AvroCodecSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new Schema.Parser().parse(Schemas.orderAvroJson)

  test("round-trip identity on fixture orders") {
    val orders = Seq(("a-1", "Widget A", 4.99f), ("b-2", "Widget B", 1000.01f),
      ("c-3", "Ünïcødé", 0.0f), ("d-4", "x", Float.MaxValue))
    val df = orders.toDF("orderId", "product", "price")
    val back = df.select(
      A.from_avro_ocf(
        A.to_avro_ocf(struct($"orderId", $"product", $"price"), Schemas.orderAvroJson),
        Schemas.orderAvroJson).as("o"))
      .select($"o.orderId", $"o.product", $"o.price")
    assert(back.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getFloat(2)))
      === orders)
  }

  test("property: round-trip is the identity for arbitrary orders") {
    val genOrder = for {
      id <- Gen.identifier
      product <- Gen.alphaNumStr
      price <- Gen.chooseNum(-1500.0f, 1500.0f)
    } yield (id, product, price)
    val prop = Prop.forAll(genOrder) { case (id, product, price) =>
      val bytes = AvroOcf.encodeRow(
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(id),
          org.apache.spark.unsafe.types.UTF8String.fromString(product),
          price),
        Schemas.order, schema)
      val row = AvroOcf.decodeRow(bytes, Schemas.order, schema)
      // OCF magic per producer.py framing (Obj\x01)
      bytes(0) == 'O'.toByte && bytes(1) == 'b'.toByte && bytes(2) == 'j'.toByte &&
        row.getUTF8String(0).toString == id &&
        row.getUTF8String(1).toString == product &&
        row.getFloat(2) == price
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("fast-path encode is byte-identical to DataFileWriter output") {
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("pin-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Pinned"), 42.5f)
    val fast = AvroOcf.encodeRow(row, Schemas.order, schema)
    // reference form: DataFileWriter with the same deterministic sync
    val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(schema.toString.getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, out, sync)
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put(0, "pin-1"); rec.put(1, "Pinned"); rec.put(2, 42.5f)
    w.append(rec); w.close()
    assert(fast.toSeq === out.toByteArray.toSeq)
  }

  test("encode is deterministic (fixed sync marker)") {
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("id"),
      org.apache.spark.unsafe.types.UTF8String.fromString("p"), 1.5f)
    val a = AvroOcf.encodeRow(row, Schemas.order, schema)
    val b = AvroOcf.encodeRow(row, Schemas.order, schema)
    assert(a.toSeq === b.toSeq)
  }

  test("multi-record container decodes to the FIRST record (consumer.py:60-65)") {
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, out)
    Seq(("first", "P1", 1.0f), ("second", "P2", 2.0f)).foreach { case (id, p, pr) =>
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put(0, id); rec.put(1, p); rec.put(2, pr)
      w.append(rec)
    }
    w.close()
    val row = AvroOcf.decodeRow(out.toByteArray, Schemas.order, schema)
    assert(row.getUTF8String(0).toString === "first")
  }

  test("malformed bytes decode to null (PERMISSIVE -> DLQ route)") {
    val df = Seq(Array[Byte](1, 2, 3), "Obj garbage".getBytes).toDF("value")
    val out = df.select(A.from_avro_ocf($"value", Schemas.orderAvroJson).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("null input decodes to null") {
    val df = Seq(Option.empty[Array[Byte]]).toDF("value")
    val out = df.select(A.from_avro_ocf($"value", Schemas.orderAvroJson).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("SQL registration works") {
    A.register(spark)
    Seq(("i-9", "Prod", 9.5f)).toDF("orderId", "product", "price")
      .createOrReplaceTempView("codec_in")
    val got = spark.sql(
      s"""SELECT from_avro_ocf(to_avro_ocf(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}'), '${Schemas.orderAvroJson}').price AS p
         |FROM codec_in""".stripMargin).collect()
    assert(got.head.getFloat(0) === 9.5f)
  }

  test("property: raw-datum round-trip is the identity, datum is the OCF payload") {
    val datumReader = AvroOcf.resolvingReader(schema, schema)
    val genOrder = for {
      id <- Gen.identifier
      product <- Gen.alphaNumStr
      price <- Gen.chooseNum(-1500.0f, 1500.0f)
    } yield (id, product, price)
    val prop = Prop.forAll(genOrder) { case (id, product, price) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(id),
        org.apache.spark.unsafe.types.UTF8String.fromString(product),
        price)
      val datum = AvroOcf.encodeDatumRow(row, Schemas.order, schema)
      val back = AvroOcf.decodeDatum(datum, 0, datum.length, datumReader, Schemas.order)
      val ocf = AvroOcf.encodeRow(row, Schemas.order, schema)
      // the raw datum is byte-identical to the OCF's payload slice
      // (header .. sync), i.e. the framing carries ONLY overhead
      val payload = ocf.slice(ocf.length - 16 - datum.length, ocf.length - 16)
      back.getUTF8String(0).toString == id &&
        back.getUTF8String(1).toString == product &&
        back.getFloat(2) == price &&
        payload.sameElements(datum) &&
        ocf.length - datum.length > 200 // recovered framing overhead
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("raw-datum malformed/truncated bytes decode to null (PERMISSIVE)") {
    val good = AvroOcf.encodeDatumRow(
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString("id-1"),
        org.apache.spark.unsafe.types.UTF8String.fromString("Prod"), 2.5f),
      Schemas.order, schema)
    val df = Seq(good.take(3), Array[Byte](127, 127, 127)).toDF("value")
    val out = df.select(A.from_avro_datum($"value", Schemas.orderAvroJson).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  // ---- full type lattice: nested records, arrays, maps, enum, fixed,
  // ---- decimal, date, timestamp-millis/micros, [null, T] unions ----

  private val richSchema = new Schema.Parser().parse(Schemas.richOrderAvroJson)
  private val richType = AvroOcf.sparkTypeFor(richSchema)

  test("rich schema maps to the expected Spark type") {
    import org.apache.spark.sql.types._
    val byName = richType.fields.map(f => f.name -> f).toMap
    assert(byName("status").dataType === StringType) // enum
    assert(byName("amount").dataType === DecimalType(12, 2))
    assert(byName("created").dataType === TimestampType)
    assert(byName("updated").dataType === TimestampType)
    assert(byName("day").dataType === DateType)
    assert(byName("checksum").dataType === BinaryType) // fixed(4)
    assert(byName("tags").dataType === ArrayType(StringType, containsNull = false))
    assert(byName("attrs").dataType === MapType(StringType, LongType, valueContainsNull = false))
    assert(byName("ship").dataType.isInstanceOf[StructType])
    assert(byName("lines").dataType.asInstanceOf[ArrayType]
      .elementType.isInstanceOf[StructType])
    assert(byName("note").nullable && !byName("id").nullable)
  }

  private def richRow(id: String, status: String, amountCents: Long,
      createdMicros: Long, day: Int, checksum: Array[Byte], tags: Seq[String],
      attrs: Seq[(String, Long)], city: String, zip: Option[String],
      lines: Seq[(String, Long)], note: Option[String]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString _
    InternalRow(
      u(id), u(status),
      org.apache.spark.sql.types.Decimal(
        java.math.BigDecimal.valueOf(amountCents, 2), 12, 2),
      createdMicros,
      createdMicros, // updated: same instant; millis schema truncates
      day, checksum,
      new GenericArrayData(tags.map(t => u(t): Any).toArray),
      ArrayBasedMapData(attrs.map(kv => u(kv._1): Any).toArray,
        attrs.map(_._2: Any).toArray),
      InternalRow(u(city), zip.map(u).orNull),
      new GenericArrayData(lines.map(l => InternalRow(u(l._1), l._2): Any).toArray),
      note.map(u).orNull)
  }

  test("property: full-lattice OCF round-trip is the identity") {
    val genRich = for {
      id <- Gen.identifier
      status <- Gen.oneOf("O", "F", "P")
      cents <- Gen.chooseNum(-999999999L, 999999999L)
      // micros in multiples of 1000 so the timestamp-MILLIS field is
      // exactly representable (the micros field is exercised at full
      // resolution by the +1 below)
      millis <- Gen.chooseNum(-2000000000000L, 4000000000000L)
      day <- Gen.chooseNum(-30000, 30000)
      chk <- Gen.listOfN(4, Gen.chooseNum(-128, 127).map(_.toByte))
      tags <- Gen.listOf(Gen.alphaNumStr)
      attrs <- Gen.mapOf(Gen.zip(Gen.identifier, Gen.long))
      city <- Gen.alphaStr
      zip <- Gen.option(Gen.numStr)
      lines <- Gen.listOf(Gen.zip(Gen.identifier, Gen.long))
      note <- Gen.option(Gen.alphaNumStr)
    } yield (id, status, cents, millis * 1000L, day, chk.toArray, tags,
      attrs.toSeq, city, zip, lines, note)
    val prop = Prop.forAll(genRich) { case (id, status, cents, micros, day,
        chk, tags, attrs, city, zip, lines, note) =>
      val row = richRow(id, status, cents, micros, day, chk, tags, attrs,
        city, zip, lines, note)
      val back = AvroOcf.decodeRow(
        AvroOcf.encodeRow(row, richType, richSchema), richType, richSchema)
      val shipBack = back.getStruct(9, 2)
      val linesBack = back.getArray(10)
      val attrsBack = back.getMap(8)
      val attrsSorted = attrs.sortBy(_._1) // decode sorts map keys
      back.getUTF8String(0).toString == id &&
        back.getUTF8String(1).toString == status &&
        back.getDecimal(2, 12, 2).toJavaBigDecimal.unscaledValue().longValue() == cents &&
        back.getLong(3) == micros &&
        back.getLong(4) == micros && // millis field: multiples of 1000 survive
        back.getInt(5) == day &&
        back.getBinary(6).sameElements(chk) &&
        back.getArray(7).toSeq[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString) == tags &&
        attrsBack.numElements() == attrsSorted.size &&
        attrsBack.keyArray().toSeq[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString) == attrsSorted.map(_._1) &&
        attrsBack.valueArray().toSeq[Long](
          org.apache.spark.sql.types.LongType) == attrsSorted.map(_._2) &&
        shipBack.getUTF8String(0).toString == city &&
        Option(shipBack.getUTF8String(1)).map(_.toString) == zip &&
        linesBack.numElements() == lines.size &&
        lines.indices.forall { i =>
          val l = linesBack.getStruct(i, 2)
          l.getUTF8String(0).toString == lines(i)._1 && l.getLong(1) == lines(i)._2
        } &&
        Option(back.getUTF8String(11)).map(_.toString) == note
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("timestamp-millis truncates sub-millisecond micros (Avro spec resolution)") {
    val row = richRow("t", "O", 100L, 1234567891L, 0, Array[Byte](0, 0, 0, 0),
      Nil, Nil, "c", None, Nil, None)
    val back = AvroOcf.decodeRow(
      AvroOcf.encodeRow(row, richType, richSchema), richType, richSchema)
    assert(back.getLong(3) === 1234567891L) // micros field: exact
    assert(back.getLong(4) === 1234567000L) // millis field: truncated
  }

  test("invalid enum symbol fails encode loudly") {
    val row = richRow("t", "NOPE", 100L, 0L, 0, Array[Byte](0, 0, 0, 0),
      Nil, Nil, "c", None, Nil, None)
    intercept[Exception] { AvroOcf.encodeRow(row, richType, richSchema) }
  }

  test("oversized fixed field fails encode loudly instead of silently truncating") {
    // GenericDatumWriter.writeFixed emits exactly getFixedSize bytes:
    // a 6-byte array against fixed(4) would lose 2 bytes on the wire
    // with no error unless the codec validates the length itself
    val row = richRow("t", "O", 100L, 0L, 0, Array[Byte](1, 2, 3, 4, 5, 6),
      Nil, Nil, "c", None, Nil, None)
    val e = intercept[IllegalArgumentException] {
      AvroOcf.encodeRow(row, richType, richSchema)
    }
    assert(e.getMessage.contains("fixed(4)"))
  }

  test("reordered same-typed struct fields fail encode instead of silently swapping") {
    // the codec matches by POSITION; a struct carrying the schema's
    // own field names in a different order is the silent-corruption
    // case (last_name written into first_name with no type error)
    import org.apache.spark.sql.types._
    val two = new Schema.Parser().parse(
      """{"type":"record","name":"N","fields":[
        |{"name":"first_name","type":"string"},
        |{"name":"last_name","type":"string"}]}""".stripMargin.replace("\n", ""))
    val reordered = StructType(Seq(
      StructField("last_name", StringType), StructField("first_name", StringType)))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("Doe"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Jane"))
    val e = intercept[IllegalArgumentException] {
      AvroOcf.encodeRow(row, reordered, two)
    }
    assert(e.getMessage.contains("POSITION"))
    // arbitrary aliases that don't collide with schema names keep the
    // positional contract (no spurious failure)
    val aliased = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType)))
    AvroOcf.encodeRow(row, aliased, two) // must not throw
  }

  test("fixed-decimal and negative unscaled values round-trip (sign extension)") {
    val fixedDec = new Schema.Parser().parse(
      """{"type":"record","name":"FD","fields":[
        |{"name":"v","type":{"type":"fixed","name":"D8","size":8,
        |"logicalType":"decimal","precision":16,"scale":3}}]}"""
        .stripMargin.replace("\n", ""))
    val t = AvroOcf.sparkTypeFor(fixedDec)
    assert(t("v").dataType === org.apache.spark.sql.types.DecimalType(16, 3))
    Seq(-1234567890123L, -1L, 0L, 1L, 999999999999999L).foreach { unscaled =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(unscaled, 3), 16, 3))
      val back = AvroOcf.decodeRow(AvroOcf.encodeRow(row, t, fixedDec), t, fixedDec)
      assert(back.getDecimal(0, 16, 3).toJavaBigDecimal.unscaledValue().longValue()
        === unscaled, s"unscaled $unscaled")
    }
  }

  // ---- Confluent wire format: 0x00 magic + 4-byte BE schema id + datum ----

  test("confluent framing: magic byte, big-endian id, datum payload") {
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("c-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Prod"), 3.5f)
    val framed = AvroOcf.encodeConfluentRow(row, Schemas.order, schema, 0x01020304)
    val datum = AvroOcf.encodeDatumRow(row, Schemas.order, schema)
    assert(framed(0) === 0.toByte)
    assert(framed.slice(1, 5).toSeq === Seq[Byte](1, 2, 3, 4))
    assert(framed.drop(5).toSeq === datum.toSeq)
    assert(AvroOcf.confluentSchemaId(framed) === 0x01020304)
  }

  test("confluent decode resolves the writer schema by embedded id, evolves to reader") {
    import graft.avro.functions.{from_avro_confluent, to_avro_confluent}
    val readerV2 =
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"price","type":"float"},
        |{"name":"currency","type":"string","default":"USD"}]}"""
        .stripMargin.replace("\n", "")
    val df = Seq(("a-1", "Widget", 7.25f)).toDF("orderId", "product", "price")
    val out = df.select(from_avro_confluent(
        to_avro_confluent(struct($"orderId", $"product", $"price"),
          Schemas.orderAvroJson, 7),
        readerV2, Map(7 -> Schemas.orderAvroJson)).as("d"))
      .select($"d.orderId", $"d.price", $"d.currency")
      .head()
    assert(out === Row("a-1", 7.25f, "USD"))
  }

  test("confluent decode is PERMISSIVE: wrong magic, unknown id, truncated datum -> null") {
    import graft.avro.functions.from_avro_confluent
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("x"),
      org.apache.spark.unsafe.types.UTF8String.fromString("y"), 1.0f)
    val good = AvroOcf.encodeConfluentRow(row, Schemas.order, schema, 7)
    val wrongMagic = good.clone(); wrongMagic(0) = 1
    val unknownId = good.clone(); unknownId(4) = 99
    val truncated = good.take(7)
    val df = Seq(wrongMagic, unknownId, truncated, Array[Byte](0)).toDF("value")
    val out = df.select(from_avro_confluent($"value", Schemas.orderAvroJson,
      Map(7 -> Schemas.orderAvroJson)).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("confluent SQL registration works (single-version form)") {
    A.register(spark)
    Seq(("i-3", "Prod", 2.5f)).toDF("orderId", "product", "price")
      .createOrReplaceTempView("confluent_in")
    val got = spark.sql(
      s"""SELECT from_avro_confluent(to_avro_confluent(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}', 42), '${Schemas.orderAvroJson}', 42).price AS p
         |FROM confluent_in""".stripMargin).collect()
    assert(got.head.getFloat(0) === 2.5f)
  }

  test("avro_framing classifies OCF / Confluent / raw-datum bytes") {
    import graft.avro.functions.avro_framing
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("f-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Prod"), 1.5f)
    val df = Seq(
      ("ocf", AvroOcf.encodeRow(row, Schemas.order, schema)),
      ("confluent", AvroOcf.encodeConfluentRow(row, Schemas.order, schema, 7)),
      ("other", AvroOcf.encodeDatumRow(row, Schemas.order, schema)),
      ("other", Array[Byte](9, 9))).toDF("expected", "value")
    val got = df.select($"expected", avro_framing($"value").as("got")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1), r.toString))
  }

  test("avro_can_read SQL surface agrees with the library checker on a promotion pair") {
    A.register(spark)
    val v2 =
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"product","type":"string"},
        |{"name":"price","type":"double"}]}""".stripMargin.replace("\n", "")
    val got = spark.sql(
      s"""SELECT avro_can_read('${Schemas.orderAvroJson}', '$v2') AS up,
         |       avro_can_read('$v2', '${Schemas.orderAvroJson}') AS down,
         |       avro_can_read('not json', '$v2') AS bad""".stripMargin).head()
    assert(got.getBoolean(0) === true)   // float -> double promotion
    assert(got.getBoolean(1) === false)  // demotion
    assert(got.isNullAt(2))              // unparseable schema -> null
  }

  test("raw-datum SQL registration works") {
    A.register(spark)
    Seq(("i-9", "Prod", 9.5f)).toDF("orderId", "product", "price")
      .createOrReplaceTempView("datum_in")
    val got = spark.sql(
      s"""SELECT from_avro_datum(to_avro_datum(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}'), '${Schemas.orderAvroJson}').price AS p,
         |  octet_length(to_avro_datum(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}')) AS n
         |FROM datum_in""".stripMargin).collect()
    assert(got.head.getFloat(0) === 9.5f)
    assert(got.head.getInt(1) === 1 + 3 + 1 + 4 + 4) // varint+id, varint+product, float
  }


  // ---- one decode path for every framing: sync-marker checks, prepared
  // readers per writer header, compressed containers, schema resolution

  /** One order as an OCF container from Avro's own writer: a random
    * sync marker unless `sync` is given, the codec and extra metadata
    * as set, written with `writer` (default: the order schema). */
  private def container(id: String, product: String, price: Float,
      sync: Array[Byte] = null, codec: org.apache.avro.file.CodecFactory = null,
      meta: Map[String, String] = Map.empty, writer: Schema = schema,
      fill: org.apache.avro.generic.GenericData.Record => Unit = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](writer))
    if (codec != null) w.setCodec(codec)
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    if (sync == null) w.create(writer, out) else w.create(writer, out, sync)
    val rec = new org.apache.avro.generic.GenericData.Record(writer)
    if (fill == null) { rec.put("orderId", id); rec.put("product", product); rec.put("price", price) }
    else fill(rec)
    w.append(rec); w.close()
    out.toByteArray
  }

  private def decoded(bytes: Array[Byte]): Option[(String, String, Float)] =
    scala.util.Try(AvroOcf.decodeRow(bytes, Schemas.order, schema)).toOption.map(r =>
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getFloat(2)))

  test("sync marker: own and foreign framings decode alike; damaged blocks are null in both") {
    val own = AvroOcf.encodeRow(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("sync-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Synced"), 12.5f),
      Schemas.order, schema)
    val foreign = container("sync-1", "Synced", 12.5f)
    val headerLen = AvroOcf.headerAndSync(schema)._1.length
    assert(own.length === foreign.length)
    assert(own.slice(headerLen - 16, headerLen).toSeq !==
      foreign.slice(headerLen - 16, headerLen).toSeq, "foreign framing must carry its own marker")
    // the block after the header: count = 1 (zigzag 0x02), then a
    // one-byte size for a datum this small, then the datum and marker
    def withSize(b: Array[Byte], size: Int): Array[Byte] = {
      val c = b.clone(); c(headerLen + 1) = (size * 2).toByte; c
    }
    for ((framing, bytes) <- Seq("own" -> own, "foreign" -> foreign)) {
      assert(decoded(bytes) === Some(("sync-1", "Synced", 12.5f)), framing)
      val size = bytes(headerLen + 1) / 2
      assert(bytes.length === headerLen + 2 + size + 16, framing)
      val damaged = Seq(
        "trailing marker flipped" -> { val c = bytes.clone(); c(c.length - 3) = (c(c.length - 3) ^ 0x40).toByte; c },
        "over-long block" -> withSize(bytes, size + 5),
        "short block" -> withSize(bytes, size - 1),
        "header marker flipped" -> { val c = bytes.clone(); c(headerLen - 1) = (c(headerLen - 1) ^ 1).toByte; c }) ++
        Mutations.truncations(bytes).drop(bytes.length - 16).map(c => s"cut to ${c.length} bytes" -> c) ++
        Seq(1, size / 2, size + 2).map(k => s"cut to ${headerLen + k} bytes" -> bytes.take(headerLen + k))
      damaged.foreach { case (what, b) =>
        assert(decoded(b) === None, s"$framing container, $what, decoded to ${decoded(b)}")
      }
    }
    // the same through the expression: null, hence routed to the DLQ
    val df = Seq(own, foreign, own.dropRight(1), foreign.dropRight(1)).toDF("value")
    val got = df.select(A.from_avro_ocf($"value", Schemas.orderAvroJson).as("o"))
      .collect().map(r => Option(r.getStruct(0)).map(_.getString(0)))
    assert(got.toSeq === Seq(Some("sync-1"), Some("sync-1"), None, None))
  }

  test("deflate container decodes through DataFileStream; damage is still null") {
    val deflated = container("z-1", "Zipped", 7.25f,
      codec = org.apache.avro.file.CodecFactory.deflateCodec(6))
    assert(new String(deflated, "ISO-8859-1").contains("deflate"))
    assert(decoded(deflated) === Some(("z-1", "Zipped", 7.25f)))
    assert(decoded(deflated.dropRight(1)) === None)
    assert(decoded(deflated.take(deflated.length - 20)) === None)
  }

  test("more distinct writer headers than the cache bound: each decodes, the cache stays bounded") {
    val n = AvroOcf.PreparedBound + 17
    (0 until 2).foreach { pass =>
      (0 until n).foreach { i =>
        val b = container(s"h-$i", s"P$i", i.toFloat, meta = Map("graft.test.header" -> s"v$i"))
        assert(decoded(b) === Some((s"h-$i", s"P$i", i.toFloat)), s"pass $pass header $i")
        assert(AvroOcf.preparedCount <= AvroOcf.PreparedBound)
      }
    }
  }

  test("writer schema differing from the reader resolves per the Avro spec") {
    // fields reordered, an extra writer field (skipped), price written
    // as int (int -> float promotion)
    val writer = new Schema.Parser().parse(
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"product","type":"string"},
        |{"name":"channel","type":"string"},
        |{"name":"price","type":"int"},
        |{"name":"orderId","type":"string"}]}""".stripMargin.replace("\n", ""))
    val b = container("", "", 0f, writer = writer, fill = rec => {
      rec.put("product", "Evolved"); rec.put("channel", "web")
      rec.put("price", 42); rec.put("orderId", "w-1")
    })
    assert(decoded(b) === Some(("w-1", "Evolved", 42.0f)))
    // a reader field the writer lacks, with no default, cannot resolve
    val missing = new Schema.Parser().parse(
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"price","type":"float"}]}""".stripMargin.replace("\n", ""))
    val m = container("", "", 0f, writer = missing, fill = rec => {
      rec.put("orderId", "m-1"); rec.put("price", 1.0f)
    })
    assert(decoded(m) === None)
  }

  /** An Avro long (zigzag varint) of `v >= 0`. */
  private def varint(v: Long): Array[Byte] = Mutations.varint(2 * v)

  /** `forged` decodes to null, allocating under 16 MiB, once `valid`
    * (same header) has decoded and warmed the prepared reader. */
  private def nullWithoutAllocating(valid: Array[Byte], forged: Array[Byte]): Unit = {
    def eval(b: Array[Byte]): Any = graft.avro.FromAvroOcf(
      org.apache.spark.sql.catalyst.expressions.Literal(b), Schemas.orderAvroJson).eval()
    assert(eval(valid) !== null)
    var out: Any = "unset"
    val bytes = Mutations.allocatedBy { out = eval(forged) }
    assert(out === null)
    assert(bytes < (16L << 20), s"allocated $bytes bytes")
  }

  test("a datum declaring a 2 GB string decodes to null without allocating it") {
    val (header, sync) = AvroOcf.headerAndSync(schema)
    val datum = varint(2147483000L) ++ Array.fill[Byte](8)('x')
    val forged = header ++ varint(1) ++ varint(datum.length) ++ datum ++ sync
    assert(forged.length === 241)
    nullWithoutAllocating(AvroOcf.encodeRow(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("o-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("P"), 1f), Schemas.order, schema), forged)
  }

  test("a deflate container declaring a 2 GB block decodes to null without allocating it") {
    val deflated = container("z-1", "Zipped", 7.25f,
      codec = org.apache.avro.file.CodecFactory.deflateCodec(6))
    val sync = deflated.takeRight(16) // also the last 16 bytes of the header
    val header = deflated.take(deflated.indexOfSlice(sync) + 16)
    // the one block: count 1, a one-byte size, the deflated datum, sync
    val block = deflated.slice(header.length + 2, deflated.length - 16)
    nullWithoutAllocating(deflated, header ++ varint(1) ++ varint(2147483000L) ++ block ++ sync)
  }

  /** The header (up to and including the sync marker) and the sync
    * marker of a one-block container. */
  private def headerOf(container: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val sync = container.takeRight(16)
    (container.take(container.indexOfSlice(sync) + 16), sync)
  }

  test("an xz block declaring a 1.5 GiB dictionary decodes to null without allocating it") {
    val xzContainer = container("x-1", "Packed", 3.5f, codec = org.apache.avro.file.CodecFactory.xzCodec(6))
    val (header, sync) = headerOf(xzContainer)
    def crc32(b: Array[Byte]): Array[Byte] = {
      val c = new java.util.zip.CRC32(); c.update(b)
      Array.tabulate[Byte](4)(i => (c.getValue >>> (8 * i)).toByte)
    }
    // xz stream header (CRC32 check), then a 12-byte block header: one
    // LZMA2 filter (id 0x21) whose props byte 37 asks for a 1.5 GiB
    // dictionary, padding, and the header's valid CRC32
    val flags = Array[Byte](0, 1)
    val blockHeader = Array[Byte](2, 0, 0x21, 1, 37, 0, 0, 0)
    val xz = Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0) ++ flags ++ crc32(flags) ++
      blockHeader ++ crc32(blockHeader) ++ Array[Byte](1, 0, 0, 'x')
    nullWithoutAllocating(xzContainer, header ++ varint(1) ++ varint(xz.length) ++ xz ++ sync)
    // the same for a zstandard block whose frame declares a 2^28 window,
    // past Limits.ZstdWindow: one raw block holding the plain datum
    val zstdContainer = container("x-1", "Packed", 3.5f, codec = org.apache.avro.file.CodecFactory.zstandardCodec(3))
    val (zHeader, zSync) = headerOf(zstdContainer)
    val plain = container("x-1", "Packed", 3.5f)
    val datum = plain.slice(headerOf(plain)._1.length + 2, plain.length - 16)
    def zstdBlock(windowLog: Int) = {
      val frame = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0, ((windowLog - 10) << 3).toByte) ++
        Array[Byte]((1 | datum.length << 3).toByte, (datum.length >> 5).toByte, 0) ++ datum
      zHeader ++ varint(1) ++ varint(frame.length) ++ frame ++ zSync
    }
    assert(decoded(zstdBlock(27)) === Some(("x-1", "Packed", 3.5f)))
    nullWithoutAllocating(zstdContainer, zstdBlock(28))
  }

  test("zero-byte array items are capped per datum, not per nested array") {
    val writer = new Schema.Parser().parse(
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"product","type":"string"},
        |{"name":"price","type":"float"},
        |{"name":"tags","type":{"type":"array","items":{"type":"array","items":"null"}}}]}""".stripMargin.replace("\n", ""))
    val (header, sync) = headerOf(container("", "", 0f, writer = writer, fill = rec => {
      rec.put("orderId", "n-1"); rec.put("product", "P"); rec.put("price", 1f)
      rec.put("tags", java.util.List.of())
    }))
    // orderId "n", product "p", price 1.0f, then `tags` as two inner
    // arrays of `inner` nulls each
    def message(inner: Long): Array[Byte] = {
      val datum = varint(1) ++ Array[Byte]('n') ++ varint(1) ++ Array[Byte]('p') ++
        Array[Byte](0, 0, 0x80.toByte, 0x3f) ++ varint(2) ++
        (varint(inner) ++ varint(0)) ++ (varint(inner) ++ varint(0)) ++ varint(0)
      header ++ varint(1) ++ varint(datum.length) ++ datum ++ sync
    }
    assert(decoded(message(3)) === Some(("n", "p", 1f)))
    // each inner array is within the cap, their sum is not
    val half = graft.functions.Limits.AvroZeroByteItems / 2 + 1
    nullWithoutAllocating(message(3), message(half))
  }
}
