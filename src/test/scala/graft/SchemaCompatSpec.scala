package graft

import org.apache.avro.{Schema, SchemaCompatibility}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.avro.{AvroCanRead, FromAvroConfluent, StaticSchemaRegistry, ToAvroConfluent}
import graft.model.Schemas

/** `avro_can_read` asks the library's own checker
  * (org.apache.avro.SchemaCompatibility, which takes reader before
  * writer); this spec pins its verdicts and its writer/reader argument
  * order on a curated evolution catalog exercising every rule and on
  * ScalaCheck-generated record pairs, and checks that a true verdict
  * decodes. */
class SchemaCompatSpec extends AnyFunSuite {

  private def parse(js: String) = new Schema.Parser().parse(js)

  private def libCanRead(writer: Schema, reader: Schema): Boolean =
    SchemaCompatibility.checkReaderWriterCompatibility(reader, writer)
      .getType == SchemaCompatibility.SchemaCompatibilityType.COMPATIBLE

  /** `avro_can_read(writer, reader)` evaluated as SQL evaluates it. */
  private def canRead(writerJson: String, readerJson: String): Boolean =
    AvroCanRead(Literal(writerJson), Literal(readerJson)).eval() match {
      case b: java.lang.Boolean => b
      case other => fail(s"avro_can_read gave $other")
    }
  private def canRead(writer: Schema, reader: Schema): Boolean =
    canRead(writer.toString, reader.toString)

  private def rec(fields: String*): String =
    s"""{"type":"record","name":"Order","fields":[${fields.mkString(",")}]}"""

  /** The registry-subject evolution catalog of q_schema_compat: every
    * rule has a case. */
  private val catalog: Seq[(String, String)] = SparkEntry.schemaHistory

  test("catalog matrix agrees with org.apache.avro.SchemaCompatibility both ways") {
    for ((wn, wj) <- catalog; (rn, rj) <- catalog) {
      val (w, r) = (parse(wj), parse(rj))
      assert(canRead(wj, rj) === libCanRead(w, r),
        s"divergence from library: writer=$wn reader=$rn")
    }
  }

  /** A record of struct type `t` whose every leaf the catalog's schemas
    * can hold; "A" is a symbol of both St enums. */
  private def sample(t: StructType): InternalRow = InternalRow.fromSeq(t.fields.toSeq.map(_.dataType match {
    case StringType => UTF8String.fromString("A")
    case IntegerType => 7
    case FloatType => 1.5f
    case DoubleType => 2.5
    case other => fail(s"no sample value for $other")
  }))

  test("where avro_can_read is true, from_avro_confluent decodes the writer's record") {
    // only this direction holds: a union writer into a non-union reader
    // is incompatible to the checker, yet decodes its non-null data
    val readable = for ((wn, wj) <- catalog; (rn, rj) <- catalog if canRead(wj, rj)) yield {
      val writerType = graft.avro.AvroOcf.sparkTypeFor(parse(wj))
      val framed = ToAvroConfluent(Literal(sample(writerType), writerType), wj, 1).eval()
      val decoded = FromAvroConfluent(Literal(framed, BinaryType), rj,
        StaticSchemaRegistry(Map(1 -> wj))).eval()
      assert(decoded != null, s"writer=$wn reader=$rn: avro_can_read is true but the decode is null")
      (wn, rn)
    }
    info(s"${readable.size} of ${catalog.size * catalog.size} pairs readable")
    assert(readable.size > catalog.size, s"only the self-pairs were readable: $readable")
  }

  test("catalog spot checks state the spec rules directly") {
    def can(w: String, r: String) = canRead(byName(w), byName(r))
    assert(can("v1_base", "v2_add_default"), "added-with-default must be readable")
    assert(!can("v1_base", "v3_add_no_default"), "added-without-default must fail")
    assert(can("v1_base", "v4_promote"), "float->double promotion")
    assert(!can("v4_promote", "v1_base"), "double->float demotion must fail")
    assert(can("v1_base", "v5_drop_field"), "reader may drop fields")
    assert(!can("v5_drop_field", "v1_base"), "dropped field has no default")
    assert(can("v1_base", "v6_nullable_union"), "T into [null,T]")
    assert(!can("v1_base", "v7_retype") && !can("v7_retype", "v1_base"), "retype")
    assert(can("v8_enum", "v9_enum_widened"), "enum symbol superset reads")
  }

  private def byName(n: String): String = catalog.toMap.apply(n)

  test("registry modes compose the primitive (BACKWARD/FORWARD/FULL)") {
    val v1 = byName("v1_base"); val v2 = byName("v2_add_default")
    val v4 = byName("v4_promote"); val v3 = byName("v3_add_no_default")
    // BACKWARD = the new version reads the previous one's data;
    // FORWARD = the previous version reads the new one's; FULL = both
    def backward(prev: String, next: String) = canRead(prev, next)
    def forward(prev: String, next: String) = canRead(next, prev)
    def full(prev: String, next: String) = backward(prev, next) && forward(prev, next)
    assert(backward(v1, v2) && forward(v1, v2),
      "add-with-default is FULL compatible")
    assert(full(v1, v2))
    assert(backward(v1, v4) && !forward(v1, v4),
      "promotion is BACKWARD-only")
    assert(!backward(v1, v3) && forward(v1, v3),
      "add-without-default is FORWARD-only")
  }

  test("property: generated record pairs agree with the library checker") {
    val types = Seq(
      "\"int\"" -> None, "\"long\"" -> None, "\"float\"" -> None,
      "\"double\"" -> None, "\"string\"" -> Some("\"x\""),
      "\"boolean\"" -> Some("true"),
      "[\"null\",\"long\"]" -> Some("null"))
    val genField = for {
      name <- Gen.oneOf("a", "b", "c", "d", "e")
      (tpe, dflt) <- Gen.oneOf(types)
      withDefault <- Gen.oneOf(true, false)
    } yield {
      val d = if (withDefault) dflt.orElse(
        if (tpe == "\"int\"" || tpe == "\"long\"") Some("0")
        else if (tpe == "\"float\"" || tpe == "\"double\"") Some("0.5") else None)
      else None
      (name, s"""{"name":"$name","type":$tpe${d.map(v => s""","default":$v""").getOrElse("")}}""")
    }
    val genRecord = Gen.listOfN(4, genField).map { fs =>
      val uniq = fs.toMap.values // one field per name
      rec(uniq.toSeq: _*)
    }
    val prop = Prop.forAll(Gen.zip(genRecord, genRecord)) { case (wj, rj) =>
      canRead(wj, rj) == libCanRead(parse(wj), parse(rj))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("nested structures recurse: array/map/record/fixed") {
    val n1 = """{"type":"record","name":"N","fields":[
      |{"name":"xs","type":{"type":"array","items":"int"}},
      |{"name":"m","type":{"type":"map","values":"float"}},
      |{"name":"f","type":{"type":"fixed","name":"F8","size":8}}]}"""
      .stripMargin.replace("\n", "")
    val n2 = """{"type":"record","name":"N","fields":[
      |{"name":"xs","type":{"type":"array","items":"long"}},
      |{"name":"m","type":{"type":"map","values":"double"}},
      |{"name":"f","type":{"type":"fixed","name":"F8","size":8}}]}"""
      .stripMargin.replace("\n", "")
    val n3 = """{"type":"record","name":"N","fields":[
      |{"name":"f","type":{"type":"fixed","name":"F8","size":4}}]}"""
      .stripMargin.replace("\n", "")
    assert(canRead(parse(n1), parse(n2)), "element/value promotion")
    assert(!canRead(parse(n2), parse(n1)), "demotion fails")
    assert(!canRead(parse(n1), parse(n3)), "fixed size mismatch")
    // and the library agrees on all three
    assert(libCanRead(parse(n1), parse(n2)) && !libCanRead(parse(n2), parse(n1))
      && !libCanRead(parse(n1), parse(n3)))
  }

  test("aliases redirect renames: record-level and field-level, agreeing with the library") {
    val oldRec = """{"type":"record","name":"OldOrder","fields":[
      |{"name":"legacy_id","type":"string"}]}""".stripMargin.replace("\n", "")
    val renamed = """{"type":"record","name":"NewOrder","aliases":["OldOrder"],"fields":[
      |{"name":"id","type":"string","aliases":["legacy_id"]}]}"""
      .stripMargin.replace("\n", "")
    val unrelated = """{"type":"record","name":"Other","fields":[
      |{"name":"id","type":"string"}]}""".stripMargin.replace("\n", "")
    assert(canRead(parse(oldRec), parse(renamed)),
      "reader aliases must redirect both the record and the field rename")
    assert(!canRead(parse(oldRec), parse(unrelated)),
      "no alias, different name: incompatible")
    // the library agrees on both
    assert(libCanRead(parse(oldRec), parse(renamed)))
    assert(!libCanRead(parse(oldRec), parse(unrelated)))
  }

  test("recursive record types fail sparkTypeFor loudly (no stack overflow)") {
    val recursive = """{"type":"record","name":"Node","fields":[
      |{"name":"v","type":"long"},
      |{"name":"next","type":["null","Node"],"default":null}]}"""
      .stripMargin.replace("\n", "")
    val e = intercept[IllegalArgumentException] {
      graft.avro.AvroOcf.sparkTypeFor(parse(recursive))
    }
    assert(e.getMessage.contains("recursive record type"), e.getMessage)
    // ...while avro_can_read handles the same recursion
    assert(canRead(parse(recursive), parse(recursive)))
  }

  test("the rich order schema reads itself and evolves by field drop") {
    val rich = parse(Schemas.richOrderAvroJson)
    assert(canRead(rich, rich))
    assert(canRead(parse(Schemas.orderAvroJson), parse(Schemas.orderAvroJson)))
  }
}
