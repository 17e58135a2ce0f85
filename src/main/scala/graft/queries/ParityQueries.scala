package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.avro.functions.{from_avro_ocf, to_avro_ocf}
import graft.llm.{Dedup, Multimodal, Similarity, TextOps}
import graft.model.Schemas
import graft.ops.{Analytics, Router}

/** Reference-parity queries: the Kafka/Avro order processor surface (routing, retry, DLQ, Avro OCF codec, producer/consumer sources and sinks) — SURVEY.md §2.1–2.4.
  *
  * Split from the SparkEntry monolith; every member is `private[graft]`
  * and the driver surface stays `SparkEntry.queries` / `oracleSql`
  * (assembled from the per-domain map fragments below).
  */
private[graft] trait ParityQueries { this: SparkEntry.type =>

  private[graft] def qRoute(s: SparkSession, dir: String): DataFrame =
    routed(s, dir)
      .select(col("order_key"), col("product"), col("price"), col("status"))
      .orderBy(col("order_key"))

  private[graft] def qRouteCounts(s: SparkSession, dir: String): DataFrame =
    Router.statusCounts(routed(s, dir)).orderBy(col("status"))

  private[graft] def qAggSuccess(s: SparkSession, dir: String): DataFrame =
    routed(s, dir).filter(col("status") === Router.Success)
      .select(Analytics.cents(col("price")).as("cents"))
      .agg(count(lit(1)).as("order_count"), sum(col("cents")).as("c"))
      .select(
        col("order_count"),
        (col("c") / 100.0).as("total_price"),
        ((col("c") / 100.0) / col("order_count")).as("average_price"))

  private[graft] def qRunningAvg(s: SparkSession, dir: String): DataFrame =
    Router.runningStats(
        routed(s, dir).filter(col("status") === Router.Success), col("order_key"))
      .select(col("order_key"), col("price"), col("order_count"),
        col("total_price"), col("running_average"))
      .orderBy(col("order_key"))

  /** The flagship running aggregate through the 100 TB formulation:
    * ScalablePrefix.runningSum (two-pass range-partitioned prefix sum —
    * O(n) work, only numPartitions tuples to the driver) instead of the
    * single-task global window. Same semantics as q_running_avg, gated
    * by the same oracle window SQL, so CORRECTNESS now certifies the
    * scale path itself, not just an equivalence test. */
  private[graft] def qRunningAvgScalable(s: SparkSession, dir: String): DataFrame = {
    val base = routed(s, dir).filter(col("status") === Router.Success)
      .select(col("order_key"), Analytics.cents(col("price")).as("cents"))
    graft.ops.ScalablePrefix.runningSum(s, base, "order_key", "cents", numPartitions = 32)
      .select(col("order_key"), col("cents"),
        col("run_cnt").as("order_count"),
        (col("run_sum") / 100.0).as("total_price"),
        ((col("run_sum") / 100.0) / col("run_cnt")).as("running_average"))
      .orderBy(col("order_key"))
  }

  private[graft] def qDlqEnrich(s: SparkSession, dir: String): DataFrame =
    Router.enrichDlq(routed(s, dir), unix_timestamp(col("o_orderdate")))
      .select(col("order_key"), col("error_reason"), col("original_topic"),
        col("original_partition"), col("original_offset"), col("dlq_timestamp"))
      .orderBy(col("order_key"))

  private[graft] def qRetryLedger(s: SparkSession, dir: String): DataFrame =
    Router.retryLedger(routed(s, dir))
      .select(col("order_key"), col("price"), col("attempt"),
        col("backoff_secs"), col("disposition"))
      .orderBy(col("order_key"), col("attempt"))

  /** The retry LOOP's final disposition ledger as a batch query: where
    * every order ends up once the re-injection loop drains (success ->
    * processed on attempt 1; transient -> exhausted after 1 + MaxRetries
    * attempts with the reference's exhaustion message; permanent ->
    * straight to the DLQ with its error reason). This is the
    * oracle-checkable counterpart of the StreamingSpec loop test: the
    * streaming loop must land every record exactly where this ledger
    * says (consumer.py:278-314). */
  private[graft] def qRetryFinal(s: SparkSession, dir: String): DataFrame =
    routed(s, dir).select(col("order_key"), col("status"),
      when(col("status") === Router.Success, "processed")
        .when(col("status") === Router.Transient, "retry_exhausted")
        .otherwise("dlq_permanent").as("final_disposition"),
      when(col("status") === Router.Transient, 1 + Router.MaxRetries)
        .otherwise(1).cast("long").as("attempts"),
      when(col("status") === Router.Transient,
        format_string("Processing failed after %d retries", lit(Router.MaxRetries)))
        .when(col("status") === Router.Permanent,
          Router.errorReasonCol(col("orderId"), col("product"), col("price")))
        .otherwise("").as("final_reason"))
      .orderBy(col("order_key"))

  private[graft] def qValidate(s: SparkSession, dir: String): DataFrame =
    ordersAsStream(s, dir)
      .select(col("order_key"), (col("price") - 750.0).as("price_v"))
      .withColumn("validity",
        when(col("price_v") < 0, "invalid_negative_price").otherwise("valid"))
      .orderBy(col("order_key"))

  /** S2∘S5 codec round-trip (the custom Avro OCF kernel): encode each
    * order as a single-record OCF message, decode it back, project the
    * fields. Oracle = identity, proving `from_avro_ocf ∘ to_avro_ocf = id`
    * on real data (float widening made explicit on both sides). */
  private[graft] def qAvroRoundtrip(s: SparkSession, dir: String): DataFrame =
    ordersAsStream(s, dir)
      .select(col("order_key"), struct(
        col("orderId"), col("product"),
        col("price").cast("float").as("price")).as("o"))
      .select(col("order_key"),
        from_avro_ocf(to_avro_ocf(col("o"), Schemas.orderAvroJson), Schemas.orderAvroJson).as("d"))
      .select(col("order_key"),
        col("d.orderId").as("order_id"),
        col("d.product").as("product"),
        col("d.price").cast("double").as("price"))
      .orderBy(col("order_key"))

  /** Avro schema EVOLUTION (the capability the reference's schema-
    * registry pattern exists for): messages written with the V1 writer
    * schema (order.avsc — orderId/product/price) are decoded through a
    * V2 READER schema that drops `product` and adds `currency` with
    * default "USD". Resolution happens per the Avro spec against the
    * container's embedded writer schema (AvroOcf's generic
    * DataFileStream path — the fast same-schema path disqualifies
    * itself because the headers differ): dropped fields are skipped,
    * missing fields fill from reader defaults. The oracle states the
    * post-evolution contract directly (projection + constant default).
    * Per-row codec work only; no shuffle beyond the output sort. */
  private[graft] def qAvroEvolution(s: SparkSession, dir: String): DataFrame = {
    val readerV2 =
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"price","type":"float"},
        |{"name":"currency","type":"string","default":"USD"}]}"""
        .stripMargin.replace("\n", "")
    ordersAsStream(s, dir)
      .select(col("order_key"), struct(
        col("orderId"), col("product"),
        col("price").cast("float").as("price")).as("o"))
      .select(col("order_key"),
        from_avro_ocf(to_avro_ocf(col("o"), Schemas.orderAvroJson), readerV2).as("d"))
      .select(col("order_key"),
        col("d.orderId").as("order_id"),
        col("d.price").cast("double").as("price"),
        col("d.currency").as("currency"))
      .orderBy(col("order_key"))
  }

  /** Raw-datum codec mode (SURVEY §7.3's scale optimization): identical
    * round-trip identity to q_avro_roundtrip but with NO container
    * framing — and the oracle PROVES the framing overhead is recovered:
    * the raw datum of the order record is exactly
    * 1 + len(orderId) + 1 + len(product) + 4 bytes (1-byte zigzag
    * varint length prefixes for strings under 64 chars, IEEE float),
    * which the SQL side computes symbolically and hash-compares against
    * `octet_length` of the real encoded bytes (vs ~250 B more per
    * message with the OCF header+sync). */
  private[graft] def qAvroDatumRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.avro.functions.{from_avro_datum, to_avro_datum}
    ordersAsStream(s, dir)
      .select(col("order_key"), struct(
        col("orderId"), col("product"),
        col("price").cast("float").as("price")).as("o"))
      .select(col("order_key"),
        to_avro_datum(col("o"), Schemas.orderAvroJson).as("b"))
      .select(col("order_key"),
        octet_length(col("b")).cast("long").as("datum_len"),
        from_avro_datum(col("b"), Schemas.orderAvroJson).as("d"))
      .select(col("order_key"),
        col("d.orderId").as("order_id"),
        col("d.product").as("product"),
        col("d.price").cast("double").as("price"),
        col("datum_len"))
      .orderBy(col("order_key"))
  }

  /** FULL-lattice codec round-trip (the generalization past order.avsc's
    * three primitives that any real payload needs): an enriched order —
    * nested record, array of records, array of strings, string-keyed
    * map, enum, fixed(4), bytes-decimal(12,2), date, timestamp-micros
    * AND -millis, and a `[null, T]` union — is encoded to a
    * single-record OCF and decoded back, and every leaf is projected
    * out so the oracle can state the identity symbolically (decimal
    * compared in exact cents, timestamps as epoch micros/millis, fixed
    * as hex, the map via key lookup — nothing order-ambiguous crosses
    * the engine boundary). Per-row codec work only; no shuffle beyond
    * the output sort. */
  private[graft] def qAvroNested(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val enc = o.select(col("o_orderkey"),
      struct(
        col("o_orderkey").cast("string").as("id"),
        col("o_orderstatus").as("status"),
        (Analytics.cents(col("o_totalprice")).cast("decimal(14,0)") / 100)
          .cast("decimal(12,2)").as("amount"),
        col("o_orderdate").as("created"),
        col("o_orderdate").as("updated"),
        col("o_orderdate").cast("date").as("day"),
        unhex(substring(md5(col("o_orderkey").cast("string")), 1, 8)).as("checksum"),
        split(col("o_orderpriority"), "-").as("tags"),
        map(lit("cust"), col("o_custkey"),
          lit("bucket"), col("o_orderkey") % 100).as("attrs"),
        struct(col("o_orderpriority").as("city"),
          when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")).as("zip")).as("ship"),
        array(
          struct(col("o_orderstatus").as("sku"), (col("o_orderkey") % 5).as("n")),
          struct(col("o_orderpriority").as("sku"), (col("o_orderkey") % 7).as("n")))
          .as("lines"),
        when(col("o_orderkey") % 4 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("note")).as("r"))
    enc.select(col("o_orderkey").as("order_key"),
        from_avro_ocf(to_avro_ocf(col("r"), Schemas.richOrderAvroJson),
          Schemas.richOrderAvroJson).as("d"))
      .select(col("order_key"),
        col("d.id").as("id"),
        col("d.status").as("status"),
        (col("d.amount") * 100).cast("long").as("amount_c"),
        unix_micros(col("d.created")).as("created_us"),
        unix_millis(col("d.updated")).as("updated_ms"),
        epochDay(col("d.day")).as("day_ed"),
        hex(col("d.checksum")).as("checksum_hex"),
        array_join(col("d.tags"), ",").as("tags_s"),
        col("d.attrs")(lit("cust")).as("cust"),
        col("d.attrs")(lit("bucket")).as("bucket"),
        col("d.ship.city").as("city"),
        col("d.ship.zip").as("zip"),
        element_at(col("d.lines"), 1)("n").as("n1"),
        element_at(col("d.lines"), 2)("sku").as("sku2"),
        col("d.note").as("note"))
      .orderBy(col("order_key"))
  }

  /** Confluent Schema Registry wire framing (magic 0x00 + 4-byte BE
    * schema id + raw datum — the framing most real Kafka deployments
    * use, vs the reference's OCF): a two-version subject history in one
    * topic. Even keys are written with the V1 writer (id 1:
    * orderId/product/price), odd keys with the V2 writer (id 2: adds
    * `currency`, written as "EUR"); ONE reader (V2) decodes both — the
    * embedded id selects the writer schema from the registry map and
    * Avro resolution fills V1's missing currency from the reader
    * default ("USD"). The oracle derives the currency split from the
    * key parity and PROVES the framing arithmetic symbolically:
    * framed_len = 5-byte prefix + the datum bytes (1-byte varint + id,
    * 1-byte varint + product, 4-byte float, and for V2 writes
    * 1-byte varint + 'EUR'). */
  private[graft] def qAvroConfluent(s: SparkSession, dir: String): DataFrame = {
    import graft.avro.functions.{from_avro_confluent, to_avro_confluent}
    val v2 =
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"product","type":"string"},
        |{"name":"price","type":"float"},
        |{"name":"currency","type":"string","default":"USD"}]}"""
        .stripMargin.replace("\n", "")
    ordersAsStream(s, dir)
      .select(col("order_key"), col("orderId"), col("product"),
        col("price").cast("float").as("price"))
      .select(col("order_key"),
        when(col("order_key") % 2 === 0,
          to_avro_confluent(struct(col("orderId"), col("product"), col("price")),
            Schemas.orderAvroJson, 1))
          .otherwise(
            to_avro_confluent(struct(col("orderId"), col("product"), col("price"),
              lit("EUR").as("currency")), v2, 2)).as("b"))
      .select(col("order_key"),
        octet_length(col("b")).cast("long").as("framed_len"),
        from_avro_confluent(col("b"), v2,
          Map(1 -> Schemas.orderAvroJson, 2 -> v2)).as("d"))
      .select(col("order_key"),
        col("d.orderId").as("order_id"),
        col("d.product").as("product"),
        col("d.price").cast("double").as("price"),
        col("d.currency").as("currency"),
        col("framed_len"))
      .orderBy(col("order_key"))
  }

  /** A nine-version subject history exercising every Avro resolution
    * rule (add-with-default, add-without-default, float→double
    * promotion, field drop, `[null,T]` wrap, a retype, enum symbol
    * widening), as (name, schema JSON) in version order. */
  private[graft] val schemaHistory: Seq[(String, String)] = {
    def rec(fields: String*): String =
      s"""{"type":"record","name":"Order","fields":[${fields.mkString(",")}]}"""
    Seq(
      "v1_base" -> rec(
        """{"name":"id","type":"string"}""",
        """{"name":"price","type":"float"}"""),
      "v2_add_default" -> rec(
        """{"name":"id","type":"string"}""",
        """{"name":"price","type":"float"}""",
        """{"name":"currency","type":"string","default":"USD"}"""),
      "v3_add_no_default" -> rec(
        """{"name":"id","type":"string"}""",
        """{"name":"price","type":"float"}""",
        """{"name":"region","type":"string"}"""),
      "v4_promote" -> rec(
        """{"name":"id","type":"string"}""",
        """{"name":"price","type":"double"}"""),
      "v5_drop_field" -> rec(
        """{"name":"id","type":"string"}"""),
      "v6_nullable_union" -> rec(
        """{"name":"id","type":"string"}""",
        """{"name":"price","type":["null","float"],"default":null}"""),
      "v7_retype" -> rec(
        """{"name":"id","type":"int"}""",
        """{"name":"price","type":"float"}"""),
      "v8_enum" -> rec(
        """{"name":"id","type":"string"}""",
        """{"name":"price","type":"float"}""",
        """{"name":"status","type":{"type":"enum","name":"St","symbols":["A","B"]},"default":"A"}"""),
      "v9_enum_widened" -> rec(
        """{"name":"id","type":"string"}""",
        """{"name":"price","type":"float"}""",
        """{"name":"status","type":{"type":"enum","name":"St","symbols":["A","B","C"]},"default":"A"}"""))
  }

  /** Schema-registry promotion audit over [[schemaHistory]]: each
    * consecutive promotion classified BACKWARD / FORWARD / FULL /
    * BREAKING from the `avro_can_read` predicate — the gate a registry
    * runs before accepting a version (`avro_can_read` asks
    * org.apache.avro.SchemaCompatibility, the library that resolves
    * every decode; the oracle states the Avro-spec truth table
    * explicitly). The catalog is metadata (bounded by version history),
    * so this shape audits a registry DUMP of any subject count: per-row
    * schema parses are executor-cached and the self-join key is the
    * adjacent version. */
  private[graft] def qSchemaCompat(s: SparkSession, dir: String): DataFrame = {
    import graft.avro.functions.avro_can_read
    import s.implicits._
    val catalog = schemaHistory.zipWithIndex
      .map { case ((name, js), i) => (i + 1L, name, js) }
      .toDF("version", "name", "schema_json")
    val prev = catalog.select(col("version").as("v"), col("name").as("prev_name"),
      col("schema_json").as("prev_js"))
    val next = catalog.select((col("version") - 1).as("v"), col("name").as("next_name"),
      col("schema_json").as("next_js"))
    prev.join(next, "v")
      .select(col("v").as("from_version"), col("prev_name"), col("next_name"),
        // BACKWARD: the NEW version reads data the PREVIOUS wrote
        avro_can_read(col("prev_js"), col("next_js")).as("b"),
        // FORWARD: the PREVIOUS version reads data the NEW wrote
        avro_can_read(col("next_js"), col("prev_js")).as("f"))
      .select(col("from_version"), col("prev_name"), col("next_name"),
        col("b").cast("long").as("backward"), col("f").cast("long").as("forward"),
        when(col("b") && col("f"), "FULL")
          .when(col("b"), "BACKWARD")
          .when(col("f"), "FORWARD")
          .otherwise("BREAKING").as("verdict"))
      .orderBy(col("from_version"))
  }

  /** Wire-framing triage over a MIXED topic (the misconfigured-producer
    * incident: three producers, three framings): every message is
    * classified by `avro_framing` from its leading bytes alone — OCF
    * (`Obj\x01`), Confluent (`0x00` + id), or other (raw datums are
    * indistinguishable from noise without a schema, by design) — and
    * the per-framing count, byte volume, and mean message size land in
    * one aggregate. The oracle replays the producer assignment rule
    * (key mod 3) and the per-framing length arithmetic symbolically:
    * OCF = header(schema JSON + fingerprint sync) + block; Confluent =
    * 5 + datum; datum = varints + utf8 + float. One scan, per-row
    * classification, 3-row aggregate. */
  private[graft] def qAvroFraming(s: SparkSession, dir: String): DataFrame = {
    import graft.avro.functions.{avro_framing, to_avro_confluent}
    val o = ordersAsStream(s, dir)
      .select(col("order_key"), struct(col("orderId"), col("product"),
        col("price").cast("float").as("price")).as("r"))
    o.select(col("order_key"),
        when(col("order_key") % 3 === 0,
          to_avro_ocf(col("r"), Schemas.orderAvroJson))
          .when(col("order_key") % 3 === 1,
            to_avro_confluent(col("r"), Schemas.orderAvroJson, 1))
          .otherwise(graft.avro.functions.to_avro_datum(col("r"), Schemas.orderAvroJson))
          .as("b"))
      .select(avro_framing(col("b")).as("framing"),
        octet_length(col("b")).cast("long").as("len"))
      .groupBy(col("framing"))
      .agg(count(lit(1)).as("n_messages"),
        sum(col("len")).as("total_bytes"),
        expr("sum(len) div count(1)").as("mean_bytes"))
      .orderBy(col("framing"))
  }

  // ---- analytics surface (SURVEY.md §2.5): joins, windows, rollup,
  // ---- set ops, distinct aggs, event-time buckets, as-of lookup ----

  /** PERMISSIVE decode-error handling at the query level: every 10th
    * message is deterministically truncated; from_avro_ocf yields null
    * for exactly those, and the router sends them to the DLQ branch.
    * The oracle derives the same partition from the corruption rule. */
  private[graft] def qDecodeErrors(s: SparkSession, dir: String): DataFrame =
    ordersAsStream(s, dir)
      .select(col("order_key"), struct(
        col("orderId"), col("product"),
        col("price").cast("float").as("price")).as("o"))
      .select(col("order_key"), to_avro_ocf(col("o"), Schemas.orderAvroJson).as("value"))
      .withColumn("value",
        when(col("order_key") % 10 === 0, expr("substring(value, 1, 10)"))
          .otherwise(col("value")))
      .select(col("order_key"),
        from_avro_ocf(col("value"), Schemas.orderAvroJson).as("d"))
      .select(
        when(col("d").isNull, "decode_failure").otherwise("decoded").as("outcome"))
      .groupBy(col("outcome")).agg(count(lit(1)).as("n"))
      .orderBy(col("outcome"))

  /** Scan through the REAL DataSourceV2 table (sources/OrdersSource):
    * the planner prunes the projection down to (product, price) before
    * the scan, each of 8 input partitions generates its own index
    * slice executor-side, and the aggregate runs over the source
    * exactly as it would over any catalog table. The oracle replays
    * the md5 field derivations symbolically — same ground truth as
    * q_order_gen, reached through the connector API instead of column
    * expressions. */
  private[graft] def qSourceV2(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.OrdersSource")
      .option("rows", 1500).option("seed", "dsv2").option("numPartitions", 8)
      .load()
      .groupBy(col("product"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(Analytics.cents(col("price"))) / 100.0).as("total_spend"))
      .orderBy(col("product"))

  /** Error-tolerant casts (try_* family): malformed input -> null
    * instead of failure — the SQL-surface cousin of the codec's
    * PERMISSIVE decode. */
  private[graft] def qTryCast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_orderpriority").try_cast("int").as("pri_as_int"),
        substring(col("o_orderpriority"), 1, 1).try_cast("int").as("pri_digit_int"),
        col("o_orderstatus").try_cast("double").as("status_as_double"))
      .orderBy(col("o_orderkey"))

  /** Error-tolerant ARITHMETIC (try_add / try_multiply / try_divide /
    * try_element_at): overflow, divide-by-zero, and out-of-bounds
    * produce NULL instead of an ANSI runtime error — completing the
    * try_* family next to q_try_cast. The oracle has no try_*
    * functions, so it encodes each failure predicate explicitly
    * (CASE WHEN <would overflow> THEN NULL), which doubles as
    * documentation of exactly when each expression must fail. */
  private[graft] def qTryArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        // bigint overflow on even keys (Long.MaxValue + key)
        expr("try_add(CASE WHEN o_orderkey % 2 = 0 THEN 9223372036854775807 " +
          "ELSE 0 END, o_orderkey)").as("add_or_null"),
        // 2^62 * key overflows for every key >= 2
        expr("try_multiply(o_orderkey, 4611686018427387904)").as("mul_or_null"),
        // integer-ish divide by zero every 25th row
        expr("try_divide(CAST(floor(o_totalprice) AS BIGINT), o_orderkey % 25)")
          .as("div_or_null"),
        // indices 3 and 4 are out of bounds for a 2-element array
        // (index ZERO is a hard error even under try_element_at — the
        // 1-based contract itself, not a lookup failure)
        expr("try_element_at(array('low', 'high'), CAST(o_orderkey % 4 + 1 AS INT))")
          .as("elem_or_null"))
      .orderBy(col("o_orderkey"))

  /** S1/EP1 producer parity: deterministic generated orders, routed.
    * The oracle replays the generator field-for-field. */
  private[graft] def qOrderGen(s: SparkSession, dir: String): DataFrame = {
    val gen = graft.sources.OrderGen.orders(s, 1000L, "gen1")
      .withColumnRenamed("order_id", "orderId")
    Router.route(gen)
      .select(col("seq"), col("orderId").as("order_id"), col("product"),
        col("price"), col("status"))
      .orderBy(col("seq"))
  }

  /** ORC sink+source fidelity (the third columnar format next to
    * parquet and Avro): part out as ORC into the build dir, back in
    * with the parquet schema, aggregated vs the straight-from-parquet
    * oracle — lossless types or the hash gate catches it. */
  private[graft] def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "part")
    val out = fmtDir(dir, "part_orc")
    src.write.mode("overwrite").orc(out)
    s.read.schema(src.schema).orc(out)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(Analytics.cents(col("p_retailprice"))).as("price_cents"),
        sum(col("p_size")).as("size_sum"),
        min(col("p_name")).as("first_name"))
      .orderBy(col("p_brand"))
  }

  /** Producer-sink round trip through the DataSourceV2 WRITE protocol
    * (sources/TopicDirSink.scala): deterministic orders → Kafka-shaped
    * envelopes → V2 batch write (per-task log segments + atomic
    * manifest commit) → manifest-trusting read → Avro decode — gated
    * against the same generation-replay oracle as q_order_gen. The
    * float Avro price is recovered to exact cents before comparison
    * (float→cents is exact for the producer's ≤ $1500 range). */
  private[graft] def qTopicSink(s: SparkSession, dir: String): DataFrame = {
    val out = fmtDir(dir, "topic_v2")
    graft.sources.OrderGen.toEnvelopes(
        graft.sources.OrderGen.orders(s, 500L, "sink1"))
      .select(col("key"), col("value"), col("offset"))
      .write.format("graft.sources.TopicDirSink").mode("append").save(out)
    graft.sources.TopicDirSink.readSegments(s, out)
      .select(col("offset").as("seq"),
        decode(col("key"), "UTF-8").as("order_id"),
        from_avro_ocf(col("value"), Schemas.orderAvroJson).as("o"))
      .select(col("seq"), col("order_id"), col("o.product").as("product"),
        expr("CAST(floor(CAST(o.price AS DOUBLE) * 100 + 0.5) AS BIGINT)")
          .as("price_cents"))
      .orderBy(col("seq"))
  }

  /** Snapshot time travel on the V2 topic sink: two successive commit
    * jobs (500 then 300 deterministic orders) produce two versioned
    * manifests; reading snapshot 1, snapshot 2, and the latest pointer
    * proves historical reads survive later commits — the lakehouse
    * time-travel contract, gated against the generation-replay oracle
    * (each version's count and offset/price checksums). */
  private[graft] def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val out = fmtDir(dir, "topic_tt")
    // idempotent across reruns in one JVM or many: wipe, then commit twice
    val root = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.isDirectory(root)) {
      val all = java.nio.file.Files.walk(root)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(all.iterator()).asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      finally all.close()
    }
    def publish(n: Long, seed: String): Unit =
      graft.sources.OrderGen.toEnvelopes(graft.sources.OrderGen.orders(s, n, seed))
        .select(col("key"), col("value"), col("offset"))
        .write.format("graft.sources.TopicDirSink").mode("append").save(out)
    publish(500L, "tt1")
    publish(300L, "tt2")
    def stats(version: Option[Int], label: String) =
      graft.sources.TopicDirSink.readSegments(s, out, version)
        .select(col("offset"),
          from_avro_ocf(col("value"), Schemas.orderAvroJson).as("o"))
        .agg(count(lit(1)).as("n"), sum(col("offset")).as("offset_sum"),
          sum(expr("CAST(floor(CAST(o.price AS DOUBLE) * 100 + 0.5) AS BIGINT)"))
            .as("cents_sum"))
        .select(lit(label).as("snapshot"), col("n"), col("offset_sum"),
          col("cents_sum"))
    stats(Some(1), "v1").unionAll(stats(Some(2), "v2"))
      .unionAll(stats(None, "latest"))
      .orderBy(col("snapshot"))
  }

  /** XML codec fidelity (Spark 4 to_xml ∘ from_xml = identity) — the
    * fourth self-describing interchange format beside JSON, CSV and
    * Avro OCF: each nation row (plus an injected `<&"` special-char
    * column to force entity escaping both ways) serializes to an XML
    * record and parses back through an explicit DDL schema. The
    * oracle never sees XML — it asserts the round-trip re-produced
    * the source values, same contract as q_json_roundtrip. */
  private[graft] def qXmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
      .withColumn("tricky",
        concat(col("n_name"), lit(" <&\"'> "), col("n_nationkey").cast("string")))
    val xml = n.select(col("n_nationkey"),
      to_xml(struct(col("n_name"), col("n_regionkey"), col("tricky"))).as("x"))
    xml.select(col("n_nationkey").cast("long").as("n_nationkey"),
        from_xml(col("x"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "n_name STRING, n_regionkey INT, tricky STRING")).as("d"))
      .select(col("n_nationkey"), col("d.n_name").as("n_name"),
        col("d.n_regionkey").cast("long").as("n_regionkey"),
        col("d.tricky").as("tricky"))
      .orderBy(col("n_nationkey"))
  }

  /** Consumer-group rebalance ledger — the multi-reader topic
    * semantics of the reference's group join (consumer.py:116–124)
    * made auditable: four membership generations (reader c0 alone,
    * c1 joins, c2 joins, c1 leaves) over an 8-partition orders topic,
    * each generation's RangeAssignor partition→owner map
    * (stream/ConsumerGroup.scala — the same assignment the live
    * memberStream readers filter by, proven disjoint-and-total in
    * StreamingSpec), per-partition message counts by the md5/h60
    * default-partitioner analog over the order key, and a `moved`
    * flag showing eager-rebalance churn (a membership change can move
    * partitions between SURVIVING members — the cost sticky/cooperative
    * assignors exist to avoid). The oracle replays the ASSIGNMENT
    * ALGORITHM itself (sorted members, contiguous blocks, first
    * P mod N members one extra) over the same generation literals.
    * Scale shape: the ledger is O(partitions × generations) config
    * state; the count side is one map-side-combined aggregate keyed by
    * the 8-value partition id; the join moves the 32-row ledger by
    * broadcast. */
  private[graft] def qConsumerRebalance(s: SparkSession, dir: String): DataFrame = {
    val gens = Seq(Seq("c0"), Seq("c0", "c1"), Seq("c0", "c1", "c2"),
      Seq("c0", "c2"))
    val ledger = graft.stream.ConsumerGroup.assignmentLedger(s, 8, gens)
    val counts = t(s, dir, "orders")
      .select(graft.stream.ConsumerGroup.partitionOf(
        col("o_orderkey").cast("string").cast("binary"), 8).as("pid"))
      .groupBy(col("pid")).agg(count(lit(1)).as("n_messages"))
    counts.join(broadcast(ledger), "pid")
      .select(col("generation"), col("pid"), col("owner"),
        col("n_messages"), col("moved"))
      .orderBy(col("generation"), col("pid"))
  }

  /** Rebalance-churn audit — the quantitative case for cooperative
    * (sticky) rebalancing: for each membership transition of
    * q_consumer_rebalance's generation chain, the eager RangeAssignor's
    * actual partition moves vs the information-theoretic floor
    * (ConsumerGroup.minMoves: any balanced assignment keeps at most
    * Σ_m min(owned(m), cap(m)) partitions — ConsumerGroup.
    * stickyAssignment achieves exactly this bound, pinned by
    * ConsumerGroupSpec). `excess_moves` > 0 is churn the eager strategy
    * pays for nothing (generation 3 here: a joining member shifts a
    * partition between two SURVIVORS); `moved_msgs_range` weights the
    * churn by actual message traffic on the moved partitions. The
    * oracle recomputes the floor from first principles in SQL
    * (surviving-ownership counts → ranked balanced capacities →
    * max-keep sum). Transition stats are O(generations × partitions)
    * config state; only the message counts touch data (one
    * map-side-combined aggregate, ledger joined by broadcast). */
  private[graft] def qRebalanceChurn(s: SparkSession, dir: String): DataFrame = {
    import graft.stream.ConsumerGroup
    val P = 8
    val gens = Seq(Seq("c0"), Seq("c0", "c1"), Seq("c0", "c1", "c2"),
      Seq("c0", "c2"))
    val trans = (1 until gens.size).map { g =>
      val prev = ConsumerGroup.rangeAssignment(P, gens(g - 1))
      val cur = ConsumerGroup.rangeAssignment(P, gens(g))
      val moved = (0 until P).filter(p => prev(p) != cur(p))
      val orphans = (0 until P).count(p => !gens(g).contains(prev(p)))
      val mm = ConsumerGroup.minMoves(P, prev, gens(g))
      (g.toLong, (g + 1).toLong, gens(g).size.toLong, orphans.toLong,
        moved.size.toLong, mm.toLong, (moved.size - mm).toLong, moved)
    }
    import s.implicits._
    val stats = trans
      .map { case (f, gt, n, o, mv, mn, ex, _) => (f, gt, n, o, mv, mn, ex) }
      .toDF("gen_from", "gen_to", "n_members", "n_orphaned",
        "n_moved_range", "min_moves", "excess_moves")
    val movedPairs = trans
      .flatMap { case (_, gt, _, _, _, _, _, ps) => ps.map(p => (gt, p.toLong)) }
      .toDF("gen_to", "pid")
    val counts = t(s, dir, "orders")
      .select(ConsumerGroup.partitionOf(
        col("o_orderkey").cast("string").cast("binary"), P).as("pid"))
      .groupBy(col("pid")).agg(count(lit(1)).as("n"))
    val movedMsgs = counts.join(broadcast(movedPairs), "pid")
      .groupBy(col("gen_to")).agg(sum(col("n")).as("moved_msgs_range"))
    stats.join(movedMsgs, "gen_to")
      .select(col("gen_from"), col("gen_to"), col("n_members"),
        col("n_orphaned"), col("n_moved_range"), col("min_moves"),
        col("excess_moves"), col("moved_msgs_range"))
      .orderBy(col("gen_to"))
  }

  /** Consumer-lag audit — Kafka's headline observability metric
    * (log-end offset minus committed offset per partition) over the
    * same 8-partition orders topic and partitioner as
    * q_consumer_rebalance. The commit position is a deterministic
    * processing watermark: each reader of the final generation
    * ({c0, c2} — q_consumer_rebalance's surviving membership) has
    * committed every message ordered before 1996-01-01, so
    * `lag = messages at-or-after the watermark`. Output is the
    * per-partition lag ledger (pid, owner, log-end, committed, lag,
    * exact lag ppm) plus each owner's total backlog — the number an
    * operator pages on. Scale shape: ONE scan with a map-side-combined
    * conditional aggregate onto 8 partition keys; the 8-row owner
    * ledger joins by broadcast; the owner rollup windows over 8 rows.
    * Nothing here grows with data volume except the scan. */
  private[graft] def qConsumerLag(s: SparkSession, dir: String): DataFrame = {
    import graft.stream.ConsumerGroup
    import org.apache.spark.sql.expressions.Window
    val P = 8
    val owners = ConsumerGroup.rangeAssignment(P, Seq("c0", "c2"))
    import s.implicits._
    val ledger = owners.toSeq.sortBy(_._1)
      .map { case (p, m) => (p.toLong, m) }.toDF("pid", "owner")
    val counts = t(s, dir, "orders")
      .select(ConsumerGroup.partitionOf(
          col("o_orderkey").cast("string").cast("binary"), P).as("pid"),
        (col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
          .cast("long").as("done"))
      .groupBy(col("pid"))
      .agg(count(lit(1)).as("log_end_offset"),
        sum(col("done")).as("committed_offset"))
    counts.join(broadcast(ledger), "pid")
      .withColumn("lag", col("log_end_offset") - col("committed_offset"))
      .withColumn("owner_lag", sum(col("lag")).over(Window.partitionBy(col("owner"))))
      .select(col("pid"), col("owner"), col("log_end_offset"),
        col("committed_offset"), col("lag"),
        expr("lag * 1000000 div log_end_offset").as("lag_ppm"),
        col("owner_lag"))
      .orderBy(col("pid"))
  }

  /** Producer linger-batching economics — the batch.size/linger.ms
    * trade every Kafka producer tunes (producer.py's confluent client
    * batches exactly this way): the event stream is keyed to 8
    * partitions by the md5 default-partitioner analog, and messages
    * landing in the same (partition, linger window) ship as one batch.
    * Swept at linger = 1/10/100 ms, each partition reports messages,
    * batches, exact mean fill ppm and worst-case fill — the numbers
    * that decide latency vs request amplification before touching a
    * broker. Scale shape: ONE scan — the linger axis is exploded
    * inline (3× row fanout, the unified-sweep trick q_lsh_sweep
    * uses), so a single map-side-combined aggregate lands on
    * (3 lingers × 8 pids × windows) keys and re-aggregates onto 24;
    * nothing retained across rows. */
  private[graft] def qProducerBatching(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).select(
      graft.stream.ConsumerGroup.partitionOf(
        col("user_id").cast("string").cast("binary"), 8).as("pid"),
      col("ts"),
      explode(array(lit(1L), lit(10L), lit(100L))).as("linger_ms"))
      .groupBy(col("linger_ms"), col("pid"),
        expr("ts div (linger_ms * 1000000)").as("batch"))
      .agg(count(lit(1)).as("fill"))
      .groupBy(col("linger_ms"), col("pid"))
      .agg(sum(col("fill")).as("n_messages"), count(lit(1)).as("n_batches"),
        max(col("fill")).as("max_fill"))
      .select(col("linger_ms"), col("pid"), col("n_messages"),
        col("n_batches"),
        expr("n_messages * 1000000 div n_batches").as("avg_fill_ppm"),
        col("max_fill"))
      .orderBy(col("linger_ms"), col("pid"))
  }

  /** Log-compaction semantics (cleanup.policy=compact): the topic is a
    * changelog keyed by (user_id, event_type) — each event upserts the
    * key's state, offset order = event_id — and the compactor keeps
    * only each key's LATEST record, dropping the key entirely when
    * that survivor is a tombstone (delete marker, simulated on a
    * deterministic 1/8 md5 slice). Per event type: log records vs
    * distinct keys vs live keys after tombstone removal, and the
    * retained ppm — the "how much does compaction reclaim" number.
    * Latest-record selection is max_by over the unique offset (exact
    * in both engines); one grouped pass over (key, offset, flag), no
    * window, map-side combinable at any log length. */
  private[graft] def qLogCompaction(s: SparkSession, dir: String): DataFrame = {
    val recs = events(s, dir).select(col("user_id"), col("event_type"),
      col("event_id"),
      (h60(concat(lit("del|"), col("event_id").cast("string"))) % 8 === 0)
        .as("tomb"))
    recs.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_records"),
        expr("max_by(tomb, event_id)").as("last_tomb"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_records")).as("n_records"),
        count(lit(1)).as("n_keys"),
        sum(when(col("last_tomb"), 0L).otherwise(1L)).as("n_live"),
        sum(when(col("last_tomb"), 1L).otherwise(0L)).as("n_tombstoned"))
      .select(col("event_type"), col("n_records"), col("n_keys"),
        col("n_live"), col("n_tombstoned"),
        expr("n_live * 1000000 div n_records").as("retained_ppm"))
      .orderBy(col("event_type"))
  }

  /** DLQ replay — the operational loop after a poison-message incident
    * (the reference's DLQ exists precisely so records can be re-driven
    * once the defect is fixed): every permanent failure re-enters the
    * router after the repair patch (the upstream defect double-added a
    * 1000.00 fee, so the patch subtracts it from every over-threshold
    * price; validation failures are untouched — no patch conjures
    * missing fields), and each (error class, product) cell reports how
    * many records recover, merely become retryable (the repaired price
    * lands in the transient band), or stay dead. Same Router
    * predicates as q_route on both passes; error classes come from the
    * predicates, not the interpolated reason strings (those embed the
    * price and would shatter the grouping). One scan, one small
    * aggregate. */
  private[graft] def qDlqReplay(s: SparkSession, dir: String): DataFrame = {
    val dlq = routed(s, dir).filter(col("status") === Router.Permanent)
      .select(col("order_key"), col("orderId"), col("product"), col("price"),
        when(col("price").isNull, "missing_price")
          .when(Router.invalid(col("orderId"), col("product"), col("price")),
            "invalid_payload")
          .otherwise("price_threshold").as("error_class"))
    dlq
      .withColumn("fixed_price",
        when(col("price") > Router.PermanentThreshold,
          col("price") - Router.PermanentThreshold).otherwise(col("price")))
      .withColumn("replay_status",
        Router.statusCol(col("orderId"), col("product"), col("fixed_price")))
      .groupBy(col("error_class"), col("product"))
      .agg(count(lit(1)).as("n_dlq"),
        sum(when(col("replay_status") === Router.Success, 1L).otherwise(0L))
          .as("n_recovered"),
        sum(when(col("replay_status") === Router.Transient, 1L).otherwise(0L))
          .as("n_retryable"),
        sum(when(col("replay_status") === Router.Permanent, 1L).otherwise(0L))
          .as("n_still_dead"))
      .withColumn("recovery_ppm", expr("n_recovered * 1000000 div n_dlq"))
      .orderBy(col("error_class"), col("product"))
  }

  /** Idempotent-producer dedup ledger — the enable.idempotence=true
    * guarantee the reference's confluent producer gets from the broker
    * (producer.py:25–29 config): retried sends carry the same
    * (producer_id, sequence) and the broker drops the re-delivery.
    * Here the retry storm is simulated deterministically (every event
    * whose h60("retry|"+event_id) lands in 1/16 of hash space is
    * delivered twice), producer_id <- user_id, sequence <- event_id,
    * and the dedup is the broker's rule: keep ONE copy per (producer,
    * seq). Per event type: unique messages, deliveries, duplicates
    * dropped, dup ppm. Scale shape: the union is a zero-copy plan
    * concat, and the dedup shuffles only the 3-column key — the same
    * hash-groupBy core as exact document dedup (llm/Dedup). */
  private[graft] def qIdempotentDedup(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val echo = base.filter(
      h60(concat(lit("retry|"), col("event_id").cast("string"))) % 16 === 0)
    base.unionAll(echo)
      .groupBy(col("user_id"), col("event_id"), col("event_type"))
      .agg(count(lit(1)).as("copies"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"),
        sum(col("copies")).as("n_delivered"),
        sum(col("copies") - 1).as("n_dups_dropped"))
      .select(col("event_type"), col("n_unique"), col("n_delivered"),
        col("n_dups_dropped"),
        expr("n_dups_dropped * 1000000 div n_delivered").as("dup_ppm"))
      .orderBy(col("event_type"))
  }

  private[graft] def parityQueryMap: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_idempotent_dedup" -> (qIdempotentDedup _),
    "q_log_compaction" -> (qLogCompaction _),
    "q_dlq_replay" -> (qDlqReplay _),
    "q_producer_batching" -> (qProducerBatching _),
    "q_consumer_lag" -> (qConsumerLag _),
    "q_consumer_rebalance" -> (qConsumerRebalance _),
    "q_rebalance_churn" -> (qRebalanceChurn _),
    "q_route" -> (qRoute _),
    "q_route_counts" -> (qRouteCounts _),
    "q_agg_success" -> (qAggSuccess _),
    "q_running_avg" -> (qRunningAvg _),
    "q_running_avg_scalable" -> (qRunningAvgScalable _),
    "q_dlq_enrich" -> (qDlqEnrich _),
    "q_retry_ledger" -> (qRetryLedger _),
    "q_retry_final" -> (qRetryFinal _),
    "q_validate" -> (qValidate _),
    "q_avro_roundtrip" -> (qAvroRoundtrip _),
    "q_avro_evolution" -> (qAvroEvolution _),
    "q_avro_datum_roundtrip" -> (qAvroDatumRoundtrip _),
    "q_avro_nested" -> (qAvroNested _),
    "q_avro_confluent" -> (qAvroConfluent _),
    "q_schema_compat" -> (qSchemaCompat _),
    "q_avro_framing" -> (qAvroFraming _),
    "q_decode_errors" -> (qDecodeErrors _),
    "q_order_gen" -> (qOrderGen _),
    "q_try_cast" -> (qTryCast _),
    "q_source_v2" -> (qSourceV2 _),
    "q_try_arith" -> (qTryArith _),
    "q_orc_roundtrip" -> (qOrcRoundtrip _),
    "q_topic_sink" -> (qTopicSink _),
    "q_time_travel" -> (qTimeTravel _),
    "q_xml_roundtrip" -> (qXmlRoundtrip _),
  )

  /** OCF per-message byte overhead DERIVED from the actual schema JSON
    * (round-7 advice: never hardcode the 228): header = magic(4) +
    * meta-map count varint(1) + "avro.schema" key (len varint 1 + 11)
    * + schema-length varint (2 bytes while 64 ≤ L ≤ 8191) + L +
    * map-end(1) + header sync(16); each single-record message then
    * adds record-count varint(1) + block-size varint (1 byte while the
    * datum ≤ 63 B — both width assumptions are require-guarded, so a
    * schema or word-list edit fails the build instead of silently
    * invalidating the oracle) + block sync(16). */
  private[graft] val ocfPerMessageOverhead: Int = {
    val L = Schemas.orderAvroJson.getBytes("UTF-8").length
    require(L >= 64 && L <= 8191,
      s"OCF oracle assumes a 2-byte schema-length varint; schema JSON is $L bytes")
    // datum = orderId varint(1) + 36-char uuid + product varint(1) +
    // product + float(4); product = two Words + space
    val maxProduct = graft.sources.OrderGen.Words.map(_.length).max * 2 + 1
    require(42 + maxProduct <= 63,
      s"OCF oracle assumes a 1-byte block-size varint; max datum = ${42 + maxProduct} B")
    (4 + 1 + 1 + 11 + 2 + L + 1 + 16) + 1 + 1 + 16
  }

  private[graft] def parityOracleMap: Map[String, String] = Map(
    "q_idempotent_dedup" ->
      """WITH base AS (
        |  SELECT user_id, event_id, event_type FROM events),
        |delivered AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT * FROM base
        |  WHERE CAST('0x' || substr(md5('retry|' || CAST(event_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) % 16 = 0),
        |dedup AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(count(*) AS BIGINT) AS copies
        |  FROM delivered GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(copies) AS BIGINT) AS n_delivered,
        |  CAST(sum(copies - 1) AS BIGINT) AS n_dups_dropped,
        |  CAST(sum(copies - 1) AS BIGINT) * 1000000
        |    // CAST(sum(copies) AS BIGINT) AS dup_ppm
        |FROM dedup GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_log_compaction" ->
      """WITH recs AS (
        |  SELECT user_id, event_type, event_id,
        |    CAST('0x' || substr(md5('del|' || CAST(event_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 8 = 0 AS tomb
        |  FROM events),
        |keys AS (
        |  SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS n_records,
        |    max_by(tomb, event_id) AS last_tomb
        |  FROM recs GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n_records) AS BIGINT) AS n_records,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN last_tomb THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
        |  CAST(sum(CASE WHEN last_tomb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tombstoned,
        |  CAST(sum(CASE WHEN last_tomb THEN 0 ELSE 1 END) AS BIGINT) * 1000000
        |    // CAST(sum(n_records) AS BIGINT) AS retained_ppm
        |FROM keys GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_dlq_replay" -> (routedSql +
      """, dlq AS (
        |  SELECT order_key, order_id, product, price,
        |    CASE WHEN price IS NULL THEN 'missing_price'
        |         WHEN order_id IS NULL OR length(order_id) = 0
        |              OR product IS NULL OR length(product) = 0
        |              OR price < 0 THEN 'invalid_payload'
        |         ELSE 'price_threshold' END AS error_class
        |  FROM routed WHERE status = 'permanent_failure'),
        |replayed AS (
        |  SELECT error_class, product,
        |    CASE WHEN price > 1000.0 THEN price - 1000.0 ELSE price END AS fp
        |  FROM dlq),
        |st AS (
        |  SELECT error_class, product,
        |    CASE WHEN fp IS NULL OR fp < 0 THEN 'permanent_failure'
        |         WHEN fp >= 5.0 AND fp <= 50.0 THEN 'transient_failure'
        |         WHEN fp > 1000.0 THEN 'permanent_failure'
        |         ELSE 'success' END AS replay_status
        |  FROM replayed)
        |SELECT error_class, product, CAST(count(*) AS BIGINT) AS n_dlq,
        |  CAST(sum(CASE WHEN replay_status = 'success' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_recovered,
        |  CAST(sum(CASE WHEN replay_status = 'transient_failure' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retryable,
        |  CAST(sum(CASE WHEN replay_status = 'permanent_failure' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_still_dead,
        |  CAST(sum(CASE WHEN replay_status = 'success' THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS recovery_ppm
        |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q_producer_batching" ->
      """WITH m AS (
        |  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS pid,
        |    epoch_ns(ts) AS ts
        |  FROM events),
        |b AS (
        |  SELECT l.linger_ms, pid, ts // (l.linger_ms * 1000000) AS batch,
        |    CAST(count(*) AS BIGINT) AS fill
        |  FROM m, (VALUES (CAST(1 AS BIGINT)), (CAST(10 AS BIGINT)),
        |    (CAST(100 AS BIGINT))) l(linger_ms)
        |  GROUP BY 1, 2, 3)
        |SELECT linger_ms, pid, CAST(sum(fill) AS BIGINT) AS n_messages,
        |  CAST(count(*) AS BIGINT) AS n_batches,
        |  CAST(sum(fill) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
        |    AS avg_fill_ppm,
        |  CAST(max(fill) AS BIGINT) AS max_fill
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // owners replayed by the generic RangeAssignor formula over the
    // final membership {c0, c2}; watermark literal shared with the
    // Spark side; lag ppm in exact integer division.
    "q_consumer_lag" ->
      """WITH counts AS (
        |  SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS pid,
        |    CAST(count(*) AS BIGINT) AS log_end_offset,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS committed_offset
        |  FROM orders GROUP BY 1),
        |own AS (
        |  SELECT CAST(r.range AS BIGINT) AS pid,
        |    (['c0', 'c2'])[CAST(CASE WHEN r.range < (8 // 2 + 1) * (8 % 2)
        |         THEN r.range // (8 // 2 + 1)
        |         ELSE (8 % 2) + (r.range - (8 // 2 + 1) * (8 % 2)) // (8 // 2)
        |       END AS INT) + 1] AS owner
        |  FROM range(8) r),
        |lagd AS (
        |  SELECT c.pid, o.owner, c.log_end_offset, c.committed_offset,
        |    c.log_end_offset - c.committed_offset AS lag
        |  FROM counts c JOIN own o USING (pid))
        |SELECT pid, owner, log_end_offset, committed_offset, lag,
        |  lag * 1000000 // log_end_offset AS lag_ppm,
        |  CAST(sum(lag) OVER (PARTITION BY owner) AS BIGINT) AS owner_lag
        |FROM lagd ORDER BY pid""".stripMargin,

    // replays the RangeAssignor formula generically over the generation
    // literals: sorted members, npp = P div N contiguous each, first
    // P mod N members one extra; owner index of partition p is
    // p div (npp+1) inside the extra-block boundary, else
    // extra + (p - boundary) div npp. DuckDB lists are 1-based.
    "q_consumer_rebalance" ->
      """WITH gens(generation, members) AS (VALUES
        |    (CAST(1 AS BIGINT), ['c0']),
        |    (CAST(2 AS BIGINT), ['c0', 'c1']),
        |    (CAST(3 AS BIGINT), ['c0', 'c1', 'c2']),
        |    (CAST(4 AS BIGINT), ['c0', 'c2'])),
        |grid AS (
        |  SELECT generation, list_sort(members) AS ms, CAST(r.range AS BIGINT) AS pid
        |  FROM gens, range(8) r),
        |own AS (
        |  SELECT generation, pid,
        |    ms[CAST(CASE WHEN pid < (8 // len(ms) + 1) * (8 % len(ms))
        |         THEN pid // (8 // len(ms) + 1)
        |         ELSE (8 % len(ms)) + (pid - (8 // len(ms) + 1) * (8 % len(ms))) // (8 // len(ms))
        |       END AS INT) + 1] AS owner
        |  FROM grid),
        |moved AS (
        |  SELECT generation, pid, owner,
        |    coalesce(lag(owner) OVER (PARTITION BY pid ORDER BY generation) <> owner,
        |             FALSE) AS moved
        |  FROM own),
        |counts AS (
        |  SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS pid,
        |    CAST(count(*) AS BIGINT) AS n_messages
        |  FROM orders GROUP BY 1)
        |SELECT generation, pid, owner, n_messages, moved
        |FROM moved JOIN counts USING (pid)
        |ORDER BY generation, pid""".stripMargin,

    // recomputes the minimal-move floor from first principles: per
    // transition, surviving-ownership counts -> balanced capacities
    // (P div N each, the P mod N "+1" slots ranked to the largest
    // holders, ties lexicographic) -> max_keep = sum(min(owned, cap));
    // min_moves = P - max_keep. Range-assignor owners replayed by the
    // same formula as q_consumer_rebalance.
    "q_rebalance_churn" ->
      """WITH gens(generation, members) AS (VALUES
        |    (CAST(1 AS BIGINT), ['c0']),
        |    (CAST(2 AS BIGINT), ['c0', 'c1']),
        |    (CAST(3 AS BIGINT), ['c0', 'c1', 'c2']),
        |    (CAST(4 AS BIGINT), ['c0', 'c2'])),
        |grid AS (
        |  SELECT generation, list_sort(members) AS ms, CAST(r.range AS BIGINT) AS pid
        |  FROM gens, range(8) r),
        |own AS (
        |  SELECT generation, pid,
        |    ms[CAST(CASE WHEN pid < (8 // len(ms) + 1) * (8 % len(ms))
        |         THEN pid // (8 // len(ms) + 1)
        |         ELSE (8 % len(ms)) + (pid - (8 // len(ms) + 1) * (8 % len(ms))) // (8 // len(ms))
        |       END AS INT) + 1] AS owner
        |  FROM grid),
        |trans AS (
        |  SELECT a.generation AS gen_from, b.generation AS gen_to, a.pid,
        |    a.owner AS prev_owner, b.owner AS cur_owner
        |  FROM own a JOIN own b ON b.generation = a.generation + 1 AND a.pid = b.pid),
        |gensz AS (SELECT generation, CAST(len(members) AS BIGINT) AS n_members,
        |            list_sort(members) AS ms FROM gens),
        |o AS (
        |  SELECT t.gen_from, t.gen_to, t.pid, t.prev_owner, t.cur_owner,
        |    NOT list_contains(g.ms, t.prev_owner) AS orphaned,
        |    t.prev_owner <> t.cur_owner AS is_moved
        |  FROM trans t JOIN gensz g ON g.generation = t.gen_to),
        |surv AS (
        |  SELECT gen_to, prev_owner AS m, CAST(count(*) AS BIGINT) AS owned
        |  FROM o WHERE NOT orphaned GROUP BY 1, 2),
        |mem AS (
        |  SELECT g.generation AS gen_to, unnest(g.ms) AS m, g.n_members
        |  FROM gensz g WHERE g.generation > 1),
        |memo AS (
        |  SELECT mem.gen_to, mem.m, mem.n_members,
        |    coalesce(surv.owned, CAST(0 AS BIGINT)) AS owned
        |  FROM mem LEFT JOIN surv ON surv.gen_to = mem.gen_to AND surv.m = mem.m),
        |capd AS (
        |  SELECT gen_to, m, owned,
        |    8 // n_members + CASE WHEN row_number()
        |        OVER (PARTITION BY gen_to ORDER BY owned DESC, m) <= 8 % n_members
        |      THEN 1 ELSE 0 END AS cap
        |  FROM memo),
        |keepx AS (
        |  SELECT gen_to, CAST(sum(least(owned, cap)) AS BIGINT) AS max_keep
        |  FROM capd GROUP BY 1),
        |counts AS (
        |  SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS pid,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |mstats AS (
        |  SELECT o.gen_from, o.gen_to,
        |    CAST(sum(CASE WHEN o.is_moved THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_range,
        |    CAST(sum(CASE WHEN o.orphaned THEN 1 ELSE 0 END) AS BIGINT) AS n_orphaned,
        |    CAST(sum(CASE WHEN o.is_moved THEN c.n ELSE 0 END) AS BIGINT) AS moved_msgs_range
        |  FROM o JOIN counts c USING (pid) GROUP BY 1, 2)
        |SELECT m.gen_from, m.gen_to, g.n_members, m.n_orphaned, m.n_moved_range,
        |  8 - k.max_keep AS min_moves,
        |  m.n_moved_range - (8 - k.max_keep) AS excess_moves,
        |  m.moved_msgs_range
        |FROM mstats m
        |JOIN keepx k USING (gen_to)
        |JOIN gensz g ON g.generation = m.gen_to
        |ORDER BY m.gen_to""".stripMargin,
    "q_route" ->
      s"""$routedSql
         |SELECT order_key, product, price, status FROM routed ORDER BY order_key""".stripMargin,
    "q_route_counts" ->
      s"""$routedSql
         |SELECT status, count(*) AS n FROM routed GROUP BY status ORDER BY status""".stripMargin,
    "q_agg_success" ->
      s"""$routedSql, cents AS (
         |  SELECT CAST(floor(price * 100 + 0.5) AS BIGINT) AS cents
         |  FROM routed WHERE status = 'success')
         |SELECT count(*) AS order_count,
         |       sum(cents) / 100.0 AS total_price,
         |       (sum(cents) / 100.0) / count(*) AS average_price
         |FROM cents""".stripMargin,
    "q_running_avg" ->
      s"""$routedSql, s AS (
         |  SELECT order_key, price,
         |         CAST(floor(price * 100 + 0.5) AS BIGINT) AS cents
         |  FROM routed WHERE status = 'success')
         |SELECT order_key, price,
         |       count(*) OVER w AS order_count,
         |       sum(cents) OVER w / 100.0 AS total_price,
         |       (sum(cents) OVER w / 100.0) / (count(*) OVER w) AS running_average
         |FROM s
         |WINDOW w AS (ORDER BY order_key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY order_key""".stripMargin,
    "q_running_avg_scalable" ->
      s"""$routedSql, s AS (
         |  SELECT order_key,
         |         CAST(floor(price * 100 + 0.5) AS BIGINT) AS cents
         |  FROM routed WHERE status = 'success')
         |SELECT order_key, cents,
         |       count(*) OVER w AS order_count,
         |       sum(cents) OVER w / 100.0 AS total_price,
         |       (sum(cents) OVER w / 100.0) / (count(*) OVER w) AS running_average
         |FROM s
         |WINDOW w AS (ORDER BY order_key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY order_key""".stripMargin,
    "q_dlq_enrich" ->
      s"""$routedSql
         |SELECT order_key,
         |       CASE WHEN price IS NULL THEN 'Processing error: Missing price field'
         |            WHEN order_id IS NULL OR length(order_id) = 0
         |                 OR product IS NULL OR length(product) = 0
         |              THEN 'Processing error: Invalid order payload'
         |            WHEN price < 0
         |              THEN printf('Processing error: Invalid price: %.2f', price)
         |            ELSE printf('Price exceeds threshold: %.2f > 1000.0', price)
         |       END AS error_reason,
         |       'orders' AS original_topic,
         |       0 AS original_partition,
         |       order_key AS original_offset,
         |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS dlq_timestamp
         |FROM routed WHERE status = 'permanent_failure' ORDER BY order_key""".stripMargin,
    "q_retry_ledger" ->
      s"""$routedSql
         |SELECT order_key, price, attempt, attempt * 0.5 AS backoff_secs,
         |       CASE WHEN attempt = 3 THEN 'Processing failed after 3 retries'
         |            ELSE 'retry' END AS disposition
         |FROM routed CROSS JOIN (SELECT unnest([1, 2, 3]) AS attempt) a
         |WHERE status = 'transient_failure'
         |ORDER BY order_key, attempt""".stripMargin,
    "q_retry_final" ->
      s"""$routedSql
         |SELECT order_key, status,
         |  CASE status WHEN 'success' THEN 'processed'
         |              WHEN 'transient_failure' THEN 'retry_exhausted'
         |              ELSE 'dlq_permanent' END AS final_disposition,
         |  CAST(CASE WHEN status = 'transient_failure' THEN 4 ELSE 1 END AS BIGINT) AS attempts,
         |  CASE WHEN status = 'transient_failure' THEN 'Processing failed after 3 retries'
         |       WHEN status = 'permanent_failure' THEN
         |         CASE WHEN price IS NULL THEN 'Processing error: Missing price field'
         |              WHEN order_id IS NULL OR length(order_id) = 0
         |                   OR product IS NULL OR length(product) = 0
         |                THEN 'Processing error: Invalid order payload'
         |              WHEN price < 0
         |                THEN printf('Processing error: Invalid price: %.2f', price)
         |              ELSE printf('Price exceeds threshold: %.2f > 1000.0', price) END
         |       ELSE '' END AS final_reason
         |FROM routed ORDER BY order_key""".stripMargin,
    "q_validate" ->
      s"""$routedSql
         |SELECT order_key, price - 750.0 AS price_v,
         |       CASE WHEN price - 750.0 < 0 THEN 'invalid_negative_price'
         |            ELSE 'valid' END AS validity
         |FROM stream ORDER BY order_key""".stripMargin,
    "q_avro_roundtrip" ->
      s"""$routedSql
         |SELECT order_key, order_id, product,
         |       CAST(CAST(price AS REAL) AS DOUBLE) AS price
         |FROM stream ORDER BY order_key""".stripMargin,
    "q_avro_evolution" ->
      s"""$routedSql
         |SELECT order_key, order_id,
         |       CAST(CAST(price AS REAL) AS DOUBLE) AS price,
         |       'USD' AS currency
         |FROM stream ORDER BY order_key""".stripMargin,
    "q_avro_datum_roundtrip" ->
      s"""$routedSql
         |SELECT order_key, order_id, product,
         |       CAST(CAST(price AS REAL) AS DOUBLE) AS price,
         |       CAST(length(order_id) + length(product) + 6 AS BIGINT) AS datum_len
         |FROM stream ORDER BY order_key""".stripMargin,
    "q_avro_nested" ->
      """SELECT o_orderkey AS order_key,
        |       CAST(o_orderkey AS VARCHAR) AS id,
        |       o_orderstatus AS status,
        |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS amount_c,
        |       epoch_us(o_orderdate) AS created_us,
        |       epoch_ms(o_orderdate) AS updated_ms,
        |       CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_ed,
        |       upper(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS checksum_hex,
        |       replace(o_orderpriority, '-', ',') AS tags_s,
        |       o_custkey AS cust,
        |       o_orderkey % 100 AS bucket,
        |       o_orderpriority AS city,
        |       CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS zip,
        |       o_orderkey % 5 AS n1,
        |       o_orderpriority AS sku2,
        |       CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_orderstatus END AS note
        |FROM orders ORDER BY order_key""".stripMargin,
    "q_avro_confluent" ->
      s"""$routedSql
         |SELECT order_key, order_id, product,
         |       CAST(CAST(price AS REAL) AS DOUBLE) AS price,
         |       CASE WHEN order_key % 2 = 0 THEN 'USD' ELSE 'EUR' END AS currency,
         |       -- 11 = Confluent prefix(5) + id/product length varints(1+1)
         |       -- + float(4); +4 = the v2 writer's currency field
         |       -- (3-char code + 1-byte varint — both codes are 3 chars)
         |       CAST(length(order_id) + length(product) + 11
         |            + CASE WHEN order_key % 2 = 0 THEN 0 ELSE 4 END
         |            AS BIGINT) AS framed_len
         |FROM stream ORDER BY order_key""".stripMargin,
    "q_schema_compat" ->
      """SELECT CAST(from_version AS BIGINT) AS from_version, prev_name,
        |       next_name, CAST(backward AS BIGINT) AS backward,
        |       CAST(forward AS BIGINT) AS forward, verdict
        |FROM (VALUES
        |  (1, 'v1_base',           'v2_add_default',    1, 1, 'FULL'),
        |  (2, 'v2_add_default',    'v3_add_no_default', 0, 1, 'FORWARD'),
        |  (3, 'v3_add_no_default', 'v4_promote',        1, 0, 'BACKWARD'),
        |  (4, 'v4_promote',        'v5_drop_field',     1, 0, 'BACKWARD'),
        |  (5, 'v5_drop_field',     'v6_nullable_union', 1, 1, 'FULL'),
        |  (6, 'v6_nullable_union', 'v7_retype',         0, 0, 'BREAKING'),
        |  (7, 'v7_retype',         'v8_enum',           0, 0, 'BREAKING'),
        |  -- v9 may WRITE symbol C that v8 cannot represent, and the St
        |  -- enum declares no enum-level default (the field default "A"
        |  -- is a record-resolution default, not a symbol fallback), so
        |  -- the widening is BACKWARD-only
        |  (8, 'v8_enum',           'v9_enum_widened',   1, 0, 'BACKWARD'))
        |  AS t(from_version, prev_name, next_name, backward, forward, verdict)
        |ORDER BY from_version""".stripMargin,
    "q_avro_framing" ->
      s"""$routedSql
         |SELECT framing, count(*) AS n_messages,
         |       CAST(SUM(len) AS BIGINT) AS total_bytes,
         |       CAST(SUM(len) // count(*) AS BIGINT) AS mean_bytes
         |FROM (
         |  SELECT CASE WHEN order_key % 3 = 0 THEN 'ocf'
         |              WHEN order_key % 3 = 1 THEN 'confluent'
         |              ELSE 'other' END AS framing,
         |         -- OCF overhead DERIVED from the schema JSON length
         |         -- (ocfPerMessageOverhead above — header + block framing);
         |         -- Confluent: 5 B prefix + datum; datum:
         |         -- varint+id, varint+product, 4 B float
         |         CASE WHEN order_key % 3 = 0
         |                THEN $ocfPerMessageOverhead + length(order_id) + length(product) + 6
         |              WHEN order_key % 3 = 1
         |                THEN 5 + length(order_id) + length(product) + 6
         |              ELSE length(order_id) + length(product) + 6 END AS len
         |  FROM stream)
         |GROUP BY framing ORDER BY framing""".stripMargin,
    "q_decode_errors" ->
      """SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'decode_failure'
        |            ELSE 'decoded' END AS outcome, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY outcome""".stripMargin,
    "q_order_gen" -> {
      val words = graft.sources.OrderGen.Words.map(w => s"'$w'").mkString(", ")
      s"""WITH g AS (
         |  SELECT range AS seq, md5('gen1|' || CAST(range AS VARCHAR)) AS h
         |  FROM range(1000)),
         |o AS (
         |  SELECT seq,
         |    substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' ||
         |      substr(h,17,4) || '-' || substr(h,21,12) AS order_id,
         |    ([$words])[CAST(CAST('0x' || substr(h,1,4) AS BIGINT) % 16 AS INT) + 1]
         |      || ' ' ||
         |      ([$words])[CAST(CAST('0x' || substr(h,5,4) AS BIGINT) % 16 AS INT) + 1] AS product,
         |    (CAST('0x' || substr(h,9,8) AS BIGINT) % 149501 + 500) / 100.0 AS price
         |  FROM g)
         |SELECT seq, order_id, product, price,
         |  CASE WHEN order_id IS NULL OR length(order_id) = 0
         |            OR product IS NULL OR length(product) = 0
         |            OR price IS NULL OR price < 0 THEN 'permanent_failure'
         |       WHEN price >= 5.0 AND price <= 50.0 THEN 'transient_failure'
         |       WHEN price > 1000.0 THEN 'permanent_failure'
         |       ELSE 'success' END AS status
         |FROM o ORDER BY seq""".stripMargin
    },
    "q_try_cast" ->
      """SELECT o_orderkey,
        |  TRY_CAST(o_orderpriority AS INT) AS pri_as_int,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri_digit_int,
        |  TRY_CAST(o_orderstatus AS DOUBLE) AS status_as_double
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_source_v2" -> {
      val words = graft.sources.OrderGen.Words.map(w => s"'$w'").mkString(", ")
      s"""WITH g AS (
         |  SELECT md5('dsv2|' || CAST(range AS VARCHAR)) AS h FROM range(1500)),
         |o AS (
         |  SELECT
         |    ([$words])[CAST(CAST('0x' || substr(h,1,4) AS BIGINT) % 16 AS INT) + 1]
         |      || ' ' ||
         |      ([$words])[CAST(CAST('0x' || substr(h,5,4) AS BIGINT) % 16 AS INT) + 1] AS product,
         |    CAST('0x' || substr(h,9,8) AS BIGINT) % 149501 + 500 AS cents
         |  FROM g)
         |SELECT product, CAST(count(*) AS BIGINT) AS n_orders,
         |  sum(cents) / CAST(100.0 AS DOUBLE) AS total_spend
         |FROM o GROUP BY product ORDER BY product""".stripMargin
    },
    "q_try_arith" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey = 0 THEN 9223372036854775807
        |       WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderkey END
        |    AS add_or_null,
        |  CASE WHEN o_orderkey >= 2 THEN NULL
        |       ELSE o_orderkey * 4611686018427387904 END AS mul_or_null,
        |  CASE WHEN o_orderkey % 25 = 0 THEN NULL
        |       ELSE CAST(floor(o_totalprice) AS BIGINT)
        |            / CAST(o_orderkey % 25 AS DOUBLE) END AS div_or_null,
        |  CASE WHEN o_orderkey % 4 + 1 IN (1, 2)
        |       THEN (['low', 'high'])[CAST(o_orderkey % 4 + 1 AS INT)] END
        |    AS elem_or_null
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(sum(p_size) AS BIGINT) AS size_sum,
        |  min(p_name) AS first_name
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_topic_sink" -> {
      val words = graft.sources.OrderGen.Words.map(w => s"'$w'").mkString(", ")
      s"""WITH g AS (
         |  SELECT range AS seq, md5('sink1|' || CAST(range AS VARCHAR)) AS h
         |  FROM range(500))
         |SELECT seq,
         |  substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' ||
         |    substr(h,17,4) || '-' || substr(h,21,12) AS order_id,
         |  ([$words])[CAST(CAST('0x' || substr(h,1,4) AS BIGINT) % 16 AS INT) + 1]
         |    || ' ' ||
         |    ([$words])[CAST(CAST('0x' || substr(h,5,4) AS BIGINT) % 16 AS INT) + 1] AS product,
         |  CAST(CAST('0x' || substr(h,9,8) AS BIGINT) % 149501 + 500 AS BIGINT) AS price_cents
         |FROM g ORDER BY seq""".stripMargin
    },
    "q_time_travel" ->
      """WITH v1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(range) AS BIGINT) AS offset_sum,
        |    CAST(sum(CAST('0x' || substr(md5('tt1|' || CAST(range AS VARCHAR)), 9, 8)
        |      AS BIGINT) % 149501 + 500) AS BIGINT) AS cents_sum
        |  FROM range(500)),
        |v2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(range) AS BIGINT) AS offset_sum,
        |    CAST(sum(CAST('0x' || substr(md5('tt2|' || CAST(range AS VARCHAR)), 9, 8)
        |      AS BIGINT) % 149501 + 500) AS BIGINT) AS cents_sum
        |  FROM range(300))
        |SELECT 'latest' AS snapshot, n, offset_sum, cents_sum FROM v2
        |UNION ALL SELECT 'v1', n, offset_sum, cents_sum FROM v1
        |UNION ALL SELECT 'v2', n, offset_sum, cents_sum FROM v2
        |ORDER BY snapshot""".stripMargin,
    "q_xml_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  n_name || ' <&"''> ' || CAST(n_nationkey AS VARCHAR) AS tricky
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // accents injected via code points (chr) so the oracle text is
    // encoding-unambiguous; nfc_normalize / strip_accents are DuckDB's
    // own utf8proc implementations vs the JDK-Normalizer kernels,
  )
}
