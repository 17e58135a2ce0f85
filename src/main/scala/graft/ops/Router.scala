package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's routing + failure-handling operator surface
  * (SURVEY.md §2.2, §2.4), as pure `DataFrame => DataFrame` transforms.
  *
  * Predicate ORDER is part of the semantics (consumer.py:249-270): a
  * price of 30 is transient even though it is also < 1000, and the
  * null/validation checks run before any range check. The `when` chain
  * preserves that order and Catalyst keeps short-circuit evaluation.
  *
  * Everything here is built-in Catalyst expressions — whole-stage
  * codegen'd, predicate-pushdown friendly, no UDFs — so the router runs
  * unchanged on a 1000-executor cluster: it is a narrow map over
  * whatever partitioning the source provides.
  */
object Router {
  val Success = "success"
  val Transient = "transient_failure"
  val Permanent = "permanent_failure"

  /** Transient band is inclusive on both ends (consumer.py:253). */
  val TransientLo = 5.0
  val TransientHi = 50.0
  /** Permanent rule is strict `>` (consumer.py:259). */
  val PermanentThreshold = 1000.0
  /** Bounded-retry budget (consumer.py:15, README.md:106). */
  val MaxRetries = 3

  /** R4 validation predicate (consumer.py:228-229, 249-250, 355-360):
    * decode failure surfaces as a null struct upstream; here null/empty
    * orderId or product, null price, or negative price. Emptiness is
    * `=== ""`, not `length(x) === 0`: a string has no characters only if
    * it has no bytes, so the two agree (null stays null), and the
    * comparison does not walk the UTF-8 bytes of every row to count
    * characters. */
  def invalid(orderId: Column, product: Column, price: Column): Column =
    orderId.isNull || orderId === "" ||
      product.isNull || product === "" ||
      price.isNull || price < 0

  /** R5 three-way router as a single status column. */
  def statusCol(orderId: Column, product: Column, price: Column): Column =
    when(invalid(orderId, product, price), Permanent)
      .when(price.between(TransientLo, TransientHi), Transient)
      .when(price > PermanentThreshold, Permanent)
      .otherwise(Success)

  /** DLQ `error_reason` header value, mirroring the reference's message
    * strings: deserialize failure raises `Failed to deserialize Avro
    * message` (consumer.py:228-229), null price raises `Missing price
    * field` (consumer.py:249-250), both wrapped as `Processing error:
    * {e}` (consumer.py:276); the threshold string is consumer.py:264.
    * The reference interpolates the raw Python float repr there; this
    * engine renders prices with a fixed `%.2f` so the header is
    * deterministic and engine-portable (documented divergence). */
  def errorReasonCol(orderId: Column, product: Column, price: Column,
      decodeFailed: Column = lit(false)): Column =
    when(decodeFailed, "Processing error: Failed to deserialize Avro message")
      .when(price.isNull, "Processing error: Missing price field")
      .when(orderId.isNull || orderId === "" || product.isNull || product === "",
        "Processing error: Invalid order payload")
      .when(price < 0, format_string("Processing error: Invalid price: %.2f", price))
      .otherwise(format_string("Price exceeds threshold: %.2f > 1000.0", price))

  /** Adds `status` to a frame with orderId/product/price columns. */
  def route(df: DataFrame): DataFrame =
    df.withColumn("status", statusCol(col("orderId"), col("product"), col("price")))

  /** The DLQ record's provenance headers (consumer.py:90-105), in
    * header order: header key -> the [[enrichDlq]] column holding its
    * value. */
  private val DlqHeaders = Seq("error_reason" -> "error_reason",
    "original_topic" -> "original_topic", "original_partition" -> "original_partition",
    "original_offset" -> "original_offset", "timestamp" -> "dlq_timestamp")

  /** The provenance values over a routed frame, by [[enrichDlq]] column.
    * A decode failure (null struct from from_avro_ocf) is reported as
    * such, not as a missing field; that is only distinguishable upstream
    * of the projection, so the struct column is detected when present. */
  private def dlqProvenance(routed: DataFrame, timestampEpoch: Column): Map[String, Column] = {
    val decodeFailed =
      if (routed.columns.contains("order")) col("order").isNull else lit(false)
    Map(
      "error_reason" -> errorReasonCol(col("orderId"), col("product"), col("price"), decodeFailed),
      "original_topic" -> coalesce(col("topic"), lit(graft.model.Schemas.OrdersTopic)),
      "original_partition" -> coalesce(col("partition"), lit(0)).cast("int"),
      "original_offset" -> coalesce(col("offset"), col("orderId").cast("long")),
      "dlq_timestamp" -> timestampEpoch.cast("long"))
  }

  /** The DLQ record in Kafka-envelope shape: key, value = ORIGINAL raw
    * bytes untouched (consumer.py:99-105), topic, and the headers as
    * array<struct<key,value>>, each value read through `valueOf`. */
  private def envelopeColumns(rawValue: Column, rawKey: Column,
      valueOf: String => Column): Seq[Column] = Seq(
    rawKey.as("key"),
    rawValue.as("value"),
    lit(graft.model.Schemas.DlqTopic).as("topic"),
    array(DlqHeaders.map { case (k, c) =>
      struct(lit(k).as("key"), encode(valueOf(c).cast("string"), "UTF-8").as("value"))
    }: _*).as("headers"))

  /** The DLQ envelope columns computed straight from a routed frame's
    * columns, for a projection that routes every row in one pass (the
    * fan-out); equal to [[dlqEnvelope]] over [[enrichDlq]]. */
  def dlqEnvelopeColumns(routed: DataFrame, timestampEpoch: Column,
      rawValue: Column, rawKey: Column): Seq[Column] =
    envelopeColumns(rawValue, rawKey, dlqProvenance(routed, timestampEpoch))

  /** S6 DLQ enrichment: the permanent rows with their provenance values
    * as columns. `timestamp` is wall-clock in the reference; callers
    * pass a timestamp column so batch replays stay deterministic (pass
    * `current_timestamp()` for live parity). */
  def enrichDlq(routed: DataFrame, timestampEpoch: Column): DataFrame = {
    val provenance = dlqProvenance(routed, timestampEpoch)
    DlqHeaders.foldLeft(routed.filter(col("status") === Permanent)) { case (df, (_, c)) =>
      df.withColumn(c, provenance(c))
    }
  }

  /** [[enrichDlq]]'s rows in Kafka-envelope shape. */
  def dlqEnvelope(enriched: DataFrame, rawValue: Column, rawKey: Column): DataFrame =
    enriched.select(envelopeColumns(rawValue, rawKey, col(_)): _*)

  /** F2 bounded-retry ledger, re-modeled as dataflow: each transient
    * message fans out to its attempt schedule (1..maxRetries) with the
    * reference's linear backoff `0.5 * attempt` seconds
    * (consumer.py:292-309); the final attempt promotes to DLQ
    * (consumer.py:312). At scale this is a narrow explode — no shuffle,
    * no driver-side loop, no blocking sleeps. */
  def retryLedger(routed: DataFrame, maxRetries: Int = MaxRetries): DataFrame =
    routed.filter(col("status") === Transient)
      .withColumn("attempt", explode(sequence(lit(1), lit(maxRetries))))
      .withColumn("backoff_secs", col("attempt") * 0.5)
      .withColumn("disposition",
        when(col("attempt") === maxRetries,
          format_string("Processing failed after %d retries", lit(maxRetries)))
          .otherwise("retry"))

  /** A1 running aggregate over successful orders, batch-deterministic
    * formulation: cumulative count/sum/avg ordered by a unique key —
    * exactly the reference's per-message `order_count/total_price/
    * running_average` trace (consumer.py:139-140, 166-176).
    *
    * Fixed-point discipline: prices are 2-decimal; `cents` (bigint) makes
    * the cumulative sum exact integer arithmetic, so results are
    * bit-identical across engines and across partition layouts.
    *
    * NOTE on scale: a global `Window.orderBy` serializes into a single
    * partition. Correct and fine for the per-message-trace semantics at
    * verify scale; the 100 TB path is the streaming update-mode
    * aggregate (OrderPipeline) or a two-pass partition-prefix sum —
    * this formulation exists for exact per-record parity + oracle. */
  def runningStats(success: DataFrame, orderCol: Column): DataFrame = {
    val w = Window.orderBy(orderCol).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    success
      .withColumn("cents", Analytics.cents(col("price")))
      .withColumn("order_count", count(lit(1)).over(w))
      .withColumn("total_price", sum(col("cents")).over(w) / 100.0)
      .withColumn("running_average", (sum(col("cents")).over(w) / 100.0) / col("order_count"))
      .drop("cents")
  }

  /** A2 failure counters: per-status message counts
    * (consumer.py:196-206 final summary). */
  def statusCounts(routed: DataFrame): DataFrame =
    routed.groupBy(col("status")).agg(count(lit(1)).as("n"))
}
