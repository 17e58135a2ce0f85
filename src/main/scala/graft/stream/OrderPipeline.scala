package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.MultiSinkParquet
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.avro.functions.from_avro_ocf
import graft.model.Schemas
import graft.ops.Router

/** The reference consumer as a Structured Streaming pipeline
  * (SURVEY.md §2.1 S4-S7, §2.4, §3 EP2).
  *
  * Topology: envelope stream -> Avro OCF decode -> validate/route ->
  * three-way fan-out (success, DLQ, retry), checkpointed.
  *
  *  - Source: any envelope-shaped streaming DataFrame. The Kafka
  *    connector jar is absent here, so production would use the file
  *    source over a topic directory ([[readTopicDir]]) or a drop-in
  *    Kafka source later — the envelope schema matches Kafka's exactly
  *    (SURVEY.md §1.2); tests use MemoryStream.
  *  - The reference's manual-commit / at-least-once protocol
  *    (consumer.py:30,179) maps to the checkpoint WAL: offsets commit
  *    only after the batch's sinks complete, so failure replays the
  *    batch — the same redelivery contract, but with batch-id-based
  *    idempotence available in foreachBatch.
  *  - Retry-by-replay (R1, offset non-commit) is re-modeled as a retry
  *    ledger: transient rows land in `retry/` with an attempt counter;
  *    the retry loop ([[startRetryLoop]]) watches its own `loopDir/retry`
  *    queue and writes each batch's DLQ exits (attempts past maxRetries,
  *    F2) and re-injections in one job, like the fan-out — no blocking
  *    sleeps, no single-threaded redelivery loop. `loopDir` is not the
  *    fan-out's `outDir`, and the loop never writes the seed batch id
  *    `-1`.
  *  - The running aggregate (A1) runs as an update-mode streaming
  *    aggregation ([[runningAggregate]]): Spark's incremental partial +
  *    final HashAggregate IS the reference's `count/total/mean` state,
  *    distributed.
  */
object OrderPipeline {

  /** File-source analog of `subscribe(['orders'])` (consumer.py:116-124):
    * read an envelope-parquet topic directory from earliest. */
  def readTopicDir(spark: SparkSession, topicDir: String): DataFrame =
    spark.readStream.schema(Schemas.envelope).parquet(topicDir)

  /** S5 + P1/P2: decode the Avro value, surface payload + metadata.
    * Decode failure yields a null struct -> routed permanent (R4). */
  def decode(envelopes: DataFrame): DataFrame =
    withOrder(envelopes, from_avro_ocf(col("value"), Schemas.orderAvroJson))

  /** The decoded `order` struct and the fields routing reads from it,
    * whichever framing `order` was decoded from. */
  private def withOrder(envelopes: DataFrame, order: Column): DataFrame =
    envelopes
      .withColumn("order", order)
      .withColumn("orderId", col("order.orderId"))
      .withColumn("product", col("order.product"))
      .withColumn("price", col("order.price").cast("double"))

  /** Full per-message transform: decode -> three-way route (R5). */
  def process(envelopes: DataFrame): DataFrame =
    Router.route(decode(envelopes))

  /** Confluent-wire-format twin of [[decode]]: the topic carries
    * `0x00 + schema-id + datum` frames instead of OCF containers, and
    * the per-message schema id selects the writer schema from the
    * (broadcast-sized) registry map — so one consumer reads records
    * produced under ANY subject version. Downstream is IDENTICAL:
    * decode failures (wrong magic, unknown id, truncated datum) yield
    * a null struct, which the same R4 predicate routes to the DLQ with
    * the original bytes preserved. */
  def decodeConfluent(envelopes: DataFrame,
      writerSchemasById: Map[Int, String],
      readerSchemaJson: String = Schemas.orderAvroJson): DataFrame =
    withOrder(envelopes, graft.avro.functions.from_avro_confluent(
      col("value"), readerSchemaJson, writerSchemasById))

  /** [[process]] over a Confluent-framed topic. */
  def processConfluent(envelopes: DataFrame,
      writerSchemasById: Map[Int, String],
      readerSchemaJson: String = Schemas.orderAvroJson): DataFrame =
    Router.route(decodeConfluent(envelopes, writerSchemasById, readerSchemaJson))

  /** A1 as a streaming update-mode aggregate over successes. */
  def runningAggregate(processed: DataFrame): DataFrame =
    processed.filter(col("status") === Router.Success)
      .agg(count(lit(1)).as("order_count"),
        sum(col("price")).as("total_price"),
        avg(col("price")).as("running_average"))

  /** One micro-batch's three-way fan-out, written IDEMPOTENTLY: each
    * sink partitions by batch id and overwrites its own batch directory,
    * so a replayed batch (failure between sink writes and checkpoint
    * commit — the at-least-once window) rewrites identical data instead
    * of appending duplicates. This is what turns the checkpoint's
    * at-least-once replay contract into effectively-once sink output.
    *
    * One projection gives every row its sink as a nullable struct, and
    * one job writes all three sinks from it
    * ([[org.apache.spark.sql.graftbridge.MultiSinkParquet]]): the batch
    * is scanned, decoded and routed once, with no cached copy. The
    * job's `_SUCCESS` marker lands in `outDir`. */
  def writeFanOut(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    val status = col("status")
    val decoded = Seq(col("topic"), col("partition"), col("offset"),
      col("orderId"), col("product"), col("price"))
    val sinks = batch.select(
      when(status === Router.Success, struct(decoded: _*)).as("success"),
      when(status === Router.Permanent, struct(Router.dlqEnvelopeColumns(
        batch, unix_timestamp(col("timestamp")), col("value"), col("key")): _*)).as("dlq"),
      // key/value ride along so a record that EXHAUSTS its retries
      // still reaches the DLQ with the original payload bytes — the
      // S6 contract (and consumer.py forwards the original message);
      // without them the exhausted-retry DLQ records would be
      // decoded-fields-only, unrecoverable for re-publication
      when(status === Router.Transient,
        struct(decoded ++ Seq(col("key"), col("value"), lit(1).as("attempts")): _*)).as("retry"))
    MultiSinkParquet.write(sinks, outDir, s"batch=$batchId")
  }

  /** Start the checkpointed fan-out pipeline. Writes:
    *  - `outDir/success/` — decoded successful orders;
    *  - `outDir/dlq/`     — DLQ envelopes (original bytes + provenance
    *                        headers, S6);
    *  - `outDir/retry/`   — transient rows with attempt counter (F2);
    * each batch-partitioned and replay-idempotent ([[writeFanOut]]).
    * The retry BUDGET belongs to the retry loop ([[startRetryLoop]]'s
    * maxRetries), not here — this method only fans records out. */
  def start(processed: DataFrame, outDir: String, checkpointDir: String)
      : StreamingQuery =
    processed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeFanOut(batch, batchId, outDir)
      }
      .start()

  /** Streaming per-key dedup: drops ALL redeliveries of an orderId
    * inside the watermark horizon (including producer retries that
    * carry a different broker timestamp) — the idempotence layer an
    * at-least-once source needs, with state bounded by the watermark.
    * Decode FAILURES carry orderId = null, and
    * dropDuplicatesWithinWatermark treats null as one group value —
    * deduping them would silently collapse DISTINCT corrupt messages
    * (each owed a DLQ row) into one, so null-id rows bypass the dedup
    * untouched. */
  def dedupStream(processed: DataFrame, lateness: String): DataFrame = {
    val wm = processed.withWatermark("timestamp", lateness)
    wm.filter(col("orderId").isNotNull)
      .dropDuplicatesWithinWatermark("orderId")
      .unionByName(wm.filter(col("orderId").isNull))
  }

  /** Stream-stream inner join: orders enriched against a second stream
    * (e.g. a payments/confirmation feed) on key within a bounded
    * event-time skew. Both sides are watermarked so join state is
    * evicted once the time bound passes — the scalable form of
    * streaming enrichment. */
  def joinStreams(orders: DataFrame, confirmations: DataFrame,
      lateness: String, maxSkew: String, joinType: String = "inner"): DataFrame = {
    val o = orders.withWatermark("timestamp", lateness)
      .select(col("orderId"), col("price"), col("timestamp").as("order_ts"))
    val c = confirmations.withWatermark("timestamp", lateness)
      .select(col("orderId").as("conf_order_id"), col("timestamp").as("conf_ts"))
    // outer variants emit the unmatched side once the watermark passes
    // the join bound (state eviction doubles as completion proof)
    o.join(c,
      col("orderId") === col("conf_order_id") &&
        col("conf_ts") >= col("order_ts") &&
        col("conf_ts") <= col("order_ts") + expr(s"INTERVAL $maxSkew"),
      joinType)
  }

  /** Event-time tumbling counts with a watermark: the generalization of
    * the reference's processing-order aggregation to event time with a
    * bounded-lateness contract (SURVEY.md §2.5 watermarks row). State
    * for windows older than the watermark is dropped — bounded memory
    * at any scale. */
  def eventTimeCounts(processed: DataFrame, windowLen: String,
      lateness: String): DataFrame =
    processed
      .withWatermark("timestamp", lateness)
      .groupBy(window(col("timestamp"), windowLen), col("status"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("status"), col("n"))

  /** Per-key running aggregate with explicit custom state
    * (flatMapGroupsWithState): the arbitrary-stateful-operator surface
    * (SURVEY.md §2.3 A1 "arbitrary-state variant"). Keyed by product;
    * state = (count, sum); emits the updated running mean per key per
    * batch — exactly the reference's per-message `running_average`
    * trace, but partitioned by key across executors. */
  def perKeyRunningStats(spark: SparkSession, processed: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    processed
      .filter(col("status") === Router.Success)
      .select(col("product"), col("price"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (String, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (product: String, rows: Iterator[(String, Double)],
         state: GroupState[(Long, Double)]) =>
          var (c, s) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => c += 1; s += r._2 }
          state.update((c, s))
          Iterator((product, c, s / c))
      }
  }

  /** The same per-key running aggregate on the Spark 4.x
    * `transformWithState` API (typed ValueState on the RocksDB store) —
    * the successor surface to flatMapGroupsWithState, with explicit
    * state handles, TTL support, and timers. Kept alongside the fMGWS
    * form so both arbitrary-state APIs are covered. */
  final class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Long, Double)] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("stats",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Double)] = {
      var (c, s) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { r => c += 1; s += r._2 }
      state.update((c, s))
      Iterator((key, c, s / c))
    }
  }

  def perKeyRunningStatsTws(spark: SparkSession, processed: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    processed
      .filter(col("status") === Router.Success)
      .select(col("product"), col("price"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Idle-timeout session totals on `transformWithState` TIMERS — the
    * capability the fMGWS form above cannot express: a key whose stream
    * goes quiet for `idleMs` has its session CLOSED by an expiring
    * processing-time timer (emitting the final total and clearing
    * state), without any new data for that key arriving. Each batch
    * re-arms the key's single timer (delete + register), so state is
    * bounded and every key closes exactly once per quiet period. */
  final class IdleSessionProcessor(idleMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Long, Double, String)] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("session",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Double, String)] = {
      var (c, s) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { r => c += 1; s += r._2 }
      state.update((c, s))
      getHandle.listTimers().toSeq.foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + idleMs)
      Iterator((key, c, s, "open"))
    }
    override def handleExpiredTimer(key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(String, Long, Double, String)] = {
      if (!state.exists()) return Iterator.empty
      val (c, s) = state.get()
      state.clear()
      Iterator((key, c, s, "closed"))
    }
  }

  def idleSessionTotals(spark: SparkSession, processed: DataFrame,
      idleMs: Long): org.apache.spark.sql.Dataset[(String, Long, Double, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    processed
      .filter(col("status") === Router.Success)
      .select(col("product"), col("price"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(new IdleSessionProcessor(idleMs),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Order-timeout detection on EVENT-TIME timers — the SLA watchdog
    * every order pipeline runs (and the timer mode [[IdleSessionProcessor]]
    * does not cover): an order arms a timer at its event time + slaMs;
    * a confirmation arriving (in event time) before the watermark
    * reaches that deadline clears it; when the WATERMARK passes the
    * deadline with no confirmation, the expiring timer emits a timeout
    * exactly once and clears the key. Processing-time stalls neither
    * fire timeouts early nor late — the clock is the data's, which is
    * what makes the semantics replayable (a reprocessed topic yields
    * the identical timeout set, unlike a wall-clock watchdog). Input:
    * (orderId, eventTimeMs, isConfirmation). Output: (orderId,
    * deadlineMs, outcome) — "confirmed" in-batch or "timeout" from the
    * timer. */
  final class OrderTimeoutProcessor(slaMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Boolean), (String, Long, String)] {
    @transient private var deadline: org.apache.spark.sql.streaming.ValueState[Long] = _
    // a confirmation can be OBSERVED before its order — shuffled rows
    // within a batch carry no order, and across batches the
    // confirmation may land in an earlier micro-batch (both within the
    // watermark's lateness bound). Forgetting it would turn a confirmed
    // order into a spurious timeout AND make the output depend on batch
    // boundaries — so an orphan confirmation is STATE, not a no-op.
    @transient private var pendingConf: org.apache.spark.sql.streaming.ValueState[Long] = _
    // RESOLUTION TOMBSTONE (the CompactedStateProcessor lesson): after
    // a confirm, clearing ALL state would let an at-least-once
    // REDELIVERY of the order re-arm the SLA timer and report a
    // confirmed order as timed out. The tombstone (holding the
    // resolved deadline) blocks re-arming; its own timer at the
    // deadline reclaims it — once the watermark passes the deadline,
    // any duplicate of the original order row (same, older event time)
    // is late-dropped before reaching the processor, so the tombstone
    // is provably no longer needed. State stays bounded.
    @transient private var resolved: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      deadline = getHandle.getValueState[Long]("deadline",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      pendingConf = getHandle.getValueState[Long]("pendingConf",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      resolved = getHandle.getValueState[Long]("resolved",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Long, Boolean)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, String)] = {
      var out = List.empty[(String, Long, String)]
      // process ORDERS before CONFIRMATIONS (event-time order within
      // each class): the iterator's shuffle order is arbitrary, and a
      // same-batch confirm-then-order interleaving must resolve the
      // same way as order-then-confirm — batch boundaries and shuffle
      // order must not change the outcome
      rows.toSeq.sortBy { case (_, ts, isConf) => (isConf, ts) }.foreach {
        case (_, ts, isConf) =>
          if (isConf) {
            if (deadline.exists()) {
              val d = deadline.get()
              deadline.clear()
              // keep the deadline timer: it now reclaims the tombstone
              resolved.update(d)
              out ::= ((key, d, "confirmed"))
            } else if (!pendingConf.exists() && !resolved.exists()) {
              pendingConf.update(ts) // orphan: waits for its order
              // cleanup timer: once the watermark passes the
              // confirmation's own time, its order (whose event time
              // is <= the confirmation's) can only arrive late-dropped
              // — without this an unmatched confirmation leaks forever
              getHandle.registerTimer(ts + slaMs)
            }
          } else if (!deadline.exists() && !resolved.exists()) {
            val d = ts + slaMs
            if (pendingConf.exists()) {
              // the confirmation already arrived (observed early):
              // resolve immediately, never arm an SLA timer — but leave
              // the tombstone + its reclaim timer so a redelivered
              // order cannot re-arm
              pendingConf.clear()
              resolved.update(d)
              getHandle.registerTimer(d)
              out ::= ((key, d, "confirmed"))
            } else {
              deadline.update(d)
              getHandle.registerTimer(d)
            }
          }
          // a duplicate order keeps the earliest EVENT-TIME deadline:
          // rows are sorted by (isConf, ts) above, so the lowest-ts
          // order in the batch arms the timer and later duplicates
          // (regardless of their arrival/offset order) hit the
          // deadline/resolved guards
      }
      out.reverseIterator
    }
    override def handleExpiredTimer(key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(String, Long, String)] = {
      val expiry = expiredTimerInfo.getExpiryTimeInMs()
      if (deadline.exists() && expiry >= deadline.get()) {
        val d = deadline.get()
        deadline.clear()
        Iterator((key, d, "timeout"))
      } else {
        // reclaim expired bookkeeping state, emit nothing: the
        // resolution tombstone once the watermark passes its deadline,
        // and an orphan confirmation whose order can no longer arrive
        if (resolved.exists() && expiry >= resolved.get()) resolved.clear()
        if (pendingConf.exists() && expiry >= pendingConf.get() + slaMs)
          pendingConf.clear()
        Iterator.empty
      }
    }
  }

  /** Event-time SLA watchdog over an (orderId, timestamp, isConfirmation)
    * stream; `lateness` bounds how far the watermark trails event time. */
  def orderTimeouts(spark: SparkSession, events: DataFrame, slaMs: Long,
      lateness: String): org.apache.spark.sql.Dataset[(String, Long, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("timestamp", lateness)
      .select(col("orderId"), col("timestamp"), col("is_confirmation"))
      .as[(String, java.sql.Timestamp, Boolean)]
      .map { case (id, ts, c) => (id, ts.getTime, c) }
      .groupByKey(_._1)
      .transformWithState(new OrderTimeoutProcessor(slaMs),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Per-status product histograms on `transformWithState` MapState —
    * the sub-keyed state shape (key → {subkey → count}) that a flat
    * ValueState cannot express without serializing a whole map per
    * update. MapState stores each (product, count) entry as its own
    * store row, so updating one product touches one entry regardless
    * of how many products the status key has seen — the bounded-write
    * property that matters when a key's sub-population is large. */
  final class StatusProductCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String), (String, String, Long)] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("productCounts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, String, Long)] = {
      // batch the per-row increments locally so each touched product
      // costs one state read + one state write per micro-batch, not
      // two point lookups per input row
      val delta = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { case (_, product) =>
        delta.update(product, delta.getOrElse(product, 0L) + 1L)
      }
      delta.map { case (p, d) =>
        val c = (if (counts.containsKey(p)) counts.getValue(p) else 0L) + d
        counts.updateValue(p, c)
        (key, p, c)
      }.iterator
    }
  }

  /** Streaming Misra-Gries heavy hitters per key — the streaming twin
    * of [[graft.ops.HeavyHitters]] and the bounded-state answer to
    * [[StatusProductCountsProcessor]], whose MapState grows with the
    * DISTINCT sub-key domain (fine for products; a scale-killer for
    * an unbounded domain like tokens or URLs). Here MapState holds a
    * capacity-bounded MG summary: each micro-batch loads the ≤ m
    * entries, folds its rows in memory (per-batch cost m + rows, not
    * per-row state lookups), writes back the survivors, and deletes
    * evicted entries. A ValueState tracks the cumulative decrement D,
    * giving the standard streaming guarantee ĉ ≤ c_true ≤ ĉ + D for
    * every emitted item — the certified-EXACT answer stays the batch
    * recount path; the stream emits its top-k candidates with the
    * error bound attached so consumers can decide when to trust it.
    * Emits (key, item, approx_count, max_error) for the current top-k
    * after each micro-batch. */
  final class StreamingHeavyHittersProcessor(capacity: Int, k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String), (String, String, Long, Long)] {
    require(k > 0 && capacity > k,
      s"need capacity > k > 0, got k=$k capacity=$capacity " +
        "(same contract as HeavyHitters.exactTopK; capacity 0 would " +
        "decrement forever and never track anything)")
    @transient private var summary: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var decTotal: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      summary = getHandle.getMapState[String, Long]("mgSummary",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      decTotal = getHandle.getValueState[Long]("mgDecrements",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, String, Long, Long)] = {
      val s = scala.collection.mutable.HashMap.empty[String, Long]
      summary.iterator().foreach { case (i, c) => s.update(i, c) }
      val loaded = s.toMap // snapshot: (item, count) as persisted
      var d = if (decTotal.exists()) decTotal.get() else 0L
      rows.foreach { case (_, item) =>
        d += graft.ops.MisraGries.add(s, item, capacity)
      }
      // write back only the DELTA against the persisted snapshot: one
      // removeKey per evicted entry, one updateValue per entry whose
      // count actually moved — the one-write-per-touched-entry
      // discipline of StatusProductCountsProcessor, kept even though
      // the summary itself is capacity-bounded
      (loaded.keySet -- s.keySet).foreach(summary.removeKey)
      s.foreachEntry { (i, c) =>
        if (!loaded.get(i).contains(c)) summary.updateValue(i, c)
      }
      decTotal.update(d)
      s.toSeq.sortBy { case (i, c) => (-c, i) }.take(k)
        .map { case (i, c) => (key, i, c, d) }.iterator
    }
  }

  /** Per-status top-k products under a capacity-bounded MG summary:
    * state stays ≤ capacity entries per status key no matter how many
    * distinct products stream past. */
  def topProductsStream(spark: SparkSession, processed: DataFrame,
      capacity: Int, k: Int): org.apache.spark.sql.Dataset[(String, String, Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    processed
      .select(col("status"), col("product"))
      .as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(new StreamingHeavyHittersProcessor(capacity, k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Bounded per-key price history on `transformWithState` ListState —
    * the append-log state shape: each arriving price APPENDS one store
    * entry, and the log is compacted back to the last `keep` values
    * only once it doubles past the bound, so the whole-buffer rewrite
    * is amortized O(1) per value instead of paid every micro-batch.
    * Emits the current window's mean so tests can pin both the bound
    * and the contents. */
  final class RecentPricesProcessor(keep: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Int, Double)] {
    @transient private var prices: org.apache.spark.sql.streaming.ListState[Double] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      prices = getHandle.getListState[Double]("recentPrices",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Int, Double)] = {
      rows.foreach(r => prices.appendValue(r._2))
      val all = prices.get().toSeq
      val window = all.takeRight(keep)
      // amortized compaction: rewrite the log only when it has doubled
      // past the bound, keeping the common path append-only
      if (all.size > 2 * keep) prices.put(window.toArray)
      Iterator((key, window.size, window.sum / window.size))
    }
  }

  /** Last-`keep` successful prices per product via ListState. */
  def recentPriceMeans(spark: SparkSession, processed: DataFrame,
      keep: Int): org.apache.spark.sql.Dataset[(String, Int, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    processed
      .filter(col("status") === Router.Success)
      .select(col("product"), col("price"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(new RecentPricesProcessor(keep),
        TimeMode.None(), OutputMode.Update())
  }

  /** Compacted-changelog state (cleanup.policy=compact, the streaming
    * twin of the batch `q_log_compaction` query): each key's state is
    * the LATEST record by offset, and a tombstone record DELETES the
    * key — `state.clear()`, the state-removal path none of the other
    * processors exercise outside timers. Within a micro-batch only the
    * max-offset record matters (earlier records are superseded before
    * they could ever be observed — exactly the broker compactor's
    * guarantee), so the per-batch work is one fold, one state
    * read-modify-write. Emits (key, offset, value, live) after each
    * batch touching the key. */
  final class CompactedStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Double, Boolean), (String, Long, Double, Boolean)] {
    // (offset, value, live): the TOMBSTONE is retained as state
    // (live = false) rather than clearing the key — clearing would
    // forget the delete's offset, and a stale lower-offset record
    // redelivered in a later batch would resurrect the deleted key.
    // This is exactly why Kafka's compactor keeps tombstones for
    // delete.retention.ms before purging; purging here would be a
    // TTL on the state entry.
    @transient private var latest: org.apache.spark.sql.streaming.ValueState[(Long, Double, Boolean)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      latest = getHandle.getValueState[(Long, Double, Boolean)]("latest",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaBoolean),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Double, Boolean)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Double, Boolean)] = {
      // the winning record of the batch: max offset (offsets are unique
      // per key — the topic's total order within a partition)
      val win = rows.maxBy(_._2)
      // a redelivered or cross-batch-reordered record can arrive in a
      // LATER micro-batch than a higher-offset record for the same key;
      // the compactor's rule is max offset WINS REGARDLESS OF ARRIVAL
      // ORDER, so a batch winner older than the stored offset is stale
      // and must not regress the key (nor re-emit anything) — including
      // a stale LIVE record arriving after the key was tombstoned
      if (latest.exists() && latest.get()._1 > win._2) {
        Iterator.empty
      } else if (win._4) {
        latest.update((win._2, 0.0, false))
        Iterator((key, win._2, 0.0, false))
      } else {
        latest.update((win._2, win._3, true))
        Iterator((key, win._2, win._3, true))
      }
    }
  }

  /** Latest-record-per-key compacted view with tombstone deletion. The
    * input frame carries (key, offset, value, tomb). */
  def compactedState(spark: SparkSession, records: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Double, Boolean)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    records
      .select(col("key"), col("offset"), col("value"), col("tomb"))
      .as[(String, Long, Double, Boolean)]
      .groupByKey(_._1)
      .transformWithState(new CompactedStateProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-(status, product) running counts, keyed by status with the
    * product dimension held in MapState. */
  def statusProductCounts(spark: SparkSession, processed: DataFrame)
      : org.apache.spark.sql.Dataset[(String, String, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    processed
      .select(col("status"), col("product"))
      .as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(new StatusProductCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** S7/S3 parity: the reference's per-message console progress and
    * producer delivery callbacks (producer.py:63-88, consumer.py:172-176)
    * map to StreamingQueryListener progress events — per micro-batch
    * row counts and durations, without per-record driver I/O. Returns
    * the listener so tests/ops can read accumulated totals. */
  final class ProgressTotals extends org.apache.spark.sql.streaming.StreamingQueryListener {
    // listeners are SESSION-wide, and the normal topology here runs
    // several queries at once (fan-out + retry loop) — totals are
    // therefore tracked PER QUERY ID, so a consumer's S7 progress /
    // F4 shutdown summary describes exactly one query instead of
    // conflating whichever queries happen to share the session
    private val perQuery =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]()
    @volatile var terminations: Long = 0L
    @volatile var lastSummary: String = ""
    /** Session-wide totals (all queries), for single-query sessions. */
    def batches: Long = {
      var s = 0L; perQuery.values.forEach(v => s += v._1); s
    }
    def rows: Long = {
      var s = 0L; perQuery.values.forEach(v => s += v._2); s
    }
    def batchesFor(id: java.util.UUID): Long =
      Option(perQuery.get(id)).map(_._1).getOrElse(0L)
    def rowsFor(id: java.util.UUID): Long =
      Option(perQuery.get(id)).map(_._2).getOrElse(0L)
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
      perQuery.merge(e.progress.id, (1L, e.progress.numInputRows),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      ()
    }
    /** F4: the reference's shutdown summary (consumer.py:194-211) —
      * the TERMINATED query's own final totals. */
    override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminations += 1
      lastSummary = s"batches=${batchesFor(e.id)} rows=${rowsFor(e.id)}"
    }
  }

  def attachProgressListener(spark: SparkSession): ProgressTotals = {
    val l = new ProgressTotals
    spark.streams.addListener(l)
    l
  }

  /** F2 promotion step for re-injected retries: attempts exhausted ->
    * DLQ-bound; otherwise back to the retry stream with attempts+1.
    * The reference's linear backoff (consumer.py:307
    * `sleep(0.5*retry_count)`) is a THREAD BLOCK this pipeline
    * deliberately does not reproduce: pacing here is one retry trip
    * per micro-batch (the loop's natural cadence), which preserves the
    * bounded-attempts contract without blocking and without a
    * wall-clock column that would break replay determinism. */
  def promoteRetries(retries: DataFrame, maxRetries: Int = Router.MaxRetries): DataFrame =
    retries
      .withColumn("attempts", col("attempts") + 1)
      .withColumn("disposition",
        when(col("attempts") > maxRetries, lit("dlq")).otherwise(lit("retry")))

  // ---- F2 end-to-end: the streaming retry re-injection LOOP
  // (consumer.py:278-314). The reference blocks in-process and re-calls
  // process_message up to 3 times; here the retry directory IS the
  // retry queue: a file-source stream watches it, each micro-batch
  // promotes its records, exhausted ones exit to the DLQ with the
  // reference's exhaustion message, and still-retryable ones are
  // written BACK into the watched directory (attempts+1) — so one
  // record makes maxRetries trips through the loop, each trip one
  // micro-batch, with no blocking sleeps and no driver-side loop. ----

  /** Schema of a retry record as written by [[writeFanOut]]. */
  val retryRecordSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("topic", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("orderId", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("product", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("price", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("attempts", org.apache.spark.sql.types.IntegerType)))

  /** One micro-batch of the re-injection loop: promote, then write the
    * exhausted records and the survivors as the two sinks of one job
    * ([[org.apache.spark.sql.graftbridge.MultiSinkParquet]]):
    *  - `loopDir/dlq/batch=<id>`: exhausted records with the reference's
    *    exhaustion message (consumer.py:312). They carry the ORIGINAL
    *    key/value bytes from the retry ledger, so the DLQ payload
    *    contract holds on this path too;
    *  - `loopDir/retry/batch=<id>`: survivors (attempts+1), back in the
    *    watched queue for the next trip (pacing = one trip per
    *    micro-batch; see [[promoteRetries]]).
    * Each sink's batch directory is replaced, so a replayed batch id
    * rewrites its files instead of adding copies, as in [[writeFanOut]].
    * An empty batch writes nothing: the job would leave a schema-only
    * file in the watched queue, which the loop would read as new data,
    * forever. `loopDir` must not be a fan-out `outDir`: the job stages
    * in `loopDir/_temporary`, and two jobs must not share that root. */
  def reinjectBatch(batch: DataFrame, batchId: Long, loopDir: String,
      maxRetries: Int = Router.MaxRetries): Unit =
    if (!batch.isEmpty) {
      val record = retryRecordSchema.fieldNames.toSeq.map(col)
      val disposition = col("disposition")
      val sinks = promoteRetries(batch, maxRetries).select(
        when(disposition === "dlq", struct(record :+ format_string(
          "Processing failed after %d retries", lit(maxRetries)).as("error_reason"): _*)).as("dlq"),
        when(disposition === "retry", struct(record: _*)).as("retry"))
      MultiSinkParquet.write(sinks, loopDir, s"batch=$batchId")
    }

  /** Start the self-feeding retry loop over `loopDir`, which it owns.
    * It watches `loopDir/retry` (created if absent), laid out and typed
    * like [[writeFanOut]]'s `retry` sink, and writes [[reinjectBatch]]'s
    * two sinks under `loopDir`. Seed the queue with a plain parquet
    * write to `loopDir/retry/batch=-1`, a batch id the loop never
    * writes. Each record entering with attempts=1 makes maxRetries
    * promotions across successive micro-batches, then exits to
    * `loopDir/dlq`; the stream goes idle when the queue drains
    * (`processAllAvailable` returns). The source lists the queue
    * recursively, so it infers no `batch` partition column, which the
    * schema the stream started with would not have.
    * Pass `Trigger.AvailableNow()` to process only the backlog visible
    * at start and then terminate — restarting from the same checkpoint
    * resumes with the re-injections the previous run produced (the
    * restart-resilience contract, tested in StreamingSpec). */
  def startRetryLoop(spark: SparkSession, loopDir: String, checkpointDir: String,
      maxRetries: Int = Router.MaxRetries, trigger: Option[Trigger] = None): StreamingQuery = {
    val queue = new org.apache.hadoop.fs.Path(loopDir, "retry")
    queue.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(queue)
    val writer = spark.readStream.schema(retryRecordSchema)
      .option("recursiveFileLookup", "true").parquet(queue.toString)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        reinjectBatch(batch, batchId, loopDir, maxRetries)
      }
    trigger.fold(writer)(writer.trigger).start()
  }
}
