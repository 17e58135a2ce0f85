package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.avro.AvroOcf
import graft.model.Schemas
import graft.sources.OrderGen
import graft.stream.OrderPipeline

/** Workload `fanout_drain`: the reference topology at full speed.
  *
  * A pre-written OCF topic directory (graft.sources.OrderGen envelopes,
  * half of them re-framed with random sync markers, one in a hundred
  * truncated) is read with OrderPipeline.readTopicDir, routed by
  * OrderPipeline.process and written by OrderPipeline.start's checkpointed
  * three-way writeFanOut. It drains as a backlog in micro-batches of
  * `cpus` files each (closed loop: the next batch starts when the previous
  * one commits). */
object FanoutDrain {
  /** Messages per micro-batch: a tenth of the 1M-message stream probe in
    * ROADMAP.md (about 7 s on local[4]), so per-batch engine costs are
    * amortized over batches the size the engine is meant to carry. */
  val MessagesPerBatch = 100000
  /** Micro-batches per second of --seconds, from the measured drain rate
    * (1.5-1.8 s per 100k-message batch on local[4]): at 10 s the backlog
    * is 600k messages in six batches. */
  val BatchesPerSecond = 0.6

  final case class Drain(wall: Double, batches: Seq[BatchProgress], error: Option[String])

  def run(spark: SparkSession, spec: RunSpec, tracer: Tracer, sl: SparkLayer, r: Result): Unit = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val perFile = if (spec.tiny) 500 else MessagesPerBatch / spec.cpus
    val perBatch = perFile * spec.cpus
    val nBatches = if (spec.tiny) 4 else math.max(2, math.round(spec.seconds * BatchesPerSecond).toInt)
    val n = nBatches.toLong * perBatch
    r.inputs ++= Seq("messages" -> n, "messages_per_file" -> perFile,
      "files_per_trigger" -> spec.cpus, "files" -> n / perFile)

    // set-up: write the topic directory, several times, into fresh dirs
    val reps = if (spec.tiny) 2 else 3
    val setup = (0 until reps).map { k =>
      Clock.timed(writeTopic(spark, spec.seed, n, perFile, spec.dir(s"topic-$k")))._2
    }
    r.e2e("setup_s") = Metric(Stats.median(setup), "s", reps, "median of topic-directory writes")
    val topic = spec.dir(s"topic-${reps - 1}")
    (0 until reps - 1).foreach(k => r.discard(spec.dir(s"topic-$k")))
    r.phase("setup")

    // warm-up: the same pipeline over a small topic, outside the window
    writeTopic(spark, spec.seed + 1, perBatch.toLong, perFile, spec.dir("warm-topic"))
    val warm = drain(spark, spec.dir("warm-topic"), spec.dir("warm-out"), spec.dir("warm-ckpt"),
      spec.cpus, None)
    warm.error.foreach(e => r.fail(s"warm-up drain failed: $e"))
    System.gc()
    r.phase("warm-up")

    val d = drain(spark, topic, spec.dir("out"), spec.dir("ckpt"), spec.cpus, None)
    r.attempted = n + d.batches.size
    d.error.foreach(e => r.fail(s"drain failed: $e"))
    val batchSecs = d.batches.map(_.triggerMs / 1000.0)
    val span = if (d.batches.isEmpty) d.wall
      else (d.batches.map(_.endMs).max - d.batches.map(_.startMs).min) / 1000.0
    val msgsPerS = Metric(n / span, "1/s", n,
      s"$n messages / ${span} s from the first batch's start to the last batch's commit")
    r.e2e("drain_wall_s") = Metric(d.wall, "s", 1, "query start to drained, including start-up")
    val (tailPct, tailVal) = if (batchSecs.isEmpty) (0.0, 0.0) else Stats.tail(batchSecs)
    val p50 = Metric(if (batchSecs.isEmpty) 0.0 else Stats.median(batchSecs), "s", batchSecs.size,
      "micro-batch triggerExecution, median")
    val tail = Metric(tailVal, "s", batchSecs.size,
      s"micro-batch triggerExecution, ${Stats.tailLabel(tailPct)}")
    r.e2e("msgs_per_s") = msgsPerS
    r.e2e("batch_s_p50") = p50
    r.e2e("batch_s_tail") = tail
    r.headline ++= Seq("work_per_s" -> msgsPerS, "step_s_p50" -> p50)

    r.phase("drain")
    val counts = check(spark, spec.seed, n, spec.dir("out"), r)
    r.phase("check")

    if (spec.trace) {
      r.layers ++= StreamKit.engineMetrics(d.batches)
      r.layers ++= traced(spark, spec, tracer, sl, r, topic, n, d, counts)
    }
  }

  /** The benchmark's input: OrderGen envelopes re-framed per message. */
  def writeTopic(spark: SparkSession, seed: Long, n: Long, perFile: Int, dir: String): Unit = {
    val schema = new org.apache.avro.Schema.Parser().parse(Schemas.orderAvroJson)
    val headerLen = AvroOcf.headerAndSync(schema)._1.length
    val reframe = udf((v: Array[Byte], off: Long) => Orders.reframe(v, off, seed, headerLen))
    OrderGen.toEnvelopes(OrderGen.orders(spark, n, Orders.tag(seed)))
      .withColumn("value", reframe(col("value"), col("offset")))
      .write.option("maxRecordsPerFile", perFile.toLong).parquet(dir)
  }

  def drain(spark: SparkSession, topic: String, out: String, ckpt: String, files: Int,
      traced: Option[(Tracer, Long)]): Drain = {
    val processed = OrderPipeline.process(StreamKit.readTopicDir(spark, topic, files))
    val t0 = System.nanoTime()
    val q = traced match {
      case None => OrderPipeline.start(processed, out, ckpt)
      case Some((tracer, _)) => tracedStart(spark, processed, out, ckpt, tracer)
    }
    val err = try { q.processAllAvailable(); None } catch { case e: Exception => Some(e.toString) }
    val wall = Clock.secs(t0)
    q.stop()
    val bs = StreamKit.batches(q)
    traced.foreach { case (tracer, parent) => StreamKit.recordBatchSpans(tracer, bs, parent) }
    Drain(wall, bs, err.orElse(q.exception.map(_.toString)))
  }

  /** OrderPipeline.start with writeFanOut wrapped in a span whose jobs
    * carry the span as their job group. Same sink, checkpoint and
    * trigger; used only by the traced pass. */
  private def tracedStart(spark: SparkSession, processed: DataFrame, out: String, ckpt: String,
      tracer: Tracer): StreamingQuery =
    processed.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tracer.span("stream.writeFanOut", StreamKit.componentSpanId(batchId, "addBatch"),
          attrs = Map("batch" -> batchId.toString)) { id =>
          tracer.inJobGroup(spark.sparkContext, id)(OrderPipeline.writeFanOut(batch, batchId, out))
        }
      }
      .start()

  final case class Counts(success: Long, retry: Long, dlq: Long)

  /** Every input offset must land in exactly one of success / DLQ / retry,
    * and in the one the independent statement of R4/R5 expects. */
  def check(spark: SparkSession, seed: Long, n: Long, out: String, r: Result): Counts = {
    val expect = udf((cents: Long, off: Long) => Orders.expectedRoute(cents, Orders.truncated(seed, off)))
    val trunc = udf((off: Long) => Orders.truncated(seed, off))
    val expected = Orders.orders(spark, n, seed)
      .select(col("seq").as("offset"), expect(col("cents"), col("seq")).as("expected"),
        trunc(col("seq")).as("truncated"))
    def sink(name: String) = spark.read.parquet(s"$out/$name")
    val origOffset = expr(
      "cast(cast(filter(headers, h -> h.key = 'original_offset')[0].value as string) as bigint)")
    val reason = expr("cast(filter(headers, h -> h.key = 'error_reason')[0].value as string)")
    val got = sink("success").select(col("offset"), lit(Orders.Success).as("sink"), lit(false).as("undecodable"))
      .unionByName(sink("retry").select(col("offset"), lit(Orders.Retry).as("sink"), lit(false).as("undecodable")))
      .unionByName(sink("dlq").select(origOffset.as("offset"), lit(Orders.Dlq).as("sink"),
        reason.contains("Failed to deserialize").as("undecodable")))
    val per = got.groupBy("offset").agg(count(lit(1)).as("n"), min("sink").as("sink"),
      max("undecodable").as("undecodable"))
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val row: Row = expected.join(per, Seq("offset"), "full_outer").agg(
      cnt(col("n").isNull), cnt(col("expected").isNull), cnt(col("n") > 1),
      cnt(col("n") === 1 && col("sink") =!= col("expected")),
      cnt(col("undecodable") =!= col("truncated")),
      cnt(col("sink") === Orders.Success), cnt(col("sink") === Orders.Retry),
      cnt(col("sink") === Orders.Dlq), cnt(col("undecodable"))).head()
    val Seq(missing, extra, dup, misrouted, badDecode, s, rt, dl, undecodable) =
      (0 until 9).map(i => Option(row.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L))
    Seq("missing" -> missing, "unexpected offset" -> extra, "duplicated" -> dup,
      "misrouted" -> misrouted, "decode outcome wrong" -> badDecode).foreach { case (what, k) =>
      if (k > 0) r.fail(s"$k messages $what", k)
    }
    r.note(s"routes: success=$s retry=$rt dlq=$dl (undecodable=$undecodable)")
    Counts(s, rt, dl)
  }

  /** The topic's files in the order the file source takes them
    * (modification time, then path), in groups of `files`: the input of
    * each micro-batch of the drain. */
  def batchFiles(topic: String, files: Int): Seq[Seq[String]] =
    new java.io.File(topic).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .sortBy(f => (f.lastModified, f.getName)).map(_.getPath).grouped(files).toSeq

  /** The traced pass: a second drain with spans and Spark counters, then
    * the batch twins of each layer over the same rows, one call per
    * micro-batch's files, so the twins pay each call's fixed cost as
    * often as the stream does. */
  private def traced(spark: SparkSession, spec: RunSpec, tracer: Tracer, sl: SparkLayer,
      r: Result, topic: String, n: Long, plain: Drain, counts: Counts): Map[String, Metric] = {
    sl.reset(); sl.armed = true
    var drainSpan = 0L
    val td = tracer.span("fanout.drain") { id =>
      drainSpan = id
      drain(spark, topic, spec.dir("traced-out"), spec.dir("traced-ckpt"), spec.cpus, Some((tracer, id)))
    }
    sl.armed = false
    td.error.foreach(e => r.fail(s"traced drain failed: $e"))
    val sparkM = sl.metrics
    val tracedJobs = sl.jobs.get
    r.discard(spec.dir("traced-out"))

    val groups = batchFiles(topic, spec.cpus)
    if (groups.size != plain.batches.size)
      r.note(s"batch twins: ${groups.size} file groups, ${plain.batches.size} micro-batches")
    import StreamKit.noop
    def twin(name: String)(op: (DataFrame, Int) => Unit): Double =
      StreamKit.twin(spark, tracer, name)(groups.zipWithIndex.foreach { case (files, i) =>
        op(spark.read.schema(Schemas.envelope).parquet(files: _*), i)
      })
    val tScan = twin("twin.scan")((df, _) => noop(df))
    val tDecode = twin("twin.decode")((df, _) => noop(OrderPipeline.decode(df)))
    val tRoute = twin("twin.route")((df, _) => noop(OrderPipeline.process(df)))
    val tFan = twin("twin.writeFanOut")((df, i) =>
      OrderPipeline.writeFanOut(OrderPipeline.process(df), i.toLong, spec.dir("twin-out")))
    r.discard(spec.dir("twin-out"))
    val scanDf = spark.read.schema(Schemas.envelope).parquet(topic)
    val decodeNulls = OrderPipeline.decode(scanDf).filter(col("order").isNull).count()
    val nsPerMsg = decodeNsPerMessage(scanDf)

    val addBatch = plain.batches.map(_.durations.getOrElse("addBatch", 0L)).sum / 1000.0
    val trigger = plain.batches.map(_.triggerMs).sum / 1000.0
    val self = tracer.selfTimes(drainSpan)
    def selfS(name: String) = self.get(name).map(_._2).getOrElse(0.0)
    sparkM ++ Map(
      "sources.scan_s" -> Metric(tScan, "s", 1, "batch twin, median of 3: read each batch's files"),
      "sources.rows_per_batch" -> Metric(Stats.median(plain.batches.map(_.rows.toDouble)), "count",
        plain.batches.size, "per-batch median of input rows"),
      "sources.read_amp" -> Metric(plain.batches.map(_.rows).sum.toDouble / n, "ratio", 1,
        "input records read / messages"),
      "avro.decode_s" -> Metric(tDecode - tScan, "s", 1, "batch twins, median of 3: +decode minus scan"),
      "avro.decode_ns_per_msg" -> nsPerMsg,
      "avro.decode_null_n" -> Metric(decodeNulls.toDouble, "count"),
      "router.route_s" -> Metric(tRoute - tDecode, "s", 1, "batch twins, median of 3: +route minus +decode"),
      "router.success_n" -> Metric(counts.success.toDouble, "count"),
      "router.transient_n" -> Metric(counts.retry.toDouble, "count"),
      "router.permanent_n" -> Metric(counts.dlq.toDouble, "count"),
      "stream.fanout_s" -> Metric(tFan, "s", 1, s"batch twin, median of 3: ${groups.size} writeFanOut calls, one per batch's rows"),
      "stream.jobs_per_batch" -> Metric(tracedJobs.toDouble / math.max(1, td.batches.size), "count",
        td.batches.size),
      "stream.sink_bytes" -> Metric(Disk.bytesUnder(spec.dir("out")).toDouble, "bytes"),
      "stream.addBatch_over_fanout" -> Metric(addBatch / tFan, "ratio", 1,
        "streaming addBatch total / batch writeFanOut calls on the same batches"),
      "wall.scan_s" -> Metric(tScan, "s"),
      "wall.decode_s" -> Metric(tDecode - tScan, "s"),
      "wall.route_s" -> Metric(tRoute - tDecode, "s"),
      "wall.fanout_s" -> Metric(tFan - tRoute, "s"),
      "wall.stream_gap_s" -> Metric(addBatch - tFan, "s", 1, "addBatch total minus batch writeFanOut calls on the same batches"),
      "wall.engine_s" -> Metric(trigger - addBatch, "s", 1, "trigger time outside addBatch"),
      "wall.remainder_s" -> Metric(plain.wall - trigger, "s", 1, "drain wall outside any trigger"),
      "self.addBatch_s" -> Metric(selfS("engine.addBatch"), "s", 1, "addBatch outside writeFanOut"),
      "self.writeFanOut_s" -> Metric(selfS("stream.writeFanOut"), "s", 1, "writeFanOut outside jobs"),
      "self.job_s" -> Metric(selfS("spark.job"), "s", 1, "jobs outside their stages"),
      "trace.overhead_frac" -> Metric(td.wall / plain.wall - 1.0, "ratio", 1,
        "traced drain wall / untraced drain wall - 1"))
  }

  /** Single-thread cost of AvroOcf.decodeRow, the call FromAvroOcf makes
    * per message, over up to 20k of the workload's own payloads. Two
    * passes; the second, with the JIT warm, is reported. Payloads that
    * fail to decode count like the others: the engine pays for them too. */
  private def decodeNsPerMessage(envelopes: DataFrame): Metric = {
    val schema = new org.apache.avro.Schema.Parser().parse(Schemas.orderAvroJson)
    val st = AvroOcf.sparkTypeFor(schema)
    val hs = AvroOcf.headerAndSync(schema)
    val payloads = envelopes.select("value").limit(20000).collect().map(_.getAs[Array[Byte]](0))
    def pass(): Double = {
      val t0 = System.nanoTime()
      payloads.foreach(b => try AvroOcf.decodeRow(b, st, schema, hs) catch { case _: Exception => () })
      (System.nanoTime() - t0).toDouble / math.max(1, payloads.length)
    }
    pass()
    Metric(pass(), "ns", payloads.length, "single-thread AvroOcf.decodeRow")
  }
}
