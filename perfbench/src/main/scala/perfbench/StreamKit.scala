package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Schemas
import graft.stream.OrderPipeline

/** One committed micro-batch, from the query's progress reports
  * (StreamingQueryProgress, Spark's public monitoring unit). */
final case class BatchProgress(id: Long, startMs: Long, rows: Long, durations: Map[String, Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + triggerMs
}

object StreamKit {
  /** The durationMs components in the order the micro-batch engine runs
    * them; batch spans lay their children out in this order. */
  val Components = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  /** OrderPipeline.readTopicDir's one line with a per-trigger file
    * limit, so a backlog drains in many micro-batches (readTopicDir takes
    * no reader options). Its schema must stay readTopicDir's. */
  def readTopicDir(spark: SparkSession, topic: String, files: Int): DataFrame = {
    val df = spark.readStream.schema(Schemas.envelope)
      .option("maxFilesPerTrigger", files.toLong).parquet(topic)
    require(df.schema == OrderPipeline.readTopicDir(spark, topic).schema,
      "the limited topic read no longer matches OrderPipeline.readTopicDir")
    df
  }

  /** The data micro-batches a stopped query ran (idle triggers dropped). */
  def batches(q: StreamingQuery): Seq[BatchProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map { p =>
      BatchProgress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }

  /** Span ids for batch b and its components, above any tracer-issued id,
    * so spans recorded during the batch can name them as parents before
    * the progress report that defines them arrives. */
  def batchSpanId(b: Long): Long = (1L << 40) + b * 16
  def componentSpanId(b: Long, name: String): Long = batchSpanId(b) + 1 + Components.indexOf(name)

  /** Records each batch as a span under `parent`, with its durationMs
    * components as children laid out in engine order. */
  def recordBatchSpans(tracer: Tracer, bs: Seq[BatchProgress], parent: Long): Unit =
    bs.foreach { b =>
      val start = b.startMs * 1000000L
      tracer.record(batchSpanId(b.id), "engine.batch", start, b.endMs * 1000000L, parent,
        Map("batch" -> b.id.toString, "rows" -> b.rows.toString))
      var t = start
      Components.foreach { c =>
        val d = b.durations.getOrElse(c, 0L) * 1000000L
        tracer.record(componentSpanId(b.id, c), s"engine.$c", t, t + d, batchSpanId(b.id))
        t += d
      }
    }

  /** Executes a plan in full without writing its output. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median time of three runs of a batch twin of a layer; each run is a
    * span whose jobs carry it as their job group. */
  def twin(spark: SparkSession, tracer: Tracer, name: String)(body: => Unit): Double =
    Stats.median((1 to 3).map(_ => tracer.span(name) { id =>
      Clock.timed(tracer.inJobGroup(spark.sparkContext, id)(body))._2
    }))

  /** Per-batch medians of the engine's durationMs components. */
  def engineMetrics(bs: Seq[BatchProgress]): Map[String, Metric] = {
    def med(k: String): Metric =
      Metric(if (bs.isEmpty) 0.0 else Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble)),
        "ms", bs.size, "per-batch median")
    (Components.map(c => s"engine.${c}_ms" -> med(c)) ++ Seq(
      "engine.trigger_ms" -> med("triggerExecution"),
      "engine.batches" -> Metric(bs.size.toDouble, "count"))).toMap
  }
}
