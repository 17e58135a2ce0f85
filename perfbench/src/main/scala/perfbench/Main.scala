package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` holds the workload's own
  * end-to-end metrics (msgs_per_s, batch_s_p50, suite_s, ...); `headline`
  * maps them onto the workload-independent names every run reports
  * (work_per_s, step_s_p50). */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val headline = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  var oracle: Option[Map[String, Any]] = None
  var discardedBytes = 0L

  /** Records `k` failed operations (queries, batches or messages). */
  def fail(what: String, k: Long = 1L): Unit = { failures += what; failed += k }
  def note(what: String): Unit = notes += what

  private val born = System.nanoTime()
  /** Notes how far into the run a phase ended (for sizing runs). */
  def phase(name: String): Unit = note(f"phase $name ended at ${Clock.secs(born)}%.1f s")

  /** Deletes a directory the run no longer needs, counting its bytes as
    * written. */
  def discard(dir: String): Unit = {
    discardedBytes += Disk.bytesUnder(dir)
    Disk.deleteTree(dir)
  }
}

/** Settings a workload reads: size scale, seed, run length, tracing. */
final case class RunSpec(workload: String, seed: Long, seconds: Int, trace: Boolean,
    tiny: Boolean, workDir: String, cpus: Int) {
  def dir(name: String): String = s"$workDir/$name"
}

/** Entry point of the benchmark JVM. run.py starts it; it writes one JSON
  * result file that run.py turns into the report and the final line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE [--trace-out FILE] [--tiny] */
object Main {
  val Workloads: Map[String, (SparkSession, RunSpec, Tracer, SparkLayer, Result) => Unit] = Map(
    "fanout_drain" -> FanoutDrain.run,
    "query_suite" -> QuerySuite.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap ++ args.filter(_ == "--tiny").map(_ => "tiny" -> "1")
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val cpus = Runtime.getRuntime.availableProcessors
    val spec = RunSpec(workload, opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", opts.contains("tiny"), opts("work"), cpus)

    val spark = Session.build(spec)
    val tracer = new Tracer(spec.trace)
    val sparkLayer = new SparkLayer(tracer)
    spark.sparkContext.addSparkListener(sparkLayer)
    val result = new Result
    val jvm0 = JvmLayer.snapshot()
    try body(spark, spec, tracer, sparkLayer, result)
    catch {
      case e: Throwable =>
        result.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    if (spec.trace) result.layers ++= JvmLayer.delta(jvm0)
    val protocol = Session.protocol(spark, spec)
    spark.stop()

    opts.get("trace-out").filter(_ => spec.trace).foreach(p => Disk.write(p, tracer.toJson))
    val out = Map(
      "workload" -> workload,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "failures" -> result.failures.take(50),
      "end_to_end" -> result.e2e,
      "headline" -> result.headline,
      "per_layer" -> result.layers,
      "protocol" -> (protocol + ("inputs" -> result.inputs)),
      "bytes_discarded" -> result.discardedBytes,
      "notes" -> result.notes,
      "oracle" -> result.oracle)
    Disk.write(opts("out"), Json(out))
  }
}

/** The benchmark's SparkSession: graft.Bench's settings, so its numbers
  * compare with the repository's batch bench, plus directories that keep
  * every file a run writes inside its work directory. */
object Session {
  def build(spec: RunSpec): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${spec.cpus}]")
      .config("spark.sql.shuffle.partitions", spec.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spec.dir("spark-local"))
      .config("spark.sql.warehouse.dir", spec.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The protocol stamp, read back from the running session and JVM. */
  def protocol(spark: SparkSession, spec: RunSpec): Map[String, Any] = {
    def conf(k: String): String = spark.conf.getOption(k).getOrElse("<unset>")
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "shuffle_partitions" -> conf("spark.sql.shuffle.partitions"),
      "aqe" -> conf("spark.sql.adaptive.enabled"),
      "aqe_parallelism_first" -> conf("spark.sql.adaptive.coalescePartitions.parallelismFirst"),
      "codegen_cache_max_entries" -> conf("spark.sql.codegen.cache.maxEntries"),
      "session_time_zone" -> conf("spark.sql.session.timeZone"),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
        .filterNot(_.contains("=ALL-UNNAMED")),
      "workload" -> spec.workload,
      "seed" -> spec.seed,
      "seconds" -> spec.seconds,
      "trace" -> spec.trace,
      "tiny" -> spec.tiny)
  }
}
