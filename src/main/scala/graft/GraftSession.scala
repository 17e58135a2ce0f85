package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration: Bench's engine settings, shared
  * by every harness main (Bench, Verify, TimeQ, Explain, ScaleProbe)
  * and every Spark spec, so a dev-tool A/B times the same engine the
  * bench does. Callers add only what is theirs (app name, warehouse
  * dir, extensions, Verify's nanosAsLong, the audit's AQE-off). */
object GraftSession {

  /** Local cores: `$SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Bench's session settings on `cpus` local cores, key by key. */
  def settings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // coalesce tiny post-shuffle partitions to the advisory size
    // instead of preserving parallelism — fewer task launches per
    // stage at small SF, and the production-recommended setting at
    // scale (partition sizing should win over raw task count)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // the suite compiles ~2k distinct codegen units; the default
    // 100-entry cache would evict the warmup's classes before the
    // timed run touches them, moving Janino compiles INTO windows
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A builder carrying [[settings]]; specs extend it before getOrCreate. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder().config(settings(cpus))

  /** The mains' session: [[builder]] on [[cpus]] cores, logging at WARN. */
  def local(): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
