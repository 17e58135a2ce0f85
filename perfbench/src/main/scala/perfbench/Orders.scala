package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.OrderGen

/** Order inputs for the stream workload, and the expected outcome of
  * every message, stated independently of the engine's router. */
object Orders {
  val Success = 0
  val Retry = 1
  val Dlq = 2

  /** The reference's R4/R5 rules (consumer.py:249-270) restated over exact
    * cents: a payload that cannot be decoded, or a negative price, goes to
    * the DLQ; 5.00 to 50.00 inclusive is transient (retry); above 1000.00
    * is permanent (DLQ); everything else succeeds. The generator never
    * emits an empty id or product, so R4's other checks cannot fire. */
  def expectedRoute(cents: Long, undecodable: Boolean): Int =
    if (undecodable || cents < 0) Dlq
    else if (cents >= 500 && cents <= 5000) Retry
    else if (cents > 100000) Dlq
    else Success

  /** SplitMix64 over (seed, index, salt): the benchmark's own per-message
    * choices (framing, truncation) derive from it. */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One message in a hundred carries a truncated payload. */
  def truncated(seed: Long, offset: Long): Boolean = java.lang.Math.floorMod(mix(seed, offset, 2), 100L) == 0L

  /** About half the containers carry a random sync marker, as a producer
    * that lets its Avro writer pick the marker does. */
  def randomSync(seed: Long, offset: Long): Boolean = (mix(seed, offset, 1) & 1L) == 1L

  /** Re-frames one OCF container written with the engine's deterministic
    * sync marker: swaps in a random marker (header and block trailer) or
    * cuts the payload short before the end of its datum. `headerLen` is
    * the container header length, which ends with the sync marker. */
  def reframe(value: Array[Byte], offset: Long, seed: Long, headerLen: Int): Array[Byte] =
    if (truncated(seed, offset)) {
      // the datum ends where the 16-byte trailing sync marker starts
      val cut = 1 + java.lang.Math.floorMod(mix(seed, offset, 3), (value.length - 17).toLong).toInt
      java.util.Arrays.copyOf(value, cut)
    } else if (randomSync(seed, offset)) {
      val sync = new Array[Byte](16)
      val a = mix(seed, offset, 4)
      val b = mix(seed, offset, 5)
      (0 until 8).foreach { k => sync(k) = (a >>> (8 * k)).toByte; sync(8 + k) = (b >>> (8 * k)).toByte }
      val out = value.clone()
      System.arraycopy(sync, 0, out, headerLen - 16, 16)
      System.arraycopy(sync, 0, out, out.length - 16, 16)
      out
    } else value

  def tag(seed: Long): String = s"perfbench-$seed"

  /** The generated orders (graft.sources.OrderGen) with exact cents. */
  def orders(spark: SparkSession, n: Long, seed: Long): DataFrame =
    OrderGen.orders(spark, n, tag(seed))
      .withColumn("cents", round(col("price") * 100).cast("long"))
}
