package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

/** One session factory: every harness main and spec runs Bench's
  * engine settings, and nothing else under src/ builds a session. */
class GraftSessionSpec extends AnyFunSuite {

  /** Bench's session settings, written out so a change to the factory
    * has to change this table too. */
  private def benchSettings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("the factory's settings are Bench's, key by key") {
    assert(GraftSession.settings(8) === benchSettings(8))
  }

  test("a session from local() reads back Bench's settings") {
    val spark = GraftSession.local()
    // the master belongs to the JVM-wide SparkContext, which the first
    // suite to open a session fixes, so it is checked on settings only
    (benchSettings(GraftSession.cpus) - "spark.master").foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(LogManager.getRootLogger.getLevel === Level.WARN)
  }

  test("only GraftSession builds a SparkSession under src/") {
    val builds = "SparkSession\\s*\\.\\s*builder".r
    val stream = Files.walk(Paths.get("src"))
    val hits = try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          builds.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.getFileName.toString).toList
    } finally stream.close()
    assert(hits === List("GraftSession.scala"))
  }
}
