package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy), on Bench's settings. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName(getClass.getSimpleName)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
