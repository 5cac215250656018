package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  // local[4, 2]: 4 threads, 2 task attempts — retries on, so the
  // fault-injection suite can exercise crash recovery (test-mr.sh analog)
  lazy val spark: SparkSession = GraftSession("local[4, 2]", "4",
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graftwh").toString)

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
  spark.sparkContext.setLogLevel("WARN")
}
