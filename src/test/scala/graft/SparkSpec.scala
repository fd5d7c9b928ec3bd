package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — sbt
  * forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder())
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** A test's queries ran on its thread, so that thread releases their
    * tracked caches; clearCache drops what the test cached itself. */
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally { Caches.releaseAll(); spark.catalog.clearCache() }
}
