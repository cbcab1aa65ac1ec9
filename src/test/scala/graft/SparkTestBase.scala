package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide — Spark startup
  * dominates test wall time otherwise).
  */
object SparkTestBase {
  // every suite reads `sf` (sf0.001), far under the factory's 8 MB per
  // shuffle partition, so the width is the core count without sizing it
  lazy val spark: SparkSession = Session.local(4, "")
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = "/root/testdata/sf0.001"
}
