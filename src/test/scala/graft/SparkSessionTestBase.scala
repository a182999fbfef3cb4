package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites: the mains' session at
  * 4 cores. */
object TestSpark {
  lazy val spark: SparkSession =
    Harness.session(4, "spark.app.name" -> "graft-test")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir
}
