package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run (sessions are expensive;
  * suites only read), under the confs Verify and Bench run with. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName("graft-tests")
    .getOrCreate()
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
