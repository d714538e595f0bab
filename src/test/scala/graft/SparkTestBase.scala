package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs that `body` starts. Its jobs carry a local property
    * that the counting listener keys on, so jobs of other threads do
    * not count; the listener bus is drained before the count is read. */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(key) == tag)
          jobs.incrementAndGet()
    }
    val prev = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, prev)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
