package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** The Spark jobs `body` starts, counted through a job group. */
  protected def sparkJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      // the listener bus is asynchronous: drain it before counting, so a
      // late second job cannot go unseen
      org.apache.spark.GraftListenerFlush.flush(sc)
      jobs.get
    } finally sc.removeSparkListener(l)
  }
}
