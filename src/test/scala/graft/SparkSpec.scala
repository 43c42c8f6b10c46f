package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local SparkSession for all suites (one per JVM — sbt forks a
  * single test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tmp)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def fixturePath(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  def sfDir: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. Listener delivery is async;
    * counted jobs are BLOCKING inside body (eager collects and
    * checkpoints), so a short settle window after it returns is enough.
    */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(300) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }
}
