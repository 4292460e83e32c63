package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for all suites (getOrCreate dedups). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** TS fixture rows: (series_id, t, value, tags, event_id). */
  def tsFrame(rows: Seq[(String, Long, Double, Map[String, String], Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("series_id", "t", "value", "tags", "event_id")
  }

  /** Spark jobs started while `body` runs: a fence job marks the end (the
    * listener bus is FIFO, so once its start arrives every job `body`
    * started has been counted).
    */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "fence"))
          fence.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("fence")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      assert(fence.await(60, TimeUnit.SECONDS))
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** Temp dirs a suite makes, deleted in its `afterAll`. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = mutable.ArrayBuffer.empty[java.io.File]

  def tempDir(prefix: String): java.io.File = made.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made += d
    d
  }

  override def afterAll(): Unit =
    try made.foreach(org.apache.commons.io.FileUtils.deleteQuietly) finally super.afterAll()
}
