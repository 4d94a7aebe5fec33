package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate — one JVM-wide
  * session keeps the suite fast; forked test JVM from build.sbt). */
trait SparkSuiteBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuiteBase.session

  /** `body`'s result, plus the `spark.jobGroup.id` of every Spark job it
    * starts, from any thread, in start order ("" for a job without a
    * group). The listener bus is async (and private[spark]), so a
    * sentinel job marks the end: the bus is FIFO, so every job `body`
    * launched has been seen once the sentinel has. RDD count, not
    * DataFrame count: AQE splits a SQL count into one job per query
    * stage. */
  def jobGroupsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val sentinelKey = "graft.test.sentinel"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty(sentinelKey) != null)) sentinelSeen.countDown()
        else groups.add(props.flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
      }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(sentinelKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(sentinelKey, null)
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the sentinel job")
      (result, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuiteBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
