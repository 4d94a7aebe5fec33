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
    * group). */
  def jobGroupsDuring[T](body: => T): (T, Seq[String]) = {
    val (result, tags) = jobTagsDuring(body)
    (result, tags.map(_._1))
  }

  /** [[jobGroupsDuring]] with each job's `spark.job.description` beside
    * its group: (group, description), "" for an absent one. The
    * listener bus is async (and private[spark]), so a sentinel job
    * marks the end: the bus is FIFO, so every job `body`
    * launched has been seen once the sentinel has. RDD count, not
    * DataFrame count: AQE splits a SQL count into one job per query
    * stage. */
  def jobTagsDuring[T](body: => T): (T, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val sentinelKey = "graft.test.sentinel"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty(sentinelKey) != null)) sentinelSeen.countDown()
        else {
          def prop(key: String) = props.flatMap(p => Option(p.getProperty(key))).getOrElse("")
          tags.add(prop("spark.jobGroup.id") -> prop("spark.job.description"))
        }
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
      (result, tags.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuiteBase {
  lazy val session: SparkSession = Session.graft(4, "spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
