package org.apache.spark.sql.graftshim

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into Spark's own thread-local capture for driver-side
  * concurrency: `body` runs on `exec` under the CALLER's thread-locals
  * — SparkContext local properties (job group, job description,
  * scheduler pool, SQL properties), the active session and the job
  * artifact state — exactly as Spark's broadcast-exchange and
  * subquery futures do. A bare pool thread would instead launch its
  * jobs with no job group (unattributable in an event log, and out of
  * reach of `cancelJobGroup`) and resolve against whatever session it
  * last saw. Like [[ColumnBridge]], this is the single place graft
  * crosses the package boundary for it. */
object ThreadLocalBridge {
  def captured[T](spark: SparkSession, exec: ExecutorService)(body: => T)
      : CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(castToImpl(spark), exec)(body)
}
