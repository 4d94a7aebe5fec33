package graft.internal

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ThreadLocalBridge

/** Concurrent job SUBMISSION from the driver. Independent driver-side
  * units (a table's sink, a form family's read + infer + persist +
  * pipeline build) each spend most of their wall time either waiting
  * on one small Spark job or building a plan on the driver; run one
  * after another, the executors idle through every gap. Run together,
  * the jobs overlap and the job count is unchanged.
  *
  * Contracts:
  *   - every unit runs under the caller's thread-locals (job group,
  *     active session, SQL properties) via [[ThreadLocalBridge]], so
  *     its jobs stay attributable and cancellable as the caller's;
  *   - every unit's jobs carry the description `graft <label>`, after
  *     the caller's own description when it has one. The unit sets it
  *     on its thread's clone of the caller's properties, so the
  *     caller's description is untouched;
  *   - outcomes come back in INPUT order, whatever order units finish;
  *   - every unit finishes before this returns; NonFatal failures are
  *     returned in their slot, a fatal one (OOM, LinkageError) is
  *     unwrapped and rethrown;
  *   - the pool lives for this call only (shut down in `finally`):
  *     no idle threads between calls, nothing to configure. */
object DriverPool {
  private val threadIds = new AtomicInteger(0)
  private val daemons: ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, s"graft-driver-pool-${threadIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  def runAll[T](spark: SparkSession, width: Int, units: Seq[(String, () => T)])
      : Seq[Try[T]] =
    if (units.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(width.max(1).min(units.size), daemons)
      try {
        val futures = units.map { case (label, u) =>
          ThreadLocalBridge.captured(spark, pool) {
            val sc = spark.sparkContext
            val tag = s"graft $label"
            sc.setJobDescription(Option(sc.getLocalProperty("spark.job.description"))
              .fold(tag)(caller => s"$caller: $tag"))
            u()
          }
        }
        val outcomes = futures.map { f =>
          try Success(f.get())
          catch { case e: ExecutionException => Failure(e.getCause) }
        }
        outcomes.foreach { case Failure(e) if !NonFatal(e) => throw e; case _ => }
        outcomes
      } finally pool.shutdownNow()
    }
}
