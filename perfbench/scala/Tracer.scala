package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: an op, a call inside it (build, action, route,
  * fanOut, release), a host probe, or a Spark job. Times are epoch
  * milliseconds; `parent` is -1 for roots. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double)

/** Task counters summed per stage. */
final class StageAgg {
  var tasks, failed, empty = 0L
  var runMs, cpuNs, gcMs, deserMs, waitMs = 0L
  var inBytes, outBytes, outRecs = 0L
  var shWBytes, shWRecs, shRBytes, fetchWaitMs, spillBytes = 0L
  /** "scan" when the stage computes a file scan and reads no cached
    * block, "cache" when it reads cached or checkpointed blocks, else
    * "none". Only the input bytes of non-scan stages are used: for
    * parquet scans the task input metric misses the column chunks
    * (about 5 KB for a full 10.8 MB lineitem scan), so scan bytes come
    * from the scan operators' own file-size metric instead. */
  var kind = "none"
}

final case class JobRec(id: Int, group: String, start: Long) {
  var end: Long = -1L
}

/** One Catalyst execution seen by the QueryExecutionListener. */
final case class QeRec(at: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, scanFiles: Long, scanBytes: Long, outFiles: Long)

/** One micro-batch progress report. */
final case class ProgressRec(runId: String, triggerMs: Long, addBatchMs: Long,
    planningMs: Long, walCommitMs: Long, commitOffsetsMs: Long,
    inputRows: Long, stateRows: Long)

/** Spark and Catalyst listeners for the traced run. All callbacks run
  * on listener-bus threads; every collection below is guarded by
  * `this`. Streaming query events arrive on the Spark listener bus too,
  * which covers queries started from derived sessions (the replay
  * harness runs each query in `newSession()`, whose own
  * StreamingQueryManager listeners would not see it). */
final class Tracer {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageAgg]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val cachedRdds = mutable.Set.empty[Int]
  var blocksWritten, blockBytesWritten = 0L
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]
  /** Streaming run id -> epoch ms the query started. */
  val queryStarts = mutable.Map.empty[String, Long]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += JobRec(e.jobId, group, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val st = e.stageInfo
        stageSubmit(st.stageId) = st.submissionTime.getOrElse(System.currentTimeMillis())
        val agg = stages.getOrElseUpdate(st.stageId, new StageAgg)
        val byId = st.rddInfos.map(r => r.id -> r).toMap
        val parents = st.rddInfos.flatMap(_.parentIds).toSet
        var scan, cache = false
        val seen = mutable.Set.empty[Int]
        def walk(id: Int): Unit = if (seen.add(id)) byId.get(id).foreach { r =>
          if (r.storageLevel.isValid && cachedRdds(r.id)) cache = true
          else {
            if (r.name == "FileScanRDD") scan = true
            r.parentIds.foreach(walk)
          }
        }
        st.rddInfos.filterNot(r => parents(r.id)).foreach(r => walk(r.id))
        agg.kind = if (cache) "cache" else if (scan) "scan" else "none"
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val agg = stages.getOrElseUpdate(e.stageId, new StageAgg)
      agg.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) agg.failed += 1
      agg.waitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.deserMs += m.executorDeserializeTime
        agg.inBytes += m.inputMetrics.bytesRead
        agg.outBytes += m.outputMetrics.bytesWritten
        agg.outRecs += m.outputMetrics.recordsWritten
        agg.shWBytes += m.shuffleWriteMetrics.bytesWritten
        agg.shWRecs += m.shuffleWriteMetrics.recordsWritten
        agg.shRBytes += m.shuffleReadMetrics.totalBytesRead
        agg.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        agg.spillBytes += m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          agg.empty += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryStartedEvent => Tracer.this.synchronized {
        queryStarts(q.runId.toString) = java.time.Instant.parse(q.timestamp).toEpochMilli
      }
      case q: StreamingQueryListener.QueryProgressEvent =>
        val p = q.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val state = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
        Tracer.this.synchronized {
          progress += ProgressRec(p.runId.toString, d("triggerExecution"), d("addBatch"),
            d("queryPlanning"), d("walCommit"), d("commitOffsets"), p.numInputRows, state)
        }
      case _ => ()
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.foreach { rdd =>
        if (b.storageLevel.isValid) {
          cachedRdds += rdd.rddId
          blocksWritten += 1
          blockBytesWritten += b.memSize + b.diskSize
        }
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      var scanFiles, scanBytes, outFiles = 0L
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec => ()
        case f: FileSourceScanExec =>
          scanFiles += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          scanBytes += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          outFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          w.children.foreach(walk)
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
      walk(qe.executedPlan)
      val at = ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      Tracer.this.synchronized {
        qes += QeRec(at, ms("analysis"), ms("optimization"), ms("planning"),
          scanFiles, scanBytes, outFiles)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}
