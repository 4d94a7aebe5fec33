package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** In-memory spans around the benchmark's calls into the engine. Each
  * op runs under its own job group (`pb-op-<span id>`), which is how
  * the traced run links ordinary Spark jobs to their op. */
final class Recorder(sc: SparkContext) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private def newId(): Int = { nextId += 1; nextId }

  def op[T](name: String)(body: Int => T): T = {
    val id = newId()
    sc.setJobGroup(s"pb-op-$id", name, interruptOnCancel = false)
    val s = nowMs
    try body(id)
    finally {
      spans += Span(id, -1, "op", name, s, nowMs)
      sc.clearJobGroup()
    }
  }

  def child[T](parent: Int, kind: String, name: String)(body: => T): T = {
    val id = newId()
    val s = nowMs
    try body finally spans += Span(id, parent, kind, name, s, nowMs)
  }

  def probe(body: => Double): Double = {
    val id = newId()
    sc.setJobGroup(s"pb-probe-$id", "host probe", interruptOnCancel = false)
    val s = nowMs
    try body
    finally {
      spans += Span(id, -1, "probe", "host", s, nowMs)
      sc.clearJobGroup()
    }
  }

  /** The op span a job group names: this thread's ops directly; a
    * streaming query's jobs, whose group is the query's run id, through
    * the op span that was open when that query started. */
  def opOf(group: String, tracer: Tracer): Option[Int] =
    if (group.startsWith("pb-op-")) Some(group.drop(6).toInt)
    else tracer.queryStarts.get(group).flatMap(t =>
      spans.find(s => s.kind == "op" && s.start <= t + 1 && t <= s.end + 1).map(_.id))

  /** Spans of the traced passes, with every attributed Spark job as a
    * child of the op call it started in, plus self time per span kind. */
  def spansJson(tracer: Tracer, passes: Seq[PerfBench.PassRec]): String =
    tracer.synchronized {
      val v = new TraceView(this, tracer, passes)
      val jobSpans = v.jobs.flatMap { j =>
        v.jobOp.get(j.id).map(op => Span(-j.id - 2, v.jobParent(j, op), "job",
          s"job ${j.id}", j.start.toDouble, math.max(j.start, j.end).toDouble))
      }
      val all = v.spans ++ jobSpans
      val self = Layers.selfTime(all).groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (k, ms) => k -> ms / 1000.0 / v.n }
      Json(Map(
        "spans" -> all.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)),
        "self_s_per_pass" -> self,
        "unattributed_jobs" -> v.jobs.filterNot(j => v.jobOp.contains(j.id)).map(_.id)))
    }
}

/** The traced passes' spans and jobs, with each job's op. */
final class TraceView(rec: Recorder, t: Tracer, passes: Seq[PerfBench.PassRec]) {
  val traced: Seq[PerfBench.PassRec] = passes.filter(_.traced)
  val n: Double = math.max(1, traced.size).toDouble
  def inPass(ms: Double): Boolean = traced.exists(p => ms >= p.startMs && ms <= p.endMs)
  val spans: Seq[Span] = rec.spans.toSeq.filter(s => s.kind != "probe" && inPass(s.start))
  private val ids = spans.map(_.id).toSet
  private val children = spans.filter(_.parent >= 0).groupBy(_.parent)
  val jobs: Seq[JobRec] =
    t.jobs.toSeq.filter(j => inPass(j.start.toDouble) && !j.group.startsWith("pb-probe"))
  val jobOp: Map[Int, Int] =
    jobs.flatMap(j => rec.opOf(j.group, t).filter(ids).map(j.id -> _)).toMap

  /** The call of `op` that was running when job `j` started: the latest
    * child span that began before it (1 ms slack: the two clocks are
    * read at different points), else the op itself. */
  def jobParent(j: JobRec, op: Int): Int =
    children.getOrElse(op, Nil).filter(_.start <= j.start + 1)
      .sortBy(_.start).lastOption.map(_.id).getOrElse(op)

  def jobKind(j: JobRec): String = jobOp.get(j.id).map { op =>
    val p = jobParent(j, op)
    spans.find(_.id == p).map(_.kind).getOrElse("op")
  }.getOrElse("unattributed")
}

object Layers {
  /** Per-layer metrics over the traced passes, as totals per pass
    * unless the name says otherwise (fractions, per-batch means). */
  def apply(t: Tracer, rec: Recorder, passes: Seq[PerfBench.PassRec], cpus: Int,
      batchBytes: Map[String, Long], extra: Map[String, Double]): Map[String, Double] =
    t.synchronized {
      val v = new TraceView(rec, t, passes)
      val n = v.n
      val spans = v.spans
      def spanS(kind: String) = spans.filter(_.kind == kind).map(s => s.end - s.start).sum / 1000.0 / n
      val kindOf = v.jobs.map(j => j.id -> v.jobKind(j)).toMap
      def jobsOf(kind: String) = v.jobs.count(j => kindOf(j.id) == kind) / n
      val jobIds = v.jobs.map(_.id).toSet
      val stageList = t.stages.toSeq.filter { case (s, _) => t.stageJob.get(s).exists(jobIds) }
      val st = stageList.map(_._2)
      def per(f: StageAgg => Long) = st.map(f).sum / n
      def perKind(kind: String)(f: StageAgg => Long) = stageList.collect {
        case (s, a) if kindOf.get(t.stageJob(s)).contains(kind) => f(a)
      }.sum / n
      val qes = t.qes.toSeq.filter(q => v.inPass(q.at.toDouble))
      val fanOuts = spans.filter(_.kind == "fanOut")
      val opIds = spans.filter(_.kind == "op").map(_.id).toSet
      val prog = t.progress.toSeq.filter(p => rec.opOf(p.runId, t).exists(opIds))
      def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
      val jsonBytes = spans.filter(_.kind == "op").flatMap(s => batchBytes.get(s.name)).sum / n
      val sinkBytes = perKind("fanOut")(_.outBytes)
      val noJob = v.traced.map { p =>
        val iv = v.jobs.filter(j => j.end >= 0).map(j =>
          (math.max(j.start.toDouble, p.startMs), math.min(j.end.toDouble, p.endMs)))
          .filter { case (a, b) => b > a }
        p.wallS - union(iv) / 1000.0
      }
      val untracedWall = Stats.median(passes.filterNot(_.traced).map(_.wallS))
      val tasks = st.map(_.tasks).sum
      Map(
        "entry.build_s" -> spanS("build"),
        "entry.action_s" -> spanS("action"),
        "entry.build_jobs" -> jobsOf("build"),
        "entry.action_jobs" -> jobsOf("action"),
        "router.route_s" -> spanS("route"),
        "router.infer_jobs" -> jobsOf("route"),
        "router.json_bytes" -> jsonBytes,
        "sinks.write_s" -> spanS("fanOut"),
        "sinks.jobs" -> jobsOf("fanOut"),
        "sinks.files" -> qes.filter(q => fanOuts.exists(s => q.at >= s.start - 1 && q.at <= s.end + 1))
          .map(_.outFiles).sum / n,
        "sinks.bytes" -> sinkBytes,
        "sinks.rows" -> perKind("fanOut")(_.outRecs),
        "sinks.write_amp" -> (if (jsonBytes > 0) sinkBytes / jsonBytes else 0.0),
        "docs_per_s" -> extra("docs_per_s"),
        "streams.batches" -> prog.size / n,
        "streams.trigger_ms_p50" -> Stats.median(prog.map(_.triggerMs.toDouble)),
        "streams.trigger_ms_tail" -> Stats.tail(prog.map(_.triggerMs.toDouble))._1,
        "streams.add_batch_ms" -> mean(prog.map(_.addBatchMs)),
        "streams.query_planning_ms" -> mean(prog.map(_.planningMs)),
        "streams.wal_commit_ms" -> mean(prog.map(_.walCommitMs)),
        "streams.commit_offsets_ms" -> mean(prog.map(_.commitOffsetsMs)),
        "streams.state_rows" -> mean(prog.map(_.stateRows)),
        "streams.no_data_frac" ->
          (if (prog.isEmpty) 0.0 else prog.count(_.inputRows == 0).toDouble / prog.size),
        "catalyst.analysis_s" -> qes.map(_.analysisMs).sum / 1000.0 / n,
        "catalyst.optimization_s" -> qes.map(_.optimizationMs).sum / 1000.0 / n,
        "catalyst.planning_s" -> qes.map(_.planningMs).sum / 1000.0 / n,
        "catalyst.executions" -> qes.size / n,
        "sched.jobs" -> v.jobs.size / n,
        "sched.stages" -> st.size / n,
        "sched.tasks" -> tasks / n,
        "sched.delay_s" -> per(_.waitMs) / 1000.0,
        "sched.empty_task_frac" ->
          (if (tasks == 0) 0.0 else st.map(_.empty).sum.toDouble / tasks),
        "sched.tasks_failed" -> per(_.failed),
        "driver.no_job_s" -> Stats.median(noJob),
        "exec.run_s" -> per(_.runMs) / 1000.0,
        "exec.cpu_s" -> per(_.cpuNs) / 1e9,
        "exec.gc_s" -> per(_.gcMs) / 1000.0,
        "exec.deser_s" -> per(_.deserMs) / 1000.0,
        "exec.core_util" -> st.map(_.runMs).sum / 1000.0 /
          math.max(1e-9, v.traced.map(_.wallS).sum * cpus),
        "shuffle.write_bytes" -> per(_.shWBytes),
        "shuffle.read_bytes" -> per(_.shRBytes),
        "shuffle.records" -> per(_.shWRecs),
        "shuffle.fetch_wait_s" -> per(_.fetchWaitMs) / 1000.0,
        "spill.bytes" -> per(_.spillBytes),
        "scan.bytes" -> qes.map(_.scanBytes).sum / n,
        "scan.files" -> qes.map(_.scanFiles).sum / n,
        "cache.read_bytes" -> st.filter(_.kind != "scan").map(_.inBytes).sum / n,
        "cache.blocks_written" -> t.blocksWritten / n,
        "cache.bytes_written" -> t.blockBytesWritten / n,
        "cache.live_frames_after_op" -> extra("live_frames_after_op"),
        "output.bytes" -> per(_.outBytes),
        "output.files" -> qes.map(_.outFiles).sum / n,
        "jvm.gc_s" -> Stats.median(v.traced.map(_.gcS)),
        "jvm.peak_heap_mb" -> (0.0 +: v.traced.map(_.peakHeapMb)).max,
        "host.dispatch_probe_s" -> extra("dispatch_probe_s"),
        "host.cpu_probe_s" -> Stats.median(passes.map(_.cpuProbeS)),
        "trace.overhead_frac" -> (Stats.median(v.traced.map(_.wallS)) / untracedWall - 1),
        "trace.attributed_jobs" -> v.jobOp.size.toDouble,
        "trace.unattributed_jobs" -> (v.jobs.size - v.jobOp.size).toDouble,
        "error_rate" -> extra("error_rate"))
    }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** (kind, self ms) per span: its duration minus what its children cover. */
  def selfTime(spans: Seq[Span]): Seq[(String, Double)] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter { case (a, b) => b > a })
      s.kind -> math.max(0.0, s.end - s.start - covered)
    }
  }
}
