package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipelines.Router
import graft.sources.Sinks

/** Layered benchmark main: one JVM runs one workload through the
  * engine's public entry points, times whole passes over the
  * workload's ops with one closed-loop client (this thread), and
  * writes a JSON result for `perfbench/run.py`, which checks outputs
  * and prints the final line. See perfbench/README.md for the
  * workloads, the metrics and what each layer metric should move.
  *
  * Usage: PerfBench key=value ... with keys workload, seed, seconds,
  * trace (0|1), tables, docs (ingest_json only), work, cpus, out.
  */
object PerfBench {

  /** Build-bound ops, dozens of tiny jobs each and nearly all of them
    * in the build phase: a frontier loop severed by counted
    * `PartitionedCheckpoint`s, a gate-maintenance query built on
    * `gatePersist`, and a MemoryStream micro-batch replay through a
    * stateful windowed aggregation (a real streaming query). */
  val iterStreamOps: Seq[String] = Seq(
    "q73_bfs_reach", "s28_ivf_compact", "st03_streaming_tumbling")

  /** A full scan of one table, for the benchmark's own self-check of the
    * scan/cache byte split. */
  val selfcheckOps: Seq[String] = Seq("lineitem_full_scan")

  final case class OpRun(name: String, pass: Int, wallS: Double, rows: Long,
      sum: String, error: String)

  final case class PassRec(index: Int, traced: Boolean, startMs: Double,
      endMs: Double, wallS: Double, liveHeapMb: Double, peakHeapMb: Double,
      gcS: Double, cpuProbeS: Double, liveFrames: Int)

  def main(argv: Array[String]): Unit = {
    val arg = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val tables = arg("tables")
    val work = arg("work")
    val cpus = arg("cpus").toInt
    // Measured passes per untraced run: the build-bound ops keep
    // speeding up for a pass or two after priming (JIT), so their median
    // needs three; ingest passes are steady from the first. The memory
    // metrics are read after pass `minPasses` in every run, so they do
    // not grow with the number of passes that fit in `seconds` (caches
    // are never released between passes).
    val (opNames, minPasses) = workload match {
      case "iter_stream" => (iterStreamOps, 3)
      case "ingest_json" => (Nil, 2)
      case "scan_selfcheck" => (selfcheckOps, 1)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val rec = new Recorder(sc)
    val tracer = new Tracer
    val registry = graft.SparkEntry.queries
    val lastDf = mutable.Map.empty[String, DataFrame]
    val runs = mutable.ArrayBuffer.empty[OpRun]

    // ---- ops -------------------------------------------------------
    def registryOp(name: String): (Long, String) = rec.op(name) { op =>
      val df = rec.child(op, "build", name)(
        if (name == "lineitem_full_scan") spark.read.parquet(s"$tables/lineitem.parquet")
        else registry(name)(spark, tables))
      val (n, s) = rec.child(op, "action", name)(Checksum(df))
      lastDf(name) = df
      (n, s)
    }
    val batchDirs: Seq[String] = arg.get("docs").toSeq.flatMap { d =>
      new java.io.File(d).listFiles().filter(_.isDirectory).map(_.getPath).sorted.toSeq
    }
    val batchBytes: Map[String, Long] = batchDirs.map(d =>
      d -> new java.io.File(d).listFiles().map(_.length).sum).toMap
    val ingested = mutable.Map.empty[String, Int].withDefaultValue(0)
    val outRoot = s"$work/ingest_out"
    def ingestOp(dir: String): (Long, String) = rec.op(dir) { op =>
      val routed = rec.child(op, "route", dir)(Router.routeManaged(spark, dir))
      val failed = rec.child(op, "fanOut", dir)(Sinks.fanOut(routed.tables,
        (t, df) => Sinks.parquetAppend(df, s"$outRoot/$t")))
      rec.child(op, "release", dir)(routed.release())
      if (failed.nonEmpty) throw new IllegalStateException(
        "fanOut failed: " + failed.map { case (t, e) => s"$t: ${e.getMessage}" }.mkString("; "))
      ingested(dir) += 1
      (routed.tables.size.toLong, "")
    }
    def runPass(pass: Int): Unit = {
      val rnd = new scala.util.Random(seed * 1000003L + pass)
      if (workload == "ingest_json") batchDirs.foreach(d => record(d, pass)(ingestOp(d)))
      else rnd.shuffle(opNames).foreach(n => record(n, pass)(registryOp(n)))
    }
    def record(name: String, pass: Int)(body: => (Long, String)): Unit = {
      val t0 = System.nanoTime()
      val (n, s, err) =
        try { val (a, b) = body; (a, b, "") }
        catch { case scala.util.control.NonFatal(e) =>
          (0L, "", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      runs += OpRun(name, pass, (System.nanoTime() - t0) / 1e9, n, s, err)
    }

    // ---- setup: one untimed priming pass over the same inputs -------
    // It pays the one-time costs (class loading, codegen compiles,
    // footer reads) that would otherwise land on whichever timed op
    // first touches each code path.
    runPass(0)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // ---- measurement -----------------------------------------------
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val m0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - m0) / 1e9
    var pass = 0
    var tracing = false
    // Whole passes until `until` seconds have gone and at least
    // `minPasses` ran: a fixed pass count keeps runs comparable when a
    // slow pass would otherwise end the measurement one pass early.
    def measure(minPasses: Int, until: Double): Unit = {
      var n = 0
      while (n < minPasses || elapsed < until) {
        n += 1
        pass += 1
        val cpuS = rec.probe(Probes.cpu())
        heapPools.foreach(_.resetPeakUsage())
        val g0 = gcMs
        val s0 = rec.nowMs
        val t0 = System.nanoTime()
        runPass(pass)
        val wall = (System.nanoTime() - t0) / 1e9
        val s1 = rec.nowMs
        val gcS = (gcMs - g0) / 1000.0
        val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        val live = Heap.liveMb(sc)
        passes += PassRec(pass, tracing, s0, s1, wall, live, peak, gcS, cpuS,
          sc.getPersistentRDDs.size)
      }
    }
    val dispatchProbeS = rec.probe(Probes.dispatch(spark))
    if (traced) {
      measure(math.max(1, minPasses - 1), seconds / 2)
      tracer.attach(spark)
      tracing = true
      measure(1, seconds)
      tracer.detach(spark)
    } else measure(minPasses, seconds)

    // ---- checks (untimed): dump each op's last result once ---------
    val check = mutable.LinkedHashMap.empty[String, Any]
    if (workload == "ingest_json") {
      check("ingested") = ingested.toMap
      check("out_dir") = outRoot
    } else {
      val dumpDir = s"$work/check"
      val errs = mutable.LinkedHashMap.empty[String, String]
      val dumped = opNames.flatMap { n =>
        lastDf.get(n).flatMap { df =>
          try {
            df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$n")
            val (rows, s) = Checksum(spark.read.parquet(s"$dumpDir/$n"))
            Some(n -> Map("rows" -> rows, "sum" -> s))
          } catch { case scala.util.control.NonFatal(e) =>
            errs(n) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            None
          }
        }
      }.toMap
      runs.filter(_.error.nonEmpty).foreach(r => errs.getOrElseUpdate(r.name, r.error))
      Files.createDirectories(Paths.get(dumpDir))
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => opNames.contains(k) }
      Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Json(oracle))
      Files.writeString(Paths.get(s"$dumpDir/verify_errors.json"), Json(errs.toMap))
      check("dumped") = dumped
      check("dump_dir") = dumpDir
    }

    // ---- metrics -----------------------------------------------------
    val measured = passes.filter(!_.traced).toSeq
    val timedRuns = runs.filter(r => measured.exists(_.index == r.pass)).toSeq
    val opWalls = timedRuns.map(_.wallS)
    val (tailV, tailPct) = Stats.tail(opWalls)
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(measured.map(_.wallS)),
      "op_p50_s" -> Stats.median(opWalls),
      "op_tail_s" -> tailV,
      "live_heap_mb" -> passes(minPasses - 1).liveHeapMb)
    val docsPerPass = batchDirs.map(d =>
      new java.io.File(d).listFiles().count(_.getName.endsWith(".json"))).sum
    val extra = Map(
      "op_tail_percentile" -> tailPct,
      "op_samples" -> opWalls.size.toDouble,
      "passes" -> measured.size.toDouble,
      "error_rate" -> timedRuns.count(_.error.nonEmpty).toDouble / math.max(1, timedRuns.size),
      "docs_per_s" -> docsPerPass / Stats.median(measured.map(_.wallS)),
      "dispatch_probe_s" -> dispatchProbeS,
      "live_frames_after_op" -> passes(minPasses - 1).liveFrames.toDouble)
    val layers =
      if (traced) Layers(tracer, rec, passes.toSeq, cpus, batchBytes, extra)
      else Map.empty[String, Double]
    if (traced) Files.writeString(Paths.get(s"$work/spans.json"), rec.spansJson(tracer, passes.toSeq))

    val stamp = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "seed" -> seed,
      "seconds" -> seconds)
    val out = Map(
      "workload" -> workload,
      "stamp" -> stamp,
      "end_to_end" -> e2e,
      "extra" -> extra,
      "layers" -> layers,
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "live_heap_mb" -> p.liveHeapMb, "peak_heap_mb" -> p.peakHeapMb,
        "gc_s" -> p.gcS,
        "cpu_probe_s" -> p.cpuProbeS, "live_frames" -> p.liveFrames)).toSeq,
      "ops" -> runs.map(r => Map("name" -> r.name, "pass" -> r.pass, "wall_s" -> r.wallS,
        "rows" -> r.rows, "sum" -> r.sum, "error" -> r.error)).toSeq,
      "check" -> check.toMap)
    Files.writeString(Paths.get(arg("out")), Json(out))
    spark.stop()
  }
}

/** Order-insensitive checksum over every column: row count plus the sum
  * of a 64-bit hash per row. It forces every output column to be
  * computed, which `count()` does not: Catalyst prunes the columns a
  * count never reads. */
object Checksum {
  private def hasMapOrVariant(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case a: ArrayType => hasMapOrVariant(a.elementType)
    case s: StructType => s.fields.exists(f => hasMapOrVariant(f.dataType))
    case _ => false
  }

  /** xxhash64 rejects maps and variants; their JSON text hashes instead. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: VariantType => c.cast(StringType)
    case _ if hasMapOrVariant(t) => to_json(c)
    case _ => c
  }

  def apply(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}

/** Heap still in use once listener queues are drained (their pending
  * events and status-store updates are heap too) and two full GCs have
  * run, the second after the context cleaner has had a moment to drop
  * blocks the first one found unreferenced. */
object Heap {
  def liveMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.perfbench.BusDrain(sc)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Host probes, outside every pass's time, so a reader can tell host
  * noise from a program change. The dispatch probe runs once per run,
  * before the first measured pass (25 jobs cost about a third of a
  * pass here); the CPU probe runs before every pass. */
object Probes {
  /** 25 trivial jobs: scheduler dispatch latency. */
  def dispatch(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < 25) { spark.range(1000).count(); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** A fixed single-thread integer loop: CPU speed and steal. */
  def cpu(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it, and
    * which percentile that is. Below 21 samples that percentile would
    * fall under the median, so the maximum (p100) is reported instead. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    if (xs.isEmpty) return (0.0, 0.0)
    val s = xs.sorted
    val n = s.size
    if (n >= 21) (s(n - 11), 100.0 * (n - 11) / (n - 1)) else (s.last, 100.0)
  }
}

/** JSON text of maps, sequences and scalars, through the Jackson that
  * ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
