package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** Scratch measurement main (r21): counts Spark JOBS and STAGES per
  * registered query, split into the frame-CONSTRUCTION phase (where
  * eager checkpoints/persists run) and the final action — the
  * evidence channel for optimizations the final `explain` plan cannot
  * show because they live in the eager build (the q119 shared edge
  * checkpoint, the gate persists). Not part of the library surface.
  *
  * Usage: JobCount [sfDir] q1,q2,...
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.length >= 2) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = args.last.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Session.graft(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val shWb = new AtomicLong(0L)  // shuffle bytes written
    val shWr = new AtomicLong(0L)  // shuffle records written
    val inB = new AtomicLong(0L)   // input bytes read
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        { stages.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        shWb.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shWr.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        inB.addAndGet(m.inputMetrics.bytesRead)
        ()
      }
    })
    def settle(): Unit = {
      // listener bus is async (and private) — give it a beat to drain
      // before reading the counters; job/stage counts are coarse
      // evidence, a 200 ms settle is far past the bus's drain time
      Thread.sleep(200)
    }
    graft.Tables.names.foreach(n => graft.Tables(spark, sfDir, n).count())
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      settle()
      val j0 = jobs.get(); val s0 = stages.get()
      val w0 = shWb.get(); val r0 = shWr.get(); val i0 = inB.get()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      settle()
      val jBuild = jobs.get() - j0; val sBuild = stages.get() - s0
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = df.count()
      settle()
      val jAll = jobs.get() - j0; val sAll = stages.get() - s0
      val tAct = (System.nanoTime() - t1) / 1e9
      val wMB = (shWb.get() - w0) / 1e6
      val rK = (shWr.get() - r0) / 1e3
      val iMB = (inB.get() - i0) / 1e6
      println(f"[jobcount] $name%-24s build: $jBuild%3d jobs/$sBuild%3d stages ${tBuild}%6.2f s   action: ${jAll - jBuild}%3d jobs/${sAll - sBuild}%3d stages ${tAct}%6.2f s   total: $jAll%3d jobs/$sAll%3d stages   shuffleW=${wMB}%8.2f MB/${rK}%9.1f Krec  input=${iMB}%8.2f MB  rows=$n")
    }
    spark.stop()
  }
}
