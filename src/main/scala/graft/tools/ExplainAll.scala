package graft.tools

import org.apache.spark.sql.execution.ExplainMode
import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Dev CLI: dump `explain("formatted")` for MANY registered queries
  * into one file each, in a single session (graft.tools.Explain pays a
  * ~20 s JVM+session start per query; a plan survey over 30 queries
  * wants one). Usage:
  *   tools/run.sh graft.tools.ExplainAll <outDir> [sfDir] [q1,q2,...]
  * With no query list, dumps every registered query. Plans are the
  * STATIC (pre-AQE) formatted plans — the artifact the optimization
  * rounds commit under plans/<round>/ for judge review: Exchange
  * count/placement, join strategy + build side, PushedFilters /
  * ReadSchema on scans, WholeStageCodegen spans.
  *
  * Fixture-building queries (s25/s27/d25/...) build their /tmp layout
  * copies at DataFrame-construction time; the dump then shows the
  * standing-layout read plan, which is the plan the timed reps of the
  * bench measure (build cost amortizes into rep 1 there too). */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: graft.tools.ExplainAll <outDir> [sfDir] [q1,q2,...]")
      sys.exit(2)
    }
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val names = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.Session.graft(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val mode = ExplainMode.fromString("formatted")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explainall] unknown query $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            Files.writeString(outDir.resolve(s"$name.txt"),
              df.queryExecution.explainString(mode))
            System.err.println(s"[explainall] wrote $name")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[explainall] $name failed: " +
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          }
      }
    }
    spark.stop()
  }
}
