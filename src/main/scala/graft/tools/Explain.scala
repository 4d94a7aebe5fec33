package graft.tools

import graft.SparkEntry

/** Dev CLI: print the formatted physical plan and wall time of one
  * registered query. Usage:
  *   tools/run.sh graft.tools.Explain <queryName> [sfDir]
  * The plan is the artifact to review per the builder prompt: check
  * PushedFilters / ReadSchema on scans, broadcast vs shuffle joins,
  * partial aggregation, and WholeStageCodegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.Explain <queryName> [sfDir]\n" +
        "queries:\n  " + SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.graft(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val df = SparkEntry.queries.getOrElse(name, {
      System.err.println(s"unknown query '$name'; available:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    })(spark, sfDir)
    df.explain("formatted")
    // execute THIS DataFrame's own plan (df.count() would build a
    // separate QueryExecution and leave this one un-finalized)
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    val n = qe.toRdd.count()
    println(f"[explain] $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // the static plan above is pre-AQE; runtime stage reuse (e.g.
    // ReusedExchange of a shared shuffle) only shows in the FINAL
    // adaptive plan, so print it too
    println("---- final adaptive plan ----")
    println(qe.executedPlan.toString)
    spark.stop()
  }
}
