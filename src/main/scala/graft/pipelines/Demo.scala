package graft.pipelines

/** CLI demo of the reference-pipeline surface: route a directory of
  * JSON form documents and print every output table with its row count —
  * what the reference's `__main__` loop does minus the SQL Server
  * (`P:769-816`). Usage: graft.pipelines.Demo <jsonDir> [outDir]
  * (with outDir, each table is also written as parquet via Sinks). */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.graft(4,
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toSeq: _*)
    val tables = Router.route(spark, dir)
    tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      println(f"$name%-28s rows=${df.count()}%-6d cols=${df.columns.length}")
    }
    args.lift(1).foreach { out =>
      val errs = graft.sources.Sinks.fanOut(tables,
        (n, df) => graft.sources.Sinks.parquetAppend(df, s"$out/$n"))
      errs.foreach { case (n, e) => System.err.println(s"[demo] $n failed: $e") }
    }
    spark.stop()
  }
}
