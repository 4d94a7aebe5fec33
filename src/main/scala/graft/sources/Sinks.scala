package graft.sources

import org.apache.spark.sql.DataFrame

/** Sinks (SURVEY.md §2a S5): the reference appends every table to SQL
  * Server via SQLAlchemy `to_sql(..., schema='sample_main',
  * if_exists='append')` (`P:311-366`, `P:667-763`), swallowing per-table
  * failures (P17). */
object Sinks {

  /** JDBC append — the reference's `to_sql` equivalent. Partitioned
    * writes: each task opens its own connection, `batchsize` rows per
    * round trip (the reference writes row-at-a-time through pyodbc).
    * Unlike pandas `to_sql`, no synthetic index column is written
    * (reference bug noted in SURVEY §2a). */
  def jdbcAppend(df: DataFrame, url: String, table: String,
      user: String, password: String, batchSize: Int = 10000): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("batchsize", batchSize.toString)
      .mode("append")
      .save()

  /** Parquet append — the harness-native sink (Verify.scala dumps with
    * it); partitioned columnar output is the 100 TB default. */
  def parquetAppend(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Parquet write with SIZE-AWARE file compaction — the small-files
    * discipline a 100 TB pipeline needs at every materialization
    * point: a 1000-executor shuffle left alone writes
    * shuffle-partition-many files per partition (tiny files murder
    * the next scan's split planning and the object store's listing);
    * one giant file serializes the next reader. Target file count =
    * ceil(optimizer-estimated bytes / targetBytes), clamped.
    * The estimate is plan-time statistics (no job runs to size the
    * data); `sortBy` optionally sorts WITHIN partitions for locality
    * (run-length/delta encoding friendly) without a global sort.
    *
    * Stats guard: sources without statistics (JDBC, RDD-backed, some
    * DSv2) report `defaultSizeInBytes` = Long.MaxValue, and
    * join-multiplied estimates can exceed Long range entirely — both
    * would turn "compaction" into a 100k-tiny-file explosion (or a
    * negative wrap). Estimates that are absurd or missing fall back
    * to the session's default parallelism. BigInt arithmetic end to
    * end; `.toInt` only after the clamp. */
  def writeCompacted(df: DataFrame, path: String,
      targetBytes: Long = 128L << 20,
      sortBy: Seq[String] = Nil): Unit = {
    val est: BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = est <= 0 || est >= BigInt(Long.MaxValue) / 4
    val files =
      if (unknown) df.sparkSession.sparkContext.defaultParallelism
      else (((est + targetBytes - 1) / targetBytes).max(1).min(100000)).toInt
    val shaped0 = df.repartition(files)
    val shaped =
      if (sortBy.nonEmpty)
        shaped0.sortWithinPartitions(sortBy.map(org.apache.spark.sql.functions.col): _*)
      else shaped0
    shaped.write.mode("overwrite").parquet(path)
  }

  /** Fan a map of tables out to a sink, tolerating per-table failures
    * exactly like the reference's try/except-per-append (P17,
    * `P:667-763`) — one broken table must not kill the other 21. Returns
    * (table -> error) for the failures.
    *
    * The sinks run CONCURRENTLY ([[graft.internal.DriverPool]]): each
    * table is one small append job plus driver-side planning, so run
    * serially the executors idle between appends. `sink` is therefore
    * called from several threads at once, always for DISTINCT table
    * names, and must be thread-safe (the JDBC and parquet appends here
    * are: each writes its own table/path). Every call runs under the
    * caller's job group and session, and its jobs are described as
    * `graft append <table>`. NonFatal failures are isolated per table;
    * a fatal one (OOM, LinkageError) is rethrown, not returned as one
    * more tolerated failure.
    *
    * Width is min(tables, 2 × defaultParallelism) — derived, with no
    * config option. A small table's append is one short task wrapped
    * in driver-side planning and commit of about the same length, so
    * with only `defaultParallelism` appends in flight the slots idle
    * while each append plans and commits; twice as many keep a task
    * queued for every slot. The width follows the cluster, not the
    * size of the caller's map. */
  def fanOut(tables: Map[String, DataFrame], sink: (String, DataFrame) => Unit)
      : Map[String, Throwable] =
    if (tables.isEmpty) Map.empty
    else {
      val spark = tables.head._2.sparkSession
      val width = 2 * spark.sparkContext.defaultParallelism
      val named = tables.toSeq
      val outcomes = graft.internal.DriverPool.runAll(spark, width,
        named.map { case (name, df) => s"append $name" -> (() => sink(name, df)) })
      named.zip(outcomes).collect {
        case ((name, _), scala.util.Failure(e)) => name -> e
      }.toMap
    }
}
