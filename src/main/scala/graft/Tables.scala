package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness parquet tables (TESTDATA.md).
  *
  * Reads go straight to parquet so Catalyst's parquet scan gets column
  * pruning + predicate pushdown for free; at cluster scale the same code
  * works over an object store (s3a/abfs) path. No caching here — each
  * query plans its own scan so `.explain` shows the real pushdown.
  * Building a reader dispatches no Spark job: see [[read]].
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped under TWO parquet physical encodings across
      // harness testdata generations: TIMESTAMP(NANOS) (rounds ≤8), which
      // Spark's reader surfaces as a LONG of nanos-since-epoch under
      // spark.sql.legacy.parquet.nanosAsLong=true (and rejects outright
      // without it), and plain TIMESTAMP_MICROS with isAdjustedToUTC=0
      // (round 9+), which reads as TIMESTAMP_NTZ. Branch on the READ
      // schema — never on an assumed file encoding — and normalize both
      // to a plain session-zone TimestampType so every downstream
      // operator (windows, watermarks, date functions, the DuckDB
      // oracle) sees the identical column type regardless of which
      // generation of the data is on disk. Sessions here pin UTC, so the
      // NTZ→LTZ cast is wall-clock-identical to what the nanos path
      // produced and every round-8 oracle hash stays valid.
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType,
        TimestampType}
      val raw =
        try read(spark, s"$dir/$name.parquet")
        catch { case scala.util.control.NonFatal(e)
            if String.valueOf(e.getMessage).contains("TIMESTAMP(NANOS") =>
          // NANOS-encoded file read without the legacy flag: Spark's
          // raw PARQUET_TYPE_ILLEGAL names the type but not the fix
          throw new IllegalStateException(
            "events.parquet stores ts as parquet TIMESTAMP(NANOS); reading " +
              "it requires spark.sql.legacy.parquet.nanosAsLong=true on the " +
              "session builder — see graft.Tables scaladoc", e)
        }
      raw.schema("ts").dataType match {
        case LongType => // TIMESTAMP(NANOS) read via nanosAsLong
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: TimestampNTZType => // TIMESTAMP_MICROS, isAdjustedToUTC=0
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _: TimestampType => raw // already a plain timestamp
        case other =>
          // a FOURTH encoding (a string/date/int32 regeneration) must
          // fail HERE with one named error, not pass through and
          // surface as scattered per-query failures downstream (the
          // round-9 lesson: diagnose the reader once, at the reader)
          throw new IllegalStateException(
            s"events.ts read as unexpected type $other; known encodings " +
              "are LONG (TIMESTAMP(NANOS) via nanosAsLong), TIMESTAMP_NTZ " +
              "(TIMESTAMP_MICROS, isAdjustedToUTC=0), and TIMESTAMP — a " +
              "regenerated events.parquet needs an explicit branch here")
      }
    } else read(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. For a
    * single file, the footer is read on the driver and converted with
    * the session's own parquet settings (binaryAsString, int96,
    * nanosAsLong, timestamp-NTZ inference), the same conversion
    * Spark's inference job runs per footer, so the schema is the one
    * inference would give; the read then takes it as given. That saves
    * one Spark job per table per query build. A
    * directory keeps `spark.read.parquet`, which also merges partition
    * columns. A type the session cannot read (TIMESTAMP(NANOS) without
    * nanosAsLong) throws from the conversion, as inference would. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val p = new Path(path)
    val hconf = spark.sessionState.newHadoopConf()
    val status = p.getFileSystem(hconf).getFileStatus(p)
    if (status.isDirectory) spark.read.parquet(path)
    else {
      val meta = ParquetFileReader.readFooter(hconf, status,
        ParquetMetadataConverter.NO_FILTER)
      val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(p, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Register harness tables as temp views (for spark.sql queries).
    * Idempotent. Views are lazy plans, but building one still reads the
    * parquet footer on the driver — callers on a hot path should pass
    * only the tables their query touches instead of all ten. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def registerViews(spark: SparkSession, dir: String,
      tables: Seq[String] = names): Unit =
    tables.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Rebalance a scan whose file layout yields fewer input splits than
    * the session has cores. The harness writes each table as ONE parquet
    * file, so a 5k-doc corpus scans as a single partition and every
    * CPU-heavy per-row stage that follows (shingling, hashing,
    * winnowing) runs on one thread until the first shuffle. The
    * round-robin exchange costs one pass over the narrow projection; it
    * is an identity when the scan already has enough splits — which is
    * the normal case at cluster scale, where this never fires.
    *
    * MUST be applied directly to a scan (optionally under projections/
    * filters): there, `df.rdd.getNumPartitions` only plans. On a frame
    * containing exchanges, `.rdd` under AQE MATERIALIZES query stages —
    * runs real jobs — so this guards by walking the analyzed plan and
    * becomes a no-op (the exchange's own partitioning already spreads
    * the data in that case anyway). */
  def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def scanShaped(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => scanShaped(c)
      case Filter(_, c) => scanShaped(c)
      case leaf => leaf.children.isEmpty // a relation/range/local scan
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!scanShaped(df.queryExecution.analyzed)) df
    else if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
