package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's blob file-queue re-expressed on Spark (SURVEY.md §2a
  * S2/S3/S6): the reference lists a container (`P:779-788`), downloads
  * each blob (`P:790-793`), and after processing archives + deletes
  * (`P:808-816`) — an at-least-once file queue driven one file at a
  * time.
  *
  * Spark-native equivalents, both exactly-once per file:
  *
  *  - [[stream]]: Structured Streaming file source with
  *    `cleanSource=archive` — Spark tracks consumed files in the
  *    checkpoint and moves them to the archive dir after commit. This is
  *    the 100 TB path: new blobs land, micro-batches pick them up,
  *    no driver-side loop.
  *  - [[consumeBatch]]: one-shot batch variant for backfills — read
  *    everything present, then archive via filesystem rename (a metadata
  *    op on HDFS/ABFS; copy+delete only on S3).
  *
  * S3's local staging step is intentionally absent: Spark executors read
  * object stores directly.
  */
object FileQueue {

  /** Streaming read of a JSON document directory with post-commit
    * archival. Caller supplies the schema (streaming sources require
    * one — infer it once from a batch sample via [[inferSchema]]).
    * A malformed document is dropped per-doc at the source
    * (DROPMALFORMED — same contract as the batch Router) and still
    * archived, since the file WAS consumed; re-delivering a poison file
    * forever is the alternative nobody wants. */
  def stream(spark: SparkSession, inDir: String, archiveDir: String,
      schema: StructType, maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(schema)
      .option("multiLine", "true")
      .option("mode", "DROPMALFORMED")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .json(inDir)
      .withColumn("source_file", input_file_name())

  /** Schema bootstrap for [[stream]] — one batch pass over (a sample
    * of) the existing files, the Router's inference
    * ([[graft.pipelines.Router.infer]]). DROPMALFORMED keeps a corrupt
    * sample file from polluting the inferred schema with a
    * corrupt-record column that every downstream sink row would then
    * carry. */
  def inferSchema(spark: SparkSession, dir: String): StructType =
    graft.pipelines.Router.infer(spark, Seq(dir))

  /** Batch consume-then-archive for backfills: returns the parsed docs;
    * call the returned `commit()` AFTER all downstream sinks succeed to
    * move the consumed files (the reference's archive+purge, but only
    * after success — its archive step runs even if a table append
    * failed). */
  def consumeBatch(spark: SparkSession, inDir: String, archiveDir: String)
      : (DataFrame, () => Unit) = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.get(java.net.URI.create(inDir),
      spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(inDir)).filter(_.isFile)
      .map(_.getPath).filter(_.getName.endsWith(".json"))
    // drained queue (steady state): empty frame, no-op commit, no job —
    // with no file there is no schema to infer
    if (files.isEmpty) return (spark.emptyDataFrame, () => ())
    // corrupt docs dropped per-doc at the source: the Router's reader
    val df = graft.pipelines.Router.read(spark, files.map(_.toString).toIndexedSeq)
    val commit = () => {
      fs.mkdirs(new Path(archiveDir))
      // Hadoop rename signals failure by BOOLEAN (dest exists,
      // cross-filesystem move) — ignoring it would silently re-consume
      // the file next run. Fail loudly instead.
      val failed = files.filterNot(f => fs.rename(f, new Path(archiveDir, f.getName)))
      if (failed.nonEmpty) throw new java.io.IOException(
        s"archive rename failed (dest exists or cross-fs?): " +
          failed.map(_.getName).mkString(", "))
    }
    (df, commit)
  }
}
