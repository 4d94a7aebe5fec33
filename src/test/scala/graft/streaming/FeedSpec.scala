package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkSuiteBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one micro-batch feed loop ([[Streams.feed]]) and the per-run
  * scratch owner ([[Streams.withScratch]]) that every MemoryStream
  * replay goes through. */
class FeedSpec extends SparkSuiteBase {
  import spark.implicits._

  test("feed: 7 rows in 3 chunks reach foreachBatch as batches 0, 1, 2 of 3, 3 and 1 rows") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val chunks = Streams.feedBatches(spark, 1L to 7L, 3, "x") { (batch, id) =>
      seen.add((id, batch.count())): Unit
    }
    assert(seen.asScala.toSeq == Seq((0L, 3L), (1L, 3L), (2L, 1L)))
    assert(chunks == Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(7L)))
  }

  test("feed: a failing batch surfaces its error and leaves no query or scratch behind") {
    var session: SparkSession = null
    var query: StreamingQuery = null
    var scratch: java.io.File = null
    val err = intercept[Exception] {
      Streams.withScratch("graft_feedspec_") { root =>
        scratch = root
        Streams.feed(spark, 1L to 7L, 3) { ds =>
          session = ds.sparkSession
          query = ds.toDF("x").writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
            if (id == 1L) throw new IllegalStateException("planted failure in batch 1")
            batch.write.parquet(new java.io.File(root, s"batch$id").getPath)
          }.start()
          query
        }
        spark.emptyDataFrame
      }
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(e => String.valueOf(e.getMessage).contains("planted failure in batch 1")),
      s"the batch's error did not surface: $err")
    assert(!query.isActive, "the failed query is still active")
    assert(session.streams.active.isEmpty && spark.streams.active.isEmpty,
      "a streaming query outlived the feed")
    assert(scratch != null && !scratch.exists(), s"scratch $scratch left behind")
  }

  test("st11, st19, st22, st23 and st28 leave no per-run scratch directory behind") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def scratch(): Set[String] = Option(tmp.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("graft-st28-out") || n.matches("graft_st.*_.*"))
      .toSet
    val before = scratch()
    val sf = "/root/testdata/sf0.001"
    Seq[(SparkSession, String) => DataFrame](Streams.st11ForeachBatchUpsert,
        Streams.st19SketchMonitor, Streams.st22HllMonitor,
        Streams.st23ReservoirMonitor, Streams.st28GramMaintenance)
      .foreach(q => assert(q(spark, sf).count() > 0))
    val leaked = scratch() -- before
    assert(leaked.isEmpty, s"per-run scratch left under java.io.tmpdir: $leaked")
  }
}
