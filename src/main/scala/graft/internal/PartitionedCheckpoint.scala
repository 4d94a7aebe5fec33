/** Lives in a subpackage of `org.apache.spark.sql` ON PURPOSE: the
  * two pieces this helper needs — `classic.Dataset.ofRows` and the
  * `LogicalRDD` constructor — are `private[sql]`, and a subpackage is
  * the standard OSS extension-point for them (the same access trick
  * spark-connectors use). Everything here is plain Apache Spark 4.1
  * API; nothing engine-specific beyond the helper itself.
  */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A `localCheckpoint` that KEEPS its hash partitioning visible to
  * the planner: the severing primitive every iterative graph loop in
  * `graft.Graft` builds on.
  *
  * Why it exists: in Spark 4.1 under AQE,
  * `df.repartition(n, keys).localCheckpoint()` comes back as a
  * `LogicalRDD` reporting `UnknownPartitioning(0)` (measured — see
  * PERF.md round 14): the checkpoint is taken from an
  * `AdaptiveSparkPlanExec` whose partitioning the capture path does
  * not see through. Every iterative operator that severs lineage
  * per round (k-core, BFS, SSSP, connected components) then pays a
  * full EDGE-SIZED exchange per round to re-partition data that is
  * already correctly placed — at 100 TB that re-shuffle IS the cost
  * of the loop. Compounded (un-severed) loop bodies dodge this via
  * AQE stage reuse, but severed loops are separate executions and
  * reuse nothing. With the partitioning declared, a round's join
  * against the checkpoint plans a bare scan: the loop shuffles the
  * edge list once, not once per round.
  *
  * What it does: repartition by `keys` into an EXPLICIT count of
  * partitions (explicit so AQE cannot coalesce and change the
  * layout), materialize + localCheckpoint the resulting RDD exactly
  * like `Dataset.localCheckpoint` (row copy, eager count), then
  * rebuild the frame as a `LogicalRDD` that DECLARES
  * `HashPartitioning(keys, n)` over its own output attributes.
  * The claim is sound because the rows really were placed by that
  * exact `HashPartitioning` — the declaration only restores what the
  * capture lost. `LogicalRDD` is a `MultiInstanceRelation` whose
  * `newInstance` rewrites the declared partitioning through the
  * re-aliased attributes, so a frame referenced several times in one
  * plan keeps the property on every reference.
  *
  * The partition count is the session's `spark.sql.shuffle.partitions`,
  * read here and nowhere else: every checkpoint a loop joins against
  * must agree on it for the joins to plan without an exchange, so the
  * choice lives in this one place.
  */
object PartitionedCheckpoint {
  def localCheckpointHashPartitioned(df: DataFrame, keys: String*): DataFrame =
    localCheckpointHashPartitionedCounted(df, keys: _*)._1

  /** [[localCheckpointHashPartitioned]] plus the ROW COUNT the eager
    * materialization computes anyway. The iterative loops' convergence
    * probes (k-core's per-round survivor count, BFS's and frontier
    * SSSP's exhausted-frontier test) read it instead of dispatching a
    * second job on the fresh checkpoint: one scheduler round-trip per
    * loop round, priced by the `__job_latency` canary at ~0.1–0.2 s
    * under load. `count == 0` is exactly `isEmpty`, and a projection
    * over the checkpoint has exactly its row count. */
  def localCheckpointHashPartitionedCounted(
      df: DataFrame, keys: String*): (DataFrame, Long) = {
    require(keys.nonEmpty, "need at least one partition key")
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val ds = df.repartition(nPart, keys.map(df.apply): _*)
      .asInstanceOf[Dataset[_]]
    val qe = ds.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count() // eager, like Dataset.localCheckpoint()
    val output = qe.analyzed.output
    val keyAttrs = keys.map { k =>
      output.find(a => ds.sparkSession.sessionState.conf.resolver(a.name, k))
        .getOrElse(throw new IllegalArgumentException(
          s"key $k not in ${output.map(_.name).mkString(",")}"))
    }
    val plan = LogicalRDD(
      output, rdd, HashPartitioning(keyAttrs, nPart))(
      ds.sparkSession.asInstanceOf[SparkSession])
    (Dataset.ofRows(ds.sparkSession.asInstanceOf[SparkSession], plan), n)
  }
}
