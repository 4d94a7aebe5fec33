package graft.sources

import graft.SparkSuiteBase
import org.apache.spark.sql.functions._

/** Real JDBC round-trip for the S5 sink (the reference's `to_sql`
  * append, `P:667-763`) against embedded Derby — the same
  * `df.write.format("jdbc")` path talks to SQL Server in a deployment.
  */
class JdbcSinkSpec extends SparkSuiteBase {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("jdbcAppend appends on repeat writes and round-trips values (S5)") {
    val df = Seq((1L, "XXXX12345678", 100.5), (2L, "XXXX99999999", 7.0))
      .toDF("id", "mask_id", "balance")
    Sinks.jdbcAppend(df, url, "bank_account", user = "", password = "")
    Sinks.jdbcAppend(df, url, "bank_account", user = "", password = "")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "bank_account").load()
    assert(back.count() == 4) // append, not overwrite — to_sql('append')
    // numeric predicate: Derby stores StringType as CLOB, which rejects
    // pushed-down string equality — a real dialect quirk worth pinning
    assert(back.filter($"id" === 1)
      .agg(round(sum($"balance"), 2)).head().getDouble(0) == 201.0)
    assert(back.filter($"id" === 1).select($"mask_id")
      .as[String].collect().toSet == Set("XXXX12345678"))
  }

  test("jdbcPartitioned reads in parallel range slices, content-complete") {
    val df = spark.range(0, 1000).select($"id", ($"id" % 7).as("v"))
    Sinks.jdbcAppend(df, url, "part_src", user = "", password = "")
    val back = JdbcSource.jdbcPartitioned(spark, url, "part_src",
      "id", lower = 0L, upper = 1000L, numPartitions = 4)
    // 4 range-predicated queries = 4 scan partitions, one per task
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 1000)
    // rows outside [lower, upper) still arrive: bounds steer split
    // points, never filter (the scaladoc's correctness claim)
    val narrow = JdbcSource.jdbcPartitioned(spark, url, "part_src",
      "id", lower = 400L, upper = 600L, numPartitions = 4)
    assert(narrow.count() == 1000)
    assert(back.agg(sum($"id")).head().getLong(0) == 499500L)
  }

  test("fanOut isolates a failing table like the reference's try/except (P17)") {
    val good = Seq((1L, "a")).toDF("id", "v")
    val tables = Map("ok_table" -> good, "ok_table2" -> good, "bad_table" -> good)
    val sc = spark.sparkContext
    // the sinks run on pool threads: every job they launch must still
    // carry the CALLER's job group (attributable, cancellable)
    sc.setJobGroup("fanout-spec", "fanOut isolation", interruptOnCancel = false)
    val (errs, groups) = try jobGroupsDuring {
      Sinks.fanOut(tables, (name, df) =>
        if (name == "bad_table") throw new RuntimeException("boom")
        else Sinks.jdbcAppend(df, url, name, "", ""))
    } finally sc.clearJobGroup()
    assert(errs.keySet == Set("bad_table"))
    assert(groups.nonEmpty && groups.forall(_ == "fanout-spec"),
      s"sink jobs lost the caller's job group: $groups")
    for (t <- Seq("ok_table", "ok_table2")) {
      val back = spark.read.format("jdbc")
        .option("url", url).option("dbtable", t).load()
      assert(back.count() == 1) // the good tables landed despite the bad one
    }
  }

  test("fanOut rethrows a fatal sink error instead of returning it") {
    val df = Seq((1L, "a")).toDF("id", "v")
    val tables = Map("t1" -> df, "t2" -> df, "t3" -> df)
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val e = intercept[LinkageError] {
      Sinks.fanOut(tables, (name, _) => {
        if (name == "t2") throw new LinkageError("fatal sink")
        if (name == "t3") throw new RuntimeException("tolerated")
        sunk.add(name); ()
      })
    }
    assert(e.getMessage == "fatal sink") // unwrapped, not an ExecutionException
    assert(sunk.contains("t1")) // the other sinks still ran to completion
  }

  test("fanOut keeps 2 x defaultParallelism appends in flight") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val width = 2 * spark.sparkContext.defaultParallelism
    val df = Seq((1L, "a")).toDF("id", "v")
    val tables = (1 to width).map(i => s"inflight_$i" -> df).toMap
    val allIn = new CountDownLatch(width)
    val landed = new ConcurrentLinkedQueue[String]
    // each sink finishes only once every sink has started: a narrower
    // pool leaves the latch short and its sinks time out
    val errs = Sinks.fanOut(tables, (name, _) => {
      allIn.countDown()
      if (!allIn.await(20, TimeUnit.SECONDS))
        throw new IllegalStateException(s"$name: fewer than $width appends in flight")
      landed.add(name); ()
    })
    assert(errs.isEmpty, s"sink failures: $errs")
    assert(landed.toArray.toSet == tables.keySet)
  }

  test("q38: the registered roundtrip reads through a 4-slice partitioned JDBC scan") {
    val df = graft.ops.Layout.q38JdbcRoundtrip(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("JDBCRelation(customer_rt) [numPartitions=4]"),
      s"partitioned JDBC source missing from plan:\n$plan")
    // and the roundtrip is content-exact vs the parquet original
    import org.apache.spark.sql.functions._
    val want = graft.Tables(spark, "/root/testdata/sf0.001", "customer")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"),
        min(col("c_custkey")).as("min_key"))
      .orderBy(col("c_mktsegment")).collect().toSeq
    assert(df.collect().toSeq == want)
  }

  test("writeCompacted bounds output file count by estimated size") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // ~80 KB of rows with a 4 KB target -> several files, but far fewer
    // than the session's shuffle-partition default would write
    val df = spark.range(10000).select($"id", concat(lit("pad-"), $"id").as("s"))
    Sinks.writeCompacted(df, dir, targetBytes = 64 << 10)
    val files = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(files >= 1 && files <= 16, s"unexpected file count $files")
    assert(spark.read.parquet(dir).count() == 10000)
    // sortBy variant: data intact, still bounded
    val dir2 = java.nio.file.Files.createTempDirectory("graft-compact2").toString
    Sinks.writeCompacted(df, dir2, targetBytes = 64 << 10, sortBy = Seq("id"))
    assert(spark.read.parquet(dir2).count() == 10000)
  }
}
