package graft

import org.apache.spark.sql.types.TimestampType

/** Smoke tests over the REAL harness testdata, not fixtures. The entire
  * round-9 regression (driver regenerated events.parquet with a new
  * physical timestamp encoding; the reader threw at analysis for 15
  * queries, 11 tests, and the bench) was invisible to every
  * fixture-based suite — this one fails the moment any harness table
  * stops reading, at the same path the driver's Verify/Bench use. */
class TablesSpec extends SparkSuiteBase {

  private val sf = "/root/testdata/sf0.01"
  private val allSfs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(n => s"${new java.io.File(sf).getParent}/$n")

  test("every harness table reads and is non-empty at sf0.01") {
    val counts = Tables.names.map { n =>
      val c = try Tables(spark, sf, n).count()
      catch { case scala.util.control.NonFatal(e) =>
        fail(s"table $n failed to read: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(2).mkString(" "))
      }
      n -> c
    }
    val empty = counts.filter(_._2 == 0L)
    assert(empty.isEmpty, s"empty harness tables: ${empty.map(_._1).mkString(", ")}")
  }

  test("events.ts normalizes to plain TimestampType at every SF") {
    // The contract every event-time operator (windows, watermarks, the
    // DuckDB oracle's timestamp compare) depends on: whatever physical
    // encoding the driver writes — nanos-as-long (rounds ≤8) or
    // TIMESTAMP_MICROS/NTZ (round 9+) — the Tables reader must surface
    // exactly TimestampType. A future testdata regeneration then flips
    // this one test, not 15 queries.
    for (dir <- allSfs) {
      val dt = Tables(spark, dir, "events").schema("ts").dataType
      assert(dt == TimestampType, s"$dir/events.parquet: ts read as $dt")
    }
  }

  test("post-Tables schema of every harness table matches the pinned contract") {
    // The round-9 lesson generalized: every operator and every oracle
    // assumes these exact column names and types, and the driver can
    // regenerate the testdata between rounds. Pin the full post-read
    // schema so ANY drift (a widened id, a re-encoded timestamp, an
    // embedding element type change) fails here by name instead of as
    // scattered AnalysisExceptions in whichever queries touch it first.
    val pinned = Map(
      "region" -> "r_regionkey INT, r_name STRING",
      "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
      "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING"),
      "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
      "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
        "p_size INT, p_retailprice DOUBLE"),
      "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
      "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
      "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING"),
      "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    val drift = Tables.names.flatMap { n =>
      val got = Tables(spark, sf, n).schema
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      pinned.get(n) match {
        case Some(p) if got == p => None
        case Some(p) => Some(s"$n:\n  pinned: $p\n  got:    $got")
        case None => Some(s"$n: new harness table — add its pin (got: $got)")
      }
    }
    assert(drift.isEmpty, "harness table schema drift:\n" + drift.mkString("\n"))
  }

  test("building a harness table reader dispatches no Spark job") {
    // spark.read.parquet infers a file's schema with a job of its own;
    // the reader takes the footer's schema on the driver instead, so a
    // query's build pays no job per table it reads
    val (_, jobs) = jobGroupsDuring(
      for (dir <- allSfs; n <- Tables.names) Tables(spark, dir, n))
    assert(jobs.isEmpty, s"${jobs.size} job(s) while building " +
      s"${allSfs.size * Tables.names.size} readers")
  }

  test("the footer schema equals the schema Spark's inference gives") {
    val diff = for {
      dir <- allSfs; n <- Tables.names
      p = s"$dir/$n.parquet"
      got = Tables.read(spark, p).schema
      want = spark.read.parquet(p).schema
      if got != want
    } yield s"$p:\n  footer:    ${got.treeString}\n  inference: ${want.treeString}"
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  test("events reader on real TIMESTAMP(NANOS): longs under nanosAsLong, a named error without") {
    // the rounds-<=8 physical encoding, written with parquet's own
    // writer (Spark cannot write nanos): the footer conversion must
    // honor the session's nanosAsLong exactly as inference does
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-events-nanos-raw").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); " +
        "required int64 user_id; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1704103200123456789L).append("user_id", 7L))
    finally w.close()
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val ts = df.selectExpr("cast(ts as string)").head().getString(0)
    assert(ts == "2024-01-01 10:00:00.123456", s"nanos shim produced $ts")
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalStateException](Tables(strict, dir, "events"))
    assert(e.getMessage.contains("nanosAsLong=true"), s"wrong error: ${e.getMessage}")
  }

  test("the driver's flagship entry() returns rows") {
    // the driver smoke-checks entry() rows > 0 before anything else —
    // mirror that gate locally so a broken flagship fails here first
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query has either oracle SQL or a scaladoc'd no-oracle reason") {
    // registry hygiene: a query key with no oracle entry is only
    // legitimate for the documented no-oracle set (d03/d07 gained an
    // inlined-XXH64 oracle in round 11; m01/m02 gained integer/digest
    // oracles in round 14) — anything else silently downgrades to a
    // rows-only check and weakens the correctness gate
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // r14: m01/m02 gained integer/digest oracles — only the built-in
    // HLL++ sketch remains inherently un-mirrorable (q58 covers the
    // sketch semantics under the gate)
    val allowed = Set("q17_approx_distinct")
    assert(noOracle == allowed,
      s"unexpected oracle-less queries: ${(noOracle -- allowed).toSeq.sorted
        .mkString(", ")}; missing expected: ${(allowed -- noOracle).toSeq.sorted
        .mkString(", ")}")
    // and no orphan oracle entries for unregistered queries
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.mkString(", ")}")
  }

  test("events reader still handles the legacy nanos-as-long encoding") {
    // Synthesize what rounds ≤8 shipped: ts as a raw int64 of
    // nanos-since-epoch (what TIMESTAMP(NANOS) reads as under
    // nanosAsLong=true). The reader must shim it to the same
    // TimestampType wall-clock as the native-timestamp path.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-events-nanos").toString
    Seq((1704103200123456789L, 7L, "click", 1.5))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val ts = df.select($"ts".cast("string")).as[String].head()
    assert(ts == "2024-01-01 10:00:00.123456", s"nanos shim produced $ts")
  }

  test("events reader fails by NAME on an unknown ts encoding") {
    // A fourth physical encoding (here: string) must produce one named
    // reader error, not pass through and surface as scattered per-query
    // failures downstream — the round-9 diagnosis cost, paid once.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-events-bad").toString
    Seq(("2024-01-01 10:00:00", 7L, "click", 1.5))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables(spark, dir, "events"))
    assert(e.getMessage.contains("unexpected type") &&
      e.getMessage.contains("StringType"), s"wrong error: ${e.getMessage}")
  }
}
