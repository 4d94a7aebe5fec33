package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Storage-layout operators: the two techniques that remove the
  * dominant exchanges from a 100 TB pipeline BEFORE any query runs —
  * bucketed co-located joins and partition-pruned scans. Both are
  * write-side investments: pay one shuffle at ingest, then every
  * downstream join/scan skips it. The harness queries materialize the
  * layout under java.io.tmpdir through [[Layout.derived]], the one
  * owner of every build-once layout copy in the engine, and then
  * prove the read-side property on the physical plan (PlanAuditSpec):
  * q30's join runs with ZERO shuffle exchange, q31's scan lists only
  * the matching partition directories.
  *
  * Reference surface: the reference pipeline re-reads and re-joins its
  * full extract on every run (no layout reuse exists in pandas —
  * SURVEY §2b "file-format scans"/"equi join" categories); these
  * operators are the engine-completeness items a Spark user relies on
  * at scale.
  */
object Layout {

  /** Dir -> filesystem/catalog-safe suffix. 16 hex chars of MD5, not
    * `String.hashCode`: a 32-bit tag collides two different source
    * dirs at birthday-paradox rates and would silently serve one
    * dir's layout copy for the other (ADVICE round 7); 64 bits of a
    * cryptographic digest makes that astronomically unlikely.
    *
    * The digest covers the dir path PLUS every contained parquet
    * file's (name, mtime, length): a layout copy is derived DATA, so
    * an in-place regeneration of the source (the round-9 testdata
    * event) must miss every completion-marker/catalog guard and rebuild —
    * a path-only tag would serve the stale copy forever while the
    * oracle reads the new source. A `*.parquet` entry that is itself
    * a Spark dataset DIRECTORY folds its contained data files'
    * (name, mtime, length) instead of the directory's own stat:
    * rewriting a part file in place does not bump the parent dir's
    * mtime, and `File.length()` on a directory is
    * filesystem-dependent — either would serve a stale copy. */
  private[ops] def tag(dir: String): String = {
    val d = new java.io.File(dir)
    def sig(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        s"${f.getName}/" +: Option(f.listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).sortBy(_.getName)
          .map(c => s"${f.getName}/${c.getName}:${c.lastModified}:${c.length}").toSeq
      else Seq(s"${f.getName}:${f.lastModified}:${f.length}")
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq.flatMap(sig)
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir +: files).mkString("|")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Source-PATH key, stable across content regenerations — the
    * second component of every layout-copy dir name. Without it the
    * stale sweep could not tell "an old generation of THIS source"
    * (stale, removable) from "a copy of a DIFFERENT source dir"
    * (live: sf0.001 tests and sf0.1 bench legitimately hold same-kind
    * copies side by side, and a path-blind sweep would thrash them on
    * every alternation). */
  private[ops] def pathTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getCanonicalPath
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  private[graft] def tmpPath(kind: String, dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${kind}_${pathTag(dir)}_${tag(dir)}").getPath

  /** Best-effort recursive delete: a sweep must never break a build,
    * and a file another process still holds open just survives to the
    * next sweep. */
  private[graft] def rmQuiet(root: java.io.File): Unit =
    try {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(root)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Sweep stale generations of `dir`'s `kind` copy: same kind, same
    * source path, different content tag — exactly the dirs a source
    * regeneration strands. Other source dirs' copies never match the
    * (kind, pathTag) prefix and are left alone. Also removes
    * legacy-named copies (`graft_<kind>_<16-hex content tag>`, no
    * path component) from before this naming — nothing creates them
    * anymore, so any survivor is an orphan by definition. */
  private[graft] def sweepStaleFor(kind: String, dir: String): Unit = {
    sweepStale(s"${kind}_${pathTag(dir)}", tag(dir))
    val legacy = s"^graft_${java.util.regex.Pattern.quote(kind)}_[0-9a-f]{16}$$".r
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty)
      .filter(f => legacy.matches(f.getName))
      .foreach(rmQuiet)
  }

  /** Best-effort removal of layout-copy dirs named
    * `graft_<kindPrefix>_<tag>` whose tag differs from `keepTag`.
    * Called only on the build path (a rebuild fires exactly when the
    * tag changed), so the steady state pays zero extra I/O. */
  private[ops] def sweepStale(kind: String, keepTag: String): Unit = {
    val prefix = s"graft_${kind}_"
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.getName != s"$prefix$keepTag")
      .foreach(rmQuiet)
  }

  /** The completion marker [[derived]] writes into every copy it
    * owns. `_`-prefixed, so Spark's file listing never reads it. */
  private[graft] val ReadyMarker = "_GRAFT_READY"

  /** The one owner of build-once layout copies: the path of `dir`'s
    * `kind` copy ([[tmpPath]]), built on first use. A copy is ready
    * exactly when its [[ReadyMarker]] exists. Otherwise the owner
    * sweeps stale generations ([[sweepStaleFor]]), clears the path,
    * runs `build(path)` and writes the marker LAST: a build that dies
    * midway leaves no marker, and the next call starts again from an
    * empty directory. Sweeps run only on this build path, so a ready
    * copy costs one `exists` probe and no job. Through Hadoop's
    * `FileSystem` for the path's scheme, like the rest of the at-rest
    * layer ([[graft.internal.LayoutFs]]). */
  private[graft] def derived(s: SparkSession, kind: String, dir: String)(
      build: String => Unit): String = {
    val path = tmpPath(kind, dir)
    val (lfs, root) = graft.internal.LayoutFs.of(s, path)
    val marker = new org.apache.hadoop.fs.Path(root, ReadyMarker)
    if (!lfs.exists(marker)) {
      sweepStaleFor(kind, dir)
      lfs.rmTree(root)
      build(path)
      lfs.mkdirs(root)
      lfs.touch(marker)
    }
    path
  }

  /** Bucket count for the co-located join demo. At 100 TB this is the
    * real tuning knob (buckets ≈ cluster cores × small multiple, sized
    * so one bucket's build side fits in executor memory); 8 keeps the
    * harness write cheap while still proving the plan property. */
  private val NumBuckets = 8

  /** Materialize `lineitem` and `orders` as bucketed+sorted tables on
    * their join key via [[graft.Graft.writeBucketed]], once per
    * (session, source dir). Note the downstream join still plans a
    * per-bucket LOCAL sort: Spark ≥3.0 does not propagate the files'
    * sortBy order by default
    * (`spark.sql.legacy.bucketedTableScan.outputOrdering`) because
    * honoring it pins scan granularity to one task per bucket file —
    * splittable scans + node-local sort is the better trade at 100 TB.
    * What bucketing buys, and what PlanAuditSpec asserts, is the
    * absence of any EXCHANGE: the network-dominant cost at scale.
    *
    * Registered through the session catalog (shared across `newSession`
    * clones) because bucket metadata lives in the table definition, not
    * the parquet files; plain `spark.read.parquet` over the same files
    * would see an unbucketed scan and shuffle anyway. Idempotent per
    * JVM via `tableExists` — re-running the query re-plans the join but
    * pays the layout write only once, which is the production shape
    * (ingest writes, a thousand later joins read). */
  private[graft] def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val lT = s"graft_bkt_lineitem_${tag(dir)}"
    val oT = s"graft_bkt_orders_${tag(dir)}"
    // each table guards itself: a failure between the two writes must
    // not leave a catalog state where the survivor's guard skips the
    // missing table on retry. The guard checks BOTH the catalog entry
    // and the files' _SUCCESS marker (ADVICE round 7): the data lives
    // under java.io.tmpdir, so a tmp-cleaner can delete the files out
    // from under a still-registered table — catalog-only the skip
    // would hand the join a table whose scan fails. A half-written
    // path (no _SUCCESS) is rewritten the same way; saveAsTable with
    // mode=overwrite replaces any stale catalog entry.
    def ready(t: String, path: String): Boolean =
      s.catalog.tableExists(t) && new java.io.File(path, "_SUCCESS").exists()
    if (!ready(lT, tmpPath("bkt_lineitem", dir))) {
      sweepStaleFor("bkt_lineitem", dir)
      graft.Graft.writeBucketed(Tables(s, dir, "lineitem"), NumBuckets,
        "l_orderkey", tmpPath("bkt_lineitem", dir), lT)
    }
    if (!ready(oT, tmpPath("bkt_orders", dir))) {
      sweepStaleFor("bkt_orders", dir)
      graft.Graft.writeBucketed(Tables(s, dir, "orders"), NumBuckets,
        "o_orderkey", tmpPath("bkt_orders", dir), oT)
    }
    (lT, oT)
  }

  /** The exchange-free join stage PlanAuditSpec audits: big ⋈ big on
    * the bucket key with no shuffle on either side. The `merge` hint
    * pins the sort-merge strategy the 100 TB plan uses — at harness
    * scale AQE would broadcast the few-MB orders side instead, which
    * is exactly the strategy that stops existing at production scale
    * (unlike a forced broadcast, a forced merge join cannot OOM — it
    * is the conservative strategy, so baking it in is safe). */
  private[graft] def q30JoinStage(s: SparkSession, lT: String, oT: String): DataFrame = {
    import s.implicits._
    s.table(lT).hint("merge")
      .join(s.table(oT), $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority", $"l_extendedprice", $"l_discount")
  }

  /** q30 — bucketed co-located join: revenue by order priority over
    * lineitem ⋈ orders, where BOTH sides are bucketed by the join key
    * so the join itself shuffles nothing (the only exchange in the
    * whole query is the 5-group aggregate's). The bench number is
    * dominated by the one-time layout write (bucketedTables); the
    * read-side join is the cheap, exchange-free part — the asymmetry
    * that makes bucketing pay for itself after one reuse at scale. */
  def q30BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (lT, oT) = bucketedTables(s, dir)
    q30JoinStage(s, lT, oT)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** Materialize the events table partitioned by `event_type` (hive
    * directory layout), once per source dir ([[derived]] makes reruns
    * free; same-dir content is deterministic). The
    * `repartition(event_type)` keeps it to one file per partition
    * value instead of (write tasks × values). At 100 TB the partition
    * column is the one every consumer filters on (event type, date,
    * language, source domain — low cardinality, high selectivity). */
  private[graft] def eventsPartitioned(s: SparkSession, dir: String): String =
    derived(s, "evt_by_type", dir)(
      graft.Graft.writePartitioned(Tables(s, dir, "events"), "event_type", _))

  /** The pruned scan PlanAuditSpec audits: the `event_type` predicate
    * must appear under PartitionFilters (directory pruning at plan
    * time — non-matching partitions are never listed, let alone read),
    * NOT as a data filter evaluated per row group. */
  private[graft] def q31Scan(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    s.read.parquet(path)
      .filter($"event_type" === "purchase")
      .groupBy(pmod($"user_id", lit(20)).as("bucket"))
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .orderBy($"bucket")
  }

  /** q31 — partition-pruned scan: per-user-bucket purchase stats off
    * the type-partitioned events copy. The scan touches only the
    * `event_type=purchase` directory — at 100 TB that is the
    * difference between reading one partition's files and the corpus.
    * `value` sums are safe under round(…, 2): events.value is
    * 2-decimal-quantized (the PERF.md third regime). */
  def q31PartitionPruning(s: SparkSession, dir: String): DataFrame =
    q31Scan(s, eventsPartitioned(s, dir))

  /** Materialize lineitem as ORC, once per (JVM, source dir) — the
    * second columnar source format (built-in `orc` datasource; no
    * external jar). */
  private[graft] def lineitemOrc(s: SparkSession, dir: String): String =
    derived(s, "orc_lineitem", dir)(
      Tables(s, dir, "lineitem").write.mode("overwrite").orc(_))

  /** The ORC scan PlanAuditSpec audits: the quantity predicate must
    * reach the ORC reader's PushedFilters (ORC carries min/max stride
    * statistics exactly for this) and the read schema must exclude
    * every untouched column — the same pushdown+pruning contract the
    * parquet scans prove, now on the second format. */
  private[graft] def q32Scan(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    s.read.orc(path)
      .filter($"l_quantity" >= 25)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** q32 — ORC source roundtrip: lineitem written once as ORC, read
    * back through the built-in ORC datasource, and aggregated — the
    * oracle reads the original parquet, so a hash match proves the
    * format conversion is content-exact (the q30/q31 layout-copy
    * contract applied to a second file format). */
  def q32OrcRoundtrip(s: SparkSession, dir: String): DataFrame =
    q32Scan(s, lineitemOrc(s, dir))

  /** Materialize orders as JSON lines, once per (JVM, source dir) —
    * the reference's OWN source format: its S1 scan IS
    * `pd.read_json` (`P:20`, `P:374`, `P:158`), so a JSON read path
    * with an oracle row is part of the fidelity story, not an extra. */
  private[graft] def ordersJson(s: SparkSession, dir: String): String =
    derived(s, "json_orders", dir)(
      Tables(s, dir, "orders").write.mode("overwrite").json(_))

  /** The JSON scan PlanAuditSpec audits. The schema is passed
    * EXPLICITLY (lifted from the parquet original's footer): schema
    * inference over JSON is a full extra pass over the data — at
    * 100 TB that doubles the scan cost before the query starts — and
    * an explicit schema also pins the plan-asserted contract that no
    * corrupt-record column leaks into ReadSchema. Column pruning
    * still applies (the parser materializes only the fields the
    * query touches); the timestamp filter proves the text round-trip
    * of the temporal type, not just strings and numbers. */
  private[graft] def q33Scan(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import s.implicits._
    s.read.schema(schema).json(path)
      .filter($"o_orderdate" >= lit("1996-06-15").cast(schema("o_orderdate").dataType))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** q33 — JSON source roundtrip: orders written once as JSON lines,
    * read back through the built-in json datasource with an explicit
    * schema, filtered on the round-tripped timestamp, and
    * aggregated — the oracle reads the original parquet, so a hash
    * match proves the text format conversion is content-exact
    * (q32's contract applied to the reference's own source format). */
  def q33JsonRoundtrip(s: SparkSession, dir: String): DataFrame =
    q33Scan(s, ordersJson(s, dir), Tables(s, dir, "orders").schema)

  /** Materialize orders as a two-generation parquet dataset — an
    * EVOLVED schema: generation 1 (even order keys) lacks the
    * `o_orderstatus` column, generation 2 (odd keys) carries it —
    * under two sibling dirs of one root, once per (JVM, source dir).
    * This is the 100 TB lake reality: years of files written as the
    * schema grew, one logical table. */
  private[graft] def ordersEvolved(s: SparkSession, dir: String): String = {
    import s.implicits._
    derived(s, "sev_orders", dir) { root =>
      val o = Tables(s, dir, "orders")
      o.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .write.mode("overwrite").parquet(s"$root/v1")
      o.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
        .write.mode("overwrite").parquet(s"$root/v2")
    }
  }

  /** The schema-merging scan: `mergeSchema=true` unions the two
    * generations' footers at plan time (per-file schema
    * reconciliation is a FOOTER operation — no data is read to
    * merge), old-generation rows surface the added column as null,
    * and the query folds the null through `coalesce` — the
    * migration-free schema-evolution read a lake table needs.
    * (`mergeSchema` is off by default because footer-merging every
    * file of a large table costs a listing pass; production pins the
    * merged schema in a catalog instead — the explicit-schema q33
    * argument. The capability under test is the per-file
    * reconciliation itself, which any evolved read relies on.) */
  private[graft] def q35Scan(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    s.read.option("mergeSchema", "true")
      .parquet(s"$root/v1", s"$root/v2")
      .groupBy(coalesce($"o_orderstatus", lit("<pre-schema>")).as("status"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("sum_price"),
        min($"o_orderkey").as("min_key"))
      .orderBy($"status")
  }

  /** q35 — schema-evolution roundtrip: the two-generation orders
    * dataset reads back as one table, old rows carrying null for the
    * later-added column; the oracle recomputes the same aggregate
    * from the single-schema parquet original by reproducing the
    * generation split, so a hash match proves merged reads lose and
    * invent nothing. */
  def q35SchemaEvolution(s: SparkSession, dir: String): DataFrame =
    q35Scan(s, ordersEvolved(s, dir))

  /** Name of the CSV corrupt-record capture column (q34). */
  private[graft] val CsvCorruptCol = "_graft_corrupt"

  /** One malformed CSV line planted into the customer copy:
    * `c_custkey` and `c_acctbal` both fail their numeric casts, so
    * PERMISSIVE parsing must capture the raw line in
    * [[CsvCorruptCol]] instead of aborting the scan (FAILFAST) or
    * silently dropping the row (DROPMALFORMED). */
  private[graft] val PlantedCorruptLine =
    "not-a-key,PLANTED CORRUPT ROW,xx,bad-balance,HOUSEHOLD"

  /** Materialize customer as headerless CSV plus ONE planted corrupt
    * row, once per source dir. The corrupt row lives in its own
    * `zz_corrupt.csv` data file written after the Spark job; a crash
    * between the two steps leaves no [[derived]] marker, so the next
    * call rebuilds both. This is the reference's
    * per-record tolerance semantics (`P:27-30`: the bare
    * `try/except` around each file's pipeline) applied where an
    * engine should apply it — at the source, per row, with the bad
    * record QUARANTINED in a named column rather than logged and
    * lost. */
  private[graft] def customerCsv(s: SparkSession, dir: String): String =
    derived(s, "csv_customer", dir) { path =>
      Tables(s, dir, "customer").write.mode("overwrite").csv(path)
      java.nio.file.Files.write(new java.io.File(path, "zz_corrupt.csv").toPath,
        (PlantedCorruptLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** The PERMISSIVE CSV scan: explicit schema (CSV has none to
    * infer without an extra pass) extended with [[CsvCorruptCol]];
    * malformed rows surface there with every typed field null, and
    * the aggregate excludes them by the quarantine column being
    * non-null — never by accident of a failed cast. */
  private[graft] def q34Scan(s: SparkSession, path: String,
      base: org.apache.spark.sql.types.StructType): DataFrame = {
    import s.implicits._
    val schema = base.add(CsvCorruptCol, org.apache.spark.sql.types.StringType)
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CsvCorruptCol)
      .csv(path)
      .filter(col(CsvCorruptCol).isNull)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        round(sum($"c_acctbal"), 2).as("sum_bal"),
        min($"c_custkey").as("min_key"))
      .orderBy($"c_mktsegment")
  }

  /** q34 — CSV source with PERMISSIVE corrupt-record quarantine: the
    * customer table round-trips through headerless CSV with one
    * planted malformed row; the aggregate over the clean rows must
    * hash-match the oracle over the parquet original, proving both
    * the text round-trip AND that the corrupt row was quarantined
    * (captured, then excluded by the explicit filter) rather than
    * poisoning an aggregate or killing the scan. */
  def q34CsvPermissive(s: SparkSession, dir: String): DataFrame =
    q34Scan(s, customerCsv(s, dir), Tables(s, dir, "customer").schema)

  /** Materialize lineitem as a deliberately FRAGMENTED dataset — 64
    * shuffled small files, the post-ingest pathology q37 exists to
    * repair — once per source dir. The `repartition(64)` is a
    * round-robin-on-rows shuffle, so each file holds an arbitrary
    * slice with full-range l_shipdate min/max: no file can be skipped
    * by any date predicate. */
  private[graft] def lineitemFragmented(s: SparkSession, dir: String): String =
    derived(s, "frag_lineitem", dir)(
      Tables(s, dir, "lineitem").repartition(64).write.mode("overwrite").parquet(_))

  /** Compact the fragmented copy via [[graft.Graft.compactParquet]]
    * with `clusterBy = l_shipdate`: target size = a quarter of the
    * input bytes, so 64 files fold to ~4, each covering a narrow
    * contiguous date range (range partition + in-file sort) — the
    * min/max stats a date-filtered scan skips on. Both the fragmented
    * input and the compacted copy are [[derived]] copies. */
  private[graft] def lineitemCompacted(s: SparkSession, dir: String): String = {
    val frag = lineitemFragmented(s, dir)
    derived(s, "cpt_lineitem", dir) { path =>
      val bytes = Option(new java.io.File(frag).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.length).sum
      graft.Graft.compactParquet(s, frag, path,
        targetBytes = math.max(1L, bytes / 4), clusterBy = Seq("l_shipdate"))
    }
  }

  /** The post-compaction scan LayoutSpec audits: the date predicate
    * must reach PushedFilters (row-group min/max skipping — which the
    * compaction's clustering made SELECTIVE: each file covers a
    * narrow date range, so most row groups prune; on the fragmented
    * input the same pushdown skips nothing because every file spans
    * the full range). */
  private[graft] def q37Scan(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    s.read.parquet(path)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp"))
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"ship_month")
  }

  /** q37 — small-file compaction roundtrip: lineitem fragments into
    * 64 arbitrary-slice files, compacts to ~4 date-clustered files,
    * and the date-filtered aggregate over the COMPACTED copy must
    * hash-match the oracle over the parquet original — proving the
    * maintenance rewrite is content-exact while LayoutSpec separately
    * proves the file count collapsed and the clustering took. */
  def q37Compaction(s: SparkSession, dir: String): DataFrame =
    q37Scan(s, lineitemCompacted(s, dir))

  /** The q40 scan: min/max/count over the type-partitioned events
    * copy, grouped by the partition column, answered from parquet
    * FOOTER STATISTICS — the scan's PushedAggregation carries the
    * aggregates and no row group is decoded. Needs the DSv2 parquet
    * reader (aggregate pushdown never fires on the v1 path) plus the
    * pushdown flag, both session-scoped: set on a cloned session so
    * the caller's planner is untouched. At 100 TB this is the
    * difference between a catalog-latency answer and a full corpus
    * scan — the layout investment (partitioned copy) pays off a third
    * time (q31 pruning, st-family sources, now stats-only reads). */
  private[graft] def q40Session(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // empty v1 list = every built-in format plans through DSv2
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2
  }

  private[graft] def q40Scan(s2: SparkSession, path: String): DataFrame = {
    import s2.implicits._
    s2.read.parquet(path)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        min($"user_id").as("min_user"),
        max($"user_id").as("max_user"))
      .orderBy($"event_type")
  }

  /** q40 — metadata-only aggregation: COUNT/MIN/MAX per event type
    * off footer statistics of the partitioned copy. The oracle
    * recomputes from the raw rows, so a hash match proves the
    * footer-derived numbers equal the data — the property that makes
    * stats-only reads trustworthy. LayoutSpec plan-asserts
    * PushedAggregation. */
  def q40AggPushdown(s: SparkSession, dir: String): DataFrame =
    q40Scan(q40Session(s), eventsPartitioned(s, dir))

  /** Materialize the 2-row event-type dimension q41's DPP join prunes
    * through — written as REAL parquet (a local Seq folds to a
    * LocalRelation and DPP's selectivity check never sees a filter),
    * once per source dir. Planted content: the two
    * revenue-bearing event types. */
  private[graft] def q41DimPath(s: SparkSession, dir: String): String = {
    import s.implicits._
    derived(s, "dim_evtype", dir)(
      Seq(("purchase", "rev"), ("signup", "rev"), ("view", "traffic"),
        ("click", "traffic"), ("error", "ops"))
        .toDF("etype", "segment")
        .write.mode("overwrite").parquet(_))
  }

  /** q41 — DYNAMIC partition pruning through a dim join: the fact
    * side is the type-partitioned events copy, the dim side a
    * 5-row segment table filtered to segment = 'rev'; the partition
    * filter is only knowable at RUNTIME (it comes out of the dim
    * scan), and DPP turns the dim's broadcast into a pruning
    * subquery so the fact scan lists only the two matching
    * partition directories. q31 proves the literal-filter case;
    * this is the join-shaped case every star schema hits — at
    * 100 TB the difference between scanning two event types and
    * all of them, decided without a literal in sight. The oracle
    * inlines the dim semantics (the planted segment map);
    * PartitionPruningSpec plan-asserts `dynamicpruning` on THIS
    * query's plan. */
  def q41DppJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = s.read.parquet(eventsPartitioned(s, dir))
    val dim = s.read.parquet(q41DimPath(s, dir))
      .filter($"segment" === "rev")
    fact.join(dim, fact("event_type") === dim("etype"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of x lands at position 2i,
    * bit i of y at 2i+1 — points close in BOTH dimensions get close
    * z-keys, which is what makes a z-sorted layout skippable on
    * EITHER predicate column (a 1-D sort narrows one dimension's
    * per-file min/max and leaves the other full-range). Bits above
    * `bits` are ignored — clustering quality degrades gracefully on
    * overflow, correctness never depends on it (the layout is
    * advisory; the data is unchanged). Non-overlapping shifted bits
    * sum == bitwise-or, and the sum form folds in codegen. */
  private[graft] def morton(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Materialize lineitem Z-ORDERED on (ship date, supplier) — range
    * partition + in-file sort on the Morton key of (days since epoch
    * of the data's min year, suppkey), 4 files, once per source
    * dir. Most files then cover a NARROW RANGE IN BOTH dimensions
    * (LayoutSpec asserts the majority property per dim; quantile
    * boundary files legitimately span wider — the curve resets), so
    * row-group stats skip on date predicates AND supplier predicates
    * — the multi-dimensional upgrade over q37's single-column
    * clustering, and the layout every lakehouse engine's OPTIMIZE
    * ZORDER writes. The z column is dropped before the write: the
    * locality lives in the ROW ORDER; the files carry only real
    * columns. */
  private[graft] def lineitemZordered(s: SparkSession, dir: String): String = {
    import s.implicits._
    derived(s, "zord_lineitem", dir) { path =>
      val li = Tables(s, dir, "lineitem")
      // NORMALIZE both dimensions to 0..255 before interleaving (what
      // every z-order implementation does): raw bit-interleave hands
      // the top z bits to whichever column has the wider magnitude —
      // here ship-date days (~12 bits) vs supplier keys (4 bits at
      // small SF) — and the range split degenerates to a 1-D date
      // sort. The min/max frame is a 4-scalar aggregate: driver-held,
      // volume-independent (the collectCentroids pattern).
      val b = li.agg(
        min(datediff($"l_shipdate".cast("date"), lit("1992-01-01").cast("date"))),
        max(datediff($"l_shipdate".cast("date"), lit("1992-01-01").cast("date"))),
        min($"l_suppkey"), max($"l_suppkey")).head()
      val (dLo, dHi) = (b.getInt(0).toLong, b.getInt(1).toLong)
      val (sLo, sHi) = (b.getLong(2), b.getLong(3))
      def norm(c: Column, lo: Long, hi: Long): Column =
        ((c.cast("long") - lit(lo)) * lit(255L)) / lit(math.max(1L, hi - lo))
      li.withColumn("__z", morton(
          norm(datediff($"l_shipdate".cast("date"),
            lit("1992-01-01").cast("date")), dLo, dHi).cast("long"),
          norm($"l_suppkey", sLo, sHi).cast("long"), bits = 8))
        // quantile range split over z (what OPTIMIZE ZORDER does): a
        // boundary can land mid-quadrant, and THAT file spans one
        // dimension widely (the curve "resets" across the boundary) —
        // the z win is statistical, most files/row-groups narrow in
        // both dims, which LayoutSpec asserts as a majority property
        .repartitionByRange(4, $"__z")
        .sortWithinPartitions($"__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    }
  }

  /** The two-dimension-filtered scan LayoutSpec audits on the
    * z-ordered copy: BOTH predicates must reach PushedFilters, and
    * the z-layout makes both selective per file. */
  private[graft] def q46Scan(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    s.read.parquet(path)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_suppkey" < 50)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"l_suppkey")
  }

  /** q46 — Z-ORDER clustering roundtrip: the two-dimensionally
    * filtered aggregate over the z-sorted copy must hash-match the
    * oracle over the parquet original (the q37 contract on the
    * multi-dim layout), while LayoutSpec separately proves every file
    * narrowed its span in BOTH dimensions. */
  def q46ZorderRoundtrip(s: SparkSession, dir: String): DataFrame =
    q46Scan(s, lineitemZordered(s, dir))

  /** Materialize the BASE aggregate state for q45 — orders history
    * (o_orderkey % 11 != 0, the "already ingested" 10/11ths)
    * pre-aggregated per priority to count + UNROUNDED double sum,
    * once per source dir. This is the partial-aggregate state
    * an incremental pipeline persists between runs: group-count-sized
    * (5 rows here; |groups| at any scale), never the input. */
  private[graft] def q45BasePath(s: SparkSession, dir: String): String = {
    import s.implicits._
    derived(s, "agg_orders", dir)(
      Tables(s, dir, "orders").filter($"o_orderkey" % 11 =!= 0)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("sum_price"))
        .write.mode("overwrite").parquet(_))
  }

  /** q45 — INCREMENTAL AGGREGATE MAINTENANCE: refresh a materialized
    * per-priority orders aggregate by merging the persisted base
    * state with the delta batch's partial aggregate — count and sum
    * are decomposable, so merged = base ⊎ delta via one full-outer
    * join over |groups| rows, and the 10/11ths of history is NEVER
    * rescanned. At 100 TB this is the difference between a
    * delta-sized nightly refresh and a full recompute; the oracle
    * aggregates all orders in one pass, so the hash match proves the
    * merge loses nothing across the base/delta seam (sums stay
    * rounding-stable under re-association because o_totalprice is
    * 2-decimal-quantized — the PERF.md third regime). A group new in
    * the delta (or absent from it) survives via the full-outer
    * coalesce — the merge handles group birth and silence, not just
    * updates. */
  def q45IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = s.read.parquet(q45BasePath(s, dir))
    val delta = Tables(s, dir, "orders").filter($"o_orderkey" % 11 === 0)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders_d"), sum($"o_totalprice").as("sum_price_d"))
    base.join(delta, Seq("o_orderpriority"), "full_outer")
      .select($"o_orderpriority",
        (coalesce($"n_orders", lit(0L)) + coalesce($"n_orders_d", lit(0L)))
          .as("n_orders"),
        round(coalesce($"sum_price", lit(0.0))
          + coalesce($"sum_price_d", lit(0.0)), 2).as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  /** q43 — FEDERATED multi-format read: one logical lineitem from two
    * physical formats — even order keys served from the parquet
    * original, odd keys from the ORC copy — unioned into a single
    * filtered aggregate. This is the lake reality a migration leaves
    * behind (history in one format, new data in another, one logical
    * table), and the property under test is that EACH branch keeps
    * its own pushdown: the quantity predicate must reach BOTH the
    * parquet scan's and the ORC scan's PushedFilters (LayoutSpec
    * plan-asserts both), because a union that breaks per-branch
    * pushdown silently re-reads the full history at 100 TB. The
    * oracle reads the parquet original only — the union must lose and
    * invent nothing across the format seam. */
  def q43FederatedUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q43Plan(s, dir, lineitemOrc(s, dir))
  }

  private[graft] def q43Plan(s: SparkSession, dir: String,
      orcPath: String): DataFrame = {
    import s.implicits._
    val pq = Tables(s, dir, "lineitem").filter($"l_orderkey" % 2 === 0)
    val orc = s.read.orc(orcPath).filter($"l_orderkey" % 2 === 1)
    pq.unionByName(orc)
      .filter($"l_quantity" >= 30)
      .groupBy($"l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice"), 2).as("sum_price"),
        countDistinct($"l_orderkey").as("n_orders"))
      .orderBy($"l_linestatus")
  }

  /** q38 — JDBC sink + partitioned-source roundtrip under the oracle
    * gate: customer writes to an embedded Derby table through the S5
    * sink ([[graft.sources.Sinks.jdbcAppend]]'s write path, overwrite
    * mode for idempotence) and reads back through the PARTITIONED
    * JDBC source ([[graft.sources.JdbcSource.jdbcPartitioned]] — 4
    * range-predicated parallel queries on c_custkey, the shape that
    * saturates a cluster instead of one socket; the reference's
    * `pd.read_sql`/`to_sql` pair is the single-connection version,
    * `P:130-147`, `P:311-366`). The aggregate over the roundtripped
    * rows must hash-match the oracle over the parquet original —
    * proving the relational store neither loses rows nor perturbs a
    * DOUBLE (exact JDBC DOUBLE roundtrip), with the q32-q35 source
    * contract extended to the engine's fourth source family.
    *
    * The min/max bounds derivation is the documented JdbcSource
    * discipline (a 2-value aggregate, volume-independent — bounds
    * only steer stride placement, never correctness). In-memory
    * Derby is the sandbox stand-in for the warehouse; the Spark-side
    * plumbing (dialect mapping, partitioned extract) is identical
    * against any JDBC url. */
  def q38JdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val url = "jdbc:derby:memory:graft_q38;create=true"
    val cust = Tables(s, dir, "customer")
    cust.write.format("jdbc")
      .option("url", url).option("dbtable", "customer_rt")
      .mode("overwrite").save()
    val bounds = cust.agg(min($"c_custkey"), max($"c_custkey")).head()
    graft.sources.JdbcSource.jdbcPartitioned(s, url, "customer_rt",
        "c_custkey", bounds.getLong(0), bounds.getLong(1), numPartitions = 4)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        round(sum($"c_acctbal"), 2).as("sum_bal"),
        min($"c_custkey").as("min_key"))
      .orderBy($"c_mktsegment")
  }

  /** q49 — the custom DataSource V2 connector under the oracle gate
    * ([[graft.sources.RangeSource]] — deterministic generator rows,
    * filter pushdown narrowing the generated range at plan time,
    * column pruning skipping the per-row MD5): an id-bounded slice is
    * aggregated per bucket with the c03 XOR checksum over the tag
    * prefix, and DuckDB reproduces every row from
    * `generate_series` + `md5` — the source's determinism contract IS
    * the oracle. RangeSourceSpec plan-asserts the pushdown (pruned
    * split count and consumed filters); this query proves the VALUES
    * that survive it. */
  def q49Dsv2Range(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft.sources.RangeSource")
      .option("start", "1").option("end", "60000").option("splits", "8")
      .load()
      .filter($"id" >= 15000 && $"id" <= 45000)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(cast(conv(tag, 16, 10) as long))").as("tag_xor"),
        min($"id").as("min_id"), max($"id").as("max_id"))
      .orderBy($"bucket")
  }
}
