package graft

/** Global plan invariants over EVERY registered query: catches a class
  * of scale regressions (accidental cross joins, driver-side collects)
  * in one sweep instead of per-query assertions. Builds all physical
  * plans at sf0.001 — planning only, no execution (except the
  * component loops of d08/d11 and st03's streaming replay, which
  * materialize eagerly by design; for those the audited plan is the
  * final read — their internals are covered by their own specs). */
class PlanAuditSpec extends SparkSuiteBase {

  private val sf = "/root/testdata/sf0.001"

  test("no registered query plans a cartesian product or unbroadcast nested loop") {
    // Spark's only non-broadcast nested-loop fallback is
    // CartesianProductExec (printed "CartesianProduct"); there is no
    // "ShuffledNestedLoopJoin" operator. So this single string check
    // covers both "no cartesian" and "every nested-loop join broadcasts
    // its small side" — BroadcastNestedLoopJoin remains legitimate
    // (q06's tiny range dim). String match, not collect-by-class:
    // executedPlan is a LeafExecNode AdaptiveSparkPlanExec under AQE,
    // so collectWithSubqueries can't see inside it, but toString
    // prints the full initial plan.
    // Accumulate per-query outcomes instead of dying on the first
    // failure: one query that won't ANALYZE (round 9's events reader)
    // must not mask the cartesian audit of the other 100+ — the report
    // lists every offender so the whole regression surface is visible
    // in one test run.
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct"))
          Some(s"$name plans a cartesian product:\n${plan.take(4000)}") else None
      } catch { case scala.util.control.NonFatal(e) =>
        Some(s"$name failed to plan: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(2).mkString(" "))
      }
    }
    assert(bad.isEmpty, s"${bad.size} queries failed the plan audit:\n" +
      bad.mkString("\n"))
  }

  test("no registered query broadcast-HINTS an unreduced fact-scaled table") {
    // the r15 q111 lesson: broadcast(customer) is correct at sf0.1 and
    // a guaranteed OOM at 100× — customer/orders/lineitem/events/
    // documents/embeddings/part/supplier all grow with scale factor,
    // so a broadcast HINT on a subtree that scans one of them is only
    // legitimate when the subtree REDUCES it first (an Aggregate fold,
    // a Limit, or a k-bounded filter). nation (25 rows) and region (5)
    // are forever-small and exempt. Structural check: every
    // ResolvedHint-broadcast subtree that leaf-scans a fact table must
    // contain an Aggregate/Limit OR a `attr < literal` range gate (the
    // ANN query-frame idiom `vec_id < 10`: at most `literal` rows when
    // ids are dense, INDEPENDENT of corpus size — whereas proportional
    // predicates like equality on a category or pmod sampling grow
    // with scale and deliberately do NOT qualify), or carry an
    // `allowed` entry naming its boundedness argument.
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, Cast, Expression, LessThan, LessThanOrEqual,
      Literal}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    // the analyzed plan keeps literals wrapped in type-widening Casts
    // (`vec_id < cast(10 as bigint)`) — constant folding only happens
    // in the optimizer, where the hint node is already gone
    @scala.annotation.tailrec
    def isLiteral(e: Expression): Boolean = e match {
      case _: Literal => true
      case c: Cast => isLiteral(c.child)
      case _ => false
    }
    val factLeaf =
      ("/(customer|supplier|part|orders|lineitem|events|documents|" +
        "embeddings)\\.parquet").r
    // the path lives on the HadoopFsRelation's file index, NOT in the
    // leaf's toString ("Relation [cols] parquet") — matching toString
    // makes this audit silently vacuous (verified by negative control
    // against the old q111 shape)
    def scansFactTable(leaf: LogicalPlan): Boolean = leaf match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths
          .exists(p => factLeaf.findFirstIn(p.toString).isDefined)
        case _ => false
      }
      case _ => false
    }
    val allowed: Map[String, String] = Map(
      "q114_hybrid_join" -> ("the broadcast subtree is the hybridSkewJoin " +
        "HOT slice: dim filtered to the IN-list of at most topK(=8) " +
        "detected heavy keys — a key-count bound independent of scale " +
        "factor (the whole point of the hybrid: broadcast only the hot " +
        "keys' dim rows, never the dim)"))
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val hints = fn(spark, sf).queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h.child
        }
        hints.flatMap { sub =>
          val scansFact = sub.collectLeaves().exists(scansFactTable)
          val reduced = sub.collect {
            case _: Aggregate => (); case _: GlobalLimit => ()
            case _: Deduplicate => ()
            case f: Filter if f.condition.exists {
              case LessThan(_: AttributeReference, l) => isLiteral(l)
              case LessThanOrEqual(_: AttributeReference, l) => isLiteral(l)
              case _ => false
            } => ()
          }.nonEmpty
          if (scansFact && !reduced && !allowed.contains(name))
            Some(s"$name broadcast-hints an unreduced fact-table subtree")
          else None
        }.headOption
      } catch { case scala.util.control.NonFatal(e) =>
        Some(s"$name failed to analyze: ${e.getClass.getSimpleName}")
      }
    }
    assert(bad.isEmpty,
      s"${bad.size} queries force-broadcast scale-growing data (add to " +
        s"`allowed` ONLY with a boundedness argument):\n" + bad.mkString("\n"))
  }

  test("graph iteration loops never sort-merge the checkpointed edge list") {
    // pageRank / personalizedPageRank / shortestPaths checkpoint the
    // edge frame pre-partitioned and hint shuffle_hash on the
    // node-sized sides — an SMJ appearing in these plans means the
    // hints were lost and every iteration re-sorts edge-sized data
    // (r14: the q70 exchange-cut discipline, guarded here)
    for (q <- Seq("q70_pagerank", "q84_ppr", "q80_sssp",
        "q82_sssp_frontier", "q113_hits")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$q: iteration join degraded to sort-merge:\n${plan.take(4000)}")
    }
  }

  test("q73/q80 edge builders plan no aggregate: raw edges, no dedup") {
    // BFS hop sets and min-fold distances cannot change when an edge
    // repeats, so a distinct() or min(w) fold before the operator is a
    // lineitem-sized shuffle the answer never reads
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    for ((name, edges) <- Seq(
        "q73Edges" -> ops.Relational.q73Edges(spark, sf),
        "q80Edges" -> ops.Relational.q80Edges(spark, sf))) {
      val plan = edges.queryExecution.optimizedPlan
      val aggs = plan.collect { case a: Aggregate => a }
      assert(aggs.isEmpty, s"$name plans ${aggs.size} aggregate(s):\n$plan")
    }
  }

  test("no registered query window-functions over an UNPARTITIONED corpus-sized input") {
    // the recurring scale anti-pattern (sequenceGaps grew recursive
    // bucketing to kill it): a Window with an empty partition spec
    // funnels its whole input through ONE task. Bounded inputs are
    // fine — every allowed entry names the reason its global window
    // input is fixed-size (vocab heads, per-group digests, k-sized
    // candidate sets), so a NEW unpartitioned window over real data
    // fails this audit until justified here.
    val allowed: Map[String, String] = Map(
      "q48_interpolate" -> ("single-series resample: the window input is " +
        "the calendar spine (days between min and max), never data-sized"),
      "q79_seq_gaps" -> ("sequenceGaps residual roots: <= summaryFan rows " +
        "by construction (exactly 1 when ids fit idBits) — the recursive " +
        "bucketing already reduced every data-sized level")
    )
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val globals = fn(spark, sf).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        if (globals.nonEmpty && !allowed.contains(name))
          Some(s"$name plans ${globals.size} unpartitioned window(s)") else None
      } catch { case scala.util.control.NonFatal(_) => None } // planning
      // failures are the cartesian audit's job, not this one's
    }
    assert(bad.isEmpty, s"${bad.size} queries window over unpartitioned input " +
      s"(add to `allowed` ONLY with a boundedness argument):\n" +
      bad.mkString("\n"))
  }

  test("q22 binned range join is an equi join, never a nested loop") {
    val plan = ops.Relational.q22RangeJoinBinned(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Join"), s"no join in plan:\n$plan")
    assert(!plan.contains("NestedLoop"),
      s"binning failed to produce an equi join:\n$plan")
  }

  test("m04: metadata-only scan prunes the binary payload and pushes the filter") {
    // the 100 TB claim under test: filtering/aggregating on sidecar
    // metadata must never read the payload column chunks
    val path = ops.Multimodal.mediaParquet(spark, sf)
    val plan = ops.Multimodal.m04Scan(spark, path)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty, s"no parquet scan in plan:\n$plan")
    assert(!readSchema.contains("media"),
      s"payload column read by a metadata-only query: $readSchema")
    assert(readSchema.contains("n_bytes"), s"metadata column missing: $readSchema")
    val pushed = "PushedFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(n_bytes,64)"),
      s"metadata predicate did not reach the scan: $pushed\n$plan")
  }

  test("t21: the corpus bigram explode+shuffle materializes ONCE") {
    // the round-6 weak grade: bigramNll's LM build and score join both
    // consume the per-doc bigram aggregate; if the two subtrees drift
    // out of canonical equality (e.g. an inferred isnotnull pushed
    // into one branch only) the corpus explode silently runs twice.
    // Reuse only shows in the FINAL adaptive plan, so execute first.
    val df = ops.TextAnalysis.t21BigramNll(spark, sf)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"t21 bigram aggregate not reused — the explode runs twice:\n$plan")
    // and no baked-in broadcast of the corpus-growing bigram LM: any
    // broadcast in this plan must be AQE's runtime size call
    assert(!df.queryExecution.logical.toString.contains("ResolvedHint"),
      "t21 carries a join-strategy hint; the LM join must stay un-hinted")
  }

  test("q30: bucketed join stage plans zero exchange") {
    // the 100 TB claim under test: both sides bucketed on the join key,
    // so the merge join's entire input pipeline is scan → (local sort)
    // → merge with NO shuffle on either side. A per-bucket SortExec
    // remains and is fine: it is node-local (no network), and Spark
    // ≥3.0 deliberately re-sorts rather than honor the files' sortBy
    // order, because honoring it would pin scan granularity to one
    // task per bucket file (spark.sql.legacy.bucketedTableScan
    // .outputOrdering) — at 100 TB splittable scans + local sort is
    // the better trade, so the default IS the plan we want.
    val (lT, oT) = ops.Layout.bucketedTables(spark, sf)
    val plan = ops.Layout.q30JoinStage(spark, lT, oT)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a merge join:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scan does not read bucket metadata:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join stage still plans an exchange:\n$plan")
  }

  test("q31: event_type predicate prunes partitions at the scan") {
    val path = ops.Layout.eventsPartitioned(spark, sf)
    val plan = ops.Layout.q31Scan(spark, path)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("event_type") && pf.contains("purchase"),
      s"partition predicate did not reach PartitionFilters: $pf\n$plan")
    // and it is DIRECTORY pruning, not a per-row data filter: the
    // partition column never appears in the parquet read schema
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("event_type"),
      s"partition column read as data: $readSchema")
  }

  test("q32: predicate and projection reach the ORC scan") {
    // the second-format contract: pushdown + column pruning must hold
    // on ORC exactly as the parquet scans prove (m04/q01)
    val path = ops.Layout.lineitemOrc(spark, sf)
    val plan = ops.Layout.q32Scan(spark, path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("orc") || plan.contains("Orc"), s"no ORC scan:\n$plan")
    val pushed = "PushedFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,25.0)"),
      s"quantity predicate did not reach the ORC scan: $pushed\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("l_shipdate") &&
      readSchema.contains("l_extendedprice"),
      s"ORC read schema not pruned: $readSchema")
  }

  test("q55: argmin/argmax partial-aggregates before the exchange") {
    // the 100 TB claim: each partition folds to one (value, ordering)
    // pair per group BEFORE any shuffle — partial_max_by must appear
    // below the exchange, so the shuffle carries groups, not rows
    val plan = ops.Relational.q55ArgMinMax(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by") && plan.contains("partial_min_by"),
      s"argmax does not partial-aggregate:\n$plan")
  }

  test("q57: offset pagination stays a TakeOrderedAndProject") {
    // no global sort: top-(offset+limit) per partition, merged on the
    // driver, offset dropped there
    val plan = ops.Relational.q57Offset(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n$plan")
    assert(plan.contains("offset=20"), s"offset not in the take node:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"offset page plans a global sort:\n$plan")
  }

  test("q58: the HLL register build partial-aggregates before the exchange") {
    val plan = ops.Relational.q58HllRegisters(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max"),
      s"register fold does not partial-aggregate:\n$plan")
  }

  test("q61: AQE splits the hot-key partition at runtime (skew=true)") {
    // only the FINAL adaptive plan carries the marker, so execute
    // first; sf0.01 for enough shuffle bytes to clear the (already
    // harness-scaled) skew threshold
    val df = ops.Skew.q61Join(ops.Skew.q61Session(spark),
      "/root/testdata/sf0.01")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not split the skewed partition:\n$plan")
  }

  test("q60: the nullable NOT IN plans a NULL-AWARE anti join") {
    // BroadcastHashJoin's trailing boolean is isNullAwareAntiJoin —
    // the algorithm that makes 3VL NOT IN cheap instead of a re-scan
    val plan = ops.Relational.q60NotInNull(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"no null-aware anti join in plan:\n$plan")
  }

  test("m05: the whole retrieval plan never reads the binary payload") {
    // the 100 TB claim under test: metadata-gated ANN touches sidecar
    // columns + embeddings only — every scan's ReadSchema must exclude
    // the `media` payload, and the metadata predicate must push down
    val path = ops.Multimodal.mediaParquet(spark, sf)
    val plan = ops.Multimodal.m05Rank(spark, path, Tables(spark, sf, "embeddings"))
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(schemas.nonEmpty, s"no scans in plan:\n$plan")
    assert(!schemas.exists(_.contains("media")),
      s"payload column read by the retrieval plan: $schemas")
    val pushed = "PushedFilters: [^\\n]*".r.findAllIn(plan).toSeq
    assert(pushed.exists(_.contains("GreaterThanOrEqual(n_bytes,64)")),
      s"metadata gate did not reach the asset scan: $pushed")
  }

  test("q33: JSON scan reads an explicit pruned schema, no corrupt-record leak") {
    // the 100 TB claims under test: no schema-inference pass (the
    // scan plans against the explicit schema), column pruning holds
    // on the json source (untouched columns never parse), and the
    // default corrupt-record column does not leak into the plan
    val path = ops.Layout.ordersJson(spark, sf)
    val schema = Tables(spark, sf, "orders").schema
    val plan = ops.Layout.q33Scan(spark, path, schema)
      .queryExecution.executedPlan.toString
    assert(plan.contains("json") || plan.contains("Json"), s"no JSON scan:\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("o_custkey") &&
      readSchema.contains("o_totalprice"),
      s"JSON read schema not pruned: $readSchema")
    assert(!plan.contains("corrupt"),
      s"corrupt-record column leaked into the JSON plan:\n$plan")
  }

  test("q34: PERMISSIVE CSV quarantines the planted corrupt row") {
    val path = ops.Layout.customerCsv(spark, sf)
    val base = Tables(spark, sf, "customer").schema
    val schema = base.add(ops.Layout.CsvCorruptCol,
      org.apache.spark.sql.types.StringType)
    val rows = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", ops.Layout.CsvCorruptCol)
      .csv(path)
      .filter(org.apache.spark.sql.functions.col(ops.Layout.CsvCorruptCol).isNotNull)
      .select(ops.Layout.CsvCorruptCol, "c_custkey")
      .collect()
    assert(rows.length == 1, s"expected exactly the planted corrupt row, got ${rows.length}")
    assert(rows.head.getString(0) == ops.Layout.PlantedCorruptLine,
      s"corrupt column holds ${rows.head.getString(0)}, not the raw planted line")
    assert(rows.head.isNullAt(1), "malformed c_custkey should be null on the corrupt row")
  }

  test("d16: the index probe broadcasts the batch bands, never shuffles the index") {
    // the 100 TB claim under test: the lake-sized band index must
    // stream scan-only against a BROADCAST of the (small) batch's
    // band table — a sort-merge probe would shuffle bands x |lake|
    // rows per daily batch, which is the re-fingerprint cost the
    // incremental path exists to avoid
    val plan = ops.TextDedup.d16IncNearDup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"d16 probe join does not broadcast the batch side:\n$plan")
  }

  test("s13: probe signatures prune index partitions at the scan") {
    // the 100 TB claim under test: probing the at-rest LSH index must
    // LIST only the probed sig directories (q31's property applied to
    // ANN) — the sig predicate reaches PartitionFilters and the
    // partition column is never read as data
    val path = ops.Similarity.s13IndexPath(spark, sf)
    val plan = ops.Similarity.s13PrunedScan(spark, path, Seq(1, 2, 3))
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("sig"),
      s"probe predicate did not reach PartitionFilters: $pf\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("sig"),
      s"partition column read as data: $readSchema")
  }

  test("s13: the at-rest layout does not change s12's answer") {
    // the oracle contract s13 registers under: identical rows to s12,
    // column for column — the layout (and its pruned scan) is a pure
    // physical optimization
    val s12 = ops.Similarity.s12LshTopK(spark, sf).collect().toSeq
    val s13 = ops.Similarity.s13LshLayout(spark, sf).collect().toSeq
    assert(s13 == s12, s"s13 diverged from s12: ${s13.diff(s12).take(3)}")
  }

  test("guarded ops validate in ONE scan: zero jobs at build, one source scan in plan") {
    // r15: peakConcurrency / intervalCoverage / hdrBuckets fold their
    // input validation into the operator's own projection
    // (Graft.guarded) — r14 ran a SEPARATE require(filter.isEmpty)
    // job over the whole input first, doubling I/O at 100 TB. Two
    // assertions pin the fix: (a) constructing the operator launches
    // NO Spark job (the old validation pass was one); (b) the final
    // plan scans the parquet source exactly once.
    import org.apache.spark.sql.functions.col
    val src = Tables(spark, sf, "orders")
      .select(col("o_custkey").as("k"),
        col("o_orderkey").as("s"), (col("o_orderkey") + 5L).as("e"))
    val (built, jobs) = jobGroupsDuring(Seq(
      "peakConcurrency" -> Graft.peakConcurrency(src, "k", "s", "e"),
      "intervalCoverage" -> Graft.intervalCoverage(src, "k", "s", "e"),
      "hdrBuckets" -> Graft.hdrBuckets(src, "k", col("e") - col("s") + 1L)))
    assert(jobs.isEmpty,
      s"operator construction launched ${jobs.size} job(s) — " +
        "validation is scanning the input again")
    for ((name, df) <- built) {
      val plan = df.queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"$name plans $scans source scans:\n$plan")
    }
  }

  test("q96: star-EXCEPT narrows the scan (excluded columns never read)") {
    // the parser sugar must compose with column pruning: the EXCEPT
    // list plus the aggregate's own pruning leaves a 5-column read
    val plan = ops.Relational.q96SqlSugar(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in plan:\n$plan")
    for (c <- Seq("l_orderkey", "l_partkey", "l_discount"))
      assert(!readSchema.contains(c), s"excluded column $c read: $readSchema")
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("Bench records a broken query as an error, not a silent timing") {
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](
      "ok_query" -> ((s, _) => s.range(10).toDF("id")),
      "broken_query" -> ((s, _) => s.sql("SELECT * FROM no_such_table_xyz")))
    val (timings, errors, _) = Bench.run(spark, sf, queries)
    assert(timings.map(_._1) == Seq("broken_query", "ok_query"))
    assert(errors.keySet == Set("broken_query"))
    assert(errors("broken_query").contains("AnalysisException"))
  }

}
