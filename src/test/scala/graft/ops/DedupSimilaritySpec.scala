package graft.ops

import graft.SparkSuiteBase
import graft.functions.{CosineSimilarity, GraftFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Kernel-level tests with REAL duplicates/near-duplicates (the harness
  * corpus is random so the e2e queries exercise but can't prove the
  * dedup paths — these do). */
class DedupSimilaritySpec extends SparkSuiteBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup
    (4L, "completely different text about spark query engines and shuffles and joins"),
    (5L, "another unrelated document discussing parquet column pruning and pushdown")
  ).toDF("doc_id", "text")

  test("s14: distributed greedy MMR equals a straight-line reference implementation") {
    val sf = "/root/testdata/sf0.001"
    val got = Similarity.s14MmrTopK(spark, sf)
      .select($"query_id", $"rank", $"vec_id")
      .as[(Long, Int, Long)].collect().toSeq
    // Reference: the textbook greedy loop over collected vectors, with
    // the kernel's exact arithmetic (sequential double accumulation,
    // sqrt(nx)*sqrt(ny) denominator) so selection ties break identically.
    val vecs = graft.Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1 }
      val d = math.sqrt(nx) * math.sqrt(ny)
      if (d == 0.0) 0.0 else dot / d
    }
    val expect = vecs.keys.filter(_ < 10).toSeq.sorted.flatMap { qid =>
      val cand = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(vecs(qid), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(20)
      var sel = Vector(cand.head._1)
      while (sel.size < 5) {
        val next = cand.filterNot(c => sel.contains(c._1))
          .map { case (id, c) =>
            val pen = sel.map(s => cos(vecs(id), vecs(s))).max
            (id, 0.7 * c - 0.3 * pen)
          }.minBy { case (id, sc) => (-sc, id) }._1
        sel = sel :+ next
      }
      sel.zipWithIndex.map { case (id, i) => (qid, i + 1, id) }
    }
    assert(got == expect)
  }

  test("s31: migrated-index search equals the from-scratch trained index, recall parity via the s10 harness") {
    val sf = "/root/testdata/sf0.001"
    val migrated = Similarity.s31MigratedSearch(spark, sf).collect().toSeq
    val scratch = Similarity.s08IvfTrained(spark, sf).collect().toSeq
    assert(migrated == scratch,
      "post-migration search must be byte-identical to the from-scratch trained index")
    // recall parity through the s10 evaluation harness: the migrated
    // index's recall@5 against exact search equals the from-scratch
    // index's, query by query
    val exact = Similarity.s01CosineTopK(spark, sf)
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      graft.Graft.annRecall(df, exact, k = 5)
        .orderBy(col("query_id")).collect().toSeq
    assert(recallOf(Similarity.s31MigratedSearch(spark, sf)) ==
      recallOf(Similarity.s08IvfTrained(spark, sf)),
      "migration changed recall — the index moved rows it should not have")
  }

  test("d17 kernel: weighted shingle cosine ranks the dup pair at 1.0, skips unrelated docs") {
    val pairs = TextDedup.sparseCosinePairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    // exact dup pair (1,2): identical shingle sets -> cosine exactly 1.0
    assert(pairs.headOption.map(p => (p._1, p._2, p._3)) == Some((1L, 2L, 1.0)))
    // near dup (differs in the last word) scores high but below 1.0
    val near = pairs.filter(p => p._2 == 3L).map(_._3)
    assert(near.nonEmpty && near.forall(c => c > 0.5 && c < 1.0))
    // docs 4 and 5 share no shingle with anything -> never paired
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val cand = TextDedup.minhashCandidatesRaw(docs, bands = 16, rowsPerBand = 4)
    val verified = TextDedup.jaccardVerify(docs, cand)
      .filter($"jaccard" >= 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((1L, 2L)))
    assert(verified.contains((1L, 3L)) || verified.contains((2L, 3L)))
    assert(!verified.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("dedup queries leave no cached blocks behind (no persist leaks)") {
    val sf = "/root/testdata/sf0.001"
    // the session is shared across suites and Router.route persists its
    // parsed sources by design — start from a clean cache so this test
    // only observes what the dedup queries themselves cache
    spark.sharedState.cacheManager.clearCache()
    TextDedup.d02MinhashLsh(spark, sf).count()
    TextDedup.d06NearDupPairs(spark, sf).count()
    graft.Graft.nearDupPairs(
      spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup query persisted a DataFrame and never unpersisted it")
  }

  test("LSH pipelines are join-free up to verify: no window, one join total") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // candidate generation: collect_list pairing — no join, no window
    val candPlan = TextDedup.minhashCandidatesRaw(docs, 8, 4)
      .queryExecution.executedPlan.toString
    assert(!candPlan.contains("Join"), s"candidates plan has a join:\n$candPlan")
    assert(!candPlan.contains("Window"), s"candidates plan has a window:\n$candPlan")
    // full d02: exactly the single verify join (edges x docs)
    val d02Plan = TextDedup.d02MinhashLsh(spark, sf)
      .queryExecution.executedPlan.toString
    assert(d02Plan.split("Join(?!Selection)").length - 1 >= 1)
    assert(!d02Plan.contains("Window"), s"d02 plan has a window:\n$d02Plan")
    assert(!d02Plan.contains("CartesianProduct"))
    // simhash pairing: also join-free
    val shPlan = TextDedup.simhashPairs(docs)
      .queryExecution.executedPlan.toString
    assert(!shPlan.contains("Join"), s"simhashPairs plan has a join:\n$shPlan")
    // d05 embedding LSH: the capped collect_list gather replaced the
    // sig-equality self-join — the plan must stay join-free so a
    // degenerate corpus can't go quadratic through an uncapped bucket
    val d05Plan = Similarity.d05EmbeddingDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!d05Plan.contains("Join"), s"d05 plan has a join:\n$d05Plan")
    // column pruning survives the whole LSH pipeline: BOTH documents
    // scans (signature side and verify side) read exactly doc_id+text —
    // a full-width scan here is the difference between reading 2 columns
    // and reading the whole corpus at 100 TB
    val d06Plan = TextDedup.d06NearDupPairs(spark, sf)
      .queryExecution.executedPlan.toString
    val pruned = "ReadSchema: struct<doc_id:bigint,text:string>"
    val scans = "ReadSchema: struct".r.findAllIn(d06Plan).size
    val prunedScans = java.util.regex.Pattern.quote(pruned).r.findAllIn(d06Plan).size
    assert(scans == 2 && prunedScans == 2,
      s"expected 2 documents scans, both pruned to doc_id+text " +
        s"(got $scans scans, $prunedScans pruned):\n$d06Plan")
  }

  test("nearDupPairs: no aggregate over the candidate pairs before the verify join") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = graft.Graft.nearDupPairs(docs, "text", "doc_id")
      .queryExecution.sparkPlan
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.size == 1, s"expected the one verify join:\n$plan")
    // jaccardVerify's per-pair groupBy collapses band-duplicated
    // candidates above the join; a distinct below it is a wasted shuffle
    val pairAggs = joins.head.collect {
      case a: BaseAggregateExec
          if Set("id_a", "id_b").subsetOf(a.output.map(_.name).toSet) => a
    }
    assert(pairAggs.isEmpty, s"candidate pairs aggregated before verify:\n$plan")
  }

  test("dedupNear keeps exactly the documents d08 does not drop") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupnear").toString
    Seq(1L -> base,
        2L -> s"$base tail",                   // near-dup of 1
        3L -> s"lead $base tail",              // near-dup of 2, chains to 1
        10L -> base.replace("w1 ", "x1 "),     // near-dup of 1
        20L -> (1 to 40).map(i => s"v$i").mkString(" "),
        21L -> (1 to 40).map(i => s"v$i").mkString(" ").replace("v40", "u40"),
        30L -> "unrelated short document")
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val dropped = TextDedup.d08NearDupDedup(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(dropped == Set(2L, 3L, 10L, 21L), s"planted clusters: dropped $dropped")
    val kept = graft.Graft.dedupNear(all, "text", "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == all.select($"doc_id").as[Long].collect().toSet -- dropped)
  }

  test("shingles: includes the last shingle and is empty/safe for short or empty docs") {
    val df = Seq(
      (1L, "a b c d e"),   // 5 tokens, k=3 -> exactly 3 shingles incl 'c d e'
      (2L, "a b c"),       // exactly k -> 1 shingle
      (3L, "a b"),         // < k -> none
      (4L, "")             // empty -> none (and must not crash)
    ).toDF("doc_id", "text")
    val sh = df.select($"doc_id", TextDedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).toSet == Set("a b c", "b c d", "c d e"))
    assert(sh(2L) == Seq("a b c"))
    assert(sh(3L).isEmpty)
    assert(sh(4L).isEmpty)
  }

  test("d04 charGrams: no spurious grams for sub-3-char texts") {
    val two = Seq((1L, "ab"), (2L, "ab")).toDF("doc_id", "text")
    two.createOrReplaceTempView("short_docs")
    val d04 = TextDedup.d04NgramJaccard _
    // run the kernel through a temp copy of the documents shape
    val docsDir = java.nio.file.Files.createTempDirectory("graft-short").toString
    two.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    val out = d04(spark, docsDir).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard_char3") == 0.0) // not a fake 1.0
  }

  test("containmentPairs flags the wrapped doc asymmetrically, skips partial overlap") {
    // 60-token base doc = 3 chunks; wrapper = base + 40 boilerplate
    // tokens (2 more chunks). Chunking is positional, so the wrapper
    // APPENDS (prefix-preserving) — all 3 base chunks appear in it.
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val wrapper = base + " " + (1 to 40).map(i => s"b$i").mkString(" ")
    // partial: shares only the FIRST chunk (20 tokens) then diverges
    val partial = (1 to 20).map(i => s"w$i").mkString(" ") + " " +
      (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, base), (2L, wrapper), (3L, partial))
      .toDF("doc_id", "text")
    val got = TextDedup.containmentPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // base (3 chunks) fully contained in wrapper; partial shares 1/3
    // with base (< 0.8) and 1/5 with wrapper — both below tau
    assert(got == Seq((1L, 2L, 3L, 1.0)), s"got $got")
  }

  test("componentMin labels every member of a cluster with its minimum id (both paths)") {
    // two components: {1,2,3,7} via a chain, {10,11}; 20-21-22 chain
    // checks multi-hop propagation (3 needs two hops to see 1)
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 7L), (10L, 11L),
      (21L, 22L), (20L, 21L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // default gate -> driver union-find fast path
    val local = TextDedup.componentMin(pairs)
      .as[(Long, Long)].collect().toMap
    assert(local == expected)
    // gate 0 -> the distributed pointer-jumping loop (the 100 TB path)
    // must produce the identical fixpoint
    val dist = TextDedup.componentMin(pairs, localEdgeGate = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == expected)
  }

  test("incrementalComponents merges a batch into a standing labeling exactly") {
    // standing: {1,2,3} and {10,11}, untouched {30,31}
    val standing = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L))
      .toDF("id_a", "id_b")
    val labels = TextDedup.componentMin(standing)
    // batch: bridge 3-10 (merges two standing comps — min must flow
    // from OLD root 1 across the bridge), plus a brand-new comp 20-21,
    // plus a new node 5 attaching to a standing comp
    val batch = Seq((3L, 10L), (20L, 21L), (11L, 5L)).toDF("id_a", "id_b")
    val got = TextDedup.incrementalComponents(labels, batch)
      .as[(Long, Long)].collect().toMap
    val full = TextDedup.componentMin(standing.unionAll(batch))
      .as[(Long, Long)].collect().toMap
    assert(got == full)
    assert(got(11L) == 1L && got(5L) == 1L && got(30L) == 30L &&
      got(20L) == 20L)
    // empty batch: labeling passes through unchanged
    val none = TextDedup.incrementalComponents(labels,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(none == labels.as[(Long, Long)].collect().toMap)
  }

  test("d18: distributed labeling of the corpus pair graph equals the driver union-find") {
    // d18 forces the distributed loop on the REAL near-dup pair graph;
    // the driver union-find over the same pairs is the cross-path
    // reference (the DuckDB recursive CTE is the e2e oracle)
    val sf = "/root/testdata/sf0.001"
    val got = TextDedup.d18ComponentsDistributed(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty) // the corpus plants near-dup clusters
    assert(got == got.sortBy(_._1))
    val docsT = graft.Tables(spark, sf, "documents")
    val pairs = TextDedup.jaccardVerify(docsT,
        TextDedup.minhashCandidatesRaw(docsT, bands = 8, rowsPerBand = 4))
      .filter($"jaccard" >= 0.8)
    val local = TextDedup.componentMin(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got.toMap == local)
  }

  test("componentMin local path: mixed-width ids widen, never truncate") {
    // id_a int, id_b long with a root beyond Int range: the union
    // coerces to long, and BOTH paths must return that coerced type
    // (an id_a-typed cast would silently truncate the wide vertex)
    val pairs = Seq((5, 6000000000L), (7, 8L)).toDF("id_a", "id_b")
    val local = TextDedup.componentMin(pairs)
    assert(local.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    val m = local.as[(Long, Long)].collect().toMap
    assert(m == Map(5L -> 5L, 6000000000L -> 5L, 7L -> 7L, 8L -> 7L), s"$m")
    val dist = TextDedup.componentMin(pairs, localEdgeGate = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == m)
  }

  test("componentMin local path survives map growth (one 80k-vertex chain)") {
    // > 2^16 vertices forces at least one open-addressing rehash mid
    // stream; the chain shape also exercises path compression hard
    val n = 80000L
    val chain = spark.range(1, n).select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    val roots = TextDedup.componentMin(chain)
      .select($"root").distinct().as[Long].collect().toSeq
    assert(roots == Seq(1L))
  }

  test("componentMin (distributed path) fails loudly on a chain exceeding the round bound") {
    // with path halving a round covers ~2x the distance of the last,
    // so only a LONG chain with a tiny bound still exceeds it;
    // localEdgeGate = 0 forces the distributed loop the bound guards
    val chain = (1L until 2000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      TextDedup.componentMin(chain, maxRounds = 3, localEdgeGate = 0L)
    }
    // and converges at the PRODUCTION default (16): path halving makes
    // rounds O(log diameter), so 2000 links need ~11 — the documented
    // guarantee, asserted at the bound the default actually ships
    val roots = TextDedup.componentMin(chain, localEdgeGate = 0L)
      .select($"root").distinct().as[Long].collect().toSeq
    assert(roots == Seq(1L)) // fully converged: one component, min id 1
  }

  test("jaccard of identical docs is 1.0") {
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = TextDedup.jaccardVerify(docs, cand).select($"jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical docs equal, near-dups within hamming 8, unrelated far") {
    val fp = docs.select($"doc_id", TextDedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 8)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 8)
  }

  test("simhashPairs surfaces the duplicate cluster via block LSH") {
    val pairs = TextDedup.simhashPairs(docs, maxHamming = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("cosine_sim native expression: known values, null/zero semantics") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),   // identical -> 1
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),   // orthogonal -> 0
      (Array(1f, 1f, 0f), Array(1f, 0f, 0f)),   // 45 deg -> ~0.7071
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f))    // zero norm -> 0 (not NaN)
    ).toDF("a", "b")
    val got = df.select(call_function("cosine_sim", $"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-9)
    assert(math.abs(got(1)) < 1e-9)
    assert(math.abs(got(2) - math.sqrt(0.5)) < 1e-6)
    assert(got(3) == 0.0)
  }

  test("cosine_sim codegen and interpreted paths agree") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(50)((Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = data.toDF("a", "b")
    GraftFunctions.register(spark)
    val viaPlan = df.select(call_function("cosine_sim", $"a", $"b"))
      .as[Double].collect()
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val interpreted: Seq[Double] = data.map { case (a, b) =>
      CosineSimilarity(
        Literal.create(a, ArrayType(FloatType)),
        Literal.create(b, ArrayType(FloatType))).eval(null).asInstanceOf[Double]
    }
    viaPlan.toSeq.zip(interpreted).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-12)
    }
  }

  test("IVF probe search achieves high recall vs brute force on harness data") {
    val sf = "/root/testdata/sf0.001"
    val exact = Similarity.s01CosineTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.s02IvfTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall $recall") // 2/16 buckets probed, random vectors
  }

  test("s15: PQ search achieves useful recall vs brute force on harness data") {
    val sf = "/root/testdata/sf0.001"
    val exact = Similarity.s01CosineTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.s15PqTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // 16 codes x 8 subspaces on random vectors: measured 0.58 at
    // sf0.001 — the bound is a tripwire, not the measurement
    assert(recall >= 0.3, s"PQ recall $recall")
  }

  test("s23: at-rest index holds only codes; serve equals in-query s15") {
    val sf = "/root/testdata/sf0.001"
    val served = Similarity.s23PqLayout(spark, sf).collect().toSeq
    val inQuery = Similarity.s15PqTopK(spark, sf).collect().toSeq
    assert(served == inQuery, "layout changed the answer")
    // the persisted artifact is codes, never floats — the 4-32x size
    // claim rests on the schema
    val idx = spark.read.parquet(Similarity.s23IndexPath(spark, sf))
    assert(idx.schema.fieldNames.toSeq ==
      "vec_id" +: (0 until 8).map(m => s"c$m"),
      idx.schema.treeString)
    assert(!idx.schema.fields.exists(_.dataType.typeName.contains("array")),
      "full vectors leaked into the at-rest index")
  }

  test("s15 plan: one corpus scan pair, broadcast query sides, no extra exchange") {
    val df = Similarity.s15PqTopK(spark, "/root/testdata/sf0.001")
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    // ADC pass and rerank both join the corpus against BROADCAST query
    // sides — the corpus itself must never be the built/broadcast side
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the candidate window shuffles only narrow triples; the encode
    // projection itself must not introduce a shuffle: exactly the
    // window exchanges plus AQE-planned joins are allowed, and none may
    // partition on the raw embedding column
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("embedding")),
      s"an exchange carries the raw vectors:\n${exchanges.mkString("\n")}")
  }

  test("s17: IVF-PQ recall floor holds; s18 reports one recall row per query") {
    val sf = "/root/testdata/sf0.001"
    val exact = Similarity.s01CosineTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.s17IvfPqTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // nProbe=2 of 8 cells ON TOP of 16x8 residual PQ on random
    // vectors: strictly harder than s15 — the bound is a tripwire
    assert(recall >= 0.2, s"IVF-PQ recall $recall")
    val s18 = Similarity.s18IvfPqRecall(spark, sf).collect()
    assert(s18.length == 10)
    assert(s18.forall(_.getAs[Long]("n_exact") == 5L))
  }

  test("ivfPqTopK: exact when residual codebook covers every cell residual") {
    // one coarse centroid + the corpus as codebook: residuals encode
    // exactly, reconstruction is exact, ADC == true inner product ->
    // must equal brute-force top-k (the pqTopK zero-error argument
    // pushed through the coarse stage)
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 16L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val coarse = df.filter($"vec_id" === 0)
      .select($"vec_id".as("centroid_id"), $"embedding".as("c"))
    val got = graft.Graft.ivfPqTopK(df, queries, coarse, df,
        nSub = 2, nProbe = 1, k = 4, rerankK = 16)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().toSet
    val exact = graft.Graft.cosineTopK(df, queries, k = 4)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(got == exact)
  }

  test("truncatedTopK: full-dim prefix degenerates to exact brute force") {
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 16L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val got = graft.Graft.truncatedTopK(df, queries, prefixDims = 8,
        k = 4, rerankK = 8)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().toSet
    val exact = graft.Graft.cosineTopK(df, queries, k = 4)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(got == exact)
    // and the registered 16-of-64 cascade achieves non-trivial recall
    // on the harness corpus (tripwire — random vectors carry ~1/4 of
    // the signal in the prefix)
    val sf = "/root/testdata/sf0.001"
    val ex = Similarity.s01CosineTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ap = Similarity.s20TruncatedTopK(spark, sf)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = ex.intersect(ap).size.toDouble / ex.size
    assert(recall >= 0.15, s"truncated recall $recall")
  }

  test("pqTopK: exact when the corpus IS the codebook (zero quantization error)") {
    // every corpus vector reconstructs exactly -> ADC == true inner
    // product -> candidate head contains the true top-k -> the exact
    // rerank must equal brute-force cosine top-k
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 16L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val pq = graft.Graft.pqTopK(df, queries, df, nSub = 2, k = 4, rerankK = 8)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().toSet
    val exact = graft.Graft.cosineTopK(df, queries, k = 4)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(pq == exact)
  }

  test("s03: centroids are exact elementwise means, partial-aggregated before the shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-s03").toString
    Seq(
      (0L, Array(1.0f, 2.0f), 0), (1L, Array(3.0f, 6.0f), 0),
      (2L, Array(10.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = Similarity.s03Centroids(spark, dir)
    val got = df.as[(Int, Long, Double, Long)].collect().toSeq
    assert(got == Seq((0, 0L, 2.0, 2L), (0, 1L, 4.0, 2L),
      (1, 0L, 10.0, 1L), (1, 1L, 0.0, 1L)), s"got $got")
    // the shuffle must carry per-(label,dim) partials, not vectors:
    // partial HashAggregate sits below the exchange
    val plan = df.queryExecution.executedPlan.toString
    val aggIdx = plan.indexOf("HashAggregate")
    assert(aggIdx >= 0 && plan.indexOf("HashAggregate", aggIdx + 1) >= 0,
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("d09: repeated 20-token chunks kept once corpus-wide, first occurrence wins") {
    import spark.implicits._
    val chunkA = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val chunkB = (1 to 20).map(i => s"beta$i").mkString(" ")
    val chunkC = (1 to 20).map(i => s"gamma$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-d09").toString
    Seq(1L -> s"$chunkA $chunkB", // both chunks first occurrences
        2L -> s"$chunkA $chunkC", // chunk 0 duplicates doc 1's chunk 0
        3L -> s"$chunkC $chunkC") // both chunks already seen (doc 2 idx 1)
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextDedup.d09ChunkDedup(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 2L, -1L)), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 0L)), s"got ${got(2L)}")
    assert(got(3L) == ((2L, 0L, 0L)), s"got ${got(3L)}")
  }

  test("d09 plan: the first-occurrence window shuffles on the 8-byte hash, not the chunk") {
    val plan = TextDedup.d09ChunkDedup(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__h#"),
      s"window exchange must key on the folded hash:\n$plan")
    assert(!plan.contains("hashpartitioning(__chunk"),
      s"chunk string must never be a shuffle key:\n$plan")
  }

  test("s04: radius search returns exactly the above-threshold set, symmetric with s01's kernel") {
    import spark.implicits._
    val got = Similarity.s04Radius(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "threshold 0.2 should catch some of the random corpus")
    assert(got.forall(_._3 >= 0.2), "no below-threshold row may appear")
  }

  test("d11: within-cluster semantic near-dups collapse to the min-id representative") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-d11").toString
    // two planted duplicate pairs in two label groups plus one
    // orthogonal singleton; cos(v1,v2) ~ 1 and cos(v4,v5) ~ 1, every
    // cross pair <= ~0.01
    Seq((1L, Array(1f, 0f, 0f, 0f), 0),
        (2L, Array(1f, 0.01f, 0f, 0f), 0),
        (3L, Array(0f, 1f, 0f, 0f), 0),
        (4L, Array(0f, 0f, 1f, 0f), 1),
        (5L, Array(0f, 0f, 1f, 0.01f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.d11SemanticDedup(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 1L), (5L, 4L)), s"got $got")
  }

  test("s05: separable labels classify to the diagonal; mean_cos reflects tightness") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-s05").toString
    // axis-aligned label groups: every member is parallel to its own
    // centroid (cos = 1) and orthogonal to the other's (cos = 0)
    Seq((1L, Array(1f, 0f, 0f, 0f), 0), (2L, Array(2f, 0f, 0f, 0f), 0),
        (3L, Array(0f, 0f, 3f, 0f), 1), (4L, Array(0f, 0f, 5f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.s05CentroidClassify(spark, dir)
      .as[(Int, Int, Long, Double)].collect().toSet
    assert(got == Set((0, 0, 2L, 1.0), (1, 1, 2L, 1.0)), s"got $got")
  }

  test("d12: a test-split doc leaks exactly its train-shared chunks, clean docs report zero") {
    import spark.implicits._
    // classify ids with the SAME md5 bucket rule as t08/d12 so the
    // planted docs land in the intended splits by construction
    def bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${d(0) & 0xff}%02x${d(1) & 0xff}%02x", 16)
    }
    val ids = (0L until 400L)
    val trainId = ids.find(bucket(_) < 52429).get
    val testIds = ids.filter(bucket(_) >= 58982).take(2)
    val chunkA = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val chunkB = (1 to 20).map(i => s"beta$i").mkString(" ")
    val chunkC = (1 to 20).map(i => s"gamma$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-d12").toString
    Seq(trainId -> s"$chunkA $chunkB",   // train corpus
        testIds(0) -> s"$chunkA $chunkC", // leaks chunkA only
        testIds(1) -> chunkC)             // clean (chunkC is not in train)
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextDedup.d12CrossSplitLeakage(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(testIds(0) -> ((2L, 1L)), testIds(1) -> ((1L, 0L))),
      s"got $got (train=$trainId test=$testIds)")
  }

  test("d13: histogram counts clusters per size at both granularities") {
    import spark.implicits._
    val c1 = (1 to 20).map(i => s"w$i").mkString(" ")
    val c2 = (1 to 20).map(i => s"v$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-d13").toString
    Seq(1L -> s"$c1 $c2", // doc-unique; chunks c1, c2
        2L -> s"$c1 $c2", // exact duplicate of doc 1 (c1, c2 again)
        3L -> c1)         // doc-unique; chunk c1 a third time
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextDedup.d13DupClusters(spark, dir)
      .as[(String, Long, Long)].collect().toSet
    // docs: {1,2} identical (size 2), {3} singleton
    // chunks: c1 occurs 3x (one cluster of 3), c2 occurs 2x (one of 2)
    assert(got == Set(("doc", 1L, 1L), ("doc", 2L, 1L),
      ("chunk", 2L, 1L), ("chunk", 3L, 1L)), s"got $got")
  }

  test("d12 plan: no shuffle ever carries the chunk string") {
    val plan = TextDedup.d12CrossSplitLeakage(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(chunk"),
      s"chunk string must fold to a hash before any exchange:\n$plan")
  }

  test("s05/s06 plan: centroids and query vector broadcast; t19 top-1000 is TakeOrdered") {
    val sf = "/root/testdata/sf0.001"
    val p5 = Similarity.s05CentroidClassify(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p5.contains("Broadcast"), s"s05 centroids must broadcast:\n$p5")
    val p6 = Similarity.s06HybridSearch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p6.contains("Broadcast"), s"s06 query vector must broadcast:\n$p6")
    val p9 = TextAnalysis.t19Zipf(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p9.contains("TakeOrderedAndProject"),
      s"t19's top-1000 must be TakeOrdered, not a global vocab sort:\n$p9")
  }

  test("s06: hybrid rerank stays within the lexical head, ordered by combined score") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = Similarity.s06HybridSearch(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.nonEmpty && got.length <= 20)
    val lexHead = TextAnalysis.t14Bm25(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(got.forall(r => lexHead(r._2)),
      "reranked docs must come from the BM25 top-50 — the vector kernel never widens recall")
    assert(got.map(_._1).toSeq == (1L to got.length).toSeq, "ranks must be dense from 1")
    val hybrids = got.map(_._5).toSeq
    assert(hybrids == hybrids.sorted.reverse, "hybrid scores must be non-increasing")
    got.foreach(r => assert(math.abs(r._5 - (r._3 + r._4)) < 1e-3,
      s"hybrid ${r._5} should be ~ bm25 ${r._3} + cos ${r._4}"))
  }

  test("exact dedup keeps lowest doc_id per normalized text") {
    val dd = Seq((10L, "Hello  World "), (11L, "hello world"), (12L, "other"))
      .toDF("doc_id", "text")
    dd.createOrReplaceTempView("dedup_in")
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
    val w = Window.partitionBy($"norm").orderBy($"doc_id")
    val kept = dd.withColumn("norm", norm)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L))
  }

  test("s24: packed bit_count(xor) equals the unpacked sign-mismatch count") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rows = Similarity.s24HammingTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, v) = (emb(r.getLong(0)), emb(r.getLong(2)))
      val unpacked = q.zip(v).count { case (a, b) => (a > 0) != (b > 0) }
      assert(r.getInt(3) == unpacked,
        s"hamming mismatch for ${r.getLong(0)}->${r.getLong(2)}")
    }
    // per query, rank order is monotone in hamming (ties on vec_id)
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(1)).map(_.getInt(3))
      assert(byRank.sorted.sameElements(byRank), "rank not monotone in hamming")
    }
  }

  test("s24 plan: the candidate scan carries 8-byte sigs, never the vectors") {
    val df = Similarity.s24HammingTopK(spark, "/root/testdata/sf0.001")
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the top-k window exchange must partition narrow (query_id,
    // vec_id, hamming) rows — an embedding column there would mean the
    // stage-1 scan is shipping floats, voiding the 32x claim
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("embedding")),
      s"an exchange carries the raw vectors:\n${exchanges.mkString("\n")}")
  }

  test("s25: append adds files without touching base; merged index answers like from-scratch") {
    val sf = "/root/testdata/sf0.001"
    // force a fresh incremental build, instrumenting the two phases:
    // snapshot the data-file set after the BASE write, then after the
    // APPEND — the incremental contract is (a) every base file
    // survives byte-dated (same path, same mtime, same length) and
    // (b) the appended rows arrive as NEW files only
    val path = Layout.tmpPath("lsh_inc", sf)
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified(), f.length())).sortBy(_._1)
    }
    // rebuild from nothing so the phase snapshots are ours
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
    val emb = graft.Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding",
        graft.ops.Similarity.s12SigForTest($"embedding").cast("int").as("sig"))
    graft.Graft.writePartitioned(emb.filter($"vec_id" % 10 =!= 7), "sig", path)
    val base = dataFiles()
    graft.Graft.partitionedAppend(emb.filter($"vec_id" % 10 === 7), "sig", path)
    val after = dataFiles()
    new java.io.File(path, Layout.ReadyMarker).createNewFile()
    assert(base.forall(after.contains),
      "append rewrote or removed base files:\n" +
        base.diff(after).mkString("\n"))
    assert(after.size > base.size, "append produced no new files")
    // (b) merged search == the one-shot s13 layout's answer, row for row
    val inc = Similarity.s25IncAppend(spark, sf).collect().toSeq
    val oneShot = Similarity.s13LshLayout(spark, sf).collect().toSeq
    assert(inc == oneShot,
      s"incremental index diverged: ${inc.diff(oneShot).take(3)}")
    // and no appended row was lost or doubled in the index itself
    val idx = spark.read.parquet(path)
    assert(idx.count() == emb.count())
    assert(idx.select($"vec_id").distinct().count() == emb.count())
  }

  test("s26: incremental IVF postings answer like one-shot s02; probe prunes cells at the scan") {
    val sf = "/root/testdata/sf0.001"
    val inc = Similarity.s26IvfAppend(spark, sf).collect().toSeq
    val oneShot = Similarity.s02IvfTopK(spark, sf).collect().toSeq
    assert(inc == oneShot,
      s"incremental IVF diverged: ${inc.diff(oneShot).take(3)}")
    // the probed cells must reach PartitionFilters (the s13 property
    // applied to IVF): non-probed posting lists are never even listed
    val path = Similarity.ivfIndex(spark, "ivf_inc", sf)
    val plan = spark.read.parquet(path)
      .filter($"cell".isin(1, 2, 3))
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("cell"),
      s"cell predicate did not reach PartitionFilters: $pf")
    // every embedding is in exactly one posting list (base + batch,
    // nothing lost or doubled)
    val idx = spark.read.parquet(path)
    val n = graft.Tables(spark, sf, "embeddings").count()
    assert(idx.count() == n)
    assert(idx.select($"vec_id").distinct().count() == n)
  }

  test("d24 kernel: maximal shared runs with exact offsets; cross-doc only; cap drops boilerplate") {
    // doc 1 and 2 share tokens 5..16 of doc 1 (12 tokens) starting at
    // token 0 of doc 2; doc 3 repeats a gram internally (no self-pair);
    // doc 4 shares nothing long enough.
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (1L, "one two three four five " + run + " tail1 tail2"),
      (2L, run + " other words here"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8"),
      (4L, "unrelated content that shares no gram with anything else at all")
    ).toDF("doc_id", "text")
    val got = TextDedup.substringRuns(d, "doc_id", "text",
        k = 4, minRunTokens = 10)
      .orderBy($"id_a", $"id_b", $"start_a")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // run = 12 tokens at offsets (5, 0); the maximal-run contract
    // means ONE row, not one per window position
    assert(got == Seq((1L, 2L, 5L, 0L, 12L)), s"got $got")
    // same-doc repeats never pair (doc 3 absent above); boilerplate
    // cap: a gram in more buckets than maxGramFreq emits no pairs
    val boiler = (1 to 6).map(i => (i.toLong, run)).toDF("doc_id", "text")
    val capped = TextDedup.substringRuns(boiler, "doc_id", "text",
      k = 4, minRunTokens = 10, maxGramFreq = 5)
    assert(capped.isEmpty, "gram over the frequency cap must emit no pairs")
    val uncapped = TextDedup.substringRuns(boiler, "doc_id", "text",
      k = 4, minRunTokens = 10, maxGramFreq = 6)
    assert(uncapped.count() == 15, "6 identical docs -> C(6,2) full-length runs")
  }

  test("d28 incremental: a re-crawled doc_id never self-pairs; bucket-count mismatch aborts loudly") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val lake = Seq(
      (1L, "one two three four five " + run + " tail1 tail2"),
      (4L, "unrelated content that shares no gram with anything else at all")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-d28idx").toString + "/idx"
    val grams = lake.select($"doc_id",
        posexplode(TextDedup.shingleHashes($"text", 4)).as(Seq("pos", "h")))
      .withColumn("gb", pmod($"h", lit(32)).cast("int"))
    graft.Graft.writePartitioned(grams, "gb", path)
    TextDedup.writeGramBuckets(spark, path, 32)
    // the batch RE-CRAWLS doc 1 (same id, same text) and adds doc 2
    // sharing the run — without the id_a =!= id_b guard the re-crawl
    // emits a full-length self-run (advisor r18)
    val batch = Seq(
      (1L, "one two three four five " + run + " tail1 tail2"),
      (2L, run + " other words here")
    ).toDF("doc_id", "text")
    val got = TextDedup.substringRunsIncremental(spark, path, batch,
        "doc_id", "text", k = 4, minRunTokens = 10)
      .orderBy($"id_a", $"id_b", $"start_a")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(!got.exists(r => r._1 == r._2),
      s"re-crawled doc self-paired: $got")
    assert(got.contains((1L, 2L, 5L, 0L, 12L)),
      s"cross run must survive the self-pair guard: $got")
    // probing with a different bucket count would silently drop cross
    // runs via the gb isin prune — the recorded sidecar must refuse
    val e = intercept[IllegalArgumentException] {
      TextDedup.substringRunsIncremental(spark, path, batch,
        "doc_id", "text", k = 4, minRunTokens = 10, buckets = 16)
    }
    assert(e.getMessage.contains("built with 32"),
      s"mismatch must name the recorded count: ${e.getMessage}")
  }
}
