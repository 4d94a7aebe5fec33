package graft

import graft.SparkSuiteBase
import org.apache.spark.sql.functions._

/** The facade operators over arbitrary frames (not the harness tables):
  * the "switch from the reference" API surface. */
class GraftFacadeSpec extends SparkSuiteBase {
  import spark.implicits._

  test("globalOrdinal: contiguous 0..n-1 total-order ranks across many partitions, window-free") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 1000).toDF("id")
      .select((col("id") % 7).as("k"), col("id"))
    val out = graft.Graft.globalOrdinal(df, Seq(col("k"), col("id")),
      parts = 8)
    val rows = out.orderBy(col("ordinal"))
      .select(col("ordinal"), col("k"), col("id"))
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == (0L until 1000L),
      "ordinals must be the contiguous 0..n-1 global ranks")
    val keys = rows.map(r => (r._2, r._3)).toSeq
    assert(keys == keys.sorted,
      "ordinal order must equal the (k, id) total order")
    // the point of the two-pass shape: no window operator anywhere —
    // an un-partitioned row_number would sort the corpus in ONE task
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "globalOrdinal must not plan a window")
  }

  test("globalPrefixSum: exact strictly-before weighted prefix over many partitions, no single-partition exchange") {
    val df = spark.range(0, 500).toDF("id")
      .select(col("id"), (col("id") % 13 + 1).as("w"))
    val out = graft.Graft.globalPrefixSum(df, Seq(col("id")), col("w"),
      parts = 8)
    val rows = out.orderBy(col("id"))
      .select(col("id"), col("w"), col("prefix"))
      .as[(Long, Long, Long)].collect()
    var acc = 0L
    rows.foreach { case (_, w, p) =>
      assert(p == acc, s"prefix must sum weights strictly before; got $p want $acc")
      acc += w
    }
    // the point of the kernel: the running sum is PARTITION-LOCAL —
    // a global `sum() OVER (ORDER BY id)` would plan SinglePartition
    assert(!out.queryExecution.executedPlan.toString
      .contains("SinglePartition"),
      "globalPrefixSum must not collapse to a single partition")
  }

  test("globalOrdinal: helper-column collision fails loudly instead of mis-ranking") {
    val df = spark.range(0, 10).toDF("id")
      .withColumn("ordinal", col("id") * 2)
    val e = intercept[IllegalArgumentException] {
      graft.Graft.globalOrdinal(df, Seq(col("id")), parts = 2)
    }
    assert(e.getMessage.contains("ordinal"),
      s"collision error must name the clashing column: ${e.getMessage}")
  }

  test("topKPerGroup keeps k rows per group with deterministic ties") {
    val df = Seq((1, "a", 10.0), (1, "b", 10.0), (1, "c", 5.0), (2, "d", 1.0))
      .toDF("g", "id", "score")
    val top = Graft.topKPerGroup(df, Seq($"g"), $"score", $"id", 2)
      .select($"id").as[String].collect().toSet
    assert(top == Set("a", "b", "d"))
  }

  test("asOfJoin attaches the latest preceding right value per key") {
    val trades = Seq((1L, 10L, "t1"), (1L, 25L, "t2"), (2L, 5L, "t3"))
      .toDF("k", "trade_ts", "trade")
    val quotes = Seq((1L, 8L, 1.0), (1L, 20L, 2.0), (2L, 9L, 9.9))
      .toDF("k", "quote_ts", "px")
    val out = Graft.asOfJoin(trades, quotes, "k", "trade_ts", "quote_ts", "px")
      .select($"trade", $"asof_px").as[(String, Option[Double])].collect().toMap
    assert(out("t1") == Some(1.0)) // quote@8 precedes trade@10
    assert(out("t2") == Some(2.0)) // quote@20 precedes trade@25
    assert(out("t3") == None)      // quote@9 is AFTER trade@5
  }

  test("dedupExact keeps lowest id per normalized text") {
    val df = Seq((5L, "Hello  World"), (3L, "hello world "), (9L, "bye"))
      .toDF("id", "text")
    val kept = Graft.dedupExact(df, "text", "id").select($"id").as[Long].collect().toSet
    assert(kept == Set(3L, 9L))
  }

  test("nearDupPairs finds the near-duplicate above threshold") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog by the river shore"),
      (3L, "spark catalyst optimizer rules rewrite logical plans into physical plans")
    ).toDF("id", "text")
    val pairs = Graft.nearDupPairs(df, "text", "id", minJaccard = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("nearDupIncremental equals the full run's cross pairs (split-invariant index)") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    val lake = docs.filter($"doc_id" % 5 < 4)
    val batch = docs.filter($"doc_id" % 5 === 4)
    val fullAll: Set[(Long, Long, Double)] =
      Graft.nearDupPairs(docs, "text", "doc_id", bands = 8, rowsPerBand = 4)
        .select($"id_a", $"id_b", round($"jaccard", 4))
        .as[(Long, Long, Double)].collect().toSet
    val full = fullAll.filter { case (a, b, _) => (a % 5 == 4) != (b % 5 == 4) }
    val inc = Graft.nearDupIncremental(batch,
        Graft.nearDupIndex(lake, "text", "doc_id"), lake, "text", "doc_id")
      .select($"id_a", $"id_b", round($"jaccard", 4))
      .as[(Long, Long, Double)].collect().toSet
    // the corpus genuinely has cross-boundary planted near-dups (9 at
    // sf0.001) — without this guard a broken probe that returns zero
    // rows would "equal" an accidentally empty reference
    assert(full.nonEmpty, "test corpus lost its cross-boundary near-dups")
    assert(inc == full,
      s"missing=${(full -- inc).take(5)} extra=${(inc -- full).take(5)}")
  }

  test("cosineTopK ranks by cosine with the native kernel") {
    val corpus = Seq(
      (10L, Array(1f, 0f)), (11L, Array(0.9f, 0.1f)), (12L, Array(0f, 1f)))
      .toDF("id", "vec")
    val queries = Seq((10L, Array(1f, 0f))).toDF("id", "vec")
    val top = Graft.cosineTopK(corpus, queries, 2)
      .select($"rank", $"vec_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(top.map(_._2).toSeq == Seq(11L, 12L))
  }

  test("tokenCounts adds both counters") {
    val out = Graft.tokenCounts(Seq((1, "abc de-f 42")).toDF("id", "t"), "t")
      .select($"n_ws_tokens", $"n_bpe_tokens").as[(Long, Long)].head()
    // ws: [abc, de-f, 42]; bpe: [abc, " de", "-", "f", " 42"]
    assert(out == ((3L, 5L)))
  }

  test("dedupNear removes every non-minimum member of a near-dup cluster") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog by the river shore"),
      (4L, "the quick brown fox jumps over the lazy dog by the river delta"),
      (3L, "spark catalyst optimizer rules rewrite logical plans into physical plans")
    ).toDF("id", "text")
    val kept = Graft.dedupNear(df, "text", "id", minJaccard = 0.5)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 and 4 collapse into 1's cluster
  }

  test("simhashPairs facade surfaces the duplicate pair") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "totally different words about query engines and shuffles here")
    ).toDF("id", "text")
    val pairs = Graft.simhashPairs(df, "text", "id", maxHamming = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("chunkTokens windows with overlap; empty and null docs chunk to nothing") {
    val df = Seq((1L, Option("a b c d e f g")), (2L, Option("x y")),
      (3L, Option("")), (4L, Option.empty[String])).toDF("id", "text")
    val got = Graft.chunkTokens(df, "id", "text", size = 4, stride = 3)
      .select($"id", $"chunk_idx", $"n_tokens")
      .as[(Long, Int, Int)].collect().toSeq.sorted
    // doc 1 (7 tokens, size 4 / stride 3): window ordinals 0, 1, 2
    // (token offsets 0, 3, 6) with 4, 4, 1 tokens; doc 2 (2 tokens):
    // one short window; docs 3/4 (empty/null): nothing
    assert(got == Seq((1L, 0, 4), (1L, 1, 4), (1L, 2, 1), (2L, 0, 2)),
      s"wrong chunking: $got")
    // chunk content fingerprints the exact token window: the overlap
    // makes windows 0 and 3 share a token but differ in md5
    val md5s = Graft.chunkTokens(df, "id", "text", 4, 3)
      .filter($"id" === 1L).select($"chunk_md5").as[String].collect()
    assert(md5s.distinct.length == 3)
  }

  test("contamination facade flags the overlapping doc against a separate benchmark frame") {
    val corpus = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (2L, "totally different words in this document about nothing at all")
    ).toDF("id", "body")
    val bench = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet")
    ).toDF("id", "body")
    val got = Graft.contamination(corpus, bench, "body", "id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L)) // 9 tokens -> 2 of the bench doc's 3 8-grams
  }

  test("qualityFilter facade appends reason/keep with custom thresholds") {
    val df = Seq((1L, "a b c d e"), (2L, "one two three four five six")).toDF("id", "body")
    val got = Graft.qualityFilter(df, "body", minTokens = 6)
      .select($"id", $"reason", $"keep").as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("too_short", false)))
    assert(got(2L) == (("keep", true)))
  }

  test("qualityFilter drops null text (ANSI null comparisons must not fall through to keep)") {
    val df = Seq((1L, null: String), (2L, "plenty of perfectly normal words right here today ok"))
      .toDF("id", "body")
    val got = Graft.qualityFilter(df, "body", minTokens = 3)
      .select($"id", $"reason", $"keep").as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("null_text", false)))
    assert(got(2L) == (("keep", true)))
  }

  test("fillForward carries the last non-null value, null before the first") {
    val df = Seq((1L, 1L, 0L, Some(5.0)), (1L, 2L, 0L, None),
        (1L, 3L, 0L, Some(7.0)), (1L, 4L, 0L, None), (2L, 1L, 0L, None))
      .toDF("key", "ts", "tie", "v")
    val got = Graft.fillForward(df, "key", "ts", "tie", "v")
      .select($"key", $"ts", $"filled_v")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 1L)) == Some(5.0) && got((1L, 2L)) == Some(5.0))
    assert(got((1L, 3L)) == Some(7.0) && got((1L, 4L)) == Some(7.0))
    assert(got((2L, 1L)).isEmpty)
  }

  test("classifyByCentroid predicts the nearest label centroid") {
    val train = Seq((1L, Array(1f, 0f), 0), (2L, Array(2f, 0f), 0),
        (3L, Array(0f, 1f), 1)).toDF("id", "vec", "label")
    val df = Seq((10L, Array(5f, 0.1f)), (11L, Array(0.1f, 9f)))
      .toDF("id", "vec")
    val got = Graft.classifyByCentroid(df, train, "id", "vec", "label")
      .select($"id", $"predicted").as[(Long, Int)].collect().toMap
    assert(got == Map(10L -> 0, 11L -> 1))
  }

  test("splitLeakage counts shared chunks per audit row, zero-leak rows kept") {
    val c1 = (1 to 20).map(i => s"a$i").mkString(" ")
    val c2 = (1 to 20).map(i => s"b$i").mkString(" ")
    val corpus = Seq((1L, c1)).toDF("id", "text")
    val audit = Seq((10L, s"$c1 $c2"), (11L, c2)).toDF("id", "text")
    val got = Graft.splitLeakage(audit, corpus, "id", "text")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(10L -> ((2L, 1L)), 11L -> ((1L, 0L))))
  }

  test("hybridRerank reorders the lexical head by combined score") {
    val lex = Seq((1L, 1.0), (2L, 1.1)).toDF("id", "score")
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("id", "vec")
    // query along vec 1: doc 1 gains cos 1.0 (total 2.0), doc 2 gains 0 (1.1)
    val got = Graft.hybridRerank(lex, vecs, "id", "score", "vec",
        Array(1f, 0f), k = 2)
      .select($"rank", $"id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)), s"got $got")
  }

  test("hybridRerank top-k is TakeOrdered — an oversized candidate set never global-sorts") {
    val lex = (0L until 5000L).map(i => (i, (i % 97).toDouble)).toDF("id", "score")
    val vecs = (0L until 5000L).map(i => (i, Array(1f, i.toFloat / 5000)))
      .toDF("id", "vec")
    val df = Graft.hybridRerank(lex, vecs, "id", "score", "vec",
      Array(1f, 0f), k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered, not a global sort:\n$plan")
    assert(df.count() == 3)
  }

  test("hybridRerank ranks a null-vector candidate last, matching selection order") {
    // doc 2 has the higher lexical score but a null vector -> null
    // cosine -> null hybrid; the TakeOrdered selection puts nulls
    // LAST, and the rank fold must agree — not hand rank 1 to the
    // dirty row via the struct sort's nulls-first field ordering
    val lex = Seq((1L, 1.0), (2L, 9.9)).toDF("id", "score")
    val vecs = Seq((1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "vec")
    val got = Graft.hybridRerank(lex, vecs, "id", "score", "vec",
        Array(1f, 0f), k = 2)
      .select($"rank", $"id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)), s"got $got")
  }

  test("hashSplit is deterministic, layout-independent, and respects fractions") {
    val df = (0L until 500L).toDF("id")
    val got = Graft.hashSplit(df, "id")
      .select($"id", $"split").as[(Long, String)].collect().toMap
    val again = Graft.hashSplit(df.repartition(7), "id")
      .select($"id", $"split").as[(Long, String)].collect().toMap
    assert(got == again, "assignment must not depend on layout")
    val frac = got.values.groupBy(identity).view.mapValues(_.size / 500.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.06, s"train frac ${frac("train")}")
    assert(frac.keySet == Set("train", "val", "test"))
  }

  test("stratifiedSample keeps exactly quota per stratum (or all, if fewer)") {
    val df = ((0L until 50L).map(i => (i, "big")) ++ Seq((100L, "small")))
      .toDF("id", "lang")
    val got = Graft.stratifiedSample(df, "lang", "id", quota = 10)
      .select($"lang").as[String].collect()
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map("big" -> 10, "small" -> 1), s"got $got")
  }

  test("radiusSearch returns exactly the above-threshold neighbors") {
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
        (3L, Array(0f, 1f))).toDF("id", "vec")
    val queries = Seq((1L, Array(1f, 0f))).toDF("id", "vec")
    val got = Graft.radiusSearch(corpus, queries, tau = 0.5)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(2L), s"only the near-parallel non-self vector qualifies: $got")
  }

  test("ivfSearch finds the exact neighbor when its bucket is probed") {
    // two well-separated centroids; all vectors near centroid 0 except
    // one near centroid 1 — probing 1 bucket must stay within it
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0.95f, 0.05f)),
        (3L, Array(0f, 1f))).toDF("id", "vec")
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("centroid_id", "c")
    val queries = Seq((1L, Array(1f, 0f))).toDF("id", "vec")
    val got = Graft.ivfSearch(corpus, queries, cents, nProbe = 1, k = 5)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(2L), s"probe of bucket 0 sees only in-bucket non-self: $got")
  }

  test("semanticDedup collapses within-cluster near-dups to the min id") {
    val df = Seq(
        (1L, Array(1f, 0f, 0f, 0f), 0), (2L, Array(1f, 0.01f, 0f, 0f), 0),
        (3L, Array(0f, 1f, 0f, 0f), 0), (4L, Array(0f, 0f, 1f, 0f), 1),
        (5L, Array(0f, 0f, 1f, 0.01f), 1))
      .toDF("id", "vec", "lbl")
    val got = Graft.semanticDedup(df, "id", "vec", "lbl", tau = 0.9)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 1L), (5L, 4L)), s"got $got")
  }

  // two well-separated 2-D clusters; ids 1 and 2 are the deterministic
  // k=2 init, one per cluster, so Lloyd converges in one step
  private val kmeansCorpus = Seq(
    (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
    (3L, Array(0.9f, 0.1f)), (4L, Array(0.95f, 0.02f)),
    (5L, Array(0.1f, 0.9f)), (6L, Array(0.05f, 1f)))

  test("kmeansFitLong trains balanced centroids with cluster sizes (the bucket bound)") {
    val df = kmeansCorpus.toDF("id", "vec")
    val rows = Graft.kmeansFitLong(df, "id", "vec", k = 2, iters = 2)
      .select($"centroid_id", $"dim", $"c", $"n")
      .as[(Long, Long, Double, Long)].collect()
    val sizes = rows.map(r => r._1 -> r._4).distinct.toMap
    // each bucket holds exactly half the corpus — the n column IS the
    // per-bucket bound semanticDedupWithCentroids/ivfSearch rely on
    assert(sizes == Map(1L -> 3L, 2L -> 3L), s"got $sizes")
    val c1 = rows.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    // mean of (1,0),(.9,.1),(.95,.02) rounded to 4
    assert(c1.toSeq == Seq(0.95, 0.04), s"got ${c1.toSeq}")
  }

  test("kmeansFit vector layout feeds ivfSearch directly") {
    val df = kmeansCorpus.toDF("id", "vec")
    val cents = Graft.kmeansFit(df, "id", "vec", k = 2, iters = 2)
    assert(cents.columns.toSeq == Seq("centroid_id", "c"))
    val got = Graft.ivfSearch(df, Seq((1L, Array(1f, 0f))).toDF("id", "vec"),
        cents, nProbe = 1, k = 5)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(3L, 4L), s"probe of the x-axis bucket: $got")
  }

  test("ivfSearchTrained self-trains and finds in-bucket neighbors") {
    val df = kmeansCorpus.toDF("id", "vec")
    val got = Graft.ivfSearchTrained(df,
        Seq((1L, Array(1f, 0f))).toDF("id", "vec"),
        nProbe = 1, k = 5, nCentroids = 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(3L, 4L), s"got $got")
  }

  test("semanticDedupWithCentroids on label centroids reproduces semanticDedup") {
    val df = Seq(
        (1L, Array(1f, 0f, 0f, 0f), 0), (2L, Array(1f, 0.01f, 0f, 0f), 0),
        (3L, Array(0f, 1f, 0f, 0f), 0), (4L, Array(0f, 0f, 1f, 0f), 1),
        (5L, Array(0f, 0f, 1f, 0.01f), 1))
      .toDF("id", "vec", "lbl")
    val labeled = Graft.semanticDedup(df, "id", "vec", "lbl", tau = 0.9)
      .as[(Long, Long)].collect().toSet
    val cents = Graft.labelCentroids(df, "lbl", "vec")
      .select($"__lbl".cast("long").as("centroid_id"), $"__cv".as("c"))
    val viaCentroids = Graft.semanticDedupWithCentroids(
        df, "id", "vec", cents, tau = 0.9)
      .as[(Long, Long)].collect().toSet
    assert(viaCentroids == labeled, s"got $viaCentroids vs $labeled")
  }

  test("assignToCentroids appends the nearest trained cluster as a pure map") {
    val df = kmeansCorpus.toDF("id", "vec")
    val cents = Graft.kmeansFit(df, "id", "vec", k = 2, iters = 2)
    val got = Graft.assignToCentroids(df, "vec", cents)
      .select($"id", $"cluster").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 3L -> 1L, 4L -> 1L, 2L -> 2L, 5L -> 2L, 6L -> 2L),
      s"got $got")
    // pure map: no exchange anywhere in the assignment plan
    val plan = Graft.assignToCentroids(df, "vec", cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("annRecall counts per-query hits at k, ignoring ranks past k") {
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
        (2L, 20L, 1L), (2L, 21L, 2L)).toDF("query_id", "vec_id", "rank")
    val approx = Seq((1L, 10L, 1L), (1L, 99L, 2L), (1L, 12L, 4L),
        (2L, 20L, 1L), (2L, 21L, 2L)).toDF("query_id", "vec_id", "rank")
    val got = Graft.annRecall(approx, exact, k = 3)
      .select($"query_id", $"n_exact", $"n_hit", $"recall")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // q1: exact {10,11,12}; approx@3 {10,99} (12 ranked past k) -> 1/3
    assert(got(1L) == ((3L, 1L, 0.3333)), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 2L, 1.0)), s"got ${got(2L)}")
  }

  test("semanticDedupWithCentroids accepts kmeansFit output (the unlabeled path)") {
    val df = Seq(
        (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
        (3L, Array(1f, 0.01f)), (4L, Array(0.01f, 1f)))
      .toDF("id", "vec")
    val got = Graft.semanticDedupWithCentroids(df, "id", "vec",
        Graft.kmeansFit(df, "id", "vec", k = 2, iters = 2), tau = 0.95)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 1L), (4L, 2L)), s"got $got")
  }

  test("classifyByCentroid keeps duplicate-id rows (groups on id only)") {
    val train = Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1))
      .toDF("id", "vec", "label")
    val df = Seq((10L, Array(5f, 0.1f)), (10L, Array(5f, 0.1f)))
      .toDF("id", "vec")
    val got = Graft.classifyByCentroid(df, train, "id", "vec", "label")
      .select($"id", $"predicted").as[(Long, Int)].collect().toSeq
    assert(got == Seq((10L, 0), (10L, 0)), s"duplicate rows must survive: $got")
  }

  test("classifyByCentroid keeps null-id rows (null-safe join-back)") {
    // a null id is one more id value: the r6 equi-join-back silently
    // dropped such rows (null keys never match '='); the null-safe
    // join must classify them like any other id
    val train = Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1))
      .toDF("id", "vec", "label")
    val df = Seq((Some(10L), Array(5f, 0.1f)), (None, Array(0.1f, 5f)))
      .toDF("id", "vec")
    val got = Graft.classifyByCentroid(df, train, "id", "vec", "label")
      .select($"id", $"predicted").as[(Option[Long], Int)].collect().toMap
    assert(got == Map(Some(10L) -> 0, None -> 1),
      s"null-id row must survive with its own argmax: $got")
  }

  test("bm25Score ranks the term-dense doc first and excludes no-match docs") {
    val df = Seq(
        (1L, "spark spark spark and nothing else here"),
        (2L, "spark appears once in this considerably longer document of many words"),
        (3L, "no relevant terms at all"))
      .toDF("id", "body")
    val got = Graft.bm25Score(df, "id", "body", terms = Seq("spark"))
      .select($"id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L), s"got $got")
  }

  test("tfidf: corpus-wide term weighs 0, rare terms weigh ln(N/df) per occurrence") {
    val df = Seq((1L, "apple banana apple"), (2L, "banana cherry")).toDF("id", "body")
    val got = Graft.tfidf(df, "id", "body")
      .select($"id", $"token", $"tf", $"doc_freq", $"tfidf")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got((1L, "banana")) == ((1L, 2L, 0.0)))      // in every doc: idf 0
    assert(got((1L, "apple")) == ((2L, 1L, 1.3863)))    // 2 * ln 2
    assert(got((2L, "cherry")) == ((1L, 1L, 0.6931)))   // 1 * ln 2
    assert(got.size == 4)                               // (2,banana) is the 4th
  }

  test("bigramNll scores deterministic bigram surprisal; short docs absent") {
    // corpus: "a b" x2 and "a c" -> p(b|a)=2/3, p(c|a)=1/3
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("id", "body")
    val got = Graft.bigramNll(df, "id", "body")
      .select($"id", $"n_bigrams", $"nll2")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val ln23 = BigDecimal(-math.log(2.0 / 3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln13 = BigDecimal(-math.log(1.0 / 3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((1L, ln23)) && got(2L) == ((1L, ln23)))
    assert(got(3L) == ((1L, ln13)))
    assert(!got.contains(4L), "a 1-token doc has no bigrams")
  }

  test("quantizeEmbeddings: +-127 at the extremes, exact dequantization bound") {
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0f, 0f, 0f)))
      .toDF("id", "vec")
    val got = Graft.quantizeEmbeddings(df, "vec")
      .select($"id", $"scale", $"qvec")
      .as[(Long, Double, Seq[Byte])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == 127.0 && got(1L)._2 == Seq[Byte](64, -127, 32))
    assert(got(2L) == ((0.0, Seq[Byte](0, 0, 0))), "zero vector: scale 0, zero qvec")
    // dequantization error bounded by 0.5/scale
    val (sc, qv) = got(1L)
    val err = qv.zip(Seq(0.5f, -1.0f, 0.25f)).map { case (q, v) =>
      math.abs(q / sc - v) }.max
    assert(err <= 0.5 / sc + 1e-12, s"err $err")
  }

  test("quantizedTopK recovers exact top-k on the harness corpus (recall 1.0)") {
    // the scaladoc's claim: int8 stage-1 + a small rerank multiple
    // reproduces cosineTopK's neighbor set exactly on real embeddings
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
    val approx = Graft.quantizedTopK(emb, queries, k = 5, rerankK = 20)
    val exact = Graft.cosineTopK(emb, queries, k = 5)
    val rec = Graft.annRecall(approx, exact, k = 5)
      .select($"recall").as[Double].collect()
    assert(rec.length == 5 && rec.forall(_ == 1.0), s"recall ${rec.toSeq}")
    // and the guard: a rerank head smaller than k is a caller bug
    intercept[IllegalArgumentException] {
      Graft.quantizedTopK(emb, queries, k = 5, rerankK = 3)
    }
  }

  test("quantizedTopK: zero-norm rows rank last, never NaN") {
    val corpus = Seq(
        (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
        (3L, Array(0f, 0f)), (4L, Array(-1f, 0f)))
      .toDF("id", "vec")
    val q = Seq((10L, Array(1f, 0f))).toDF("id", "vec")
    val got = Graft.quantizedTopK(corpus, q, k = 4, rerankK = 4,
        excludeSelf = false)
      .select($"vec_id", $"rank").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4), s"$got")
  }

  test("shipped-LM unigramNll: OOV tokens cost the explicit floor") {
    val lm = Seq(("hello", 10L, 0.5), ("world", 10L, 0.5)).toDF("token", "c", "p")
    val df = Seq((1L, "hello world"), (2L, "hello mars")).toDF("id", "body")
    val got = Graft.unigramNll(df, "id", "body", lm, oovNll = 20.0)
      .select($"id", $"n_tokens", $"n_oov", $"nll")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 0L, 0.6931))) // mean -ln(.5) = ln 2
    // one known token at ln 2, one OOV at the 20-nat floor
    assert(got(2L) == ((2L, 2L, 1L, 10.3466)))
  }

  test("trainBigramLm conditionals; shipped-LM bigramNll floors unseen bigrams") {
    val train = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("id", "body")
    val lm = Graft.trainBigramLm(train, "body")
    val p = lm.select($"bigram", $"p").as[(String, Double)].collect().toMap
    assert(p == Map("a b" -> 2.0 / 3, "a c" -> 1.0 / 3), s"$p")
    val score = Seq((9L, "a b z")).toDF("id", "body") // "a b" known, "b z" OOV
    val got = Graft.bigramNll(score, "id", "body", lm, oovNll = 10.0)
      .select($"n_bigrams", $"n_oov", $"nll2").as[(Long, Long, Double)].head()
    val expected =
      math.round((-math.log(2.0 / 3) + 10.0) / 2 * 10000) / 10000.0
    assert(got == ((2L, 1L, expected)), s"got $got")
  }

  test("shipped-LM NLL collapses duplicate LM keys instead of fanning out counts") {
    // the same token shipped twice (a unioned-shard artifact):
    // n_tokens must still count the doc's 2 tokens, not 3 via join
    // fan-out; the dup collapses to max p = 0.5 before the join
    val lm = Seq(("hello", 1L, 0.5), ("hello", 1L, 0.25), ("world", 1L, 0.5))
      .toDF("token", "c", "p")
    val df = Seq((1L, "hello world")).toDF("id", "body")
    val got = Graft.unigramNll(df, "id", "body", lm, oovNll = 20.0)
      .select($"n_tokens", $"n_oov", $"nll").as[(Long, Long, Double)].head()
    assert(got == ((2L, 0L, 0.6931)), s"got $got") // mean -ln(.5)
  }

  test("tfidfFromTf over a caller-materialized tf table equals tfidf") {
    val df = Seq((1L, "x y"), (2L, "x z x")).toDF("id", "body")
    val direct = Graft.tfidf(df, "id", "body")
      .orderBy($"id", $"token").collect().toSeq
    val tf = Graft.termFrequencies(df, "id", "body")
    val viaTf = Graft.tfidfFromTf(tf, "id")
      .orderBy($"id", $"token").collect().toSeq
    assert(direct == viaTf, s"$direct vs $viaTf")
  }

  test("funnel: strictly-ordered stages, same-ts pairs stall, repeated stages compose") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // user 1: full conversion in order
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // user 2: click BEFORE the first view — stalls at click, and the
      // purchase cannot skip the missing stage
      (2L, ts(1), "click"), (2L, ts(2), "view"), (2L, ts(3), "purchase"),
      // user 3: click at the SAME ts as the view — strictly-after fails
      (3L, ts(1), "view"), (3L, ts(1), "click"), (3L, ts(4), "purchase"),
      // user 4: second view then click — first view anchors the funnel
      (4L, ts(1), "view"), (4L, ts(5), "view"), (4L, ts(6), "click")
    ).toDF("uid", "ts", "etype")
    val got = Graft.funnel(ev, "uid", "ts", "etype",
        Seq("view", "click", "purchase"))
      .select($"uid", $"stage_ts")
      .as[(Long, Seq[Option[java.sql.Timestamp]])].collect().toMap
    assert(got(1L) == Seq(Some(ts(1)), Some(ts(2)), Some(ts(3))))
    assert(got(2L) == Seq(Some(ts(2)), None, None)) // click precedes view
    assert(got(3L) == Seq(Some(ts(1)), None, None)) // same-ts click stalls
    assert(got(4L) == Seq(Some(ts(1)), Some(ts(6)), None))
    // repeated stage names: the second distinct-time occurrence
    val rep = Graft.funnel(ev, "uid", "ts", "etype", Seq("view", "view"))
      .select($"uid", $"stage_ts")
      .as[(Long, Seq[Option[java.sql.Timestamp]])].collect().toMap
    assert(rep(4L) == Seq(Some(ts(1)), Some(ts(5))))
    assert(rep(1L) == Seq(Some(ts(1)), None)) // only one view
  }

  test("prioritySample selects the straight-line top-k by w/u with exact estimators") {
    val rows = (0L until 40L).map(i => (i, (i % 7 + 1) * 100.0))
    val df = rows.toDF("id", "w")
    // straight-line reference: identical LCG + division arithmetic
    def prio(id: Long, w: Double): Double =
      w / (((id * 2654435761L) % 2147483647L + 1).toDouble / 2147483648.0)
    val ranked = rows.map { case (id, w) => (id, w, prio(id, w)) }
      .sortBy { case (id, _, p) => (-p, id) }
    val tau = ranked(10)._3 // k = 10 -> the 11th priority
    val expect = ranked.take(10)
      .map { case (id, w, _) => (id, math.max(w, tau)) }.sortBy(_._1)
    val got = Graft.prioritySample(df, "id", "w", 10)
      .select($"id", $"est_weight").as[(Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(got == expect, s"$got vs $expect")
    // layout-independent: same selection after a repartition
    val again = Graft.prioritySample(df.repartition(7), "id", "w", 10)
      .select($"id", $"est_weight").as[(Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(again == expect)
  }

  test("prioritySample with k >= n keeps every row at its exact weight (tau = 0)") {
    val df = Seq((1L, 5.0), (2L, 7.0)).toDF("id", "w")
    val got = Graft.prioritySample(df, "id", "w", 10)
      .select($"id", $"est_weight").as[(Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 5.0), (2L, 7.0)), s"$got")
  }

  test("mixtureSample allocates by largest remainder and stays layout-independent") {
    // weights * 7 = 3.5 / 2.1 / 1.4 -> floors 3/2/1, leftover 1 goes
    // to the largest remainder (a) -> quotas 4/2/1
    val df = (1L to 30L).map(i =>
        (i, if (i <= 10) "a" else if (i <= 20) "b" else "c"))
      .toDF("id", "src")
    val weights = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    val got = Graft.mixtureSample(df, "src", "id", weights, n = 7)
      .select($"src").as[String].collect()
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map("a" -> 4, "b" -> 2, "c" -> 1), s"got $got")
    val again = Graft.mixtureSample(df.repartition(5), "src", "id", weights, n = 7)
      .select($"id").as[Long].collect().toSet
    val first = Graft.mixtureSample(df, "src", "id", weights, n = 7)
      .select($"id").as[Long].collect().toSet
    assert(first == again, "selection must not depend on layout")
  }

  test("mixtureSample: unweighted strata drop; an undersized stratum yields all its rows") {
    val df = (1L to 10L).map(i => (i, if (i <= 8) "big" else "tiny"))
      .toDF("id", "src") // tiny has 2 rows
    val got = Graft.mixtureSample(df, "src", "id",
        Map("big" -> 0.5, "tiny" -> 0.5, "ghost" -> 0.0), n = 8)
      .select($"src").as[String].collect()
      .groupBy(identity).view.mapValues(_.size).toMap
    // tiny's quota is 4 but only 2 rows exist -> 2, no redistribution
    assert(got == Map("big" -> 4, "tiny" -> 2), s"got $got")
  }

  test("mixtureSample: weights summing below 1 draw the smaller total, not n") {
    // sum(w) = 0.5 over n = 10: the naive leftover n - sum(floors)
    // would be 5 and hand +1 to every stratum (including weight-0
    // ghost); the documented contract is a ~sum(w)*n draw with the
    // +1 landing only on positive remainders
    val df = (1L to 30L).map(i =>
        (i, if (i <= 15) "a" else "b")).toDF("id", "src")
    val got = Graft.mixtureSample(df, "src", "id",
        Map("a" -> 0.5, "ghost" -> 0.0), n = 10)
      .select($"src").as[String].collect()
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map("a" -> 5), s"got $got") // not a->6, no ghost
    // and a positive fractional remainder still rounds up: 0.45*10
    // -> base 4, rem .5 -> quota 5
    val frac = Graft.mixtureSample(df, "src", "id",
        Map("a" -> 0.45), n = 10)
      .select($"src").as[String].collect()
    assert(frac.length == 5 && frac.forall(_ == "a"), s"got ${frac.toSeq}")
  }

  test("packSequences facade fills bins per shard") {
    val df = Seq((0L, 300L), (2L, 300L), (4L, 300L), (1L, 300L)).toDF("id", "n_tok")
    val got = Graft.packSequences(df, "id", "n_tok", capacity = 512, shards = 2)
      .select($"id", $"shard", $"bin").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L) == ((0L, 0L)))
    assert(got(2L) == ((0L, 0L)))
    assert(got(4L) == ((0L, 1L))) // 600 tokens before it in shard 0
    assert(got(1L) == ((1L, 0L)))
  }

  test("dedupIncremental drops index hits and intra-batch dups, keeps fresh") {
    val corpus = Seq((1L, "Hello  World"), (2L, "old news")).toDF("id", "text")
    val incoming = Seq(
      (10L, "hello world"),   // normalizes to an index hit — dropped
      (11L, "fresh doc"),     // genuinely new — kept
      (12L, "FRESH   doc"),   // intra-batch dup of 11 — dropped
      (13L, "another one")    // new — kept
    ).toDF("id", "text")
    val got = Graft.dedupIncremental(incoming,
        Graft.exactIndex(corpus, "text"), "text", "id")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L))
  }

  test("bpeTrain learns the hand-computed merge sequence; bpeSegment applies it") {
    // words: low:3, lower:2, newest:1 — the Sennrich toy corpus shape
    val df = Seq("low low low", "lower lower", "newest").toDF("text")
    val merges = Graft.bpeTrain(df, "text", numMerges = 4)
      .orderBy($"rank").as[(Int, String, String, Long)].collect().toSeq
    assert(merges == Seq(
      (1, "l", "o", 5L),   // (l,o)=5 ties (o,w)=5, lex lhs wins
      (2, "lo", "w", 5L),
      (3, "e", "r", 2L),   // (e,r)=2 ties (low,e)=2, lex lhs wins
      (4, "low", "er", 2L)))
    val seg = Graft.bpeSegment(Seq("lower", "newest").toDF("w"), "w",
        merges.map(m => (m._2, m._3)))
      .select($"w", $"tokens").as[(String, Seq[String])].collect().toMap
    assert(seg("lower") == Seq("lower"))
    assert(seg("newest") == Seq("n", "e", "w", "e", "s", "t"))
  }

  test("bpeTrain releases its persisted working set (no cache leak)") {
    // the loop reassigns its symbols var to derived plans; unpersist
    // must hit the frame that was actually cached (the base), not a
    // derived plan uncacheQuery cannot match
    spark.sharedState.cacheManager.clearCache()
    Graft.bpeTrain(Seq("low low lower").toDF("text"), "text", numMerges = 2)
    assert(spark.sharedState.cacheManager.isEmpty,
      "bpeTrain must unpersist the frame it persisted")
  }

  test("writeBucketed: same-bucketed frames join with zero exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fac-bkt")
    val left = spark.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("a"))
    val right = spark.range(0, 1000).select($"id".as("j"), ($"id" * 3).as("b"))
    Graft.writeBucketed(left, 4, "k", s"$tmp/l", "fac_bkt_l")
    Graft.writeBucketed(right, 4, "j", s"$tmp/r", "fac_bkt_r")
    try {
      val joined = spark.table("fac_bkt_l").hint("merge")
        .join(spark.table("fac_bkt_r"), $"k" === $"j")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"facade-bucketed join shuffles:\n$plan")
      assert(joined.count() == 1000)
      // one file per bucket: the repartition-alignment contract
      val files = new java.io.File(s"$tmp/l").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(files == 4, s"expected 4 bucket files, got $files")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fac_bkt_l")
      spark.sql("DROP TABLE IF EXISTS fac_bkt_r")
    }
  }

  test("writePartitioned: literal filter on the partition column prunes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fac-part").toString
    val df = Seq((1L, "en", 0.5), (2L, "de", 0.7), (3L, "en", 0.9))
      .toDF("id", "lang", "score")
    Graft.writePartitioned(df, "lang", tmp)
    val got = spark.read.parquet(tmp).filter($"lang" === "en")
    val plan = got.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("lang") && pf.contains("en"),
      s"no partition pruning: $pf\n$plan")
    assert(got.select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("profile: planted nulls, distincts, and type-aware min/max") {
    // the harness orders table has NO nulls, so the oracle row for
    // n_nulls is all zeros — the null-counting path is pinned here
    val df = Seq(
      (1L, Some(2.5), Some("b")),
      (2L, None, Some("a")),
      (3L, Some(7.25), None),
      (4L, Some(2.5), Some("a")))
      .toDF("id", "score", "tag")
    val got = Graft.profile(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)),
        Option(r.get(5)), Option(r.get(6)))).toSeq
    assert(got == Seq(
      ("id", 0L, 4L, Some(1.0), Some(4.0), None, None),
      ("score", 1L, 2L, Some(2.5), Some(7.25), None, None),
      ("tag", 1L, 2L, None, None, Some("a"), Some("b"))), got.toString)
  }

  test("profile: DateType lands in min_num as epoch days, chronological") {
    // lexicographic min/max of ISO dates happens to agree with
    // chronology, so pin the branch by the OUTPUT COLUMN: a date must
    // populate min_num (epoch days), never min_str
    val df = Seq("2020-02-29", "1969-12-31", "2021-01-01")
      .toDF("iso").select(to_date($"iso").as("d"))
    val r = Graft.profile(df).collect().head
    assert(r.getString(0) == "d" && r.getLong(1) == 0L && r.getLong(2) == 3L)
    // 1969-12-31 = day -1; 2021-01-01 = day 18628
    assert(r.getDouble(3) == -1.0 && r.getDouble(4) == 18628.0, r.toString)
    assert(r.isNullAt(5) && r.isNullAt(6), r.toString)
  }

  test("hllRegisters: registers match a JVM-side replay of the hash math") {
    val keys = (1L to 200L).toSeq
    val df = keys.flatMap(k => Seq(k, k)).toDF("k") // dup rows: no effect
    val got = Graft.hllRegisters(df, "k", bucketBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // independent replay: same xxhash64-of-text, bucket, trailing-zero rank
    val expect = keys
      .map { k =>
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(
            k.toString), org.apache.spark.sql.types.StringType, 42L)
        (h & 15L, k, {
          val w = h >>> 4
          if (w == 0) 61 else java.lang.Long.numberOfTrailingZeros(w) + 1
        })
      }
      .groupBy(_._1).toSeq
      .map { case (b, xs) =>
        (b, xs.map(_._2).distinct.size.toLong, xs.map(_._3).max) }
      .sortBy(_._1)
    assert(got == expect, s"got $got\nexpect $expect")
  }

  test("boilerplateStats: shared lines flagged, tails and short docs kept") {
    // exactly 8 tokens, so it fills one window when it leads the doc
    val banner = "please accept our cookie policy before continuing here"
    val docs = Seq(
      (1L, s"$banner alpha beta gamma"),            // 1 boiler line + 3 tail
      (2L, s"$banner delta"),                       // 1 boiler line + 1 tail
      (3L, s"$banner $banner"),                     // in-doc repeat: BOTH count
      (4L, "one two three four five six seven eight nine ten"), // unique line
      (5L, "tiny doc only"))                        // 0 lines
      .toDF("doc_id", "text")
    val got = Graft.boilerplateStats(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 1L, 3L),   // 11 tokens - 8 stripped
      (2L, 1L, 1L, 1L),
      (3L, 2L, 2L, 0L),   // both occurrences stripped
      (4L, 1L, 0L, 10L),  // df=1 line survives
      (5L, 0L, 0L, 3L)), got.toString)
  }

  test("pmiCollocations: lift ranks the bonded pair above the frequent one") {
    // "tick tock" always co-occur (lift = N / (c*c) high); "the end"
    // has frequent "the" diluting the denominator
    val docs = (1 to 6).map(i => (i.toLong, "tick tock the end the mid"))
      .toDF("doc_id", "text")
    val got = Graft.pmiCollocations(docs, "text", minCount = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(4))).toMap
    // N = 36 tokens, in e4 units: tick tock 6*36/(6*6) = 6.0 → 60000;
    // the end 6*36/(12*6) = 3.0 → 30000
    assert(got("tick tock") == 60000L && got("the end") == 30000L, got.toString)
    assert(!got.contains("tock the") || got("tock the") == 30000L)
  }

  test("normalizeText: NFC in place over an arbitrary frame; other forms work") {
    val df = Seq(
      (1L, "cafe\u0301"),      // decomposed -> composes
      (2L, "caf\u00e9"),       // already composed -> unchanged
      (3L, "plain ascii"),     // fast path
      (4L, null.asInstanceOf[String])) // null passes through
      .toDF("id", "text")
    val nfc = Graft.normalizeText(df, "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(nfc(1L).contains("caf\u00e9") && nfc(2L).contains("caf\u00e9"))
    assert(nfc(3L).contains("plain ascii") && nfc(4L).isEmpty)
    val nfd = Graft.normalizeText(df, "text", "NFD").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(nfd(2L).contains("cafe\u0301"), "NFD must decompose the composed form")
  }

  test("canonicalizeUrl folds case/port/www/slash/fragment/tracking/param-order") {
    val cases = Seq(
      // the four t35 variants of one logical page
      "https://s.example.com/item/3?a=1&b=2",
      "HTTPS://WWW.S.EXAMPLE.COM:443/item/3/?b=2&a=1#frag",
      "https://s.example.com:443/item/3?utm_source=feed&a=1&b=2",
      "https://www.s.example.com/item/3/?b=2&utm_campaign=x&a=1&fbclid=zzz",
      // edges: http:80, no query, ONLY tracking params, bare host
      "HTTP://Host.Org:80/A/B/",
      "https://host.org/x?utm_source=a&gclid=b",
      "https://host.org")
    val got = Graft.canonicalizeUrls(
        cases.zipWithIndex.map(_.swap).toDF("id", "url"), "url")
      .orderBy($"id").select($"canonical_url", $"domain")
      .as[(String, String)].collect()
    assert(got.take(4).map(_._1).distinct.toSeq ==
      Seq("https://s.example.com/item/3?a=1&b=2"),
      s"variants did not collapse: ${got.take(4).mkString("\n")}")
    assert(got(4) == (("http://host.org/A/B", "host.org")))
    assert(got(5)._1 == "https://host.org/x", "tracking-only query must drop '?'")
    assert(got(6)._1 == "https://host.org")
  }

  test("fkAudit counts orphan rows, ignores null fks, finds unreferenced parents") {
    val child = Seq(Some(1L), Some(1L), Some(7L), None)
      .toDF("fk") // two refs to parent 1, one orphan (7), one null
    val parent = Seq(1L, 2L).toDF("pk") // parent 2 unreferenced
    val r = Graft.fkAudit(child, "fk", parent, "pk", "child.fk->parent").head()
    assert(r.getString(0) == "child.fk->parent")
    assert(r.getLong(1) == 4L, "n_child")
    assert(r.getLong(2) == 3L, "n_child_nonnull: null fk is not a reference")
    assert(r.getLong(3) == 1L, "n_orphan_rows: only key 7; null is NOT an orphan")
    assert(r.getLong(4) == 2L, "n_parent")
    assert(r.getLong(5) == 1L, "n_unref_parents: parent 2")
  }

  test("cmsSketch: one-sided error, bounded state, cell-wise mergeability") {
    val keys = (0 until 400).map(i => i % 37) // skewed multiplicities
    val df = keys.toDF("k")
    val sk = Graft.cmsSketch(df, "k", depth = 4, widthBits = 6)
    assert(sk.count() <= 4 * 64, "state bounded by depth * width")
    val exact = keys.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val est = Graft.cmsEstimate(sk, df.distinct(), "k", depth = 4, widthBits = 6)
      .as[(Int, Long)].collect().toMap
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"CM estimate must never undercount (key $k)")
    }
    // mergeability: sketch(A ++ B) == cell-wise sum of the two sketches
    val (a, b) = (df.filter($"k" % 2 === 0), df.filter($"k" % 2 =!= 0))
    val merged = Graft.cmsSketch(a, "k", 4, 6)
      .unionAll(Graft.cmsSketch(b, "k", 4, 6))
      .groupBy($"depth", $"col").agg(sum($"cnt").as("cnt"))
    val whole = sk.as[(Int, Int, Long)].collect().toSet
    assert(merged.as[(Int, Int, Long)].collect().toSet == whole)
  }

  test("pageRank: integer-exact ranks match a driver-side replay on a path graph") {
    // undirected path a-b-c: outdeg a=1, b=2, c=1
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val got = Graft.pageRank(edges, iters = 3, dampingPct = 85)
      .as[(String, Long)].collect().toMap
    // driver-side replay of the same integer recurrence
    var r = Map("a" -> 1000000000L, "b" -> 1000000000L, "c" -> 1000000000L)
    val deg = Map("a" -> 1L, "b" -> 2L, "c" -> 1L)
    val in = Map("a" -> Seq("b"), "b" -> Seq("a", "c"), "c" -> Seq("b"))
    for (_ <- 1 to 3) r = r.map { case (n, _) =>
      n -> (150000000L + 85L * in(n).map(u => r(u) / deg(u)).sum / 100L)
    }
    assert(got == r, s"got $got want $r")
    assert(got("b") > got("a") && got("a") == got("c"),
      "center of the path outranks the symmetric endpoints")
  }

  test("pageRank/pageRankRounds: invalid arguments fail before any job is dispatched") {
    // pageRank's eager edge checkpoint and pageRankRounds' degree
    // checkpoint are jobs; validation runs first
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val init = Seq(("a", 1000000000L)).toDF("node", "rank_e9")
    val (_, groups) = jobGroupsDuring {
      intercept[IllegalArgumentException](Graft.pageRank(edges, iters = 0))
      intercept[IllegalArgumentException](Graft.pageRank(edges, dampingPct = 101))
      intercept[IllegalArgumentException](
        Graft.pageRankRounds(edges, Some(init), iters = 0, dampingPct = 85))
    }
    assert(groups.isEmpty, s"${groups.size} job(s) ran before validation")
  }

  test("pageRank: a sink node (dst-only) keeps its rank row, teleport and inbound mass") {
    // strictly directed: a -> b, a -> c; b and c are sinks (outdeg 0)
    val edges = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val got = Graft.pageRank(edges, iters = 2, dampingPct = 85)
      .as[(String, Long)].collect().toMap
    assert(got.keySet == Set("a", "b", "c"),
      s"sink nodes must own rank rows, got ${got.keySet}")
    // driver replay: a gets teleport only (no in-edges); b and c each
    // get teleport + 85% of a's rank div 2
    var r = Map("a" -> 1000000000L, "b" -> 1000000000L, "c" -> 1000000000L)
    for (_ <- 1 to 2) r = Map(
      "a" -> 150000000L,
      "b" -> (150000000L + 85L * (r("a") / 2) / 100L),
      "c" -> (150000000L + 85L * (r("a") / 2) / 100L))
    assert(got == r, s"got $got want $r")
  }

  test("personalizedPageRank: teleport mass only at seeds, replay-exact, off-graph seeds ignored") {
    // directed: 1 -> 2, 2 -> 1, 3 -> 1; seed = {1} (plus 99, absent
    // from the graph — must be silently ignored)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    val got = Graft.personalizedPageRank(edges, seeds, iters = 2,
        dampingPct = 85)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L), got.toString)
    // driver replay: r0 = (1e9, 0, 0); only node 1 keeps a teleport
    var r = Map(1L -> 1000000000L, 2L -> 0L, 3L -> 0L)
    for (_ <- 1 to 2) r = Map(
      1L -> (150000000L + 85L * (r(2L) / 1 + r(3L) / 1) / 100L),
      2L -> (85L * (r(1L) / 1) / 100L),
      3L -> 0L)
    assert(got == r, s"got $got want $r")
    // node 3 (no in-edges, not a seed) must sit at exactly zero —
    // personalized rank is proximity to the seeds, not presence
    assert(got(3L) == 0L)
  }

  test("bfsHops: minimum hop labels, early exit, seeds-only degenerate case") {
    // path graph 1-2-3-4-5 plus a triangle shortcut 1-3
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graft.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    // 3 is at hop 1 via the shortcut, NOT hop 2 via the path
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // maxHops truncates the traversal
    val shallow = Graft.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(shallow == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
    // isolated seed: frontier empties immediately, loop short-circuits
    val iso = Graft.bfsHops(edges, Seq(99L).toDF("node"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(iso == Map(99L -> 0L))
  }

  test("bfsHops, shortestPaths, temporalReach, triangles: duplicate edges never change the answer") {
    // the simple graph: path 1-2-3-4-5, shortcut 1-3, triangle 1-2-3;
    // the multigraph repeats every edge and adds a heavier parallel
    // copy, and the seed repeats too. The copy keeps its event time: a
    // later event is a new contact, not a duplicate, and can carry a
    // later arrival to temporalReach
    val und = Seq((1L, 2L, 5L, 3L), (2L, 3L, 1L, 4L), (1L, 3L, 9L, 6L),
      (3L, 4L, 2L, 5L), (4L, 5L, 7L, 8L))
    val simple = und ++ und.map { case (a, b, w, t) => (b, a, w, t) }
    val multi = simple ++ simple ++
      simple.map { case (a, b, w, t) => (a, b, w + 10L, t) }
    def frame(es: Seq[(Long, Long, Long, Long)]) = es.toDF("src", "dst", "w", "t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val seeds = Seq(1L, 1L).toDF("node")
    val ops = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "bfsHops" -> (Graft.bfsHops(_, seeds, maxHops = 3)),
      "shortestPaths" -> (Graft.shortestPaths(_, seeds, iters = 4)),
      "shortestPaths frontier" -> (Graft.shortestPaths(_, seeds, iters = 4, frontier = true)),
      "temporalReach" -> (Graft.temporalReach(_, seeds, 0L, iters = 3)),
      "triangles" -> (Graft.triangles(_)))
    for ((name, op) <- ops) {
      val want = rows(op(frame(simple)))
      val got = rows(op(frame(multi)))
      assert(want.nonEmpty && got == want, s"$name: multigraph $got, simple graph $want")
    }
    // and the simple-graph answers are the ones worked by hand
    assert(rows(Graft.shortestPaths(frame(simple), Seq(1L).toDF("node"), iters = 4)) ==
      Seq("1,0", "2,5", "3,6", "4,8", "5,15"))
    assert(rows(Graft.bfsHops(frame(simple), Seq(1L).toDF("node"), maxHops = 3)) ==
      Seq("1,0", "2,1", "3,1", "4,2", "5,3"))
  }

  test("graph loops: jobs dispatched per operator, build plus collect, are pinned") {
    // triangle 1-2-3 with a tail 3-4-5-6, symmetrized: BFS and frontier
    // SSSP exhaust before their bound, the 2-core peels three rounds
    // then stops on an unchanged count, and the iteration counts reach
    // every loop's sever cadence (4, 1 or 2 rounds)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = (und ++ und.map(_.swap))
      .map { case (a, b) => (a, b, (a + b) % 3 + 1, a * b % 7) }
      .toDF("src", "dst", "w", "t")
    val seeds = Seq(1L).toDF("node")
    def jobs(op: => org.apache.spark.sql.DataFrame): Int =
      jobGroupsDuring(op.collect())._2.size
    val got = Seq(
      "pageRank" -> jobs(Graft.pageRank(edges, iters = 5)),
      "personalizedPageRank" -> jobs(Graft.personalizedPageRank(edges, seeds, iters = 5)),
      "labelPropagation" -> jobs(Graft.labelPropagation(edges, iters = 3)),
      "kCore" -> jobs(Graft.kCore(edges, k = 2)),
      "hits" -> jobs(Graft.hits(edges, iters = 5)),
      "bfsHops" -> jobs(Graft.bfsHops(edges, seeds, maxHops = 8)),
      "temporalReach" -> jobs(Graft.temporalReach(edges, seeds, 0L, iters = 3)),
      "shortestPaths" -> jobs(Graft.shortestPaths(edges, seeds, iters = 3)),
      "shortestPaths frontier" ->
        jobs(Graft.shortestPaths(edges, seeds, iters = 8, frontier = true)))
    // no other spec counts the loops' jobs: a change to the loop
    // family that means to keep its plans must keep these numbers
    assert(got == Seq("pageRank" -> 12, "personalizedPageRank" -> 18,
      "labelPropagation" -> 12, "kCore" -> 13, "hits" -> 53, "bfsHops" -> 15,
      "temporalReach" -> 10, "shortestPaths" -> 10,
      "shortestPaths frontier" -> 17), got)
  }

  test("seeded graph ops: zero-column seeds fail before any job is dispatched") {
    val edges = Seq((1L, 2L, 1L, 1L), (2L, 1L, 1L, 1L)).toDF("src", "dst", "w", "t")
    val noColumns = spark.emptyDataFrame
    val (_, groups) = jobGroupsDuring {
      intercept[IllegalArgumentException](Graft.personalizedPageRank(edges, noColumns))
      intercept[IllegalArgumentException](Graft.bfsHops(edges, noColumns, maxHops = 3))
      intercept[IllegalArgumentException](
        Graft.temporalReach(edges, noColumns, 0L, iters = 3))
      intercept[IllegalArgumentException](Graft.shortestPaths(edges, noColumns, iters = 3))
    }
    assert(groups.isEmpty, s"${groups.size} job(s) ran before validation")
  }

  test("sStem: the three Harman rules, their exceptions, and edge lengths") {
    val cases = Map(
      "ponies" -> "pony", "ties" -> "ty",          // rule 1
      "eies" -> "eies", "aies" -> "aies",          // rule 1 exceptions
      "churches" -> "churche",                     // rule 2 (S-stemmer, not Porter)
      "canoes" -> "canoes", "sees" -> "sees",      // rule 2 exceptions (-oes/-ees)
      "models" -> "model", "cats" -> "cat",        // rule 3
      "focus" -> "focus", "glass" -> "glass",      // rule 3 exceptions
      "model" -> "model", "s" -> "", "ies" -> "y", // no-op + minimal lengths
      "es" -> "e")
    val got = cases.keys.toSeq.toDF("tok")
      .select($"tok", Graft.sStem($"tok").as("stem"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"sStem($in) = ${got(in)}, want $want")
    }
  }

  test("topKPerGroupNative: matches the window-based topKPerGroup, sorts only survivors") {
    val rows = (1 to 400).map(i => (i % 7, i.toLong, (i * 37 % 100).toDouble))
    val df = rows.toDF("g", "id", "score")
    val native = Graft.topKPerGroupNative(df, Seq("g"), "score", "id", 3)
    val window = Graft.topKPerGroup(df, Seq($"g"), $"score", $"id", 3)
    val n = native.as[(Int, Long, Double)].collect().toSet
    val w = window.as[(Int, Long, Double)].collect().toSet
    assert(n == w, s"native ${n.size} vs window ${w.size}")
    // the custom physical operator is really in the plan, twice
    // (partial + final), with no window anywhere; the one permitted
    // sort is the final stage's required ordering over the exchange's
    // k-bounded survivors (above the partial TopKPerKey, never below)
    val plan = native.queryExecution.executedPlan.toString
    assert("TopKPerKey ".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("WindowExec"), s"custom path must not window:\n$plan")
    val partialIdx = plan.indexOf("TopKPerKey",
      plan.indexOf("TopKPerKey") + 1) // second occurrence = partial stage
    // NO sort may appear anywhere below the partial stage (r13 ADVICE:
    // checking only the first occurrence would miss a regression that
    // adds a second, input-sized sort under the partial operator)
    assert(plan.toLowerCase.indexOf("sort", partialIdx) < 0,
      s"only the survivor sort (above the partial stage) is allowed:\n$plan")
    // ascending variant
    val asc = Graft.topKPerGroupNative(df, Seq("g"), "score", "id", 2,
      descending = false).as[(Int, Long, Double)].collect().toSet
    val ascW = df.withColumn("__r",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"g").orderBy($"score".asc, $"id".asc)))
      .filter($"__r" <= 2).drop("__r")
      .as[(Int, Long, Double)].collect().toSet
    assert(asc == ascW)
  }

  test("triangles: each triangle exactly once, orientation-insensitive") {
    // K4 on {1,2,3,4} (4 triangles) plus a pendant 4-5 (no new ones);
    // input deliberately mixes directions and duplicates
    val und = Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 4L), (2L, 3L),
      (4L, 2L), (3L, 4L), (4L, 5L), (5L, 4L), (1L, 1L))
    val out = Graft.triangles(und.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.size == out.toSet.size, "a triangle emitted twice")
    assert(out.toSet == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L)))
    out.foreach { case (a, b, c) => assert(a < b && b < c) }
    // (degree, id) orientation: identical census, still a < b < c,
    // still exactly-once — on the same graph AND on a hub-skewed one
    // where the two orderings genuinely differ (the hub has max
    // degree but min id)
    val outDeg = Graft.triangles(und.toDF("src", "dst"), byDegree = true)
      .as[(Long, Long, Long)].collect().toSeq
    assert(outDeg.size == outDeg.toSet.size, "degree orientation dup")
    assert(outDeg.toSet == out.toSet, s"census changed: $outDeg")
    val hub = (2L to 9L).flatMap(i => Seq((1L, i))) ++
      Seq((2L, 3L), (4L, 5L), (6L, 7L), (8L, 9L), (3L, 5L))
    val wantHub = Graft.triangles(hub.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet
    val gotHub = Graft.triangles(hub.toDF("src", "dst"), byDegree = true)
      .as[(Long, Long, Long)].collect().toSeq
    assert(gotHub.size == gotHub.toSet.size, "degree orientation dup (hub)")
    assert(gotHub.toSet == wantHub, s"hub census changed: $gotHub")
    gotHub.foreach { case (a, b, c) => assert(a < b && b < c) }
  }

  test("snapshotDiff: added/removed/changed/unchanged incl. the null transition") {
    val a = Seq((1L, Some("x"), 10L), (2L, Some("y"), 20L),
      (3L, None: Option[String], 30L), (4L, Some("z"), 40L))
      .toDF("k", "tag", "v")
    val b = Seq((1L, Some("x"), 10L),            // unchanged
      (2L, Some("y2"), 20L),                     // changed (value)
      (3L, Some("now-set"), 30L),                // changed (null -> value)
      (5L, Some("new"), 50L))                    // added; 4 removed
      .toDF("k", "tag", "v")
    val got = Graft.snapshotDiff(a, b, "k")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "changed", 4L -> "removed", 5L -> "added"))
  }

  test("snapshotDiff: NULL primary keys match null-safely and classify by side presence") {
    val a = Seq((Some(1L), "x"), (None: Option[Long], "only-in-a"),
      (None: Option[Long], "only-in-a")).toDF("k", "tag")
    val b = Seq((Some(1L), "x")).toDF("k", "tag")
    val got = Graft.snapshotDiff(a.dropDuplicates("k"), b, "k")
      .as[(Option[Long], String)].collect().toMap
    // the null-key row exists only in a => removed (r12 ADVICE: the
    // plain equi-join never matched it and mislabeled it 'added')
    assert(got == Map(Some(1L) -> "unchanged", None -> "removed"), got.toString)
    // and a null-key row present on BOTH sides pairs up null-safely
    val b2 = Seq((Some(1L), "x"), (None: Option[Long], "only-in-a"))
      .toDF("k", "tag")
    val got2 = Graft.snapshotDiff(a.dropDuplicates("k"), b2, "k")
      .as[(Option[Long], String)].collect().toMap
    assert(got2 == Map(Some(1L) -> "unchanged", None -> "unchanged"),
      got2.toString)
  }

  test("topKPerGroupNative: partial row budget degrades to pass-through, never to a wrong answer") {
    val rows = (1 to 500).map(i => (i % 23, i.toLong, (i * 41 % 97).toDouble))
    val df = rows.toDF("g", "id", "score")
    val want = Graft.topKPerGroup(df, Seq($"g"), $"score", $"id", 4)
      .as[(Int, Long, Double)].collect().toSet
    val key = "spark.graft.topk.partialRowBudget"
    val old = spark.conf.getOption(key)
    try {
      // budget of 1: the partial map freezes after a single retained
      // row per partition; everything else streams through unfiltered
      spark.conf.set(key, "1")
      val got = Graft.topKPerGroupNative(df, Seq("g"), "score", "id", 4)
        .as[(Int, Long, Double)].collect().toSet
      assert(got == want, "budget fallback changed the answer")
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("incrJoinDelta: V_old ++ delta equals the from-scratch join") {
    val oldL = Seq((1L, "a"), (2L, "b")).toDF("lk", "lv")
    val dL = Seq((2L, "b2"), (3L, "c")).toDF("lk", "lv")
    val oldR = Seq((1L, 10L), (3L, 30L)).toDF("rk", "rv")
    val dR = Seq((2L, 20L), (3L, 31L)).toDF("rk", "rv")
    val delta = Graft.incrJoinDelta(oldL, dL, oldR, dR, "lk", "rk")
    val incr = oldL.join(oldR, $"lk" === $"rk").unionByName(delta)
      .select($"lk", $"lv", $"rv").as[(Long, String, Long)]
      .collect().sorted.toSeq
    val full = oldL.unionByName(dL)
      .join(oldR.unionByName(dR), $"lk" === $"rk")
      .select($"lk", $"lv", $"rv").as[(Long, String, Long)]
      .collect().sorted.toSeq
    assert(incr == full)
    // the delta really is delta-only: no old-join rows leak into it
    assert(!delta.select($"lk", $"lv", $"rv").as[(Long, String, Long)]
      .collect().contains((1L, "a", 10L)))
  }

  test("dedupIncrementalBloom: identical to the unpruned anti-join, and prunes") {
    val mk = (id: Long, t: String) => (id, t)
    val corpus = (0L until 50L).map(i => mk(i, s"doc body number $i"))
      .toDF("id", "text")
    val batch = (Seq(mk(100L, "doc body number 7"), // exact dup of corpus
        mk(101L, "DOC  body number 7"), // dup after normalization
        mk(102L, "fresh one"), mk(103L, "fresh one"), // intra-batch dup
        mk(104L, "fresh two"))).toDF("id", "text")
    val idx = Graft.exactIndex(corpus, "text")
    val viaBloom = Graft.dedupIncrementalBloom(batch, idx, "text", "id")
      .select($"id").as[Long].collect().toSet
    val plain = Graft.dedupIncremental(batch, idx, "text", "id")
      .select($"id").as[Long].collect().toSet
    assert(viaBloom == plain, "bloom prune must not change the answer")
    assert(viaBloom == Set(102L, 104L))
    // the prune really discards non-matching index rows: only the 1
    // genuinely shared fingerprint (plus possible FPs) survives out of 50
    val words = Graft.bloomWords(
      batch.select(xxhash64(regexp_replace(lower(trim($"text")), "\\s+", " "))
        .as("__h")), 16, 4)
    val survivors = Graft.bloomMightContain(idx, col("content_hash"), words, 16, 4)
    assert(survivors.count() < 10,
      "bloom should discard most of the 50-row index at 2^16 bits")
  }

  test("applyChangeSet: insert, delete, latest-wins update, untouched passthrough") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "tag", "v")
    val changes = Seq(
      (2L, "b1", 21L, 1, "U"), (2L, "b2", 22L, 2, "U"), // latest (seq 2) wins
      (3L, "c", 30L, 1, "D"),                           // delete
      (4L, "d", 40L, 1, "I"))                           // insert
      .toDF("k", "tag", "v", "seq", "op")
    val got = Graft.applyChangeSet(base, changes, "k", "seq", "op")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "a", 10L), (2L, "b2", 22L), (4L, "d", 40L)), got)
    // delete of an absent key and update of an absent key (= insert)
    val changes2 = Seq((9L, "x", 90L, 1, "D"), (5L, "e", 50L, 1, "U"))
      .toDF("k", "tag", "v", "seq", "op")
    val got2 = Graft.applyChangeSet(base, changes2, "k", "seq", "op")
      .as[(Long, String, Long)].collect().toSet
    assert(got2 == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (5L, "e", 50L)), got2)
    // malformed NULL op applies as an UPSERT, never a silent delete
    // (r13 ADVICE: =!= "D" was NULL for NULL op, dropping the row from
    // upserts after the anti-join had already removed the key)
    val changes3 = Seq((2L, "b9", 29L, 1, None: Option[String]))
      .toDF("k", "tag", "v", "seq", "op")
    val got3 = Graft.applyChangeSet(base, changes3, "k", "seq", "op")
      .as[(Long, String, Long)].collect().toSet
    assert(got3 == Set((1L, "a", 10L), (2L, "b9", 29L), (3L, "c", 30L)),
      got3)
  }

  test("sequenceGaps: interior, boundary-spanning, and empty-bucket gaps") {
    // bucketSize 4: buckets [0..3][4..7][8..11][12..15][16..19]
    // present: 1,2, 5, 14,15, 18 -> gaps (3,4) spans b0/b1, (6,13)
    // spans b1..b3 across EMPTY bucket b2, (16,17) interior-to-none
    val ids = Seq(1L, 2L, 5L, 14L, 15L, 18L).toDF("id")
    val got = Graft.sequenceGaps(ids, "id", bucketSize = 4L)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 4L), (6L, 13L), (16L, 17L)), got)
    // intra-bucket gap too, plus duplicates in the input
    val ids2 = Seq(8L, 8L, 10L, 11L, 13L).toDF("id")
    val got2 = Graft.sequenceGaps(ids2, "id", bucketSize = 100L)
      .as[(Long, Long)].collect().toSet
    assert(got2 == Set((9L, 9L), (12L, 12L)), got2)
    // dense sequence: no gaps at all
    assert(Graft.sequenceGaps((1L to 9L).toDF("id"), "id", 4L).isEmpty)
  }

  test("sequenceGaps: gaps spanning multiple summary LEVELS resolve once, exactly") {
    // bucketSize = summaryFan = 2 forces a deep recursion: ids 0 and
    // 40 are 5 summary levels apart (40 div 2^k differs from 0 up to
    // k=5), so the gap (1, 39) must surface at the level where their
    // ancestors first become siblings — and ONLY there (r13 verdict
    // item 5: the recursive cross-bucket pass replaces the single
    // global window). 6,7 adds a sibling pair at level 1; 36 adds a
    // mid-range bucket so two cross-level gaps coexist.
    val ids = Seq(0L, 6L, 7L, 36L, 40L).toDF("id")
    val got = Graft.sequenceGaps(ids, "id", bucketSize = 2L,
        summaryFan = 2L, idBits = 8)
      .as[(Long, Long)].collect().toSeq
    assert(got.size == got.toSet.size, s"a gap emitted twice: $got")
    assert(got.toSet == Set((1L, 5L), (8L, 35L), (37L, 39L)), got)
    // a too-small idBits hint degrades to the residual single-task
    // lead, never to a wrong answer (ids up to 40 don't fit 3 bits)
    val hinted = Graft.sequenceGaps(ids, "id", bucketSize = 2L,
        summaryFan = 2L, idBits = 3)
      .as[(Long, Long)].collect().toSet
    assert(hinted == Set((1L, 5L), (8L, 35L), (37L, 39L)), hinted)
    // and the recursion agrees with the one-window textbook answer on
    // a randomized keyspace across bucket/fan combinations, including
    // a narrow fan that exercises several live levels
    val rnd = new scala.util.Random(14)
    val sample = Seq.fill(300)(rnd.nextInt(100000).toLong).distinct
    val want = sample.sorted.sliding(2).collect {
      case Seq(a, b) if b > a + 1 => (a + 1, b - 1)
    }.toSet
    // NEGATIVE ids: `div` truncates toward zero, so bucket 0 spans
    // -(sz-1)..(sz-1) — wider than sz but still a monotone contiguous
    // range, which is all the min/max summary recursion needs
    val neg = Seq(-7L, -6L, -2L, 0L, 1L, 5L).toDF("id")
    val gotNeg = Graft.sequenceGaps(neg, "id", bucketSize = 4L,
        summaryFan = 2L, idBits = 8)
      .as[(Long, Long)].collect().toSet
    assert(gotNeg == Set((-5L, -3L), (-1L, -1L), (2L, 4L)), gotNeg)
    for ((sz, fan) <- Seq((3L, 1024L), (16L, 1L << 20), (4096L, 64L))) {
      val g = Graft.sequenceGaps(sample.toDF("id"), "id", sz, fan)
        .as[(Long, Long)].collect().toSet
      assert(g == want,
        s"bucketSize=$sz fan=$fan disagrees with the textbook lead")
    }
  }

  test("shortestPaths: cheaper multi-hop beats direct edge; rounds bound path length") {
    // 1 -> 2 costs 100 direct, but 1 -> 3 -> 2 costs 10 + 10 = 20
    val e = Seq((1L, 2L, 100L), (1L, 3L, 10L), (3L, 2L, 10L),
      (2L, 4L, 5L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val r1 = Graft.shortestPaths(e, seeds, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 100L, 3L -> 10L),
      s"1 round = direct edges only, got $r1")
    val r3 = Graft.shortestPaths(e, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 0L, 2L -> 20L, 3L -> 10L, 4L -> 25L),
      s"3 rounds find the cheap 2-hop path and its extension, got $r3")
    // r21: the weight guard rides the checkpoint projection
    // (raise_error, the r15 in-plan discipline) instead of a separate
    // require(filter.isEmpty) job — still a BUILD-time abort with the
    // same message, now surfaced as the execution failure chain
    def failsWeightGuard(df: org.apache.spark.sql.DataFrame): Unit = {
      val ex = intercept[Throwable] {
        Graft.shortestPaths(df, seeds, iters = 1)
      }
      def msgs(t: Throwable): List[String] = if (t == null) Nil
        else Option(t.getMessage).toList ::: msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("negative or null edge weight")),
        s"expected weight-guard message in failure chain, got: $ex")
    }
    failsWeightGuard(Seq((1L, 2L, -5L)).toDF("src", "dst", "w"))
    // NULL weight = malformed input, rejected like a negative (r13
    // ADVICE: NULL < 0 is NULL, so it slipped the guard and was
    // silently min()-ignored)
    failsWeightGuard(
      Seq((1L, 2L, Some(5L)), (2L, 3L, None: Option[Long]))
        .toDF("src", "dst", "w"))
  }

  test("shortestPaths: frontier mode equals dense mode incl. re-improved distances") {
    // the delta-relaxation bug surface: node 1 is reached cheaply-late
    // (0 -> 10 -> 11 -> 1 = 3 at round 3) AFTER being reached
    // expensively-early (0 -> 1 = 100 at round 1), so a frontier
    // implementation that fails to RE-relax node 1's out-edge after
    // its improvement would leave node 2 at 101 instead of 4
    val e = Seq((0L, 1L, 100L), (0L, 10L, 1L), (10L, 11L, 1L),
      (11L, 1L, 1L), (1L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    for (iters <- Seq(1, 2, 4, 6)) {
      val dense = Graft.shortestPaths(e, seeds, iters)
        .as[(Long, Long)].collect().toMap
      val front = Graft.shortestPaths(e, seeds, iters, frontier = true)
        .as[(Long, Long)].collect().toMap
      assert(front == dense, s"iters=$iters: frontier $front != dense $dense")
    }
    val f4 = Graft.shortestPaths(e, seeds, 4, frontier = true)
      .as[(Long, Long)].collect().toMap
    assert(f4 == Map(0L -> 0L, 1L -> 3L, 2L -> 4L, 10L -> 1L, 11L -> 2L),
      s"re-improvement must propagate through node 1's out-edge, got $f4")
    // early termination: the frontier empties at hop 2, long before
    // iters — the short-circuit must not change the answer
    val chain = Seq((1L, 2L, 7L), (2L, 3L, 7L)).toDF("src", "dst", "w")
    val c = Graft.shortestPaths(chain, Seq(1L).toDF("node"), 10,
      frontier = true).as[(Long, Long)].collect().toMap
    assert(c == Map(1L -> 0L, 2L -> 7L, 3L -> 14L), c.toString)
  }

  test("sessionize: gap-boundary inclusive split, per-user 0-based ids, tie-break order") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      (1L, at(0), 1L), (1L, at(29), 2L),   // 29 min < 30 -> same session
      (1L, at(59), 3L),                    // exactly 30 min -> NEW session
      (1L, at(60), 4L),
      (2L, at(0), 5L), (2L, at(200), 6L))  // second user independent
      .toDF("user_id", "ts", "event_id")
    val got = Graft.sessionize(ev, $"user_id", $"ts", Seq($"event_id"))
      .select($"user_id", $"event_id", $"sid")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, 1L),
      (1L, 4L, 1L), (2L, 5L, 0L), (2L, 6L, 1L)), got)
  }

  test("eventPattern: non-overlapping counts under a total order, zero-match groups") {
    val ev = Seq(
      // group A renders "vcvpvp" (ordered by ts, id): v[vc]*p matches
      // "vcvp" then "vp" -> 2
      ("A", 1L, 1L, "v"), ("A", 2L, 2L, "c"), ("A", 3L, 3L, "v"),
      ("A", 4L, 4L, "p"), ("A", 5L, 5L, "v"), ("A", 6L, 6L, "p"),
      // group B renders "cpe" -> 0 (no v before p)
      ("B", 1L, 1L, "c"), ("B", 2L, 2L, "p"), ("B", 3L, 3L, "e"),
      // group C: same ts, tie broken by id -> "vp" -> 1
      ("C", 7L, 2L, "p"), ("C", 7L, 1L, "v"))
      .toDF("g", "ts", "id", "code")
    val got = Graft.eventPattern(ev, Seq($"g"), Seq($"ts", $"id"),
        $"code", "v[vc]*p")
      .as[(String, Int)].collect().toMap
    assert(got == Map("A" -> 2, "B" -> 0, "C" -> 1), got)
  }

  test("labelPropagation: majority beats min, ties break min, no-in-edge keeps label") {
    // round 1 (all labels distinct): 3 <- min{1,2,5} = 1, 4 <- min{2,5}
    // = 2, 1 <- {3} = 3, 6 <- min{3,4,2} = 2; 2 and 5 have no in-edges
    // round 2: 3 <- min{3,2,5} = 2 (tie, all count 1), 4 <- min{2,5} =
    // 2, 1 <- {1} = 1, and 6 sees labels {1, 2, 2} -> count-MAJORITY 2
    // (a pure min-label bug would answer 1 here)
    val e = Seq((1L, 3L), (2L, 3L), (5L, 3L), (2L, 4L), (5L, 4L),
      (3L, 1L), (3L, 6L), (4L, 6L), (2L, 6L)).toDF("src", "dst")
    val got = Graft.labelPropagation(e, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L,
      5L -> 5L, 6L -> 2L), got)
  }

  test("kCore: cascading peel, fixpoint short-circuit, empty core") {
    // triangle {1,2,3} + tail 3-4-5: k=2 peels 5 (deg 1), then 4
    // (its degree FALLS to 1 once 5 is gone) — the cascade — and
    // fixes at the triangle, every survivor at within-core degree 2
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val e = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
    val got = Graft.kCore(e, k = 2, maxRounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got)
    // k above the max degree peels everything
    assert(Graft.kCore(e, k = 4, maxRounds = 8).isEmpty)
  }

  test("peakConcurrency: overlap peak, earliest witness, folded duplicate boundaries") {
    val iv = Seq(
      ("a", 1L, 5L), ("a", 3L, 7L), ("a", 6L, 10L), // c: 1@1 2@3 2@6 1@8
      ("b", 0L, 0L),                                // single point
      ("c", 2L, 4L), ("c", 2L, 4L))                 // identical pair folds
      .toDF("k", "s", "e")
    val got = Graft.peakConcurrency(iv, "k", "s", "e")
      .as[(String, Long, Long)].collect().toSet
    // "a" peaks at 2 first reached at t=3 (also 2 at t=6 — min wins)
    assert(got == Set(("a", 2L, 3L), ("b", 1L, 0L), ("c", 2L, 2L)), got)
  }

  test("ewmaHalf: exact halving recurrence, per-key isolation, guard fires") {
    // k=a: 4, 8, 6 -> e = 4, 6, 6  (exact); k=b: 10 -> 10
    val df = Seq(("a", 1L, 4L), ("a", 2L, 8L), ("a", 3L, 6L),
      ("b", 1L, 10L)).toDF("k", "t", "v")
    val got = Graft.ewmaHalf(df, $"k", Seq($"t"), $"v")
      .select($"k", $"t", $"ewma_num", $"ewma_den_log2", $"ewma_permille")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // f_t = x1 + sum x_i 2^(i-2): a -> 4, 12, 24; e = f/2^(t-1)
    assert(got == Set(
      ("a", 1L, 4L, 0L, 4000L),
      ("a", 2L, 12L, 1L, 6000L),
      ("a", 3L, 24L, 2L, 6000L),
      ("b", 1L, 10L, 0L, 10000L)), got)
    // non-integer permille floors: 4 then 5 -> (4+5)/2 = 4.5 -> 4500
    val half = Graft.ewmaHalf(
        Seq(("c", 1L, 4L), ("c", 2L, 5L)).toDF("k", "t", "v"),
        $"k", Seq($"t"), $"v")
      .filter($"t" === 2).select($"ewma_permille").as[Long].head()
    assert(half == 4500L)
    // the 45-row integer-width guard aborts at action time
    val long = Seq.tabulate(46)(i => ("d", i.toLong, 1L)).toDF("k", "t", "v")
    assertThrows[Throwable] {
      Graft.ewmaHalf(long, $"k", Seq($"t"), $"v").collect()
    }
  }

  test("in-plan guards: bad input still fails, single scan, message intact") {
    // r15: validation moved from a separate require(filter.isEmpty)
    // pass INTO the operator's own projection (raise_error) — the
    // input is read once, and the job still aborts before emitting a
    // single result row. These cases pin the abort + message.
    def failsWith(msg: String)(action: => Unit): Unit = {
      val ex = intercept[Throwable](action)
      def msgs(t: Throwable): List[String] = if (t == null) Nil
        else Option(t.getMessage).toList ::: msgs(t.getCause)
      assert(msgs(ex).exists(_.contains(msg)),
        s"expected '$msg' in failure chain, got: $ex")
    }
    val inverted = Seq(("x", 5L, 4L)).toDF("k", "s", "e")
    failsWith("null or inverted interval") {
      Graft.peakConcurrency(inverted, "k", "s", "e").collect()
    }
    failsWith("null or inverted interval") {
      Graft.intervalCoverage(inverted, "k", "s", "e").collect()
    }
    failsWith("hdrBuckets needs values >= 1 and weights >= 0") {
      Graft.hdrBuckets(Seq(("x", 0L)).toDF("k", "v"), "k", $"v").collect()
    }
    // temporalReach's guard rides the EAGER checkpoint, so bad input
    // fails at construction (no collect needed)
    failsWith("null or uncastable event time") {
      Graft.temporalReach(
        Seq((1L, 2L, None: Option[Long])).toDF("src", "dst", "t"),
        Seq(1L).toDF("n"), 0L, 2)
    }
  }

  test("partitioned checkpoint: declared hash partitioning survives, join plans zero exchange") {
    // the severed-graph-loop primitive: a plain repartition+
    // localCheckpoint reports UnknownPartitioning under AQE (Spark
    // 4.1), so every severed round re-exchanges the edge list; the
    // graftshim checkpoint declares the HashPartitioning it applied
    val nPart = spark.sessionState.conf.numShufflePartitions
    val edges = spark.range(0, 5000)
      .select(($"id" % 97).as("src"), ($"id" % 89).as("dst"))
    val plain = edges.repartition(nPart, $"src").localCheckpoint()
    assert(plain.queryExecution.executedPlan.outputPartitioning.toString
      .contains("UnknownPartitioning"),
      "plain localCheckpoint now preserves partitioning — " +
        "the declaring checkpoint may be droppable (re-measure)")
    val e = org.apache.spark.sql.graftshim.PartitionedCheckpoint
      .localCheckpointHashPartitioned(edges, "src")
    assert(e.queryExecution.executedPlan.outputPartitioning.toString
      .toLowerCase.startsWith("hashpartitioning"),
      e.queryExecution.executedPlan.outputPartitioning.toString)
    val nodes = org.apache.spark.sql.graftshim.PartitionedCheckpoint
      .localCheckpointHashPartitioned(
        e.select($"src".as("node")).distinct(), "node")
    // one severed round: edge-probe join on the declared keys must
    // plan NO exchange on either checkpointed side (the only exchange
    // allowed is the node-sized partial-agg fold)
    val round = e
      .join(nodes.withColumnRenamed("node", "src").hint("shuffle_hash"),
        Seq("src"))
      .groupBy($"dst").agg(count(lit(1)).as("deg"))
    val plan = round.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([a-z]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges == List("dst"),
      s"expected only the dst agg fold exchange, got $exchanges:\n$plan")
    // and the values are untouched by the declaration
    assert(round.agg(sum($"deg")).as[Long].head() == 5000L)
  }

  test("counted checkpoint returns the true row count; partitioning-preserving views elide re-partitioning") {
    // r21: the loops' convergence probes ride the eager checkpoint's
    // own count (the counted checkpoint) — the count must be the frame's
    // exact row count, with the same partitioning declaration
    val nPart = spark.sessionState.conf.numShufflePartitions
    val edges = spark.range(0, 4000)
      .select(($"id" % 83).as("src"), ($"id" % 79).as("dst"),
        ($"id" % 3 === 0).cast("int").as("st"))
    val (ck, n) = org.apache.spark.sql.graftshim.PartitionedCheckpoint
      .localCheckpointHashPartitionedCounted(edges, "src")
    assert(n == 4000L, s"counted checkpoint reported $n rows")
    assert(n == ck.count())
    assert(ck.queryExecution.executedPlan.outputPartitioning.toString
      .toLowerCase.startsWith("hashpartitioning"))
    // the q119 prepared-edges contract: a filter/projection over the
    // declared-partition checkpoint keeps the partitioning, so a
    // re-partition on the same key/count is ELIDED (zero Exchange)
    // and a groupBy on the key aggregates exchange-free
    val view = ck.filter($"st" === 1).select($"src", $"dst")
    val rep = view.repartition(nPart, view("src"))
    assert(!rep.queryExecution.executedPlan.toString.contains("Exchange"),
      "repartition over a partitioning-preserving checkpoint view " +
        "planned an Exchange — the prepared-edges seam lost its " +
        "zero-shuffle property:\n" +
        rep.queryExecution.executedPlan.toString)
    val agg = view.groupBy($"src").agg(count(lit(1)))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "groupBy over a partitioning-preserving checkpoint view " +
        "planned an Exchange")
  }

  test("hdrQuantiles: exact small buckets, log bucket lower bounds, nearest rank") {
    // subBits=3: values < 16 are exact singleton buckets; 20 -> b=4,
    // width 2, lo=20; 100 -> b=6, width 8, lo=96
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 20L), ("a", 100L))
      .toDF("k", "v")
    val got = Graft.hdrQuantiles(df, "k", $"v", Seq(500, 990), subBits = 3)
      .as[(String, Long, Long)].collect().toSet
    // p500: cum>=2.5 first at lo=3 (the true median); p990: cum=5 at
    // lo=96 (true 100, inside the width-8 bucket)
    assert(got == Set(("a", 500L, 3L), ("a", 990L, 96L)), got)
    // positive-domain contract — in-plan guard since r15, so the
    // abort surfaces at action time (the in-plan-guards test pins the
    // message; here just that a violation cannot produce rows)
    assertThrows[Throwable] {
      Graft.hdrQuantiles(Seq(("a", 0L)).toDF("k", "v"), "k", $"v", Seq(500))
        .collect()
    }
  }

  test("round-14 ops are empty-input safe") {
    val e0 = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graft.labelPropagation(e0, 2).isEmpty)
    assert(Graft.kCore(e0, 2).isEmpty)
    val iv0 = Seq.empty[(String, Long, Long)].toDF("k", "s", "e")
    assert(Graft.peakConcurrency(iv0, "k", "s", "e").isEmpty)
    assert(Graft.intervalCoverage(iv0, "k", "s", "e").isEmpty)
    val ev0 = Seq.empty[(String, Long, String)].toDF("u", "t", "s")
    assert(Graft.transitionMatrix(ev0, $"u", Seq($"t"), $"s").isEmpty)
    assert(Graft.pathNgrams(ev0, $"u", Seq($"t"), $"s", 2, 5).isEmpty)
    assert(Graft.hdrQuantiles(iv0, "k", $"e", Seq(500)).isEmpty)
    // temporalReach with no events still returns the seeds at startT
    val te0 = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "t")
    val arr = Graft.temporalReach(te0, Seq(9L).toDF("n"), 42L, 2)
      .as[(Long, Long)].collect().toList
    assert(arr == List((9L, 42L)), arr)
  }

  test("graph/sequence ops are partitioning-invariant (repartition(7) == original)") {
    val e = Seq((1L, 3L), (2L, 3L), (5L, 3L), (2L, 4L), (5L, 4L),
      (3L, 1L), (3L, 6L), (4L, 6L), (2L, 6L), (6L, 1L), (1L, 2L))
      .toDF("src", "dst")
    def set(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    assert(set(Graft.labelPropagation(e.repartition(7), 3)) ==
      set(Graft.labelPropagation(e, 3)))
    assert(set(Graft.kCore(e.unionAll(
        e.select($"dst".as("src"), $"src".as("dst"))).repartition(7), 2)) ==
      set(Graft.kCore(e.unionAll(
        e.select($"dst".as("src"), $"src".as("dst"))), 2)))
    val ev = Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 1L, "y"),
      ("b", 2L, "x"), ("a", 3L, "x")).toDF("u", "t", "s")
    assert(set(Graft.transitionMatrix(ev.repartition(7), $"u", Seq($"t"), $"s")) ==
      set(Graft.transitionMatrix(ev, $"u", Seq($"t"), $"s")))
    assert(Graft.pathNgrams(ev.repartition(7), $"u", Seq($"t"), $"s", 2, 5)
        .collect().toSeq ==
      Graft.pathNgrams(ev, $"u", Seq($"t"), $"s", 2, 5).collect().toSeq)
    val iv = Seq(("k", 1L, 5L), ("k", 3L, 7L), ("k", 9L, 9L)).toDF("k", "s", "e")
    assert(set(Graft.hdrQuantiles(iv.repartition(7), "k", $"e", Seq(500, 990))) ==
      set(Graft.hdrQuantiles(iv, "k", $"e", Seq(500, 990))))
    val te = Seq((1L, 2L, 10L), (2L, 3L, 15L), (1L, 3L, 4L))
      .toDF("src", "dst", "t")
    assert(set(Graft.temporalReach(te.repartition(7), Seq(1L).toDF("n"), 5L, 3)) ==
      set(Graft.temporalReach(te, Seq(1L).toDF("n"), 5L, 3)))
  }

  test("temporalReach: time-backwards paths never transmit; min arrival wins") {
    // 1 -(t=10)-> 2 -(t=5)-> 3 : static BFS reaches 3, temporal must
    // NOT (the 2->3 contact happened before 2 was affected);
    // 1 -(t=12)-> 4 and 1 -(t=11)-> 4 : arrival at 4 is the min, 11;
    // 4 -(t=11)-> 5 : same-time transmission DOES count (t >= arr)
    val e = Seq((1L, 2L, 10L), (2L, 3L, 5L), (1L, 4L, 12L),
      (1L, 4L, 11L), (4L, 5L, 11L)).toDF("src", "dst", "t")
    val seeds = Seq(1L).toDF("node")
    val got = Graft.temporalReach(e, seeds, startT = 0L, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 10L, 4L -> 11L, 5L -> 11L), got)
    // and the static BFS indeed over-reports on the same graph — the
    // contrast that justifies the operator
    val static = Graft.bfsHops(e.select($"src", $"dst"), seeds, 3)
      .as[(Long, Long)].collect().toMap
    assert(static.contains(3L), static)
  }

  test("hdrMerge: merged split sketches equal the from-scratch sketch") {
    val df = Seq.tabulate(200)(i => ("k" + (i % 3), (i % 37) + 1L))
      .toDF("k", "v")
    val whole = Graft.hdrBuckets(df, "k", $"v")
      .as[(String, Long, Long)].collect().toSet
    val merged = Graft.hdrMerge(
        Graft.hdrBuckets(df.filter($"v" <= 20), "k", $"v"),
        Graft.hdrBuckets(df.filter($"v" > 20), "k", $"v"))
      .as[(String, Long, Long)].collect().toSet
    assert(merged == whole, s"merge != rebuild:\n$merged\n$whole")
    // and the extracted quantiles agree too
    val qw = Graft.hdrQuantilesFromBuckets(
      Graft.hdrBuckets(df, "k", $"v"), "k", Seq(500, 990))
      .as[(String, Long, Long)].collect().toSet
    val qm = Graft.hdrQuantilesFromBuckets(Graft.hdrMerge(
        Graft.hdrBuckets(df.filter($"v" <= 20), "k", $"v"),
        Graft.hdrBuckets(df.filter($"v" > 20), "k", $"v")),
      "k", Seq(500, 990)).as[(String, Long, Long)].collect().toSet
    assert(qm == qw, s"$qm != $qw")
  }

  test("transitionMatrix: per-key pairs, exact permille, no cross-key pair") {
    // user a: x->y->y->z ; user b: y->x — pairs never cross users
    val ev = Seq(
      ("a", 1L, "x"), ("a", 2L, "y"), ("a", 3L, "y"), ("a", 4L, "z"),
      ("b", 1L, "y"), ("b", 2L, "x"))
      .toDF("u", "t", "s")
    val got = Graft.transitionMatrix(ev, $"u", Seq($"t"), $"s")
      .as[(String, String, Long, Long)].collect().toSet
    // from x: 1 pair (x->y) = 1000; from y: y->y 1, y->z 1, y->x 1
    // -> each (1000*1) div 3 = 333
    assert(got == Set(
      ("x", "y", 1L, 1000L),
      ("y", "y", 1L, 333L), ("y", "z", 1L, 333L), ("y", "x", 1L, 333L)),
      got)
  }

  test("pathNgrams: windows stay within key, tie-break lexicographic, limit k") {
    // user a: v v c p -> trigrams v>v>c, v>c>p ; user b: v v c ->
    // v>v>c (counts: v>v>c 2, v>c>p 1); k=1 keeps the count winner
    val ev = Seq(
      ("a", 1L, "v"), ("a", 2L, "v"), ("a", 3L, "c"), ("a", 4L, "p"),
      ("b", 1L, "v"), ("b", 2L, "v"), ("b", 3L, "c"))
      .toDF("u", "t", "s")
    val all = Graft.pathNgrams(ev, $"u", Seq($"t"), $"s", n = 3, k = 10)
      .as[(String, Long)].collect().toList
    assert(all == List(("v>v>c", 2L), ("v>c>p", 1L)), all)
    val top1 = Graft.pathNgrams(ev, $"u", Seq($"t"), $"s", n = 3, k = 1)
      .as[(String, Long)].collect().toList
    assert(top1 == List(("v>v>c", 2L)), top1)
    // bigrams tie at 1 except v>v (2) and v>c (2): lexicographic
    // tie-break between the two 2-counts puts v>c first
    val bi = Graft.pathNgrams(ev, $"u", Seq($"t"), $"s", n = 2, k = 2)
      .as[(String, Long)].collect().toList
    assert(bi == List(("v>c", 2L), ("v>v", 2L)), bi)
  }

  test("hits: mutual reinforcement replay-exact on a toy bipartite graph") {
    // directed: h1 -> {a1, a2}, h2 -> {a1}
    val edges = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1"))
      .toDF("src", "dst")
    val got = Graft.hits(edges, iters = 2)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // hand replay (e6 fixed point, max-normalized, truncating div):
    // iter1: a_raw a1=2e6 a2=1e6 -> a1=1e6 a2=500000;
    //        h_raw h1=1.5e6 h2=1e6 -> h1=1e6 h2=666666
    // iter2: a_raw a1=1666666 a2=1e6 -> a1=1e6 a2=600000;
    //        h_raw h1=1.6e6 h2=1e6 -> h1=1e6 h2=625000
    assert(got == Map(
      "h1" -> ((1000000L, 0L)), "h2" -> ((625000L, 0L)),
      "a1" -> ((0L, 1000000L)), "a2" -> ((0L, 600000L))), got)
  }

  test("pageRankRounds: warm start composes with the cold run; new nodes start cold") {
    // the warm-start path q119 runs: a src-partitioned edge checkpoint
    // entered through pageRankRounds with a prior rank vector
    def warmRounds(edges: org.apache.spark.sql.DataFrame,
        prior: org.apache.spark.sql.DataFrame, iters: Int) =
      Graft.pageRankRounds(
        org.apache.spark.sql.graftshim.PartitionedCheckpoint
          .localCheckpointHashPartitioned(edges, "src"),
        Some(prior), iters, dampingPct = 85)
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    // 1 warm round from the 2-round fixed point == 3 cold rounds
    val warm = warmRounds(edges, Graft.pageRank(edges, iters = 2), iters = 1)
      .as[(String, Long)].collect().toMap
    val cold3 = Graft.pageRank(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    assert(warm == cold3, s"warm $warm != cold $cold3")
    // batch adds c-d: d is new to the graph and must start at 1e9;
    // its first warm rank is teleport + 85% of c's carried rank div 2
    val edges2 = edges.unionAll(Seq(("c", "d"), ("d", "c")).toDF("src", "dst"))
    val init = Graft.pageRank(edges, iters = 2)
      .as[(String, Long)].collect().toMap
    val w2 = warmRounds(edges2, Graft.pageRank(edges, iters = 2), iters = 1)
      .as[(String, Long)].collect().toMap
    assert(w2.keySet == Set("a", "b", "c", "d"))
    assert(w2("d") == 150000000L + 85L * (init("c") / 2) / 100L, w2)
  }

  test("frequentTriples: A-priori pruning equals brute force on toy baskets") {
    val bi = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, "b"), (3L, "c"),
      (4L, "a"), (4L, "b"), (4L, "d"),
      (5L, "x"), (5L, "y"), (5L, "z")).toDF("b", "i")
    val got = Graft.frequentTriples(bi, "b", "i", minSupport = 3)
      .as[(String, String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", "c", 3L)), got)
    // minSupport 1 degenerates to the brute-force triple census
    val all = Graft.frequentTriples(bi, "b", "i", minSupport = 1)
      .as[(String, String, String, Long)].collect().toSet
    assert(all == Set(
      ("a", "b", "c", 3L), ("a", "b", "d", 2L), ("a", "c", "d", 1L),
      ("b", "c", "d", 1L), ("x", "y", "z", 1L)), all)
  }

  test("snapshotHistory: interval compression with change detection") {
    val snaps = Seq(
      ("k1", 1, "A"), ("k1", 2, "A"), ("k1", 3, "B"), ("k1", 4, "B"),
      ("k1", 5, "A"), ("k2", 1, "X")).toDF("k", "d", "v")
    val got = Graft.snapshotHistory(snaps, "k", "d", Seq("v"))
      .as[(String, String, Long, Int, Option[Int])].collect().toSet
    assert(got == Set(
      ("k1", "A", 1L, 1, Some(3)), ("k1", "B", 2L, 3, Some(5)),
      ("k1", "A", 3L, 5, None), ("k2", "X", 1L, 1, None)), got)
  }

  test("intervalCoverage: overlap merge, adjacency merge, gap split") {
    val iv = Seq(
      ("a", 1L, 5L), ("a", 3L, 7L),   // overlap -> [1,7]
      ("a", 9L, 10L), ("a", 11L, 12L), // 9 > 7+1 splits; 11 <= 10+1 merges
      ("b", 5L, 5L))
      .toDF("k", "s", "e")
    val got = Graft.intervalCoverage(iv, "k", "s", "e")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 2L, 11L), ("b", 1L, 1L)), got)
  }

  test("linkPredict scores non-adjacent pairs by common neighbors, hub cap prunes intermediaries") {
    // triangle-plus: (1,4) is the only non-adjacent pair, via z in {2,3}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graft.linkPredict(edges, maxHubDegree = 64, k = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // deg(2) = deg(3) = 3 -> ra = 2 * (1e12 div 3)
    assert(got == Seq((1L, 4L, 2L, 2L * (1000000000000L / 3L))), got)

    // star: all leaf pairs go through hub 9 (degree 4) ...
    val star = Seq((5L, 9L), (6L, 9L), (7L, 9L), (8L, 9L)).toDF("src", "dst")
    val open = Graft.linkPredict(star, maxHubDegree = 64, k = 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(open.length == 6 && open.forall(_._4 == 1000000000000L / 4L), open.toSeq)
    // ... and a cap below the hub degree prunes every candidate
    assert(Graft.linkPredict(star, maxHubDegree = 3, k = 10).isEmpty)
  }

  test("epochMix replicates floor(w) + deterministic fractional copy; guard aborts on runaway weights") {
    val df = spark.range(0, 200).toDF("id")
    val out = Graft.epochMix(df, lit(2.25), "id")
      .groupBy($"id").agg(count(lit(1)).as("n"))
    val counts = out.as[(Long, Long)].collect().toMap
    assert(counts.size == 200 && counts.values.forall(n => n == 2 || n == 3))
    // the fractional copy is the md5-bucket coin, re-derivable exactly
    val expect3 = df.withColumn("b", conv(substring(md5(concat(lit("epoch:"),
        $"id".cast("string")).cast("binary")), 1, 4), 16, 10).cast("long"))
      .filter($"b" < 16384).select($"id").as[Long].collect().toSet
    assert(counts.filter(_._2 == 3).keySet == expect3)
    // re-run is byte-identical (no rand anywhere)
    val again = Graft.epochMix(df, lit(2.25), "id")
      .groupBy($"id").agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    assert(again == counts)
    // whole weights replicate exactly; zero drops; runaway weight aborts
    assert(Graft.epochMix(df, lit(1.0), "id").count() == 200)
    assert(Graft.epochMix(df, lit(0.0), "id").isEmpty)
    val ex = intercept[Exception] {
      Graft.epochMix(df, lit(1000.0), "id").count()
    }
    assert(ex.getMessage.contains("epochMix: weight outside"), ex.getMessage)
  }
}
