package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TextDedup.tokens

/** Text-analysis operators over `documents` (builder-prompt first-class
  * components; SURVEY.md §2b "text analysis"): language ID, quality
  * scoring, token statistics, term frequency, winnowing fingerprints.
  * All higher-order-function expressions — one narrow pass per doc, no
  * UDFs; the only shuffles are the final aggregations/sorts.
  */
object TextAnalysis {

  /** Tiny public stopword profiles for the n-gram/stopword language-ID
    * heuristic (the corpus's `lang` column is synthetic ground truth;
    * the heuristic is the operator under test, not a trained model). */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "un", "une", "que", "pour"),
    "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "es", "por", "con"),
    "zh" -> Seq("的", "是", "了", "在", "我",
      "有", "和", "就", "不", "人"))

  /** t01 — language ID: score = stopword hits per profile, argmax wins
    * (ties resolve to the lexicographically last code via struct-max —
    * deterministic). One pass, no shuffle beyond the output sort. */
  def t01LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ts = tokens($"text")
    val scored = profiles.map { case (code, words) =>
      struct(
        size(filter(ts, t => array_contains(lit(words.toArray), t))).as("score"),
        lit(code).as("code"))
    }
    val best = array_max(array(scored: _*))
    Tables(s, dir, "documents")
      .select($"doc_id", $"lang",
        // zero stopword hits = no evidence -> 'und', not an arbitrary code
        when(best.getField("score") === 0, "und")
          .otherwise(best.getField("code")).as("predicted"),
        best.getField("score").cast("long").as("hits"))
      .orderBy($"doc_id")
  }

  /** t02 — quality scoring: token count, average word length,
    * punctuation ratio, stopword ratio, bucketed verdict. Every ratio is
    * an explicit double division rounded to 4 — oracle-exact. */
  def t02Quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ts = tokens($"text")
    val nTokens = size(ts).cast("long")
    val noSpace = length(regexp_replace($"text", " ", "")).cast("double")
    val punct = (length($"text") -
      length(regexp_replace($"text", "[.,!?;:]", ""))).cast("double")
    val stopHits = size(filter(ts,
      t => array_contains(lit(profiles.head._2.toArray), t))).cast("double")
    Tables(s, dir, "documents")
      .select($"doc_id", nTokens.as("n_tokens"),
        round(noSpace / nTokens, 4).as("avg_word_len"),
        round(punct / length($"text"), 4).as("punct_ratio"),
        round(stopHits / nTokens, 4).as("stopword_ratio"),
        when(nTokens.between(10, 1000), "good").otherwise("low").as("quality"))
      .orderBy($"doc_id")
  }

  /** t03 — per-doc token statistics: counts, distincts, type-token
    * ratio. */
  def t03TokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ts = tokens($"text")
    Tables(s, dir, "documents")
      .select($"doc_id",
        size(ts).cast("long").as("n_tokens"),
        size(array_distinct(ts)).cast("long").as("n_distinct"),
        round(size(array_distinct(ts)).cast("double") / size(ts), 4).as("ttr"))
      .orderBy($"doc_id")
  }

  /** t04 — corpus term frequency, top 20. explode -> partial-combined
    * hash agg: the shuffle carries one row per distinct term per task,
    * not one per token — at 100 TB this is the only viable shape. */
  def t04TermFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(explode(tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token")
      .limit(20)
  }

  /** t06 — token counting two ways (builder prompt: "whitespace + a
    * BPE-ish regex"): the whitespace count and a GPT-2-style-lite
    * pretokenizer regex (letter runs / digit runs / punctuation runs,
    * each with optional leading space) via regexp_extract_all — both
    * from [[graft.Graft.tokenCounts]], which this binds. The pattern
    * uses only portable constructs so Java regex (Spark) and RE2
    * (DuckDB oracle) agree. */
  def t06BpeTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.tokenCounts(Tables(s, dir, "documents"), "text")
      .select($"doc_id", $"n_ws_tokens", $"n_bpe_tokens")
      .orderBy($"doc_id")
  }

  /** Winnowing fingerprint set (Schleimer et al., SIGMOD'03): rolling
    * md5 char-8-gram hashes, min of every 4-hash window, distinct.
    * Texts too short for a full window (< 11 chars: len-7 positions
    * < 4) yield an empty array — guarded in-expression like
    * TextDedup.shingles, because an unguarded sequence(0, negative) is
    * DESCENDING and its index-0 element_at throws under ANSI mode.
    * Callers on a hot path should STILL pre-filter
    * `length(text) >= 11` on the raw column: a size(h)-based filter
    * would push below the project and evaluate the rolling-hash array
    * twice per row. The window pass binds the hash array via the
    * 1-element transform wrapper (bind-once rule), and takes window
    * minima with `least()` over ordinal reads — the
    * array_min(slice(...)) spelling allocated a 4-element array per
    * window position (~1.4M per sf0.1 run). md5 (hex string) rather
    * than xxhash64 so both Spark and DuckDB compute identical values
    * from the same UTF-8 bytes — what makes t05/t07 value-checkable.
    * Fingerprint selection is hash-agnostic, so winnowing semantics
    * are unchanged. */
  def winnowFps(text: Column): Column = {
    val hashes = transform(
      sequence(lit(1), greatest(length(text) - 7, lit(0))),
      i => md5(substring(text, i, lit(8)).cast("binary")))
    element_at(transform(array(hashes), h =>
      when(size(h) < 4, array().cast("array<string>"))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(h) - 4),
          w => least(element_at(h, w + 1), element_at(h, w + 2),
            element_at(h, w + 3), element_at(h, w + 4)))))), 1)
  }

  /** t05 — per-doc fingerprint count + global min over [[winnowFps]]
    * (the full set feeds copy-detection joins — see t07). */
  def t05Winnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.spread(Tables(s, dir, "documents"))
      .filter(length($"text") >= 11)
      .select($"doc_id", winnowFps($"text").as("fps"))
      .select($"doc_id", size($"fps").cast("long").as("n_fingerprints"),
        array_min($"fps").as("min_fingerprint"))
      .orderBy($"doc_id")
  }

  /** The t08 split bucket: first 16 bits of md5(id) as a long in
    * [0, 65536) — shared by t08 (the assignment itself) and d12 (the
    * cross-split leakage audit, which must mirror the assignment
    * EXACTLY or it audits splits nobody shipped). */
  private[graft] def hashSplitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")),
      1, 4), 16, 10).cast("long")

  /** t08 — deterministic train/val/test assignment by content-id hash
    * (80/10/10): bucket = first 16 bits of md5(doc_id). The pattern a
    * training pipeline needs instead of `sample()`: stable under any
    * repartitioning or re-run (sample() draws per-partition and changes
    * with layout), reproducible across engines (md5 — value-checked
    * against DuckDB), and joinable (the same doc always lands in the
    * same split everywhere it appears). */
  def t08HashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.hashSplit(
        Tables(s, dir, "documents").select($"doc_id"), "doc_id")
      .orderBy($"doc_id")
  }

  /** t07 — copy-detection pairs by winnow-fingerprint overlap: docs
    * sharing >= 50 fingerprints (the corpus's planted near-dups share
    * 60-190; unrelated docs never exceed ~46 — a dead zone either
    * side of the threshold). Third dedup family next to MinHash-LSH
    * (d02/d06) and SimHash (d07), and the only one whose candidate
    * structure is value-checkable end-to-end (md5 fingerprints are
    * oracle-reproducible). Same join-free pairing as the LSH ops: one
    * groupBy per fingerprint with a bucket cap, pairs unrolled by HOF,
    * shared-count aggregated per pair — pair multiplicity across
    * fingerprints IS the overlap count, so no distinct.
    *
    * The md5 hex fingerprints are folded to 8-byte `xxhash64` longs in
    * the projection right after the explode, BEFORE any exchange: the
    * query's output is only (id_a, id_b, shared), so the fold changes
    * pairs only on an xxhash64 collision among ~10^6 fingerprints
    * (P < 10^-7) and the DuckDB oracle (which pairs on the md5 strings
    * themselves) still matches value-for-value. Both shuffles — the
    * per-fingerprint groupBy and the pair count — now carry/key on
    * longs instead of 32-char strings: round-2 measured this exact
    * query at 14.5 s with string keys (30 % of the whole bench); the
    * fold is what makes it scale-safe at 100 TB, where fingerprint
    * traffic dominates. */
  def t07WinnowPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.spread(Tables(s, dir, "documents"))
      .filter(length($"text") >= 11)
      .select($"doc_id", explode(winnowFps($"text")).as("fp_md5"))
      .select($"doc_id", xxhash64($"fp_md5").as("fp"))
    e.groupBy($"fp")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .filter(size($"ds").between(2, 64))
      .select(explode(TextDedup.unrollPairs(col("ds"),
        (a, b) => struct(a.as("id_a"), b.as("id_b")))).as("p"))
      .select($"p.id_a".as("id_a"), $"p.id_b".as("id_b"))
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("shared"))
      .filter($"shared" >= 50)
      .orderBy($"id_a", $"id_b")
  }

  /** t09 — benchmark contamination detection (the decontamination step
    * an LLM training pipeline runs before training: drop/flag corpus
    * documents that overlap an evaluation set). Benchmark = the
    * deterministic `doc_id % 100 == 7` slice standing in for an eval
    * suite; a corpus doc is contaminated if it shares >= 1 distinct
    * word-8-gram with ANY benchmark doc (8 is the classic
    * contamination n-gram order — long enough that chance overlap is
    * negligible, short enough to catch partial copies).
    *
    * Scale shape: grams fold to `xxhash64` longs before any exchange
    * (same discipline as t07 — the gram STRING never shuffles). In
    * production the benchmark side is an eval suite — thousands of
    * docs, bounded — and Spark broadcasts it, so the corpus streams
    * once with no shuffle. HERE the benchmark is a 1% corpus slice,
    * i.e. proportional to the input, so there is deliberately NO
    * `broadcast()` hint: a forced broadcast cannot be demoted and
    * would OOM the driver when the stand-in benchmark grows with the
    * corpus; AQE picks broadcast at runtime whenever the built side is
    * actually small (asserted in TextAnalysisSpec) and degrades to a
    * shuffle join beyond that. The oracle brute-forces the same join
    * on the gram strings themselves (collision odds 2^-64 per gram
    * pair). */
  def t09Contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.spread(Tables(s, dir, "documents"))
    graft.Graft.contamination(
        corpus = docs.filter($"doc_id" % 100 =!= 7),
        benchmark = docs.filter($"doc_id" % 100 === 7),
        textCol = "text", idCol = "doc_id")
      .orderBy($"doc_id")
  }

  /** t11 — sequence packing assignment (the step that turns a cleaned
    * corpus into fixed-token-budget training sequences): greedy
    * contiguous fill — each doc lands in bin
    * `floor(tokens_before_it_in_shard / capacity)` for capacity 512.
    *
    * Scale shape: packing is inherently sequential, so it is SHARDED —
    * the running sum windows over `doc_id % 32` shards, each shard
    * packs independently, and the window shuffle partitions by shard
    * (at 100 TB: one shard per output file group; a single global
    * window would serialize the corpus through one task). Docs longer
    * than the capacity spill over bin boundaries by construction
    * (greedy fill does not split or reorder documents — the industry
    * default; re-chunking oversized docs is an upstream op). */
  def t11SequencePack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.packSequences(
        Tables(s, dir, "documents")
          .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens")),
        idCol = "doc_id", tokensCol = "n_tokens",
        capacity = 512, shards = 32)
      .select($"doc_id", $"shard", $"n_tokens", $"bin")
      .orderBy($"doc_id")
  }

  /** The reason expression behind [[graft.Graft.qualityFilter]] (and
    * the Curation pipelines' keep filter). `null_text`
    * first: under ANSI null semantics every later comparison on a
    * null text is null (not matched) and an unguarded chain would
    * fall through to 'keep' — the opposite of what a quality filter
    * is for. */
  private[graft] def qualityReason(text: Column, minTokens: Int,
      maxTokens: Int, maxDupRatio: Double): Column = {
    val nTokens = size(tokens(text)).cast("long")
    val total = greatest(size(tokens(text)) - 2, lit(0))
    val distinctG = size(TextDedup.shingles(text, 3))
    val dupRatio = when(total === 0, 0.0)
      .otherwise(lit(1.0) - distinctG.cast("double") / total)
    when(text.isNull, "null_text")
      .when(nTokens < minTokens, "too_short")
      .when(nTokens > maxTokens, "too_long")
      .when(dupRatio > maxDupRatio, "repetitive")
      .otherwise("keep")
  }

  /** t12 — composed quality FILTER (the keep/drop decision a pipeline
    * actually executes after scoring): first failing rule wins, in a
    * fixed precedence — too_short (< 10 tokens), too_long (> 1000),
    * repetitive (duplicate-3-gram fraction > 0.2), else keep. All
    * comparisons are on exact integer-derived doubles (no rounding
    * before the threshold), so the DuckDB oracle decides identically
    * at every boundary. One narrow pass; composition stays inside one
    * projection — scoring signals are never materialized separately.
    * The filter is [[graft.Graft.qualityFilter]], which this binds. */
  def t12QualityFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.qualityFilter(Tables.spread(Tables(s, dir, "documents")), "text")
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"),
        $"reason", $"keep")
      .orderBy($"doc_id")
  }

  /** t10 — repetition ratio (Gopher-style quality heuristic: heavily
    * repetitive documents are low-quality training data). Per doc:
    * total word-3-grams, distinct word-3-grams, and the duplicate
    * fraction 1 - distinct/total. One narrow pass, no shuffle beyond
    * the output sort; the gram arrays never leave their projection. */
  def t10RepetitionRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val total = greatest(size(tokens($"text")) - 2, lit(0)).cast("long")
    val distinctG = size(TextDedup.shingles($"text", 3)).cast("long")
    // spread: shingling is the CPU-heavy single-split shape (PERF.md
    // lesson 6), same as t05/t07/t09/d04
    Tables.spread(Tables(s, dir, "documents"))
      .select($"doc_id", total.as("n_grams"), distinctG.as("n_distinct"),
        when(total === 0, 0.0)
          .otherwise(round(lit(1.0) - distinctG.cast("double") / total, 4))
          .as("dup_ratio"))
      .orderBy($"doc_id")
  }

  /** t13 — stratified (per-language) deterministic sampling: the quota
    * step of corpus balancing — keep the QUOTA "first" docs per lang
    * where "first" is an md5 order on a salted doc id, so the sample is
    * reproducible, uncorrelated with ingestion order, and independent
    * of t08's train/val/test hash (different salt = independent hash).
    *
    * Scale shape: one shuffle partitioned by lang, ranking via
    * row_number — and Catalyst inserts WindowGroupLimit on BOTH sides
    * of the exchange (asserted in TextAnalysisSpec), so every map task
    * pre-truncates to the quota per lang before shuffling: the
    * exchange carries at most |langs| x quota x tasks rows, never the
    * corpus, which is exactly the pre-filter a hand-rolled quota
    * sampler would need at 100 TB. Group skew is therefore bounded by
    * quota, not group size. */
  def t13Stratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.stratifiedSample(
        Tables(s, dir, "documents").select($"doc_id", $"lang"),
        "lang", "doc_id", quota = 20)
      .orderBy($"doc_id")
  }

  /** t14 — BM25 relevance scoring (k1=1.2, b=0.75) of the corpus
    * against a fixed term set, top-50 by score: the retrieval kernel
    * behind contamination-by-retrieval checks and data curation by
    * query relevance.
    *
    * Two passes over the token projection — pass 1 aggregates the
    * corpus stats BM25 needs (N, avgdl, per-term document frequency)
    * into ONE row that broadcasts; pass 2 scores each doc against the
    * broadcast stats and TakeOrdered's the top-k. No collect(): the
    * stats row stays a DataFrame in the same plan (the q14 scalar-
    * subquery shape). At 100 TB the stats pass is a cheap columnar
    * aggregate and the score pass streams once; the only global
    * operator is top-k, which is per-partition-heap + driver merge,
    * not a sort. Scores round to 4 before ranking; doc_id breaks
    * rank-boundary ties so the top-50 SET is engine-independent. */
  def t14Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Top50(s, dir).orderBy($"doc_id")
  }

  /** The t14 scoring pipeline up to the ranked top-50 (doc_id, score)
    * — shared with s06, whose hybrid rerank consumes the lexical head
    * (factored so the two queries cannot drift apart on the BM25
    * side); the implementation itself is [[graft.Graft.bm25Score]]. */
  private[graft] def bm25Top50(s: SparkSession, dir: String): DataFrame =
    graft.Graft.bm25Score(
      Tables.spread(Tables(s, dir, "documents")), "doc_id", "text",
      terms = Seq("spark", "window", "batch"), topK = 50)

  /** t16 — unigram negative-log-likelihood scoring (the CCNet-style
    * "perplexity" quality signal, with the corpus's own unigram model
    * standing in for the external LM): pass 1 aggregates the unigram
    * frequency table and total token count; pass 2 scores each doc as
    * the mean -ln(c(w)/N) over its tokens and buckets the corpus into
    * head/middle/tail. A real pipeline ships a pretrained LM table;
    * the two-pass join shape is identical.
    *
    * Scale shape: the frequency table is the canonical broadcast
    * dimension (a few million rows of (token, count) even for web
    * vocabularies — CCNet ships its LM to every worker the same way),
    * so the token stream joins map-side and aggregates per doc with
    * map-side combine; the one-row total crossJoins like t14's stats.
    * Bucketing compares the ROUNDED score in both engines, so the
    * decision boundary cannot flip on float-summation drift (the q26
    * lesson: drift here is ~1e-13 on values ~3.4 against a 5e-5
    * rounding grid — negligible, and identical inputs on both
    * sides). */
  /** t20 — TF-IDF document-term weights over the corpus (see
    * [[graft.Graft.tfidf]] for semantics + scale shape; this binds the
    * same implementation the facade exposes). */
  def t20Tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.tfidf(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id", $"token")
  }

  /** t22 — mixture sampling: a 160-row training draw whose language
    * composition follows a prescribed recipe (en .5 / de .25 /
    * fr .125 / es .0625 / zh .0625 — exactly-representable doubles,
    * so both engines' quota products are exact integers; the facade's
    * largest-remainder path is exercised with awkward weights in
    * GraftFacadeSpec). See [[graft.Graft.mixtureSample]]. */
  def t22MixtureSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.mixtureSample(
        Tables(s, dir, "documents").select($"doc_id", $"lang"),
        "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125,
          "es" -> 0.0625, "zh" -> 0.0625),
        n = 160)
      .select($"doc_id", $"lang", $"rk")
      .orderBy($"doc_id")
  }

  /** t21 — bigram-NLL fluency scoring over the corpus's own bigram LM
    * (see [[graft.Graft.bigramNll]] for semantics + scale shape; this
    * binds the same implementation the facade exposes). */
  def t21BigramNll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.bigramNll(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** t23 — CROSS-corpus unigram NLL: the LM trains on the even-id
    * half of the corpus and scores the odd half — the production
    * CCNet shape (curated corpus A's LM scores crawl B) that t16
    * could only approximate with a self-trained LM. OOV tokens cost
    * a flat 15 nats (explicit smoothing floor). See
    * [[graft.Graft.trainUnigramLm]] and the shipped-LM
    * `Graft.unigramNll` overload this binds. */
  def t23CrossNll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val lm = graft.Graft.trainUnigramLm(docs.filter($"doc_id" % 2 === 0), "text")
    graft.Graft.unigramNll(docs.filter($"doc_id" % 2 === 1),
        "doc_id", "text", lm, oovNll = 15.0)
      .orderBy($"doc_id")
  }

  /** t24 — cross-corpus bigram NLL over [[graft.Graft.trainBigramLm]]'s
    * shipped table; same split recipe and OOV floor as t23. */
  def t24CrossBigramNll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val lm = graft.Graft.trainBigramLm(docs.filter($"doc_id" % 2 === 0), "text")
    graft.Graft.bigramNll(docs.filter($"doc_id" % 2 === 1),
        "doc_id", "text", lm, oovNll = 15.0)
      .orderBy($"doc_id")
  }

  /** t25 — TF-IDF through the pre-materialized-tf entry point
    * ([[graft.Graft.termFrequencies]] -> [[graft.Graft.tfidfFromTf]]):
    * same values as t20 under the same oracle SQL, proving the
    * caller-owned-materialization contract end-to-end. */
  def t25TfidfFromTf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = graft.Graft.termFrequencies(
      Tables(s, dir, "documents"), "doc_id", "text")
    graft.Graft.tfidfFromTf(tf, "doc_id").orderBy($"doc_id", $"token")
  }

  def t16UnigramNll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.unigramNll(
        Tables.spread(Tables(s, dir, "documents")), "doc_id", "text")
      .select($"doc_id", $"n_tokens", $"nll",
        when($"nll" <= 3.40, "head")
          .when($"nll" <= 3.45, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  /** t17 — URL/domain statistics (the FineWeb-style curation signal:
    * corpus composition by source domain, the input to domain allow/
    * block-listing). Deterministic URLs are planted in-query on doc
    * slices (the t15 pattern — the synthetic corpus has none); the
    * operator extracts every URL's host with a group-1
    * `regexp_extract_all` (portable Java/RE2 construct) and
    * aggregates URL and document counts per domain.
    *
    * Scale shape: extract is a pure map; one partial-aggregated
    * shuffle keyed by domain (count-distinct of doc ids expands to
    * two-phase agg under the hood — at 100 TB swap for
    * approx_count_distinct as q17 demonstrates). */
  def t17Domains(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = concat($"text",
      when($"doc_id" % 4 === 0,
        concat(lit(" see https://site"), ($"doc_id" % 7).cast("string"),
          lit(".example.org/p/"), $"doc_id".cast("string"))).otherwise(lit("")),
      when($"doc_id" % 6 === 0,
        lit(" ref http://cdn.example.net/static/x")).otherwise(lit("")))
    Tables(s, dir, "documents")
      // (?i) + lower(): scheme and host are case-insensitive per RFC
      // 3986, and domain stats must aggregate 'Example.ORG' with
      // 'example.org' (the t15 case-folding lesson). The host is a
      // STRUCTURED label pattern (label ('.' label)*, labels never
      // empty) rather than a bare [a-z0-9.-]+ class: a URL at sentence
      // end like 'https://example.org.' must yield 'example.org', not
      // 'example.org.' — a swallowed trailing dot would split one
      // domain's stats into two buckets on real text.
      .select($"doc_id", explode(regexp_extract_all(planted,
        lit("(?i)https?://([a-z0-9-]+(?:\\.[a-z0-9-]+)*)"), lit(1))).as("raw"))
      .select($"doc_id", lower($"raw").as("domain"))
      .groupBy($"domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct($"doc_id").as("n_docs"))
      .orderBy($"domain")
  }

  /** t15 — PII redaction (the scrubbing pass a training pipeline runs
    * before anything else sees the text): count and mask email
    * addresses and phone-shaped numbers. The synthetic corpus contains
    * no PII, so a deterministic doc_id-derived email/phone is planted
    * in-query on a doc slice first (the established pattern of
    * building input from testdata inside the query, as the f-queries
    * build nested structs) — the redaction operator itself is general.
    *
    * Patterns use only constructs Java regex (Spark) and RE2 (DuckDB
    * oracle) interpret identically — character classes, bounded
    * repetition, no backrefs/lookaround (the t06 discipline). Spark's
    * `regexp_replace` replaces every occurrence; the oracle mirrors
    * with the 'g' flag. One narrow pass, no shuffle beyond the output
    * sort; at 100 TB this is a pure map stage that fuses into
    * whatever scan feeds it. */
  def t15Pii(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = concat($"text",
      when($"doc_id" % 3 === 0,
        concat(lit(" contact user"), $"doc_id".cast("string"),
          lit("@mail.example.com now"))).otherwise(lit("")),
      when($"doc_id" % 5 === 0,
        concat(lit(" call 555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
          lit(" today"))).otherwise(lit("")))
    graft.Graft.redactPii(
        Tables(s, dir, "documents").select($"doc_id", planted.as("txt")), "txt")
      .select($"doc_id", $"n_emails", $"n_phones", $"redacted")
      .orderBy($"doc_id")
  }

  /** t18 — bigram language-model training: the corpus-wide bigram
    * count table with conditional probabilities p(w2|w1) =
    * c(w1 w2) / c(w1 ·), head-50 by frequency. The n-gram-LM
    * counterpart of t16's unigram table (t16 SCORES docs against a
    * unigram model; this TRAINS the next-order model — the two halves
    * of a CCNet-style perplexity filter, and the statistic behind
    * completion-likelihood heuristics).
    *
    * Scale shape: bigrams materialize per row as "w1 w2" strings and
    * reduce by ONE partial-aggregated shuffle on the bigram (map-side
    * combine collapses the token stream before any exchange — the
    * vocabulary, not the corpus, crosses the wire). The conditioning
    * denominator c(w1 ·) is a window sum over the already-aggregated
    * bigram table partitioned by w1 — a second shuffle over vocab-sized
    * data, never corpus-sized; head selection is TakeOrdered, no global
    * sort. Tokens cannot contain the separator (whitespace-split), so
    * w1 recovers exactly via substring_index — the bigram string IS the
    * composite key, no struct shuffle needed. */
  def t18BigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.bigramLm(
        Tables.spread(Tables(s, dir, "documents")), "text", topK = 50)
      .orderBy($"bigram")
  }

  /** t19 — Zipf rank-frequency fit: vocabulary size, total token
    * count, and the log-log slope of frequency vs rank over the
    * top-1000 vocabulary (natural text tracks slope ~ -1; synthetic
    * or boilerplate-heavy corpora deviate — a cheap whole-corpus
    * health signal next to the per-doc scores of t02/t10/t16).
    *
    * Scale shape: ONE partial-aggregated shuffle builds the vocabulary
    * (the t04 shape); totals reduce to a single row; the top-1000 is
    * TakeOrdered (never a global sort of the vocab), and the
    * single-partition rank window that follows runs over exactly 1000
    * rows — bounded by construction, not by data volume. regr_slope
    * is one pass over those 1000 (ln rank, ln freq) pairs; the slope
    * is rounded (both engines accumulate the regression moments in
    * doubles over identical values; summation order differs — the q26
    * regime, ~1e-12 drift against a 5e-5 grid). */
  def t19Zipf(s: SparkSession, dir: String): DataFrame =
    graft.Graft.zipfStats(
      Tables.spread(Tables(s, dir, "documents")), "text")

  /** t26 — BPE tokenizer merge training over the documents corpus:
    * the first 4 frequency-weighted merges ([[graft.Graft.bpeTrain]];
    * the oracle unrolls all 4 count→argmax→replace iterations as CTEs
    * over the identical canonical double-separator form — counts are
    * integers, so every step is engine-exact). */
  def t26BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.Graft.bpeTrain(Tables(s, dir, "documents"), "text", numMerges = 4)
      .orderBy(col("rank"))

  /** t27 — the inference half of the tokenizer t26 trains: segment the
    * corpus with the learned merges ([[graft.Graft.bpeSegment]]) and
    * emit per-doc token counts — the "how many tokens is my corpus
    * AFTER tokenization" question every training-data budget starts
    * from. Trains the same 4 merges as t26 (the merge table collected
    * to the driver is numMerges rows — the broadcast-variable pattern,
    * corpus-independent), then segments the DISTINCT-word table (the
    * vocab-sized narrow map — words saturate, t16's argument) and
    * joins the per-word token count back to the per-doc word list
    * un-hinted, so AQE broadcasts the vocab side at harness scale and
    * a saturated many-million-word production vocabulary falls back to
    * a hash join keyed on the word itself. The oracle shares t26's
    * merge-derivation CTEs verbatim and applies the same four
    * double-separator replaces per doc word — token counts are
    * integers, engine-exact. */
  def t27BpeSegment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val merges = graft.Graft.bpeTrain(docs, "text", numMerges = 4)
      .orderBy($"rank").select($"lhs", $"rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val words = docs
      .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("w"))
      .filter($"w" =!= "")
    val seg = graft.Graft.bpeSegment(words.select($"w").distinct(), "w", merges)
      .select($"w", size($"tokens").cast("long").as("__nt"))
    words.join(seg, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"__nt").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** t28 — overlapping token-window chunking (the RAG/embedding-prep
    * primitive; harness binding of [[graft.Graft.chunkTokens]], which
    * holds the implementation and its scale argument): split each doc
    * into windows of [[T28Size]] tokens at
    * stride [[T28Stride]] (16-token overlap, so no retrieval boundary
    * loses context), emitting per chunk its index, token count, and an
    * md5 content fingerprint. The strided complement of the
    * non-overlapping [[TextDedup.tokenChunks]] that d09/d12 dedup on;
    * downstream this feeds chunk embedding (m-family plumbing) and
    * chunk-level dedup. md5 is for oracle parity (t07's argument); at
    * 100 TB fingerprint with xxhash64 — the fold, not the selection.
    *
    * Scale shape: one narrow pass — tokens bind once (the [[TextDedup.
    * shingles]] wrapper), window starts enumerate via `sequence`, each
    * chunk materializes exactly once inside the per-row transform, and
    * the only shuffle is the output sort. Empty/null docs chunk to
    * nothing (guarded: a 0-token doc must not emit one empty chunk). */
  private val T28Size = 64
  private val T28Stride = 48
  def t28Chunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.chunkTokens(Tables.spread(Tables(s, dir, "documents")),
        "doc_id", "text", T28Size, T28Stride)
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** t30 — Heaps'-law vocabulary growth curve: cumulative distinct
    * vocabulary vs cumulative token volume over 10 doc-id-ordered
    * corpus prefixes — t19's Zipf fit is the frequency-space law,
    * this is its growth-space dual, and together they are the two
    * numbers a tokenizer/curation budget is planned from (how fast
    * does new vocabulary arrive as the corpus grows; a dedup or
    * contamination bug shows up as a kinked curve).
    *
    * Cumulative distinct WITHOUT recounting each prefix: a token
    * contributes to every prefix at or after its FIRST document, so
    * vocab(p) = count of tokens whose min(doc_id) lands in prefix
    * <= p — ONE token-level groupBy (on xxhash64 of the token, the
    * d01/t09 8-byte shuffle discipline; the string itself never
    * shuffles) and a 10-row running sum, instead of 10 distinct-scans.
    * The oracle groups by the token string — agreement is the
    * standard collision argument. Integer-only output: no rounding
    * discipline needed. */
  def t30Heaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.spread(Tables(s, dir, "documents"))
      .filter($"text".isNotNull)
    // prefix width: ceil((max_id + 1) / 10), broadcast as a 1-row
    // frame. `div`, not `/`: Column./ on longs is DOUBLE division, and
    // a cast-truncated double that rounded up to an exact integer
    // would bucket one doc off against the oracle's integer `//`.
    val width = broadcast(docs.agg(
      expr("(max(doc_id) + 10) div 10").as("__w")))
    val bucketed = docs.crossJoin(width)
      .select($"doc_id", $"text",
        least(expr("doc_id div __w"), lit(9L)).cast("long").as("b"))
    val perPrefix = bucketed
      .groupBy($"b")
      .agg(count(lit(1)).as("nd"),
        sum(size(TextDedup.tokens($"text")).cast("long")).as("nt"))
    val firstSeen = bucketed
      .select($"b", explode(TextDedup.tokens($"text")).as("w"))
      .select($"b", xxhash64($"w").as("h"))
      .groupBy($"h").agg(min($"b").as("fb"))
      .groupBy($"fb").agg(count(lit(1)).as("nv"))
    // running sums over the <= 10-row prefix frame (the prioritySample
    // non-foldable-constant window discipline)
    val w = Window.partitionBy(pmod($"b", lit(1L))).orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perPrefix.join(firstSeen, $"b" === $"fb", "left")
      .select($"b", $"nd", $"nt", coalesce($"nv", lit(0L)).as("nv"))
      .select(($"b" + 1).as("prefix"),
        sum($"nd").over(w).as("n_docs"),
        sum($"nt").over(w).as("n_tokens"),
        sum($"nv").over(w).as("vocab"))
      .orderBy($"prefix")
  }

  /** t31 — corpus DRIFT report: the top-50 tokens by combined count
    * with their per-slice counts and an add-one-smoothed relative
    * frequency ratio between the English slice and the rest — the
    * distribution-shift monitor a pipeline runs between ingestion
    * batches or domain mixes (t19's Zipf fit says what one corpus
    * looks like; this says how two differ, token by token). The
    * ratio is ln-FREE by construction: ((ca+1)(tb+|V|)) /
    * ((cb+1)(ta+|V|)) is two exact integer products cast to double
    * and divided once — correctly-rounded identical in both engines,
    * where the textbook log-odds spelling would be
    * libm-implementation-dependent at the ulp.
    *
    * Scale shape: ONE token-level groupBy with conditional partial
    * sums (the map-side combine collapses the corpus to |vocab|
    * rows), scalar totals as a broadcast 1-row frame, and top-50 via
    * TakeOrderedAndProject. Token strings do shuffle here — the
    * report NEEDS the tokens; vocabulary-sized, not corpus-sized
    * (the t04 precedent). */
  def t31Drift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.spread(Tables(s, dir, "documents"))
      .filter($"text".isNotNull)
    val t = docs.select(
      when($"lang" === "en", lit(1L)).otherwise(lit(0L)).as("isA"),
      explode(TextDedup.tokens($"text")).as("tok"))
    val c = t.groupBy($"tok")
      .agg(sum($"isA").as("ca"), sum(lit(1L) - $"isA").as("cb"))
    val tot = broadcast(c.agg(sum($"ca").as("ta"), sum($"cb").as("tb"),
      count(lit(1)).as("v")))
    c.orderBy(($"ca" + $"cb").desc, $"tok").limit(50)
      .crossJoin(tot)
      .select($"tok".as("token"), $"ca", $"cb",
        round((($"ca" + 1) * ($"tb" + $"v")).cast("double")
          / (($"cb" + 1) * ($"ta" + $"v")).cast("double"), 6).as("odds_ratio"))
      .orderBy($"token")
  }

  /** t29 — weighted corpus downsampling by priority sampling
    * ([[graft.Graft.prioritySample]], which this binds): 64 documents
    * drawn with probability increasing in length (weight = n_chars,
    * the "sample long documents preferentially but keep the token
    * accounting unbiased" recipe), each carrying its
    * max(weight, tau) estimator so sum(est_weight) over the sample
    * estimates the corpus's total chars. Deterministic end to end
    * (LCG uniform over doc_id, division-only priorities) — the DuckDB
    * oracle recomputes the identical sample and estimators. */
  private val T29K = 64
  def t29PrioritySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.prioritySample(
        Tables(s, dir, "documents").select($"doc_id", $"lang", $"n_chars"),
        "doc_id", "n_chars", T29K)
      .select($"doc_id", $"lang", $"n_chars",
        round($"est_weight", 4).as("est_weight"))
      .orderBy($"doc_id")
  }

  /** t32 — PMI-lift collocations over the documents corpus
    * ([[graft.Graft.pmiCollocations]]): the top-50 bigrams whose
    * count beats the independence expectation, count-gated at 5.
    * Scale/determinism arguments in the facade scaladoc. */
  def t32Pmi(s: SparkSession, dir: String): DataFrame =
    graft.Graft.pmiCollocations(
      Tables.spread(Tables(s, dir, "documents")), "text")

  /** t33 — C4-style line-level boilerplate statistics over the
    * documents corpus ([[graft.Graft.boilerplateStats]]): 8-token
    * pseudo-lines, boilerplate when shared by >= 3 distinct docs
    * (non-degenerate at sf0.001/0.01/0.1 — probed 11/9/58 flagged
    * lines). Scale/determinism arguments in the facade scaladoc. */
  def t33Boilerplate(s: SparkSession, dir: String): DataFrame =
    graft.Graft.boilerplateStats(
      Tables.spread(Tables(s, dir, "documents")), "doc_id", "text")

  /** t34 — Unicode NFC normalization stats over the documents corpus
    * via the native [[graft.functions.UnicodeNormalize]] expression
    * ([[graft.Graft.normalizeText]]).
    *
    * The harness corpus is pure ASCII (already NFC), so the query
    * PLANTS a decomposed population deterministically — 3/4 of docs
    * get a suffix of (doc_id % 3 + 1) e+U+0301 combining pairs, each
    * of which NFC composes to one é — the d05 planted-literal
    * discipline: the engine and the oracle build the identical
    * decomposed input, then each runs its OWN normalizer
    * (java.text.Normalizer vs DuckDB nfc_normalize), so the oracle
    * genuinely cross-checks the normalization semantics, not a copy
    * of its output. The untouched 1/4 pins the fast path: already-
    * normal text must pass through unchanged AND uncounted.
    *
    * Per-lang aggregate: docs changed, codepoint counts before/after
    * (the composition shrinks each planted pair by exactly one
    * codepoint in both engines — length() counts codepoints in
    * both). */
  def t34Normalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Tables(s, dir, "documents")
      .select($"doc_id", $"lang",
        when($"doc_id" % 4 === 0, $"text")
          .otherwise(concat($"text", lit(" caf"),
            // decomposed e + U+0301 via escape (a source-literal
            // combining pair risks silent NFC re-encoding by tooling)
            repeat(lit("e\u0301"), ($"doc_id" % 3 + 1).cast("int"))))
          .as("raw"))
    graft.Graft.normalizeText(planted.withColumn("text", $"raw"), "text")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when($"text" =!= $"raw", 1)).as("n_changed"),
        sum(length($"raw")).as("chars_raw"),
        sum(length($"text")).as("chars_nfc"))
      .orderBy($"lang")
  }

  /** t35 — URL canonicalization dedup stats
    * ([[graft.Graft.canonicalizeUrls]]): the harness corpus has no URL
    * column, so the query PLANTS one deterministically (the t34/d05
    * planted-input discipline, built identically in both engines) —
    * four raw formatting variants per logical page (case, www, :443,
    * trailing slash, param order, utm/fbclid tracking noise,
    * #fragment),
    * keyed by `doc_id % 16` per source domain so several docs share a
    * logical page at EVERY SF. The engine then canonicalizes with its
    * own operator and the oracle with mirrored SQL — the variant
    * collapse (n_canonical < n_raw) is the property under test, the
    * exact thing raw-string exact-dedup gets wrong on a crawl.
    *
    * Scale shape: per-row regex/HOF canonicalization inside codegen,
    * then one partial-aggregated group by domain — the 100 TB
    * URL-dedup key-extraction pass. */
  def t35UrlCanon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = $"doc_id" % 4
    val key = ($"doc_id" % 16).cast("string")
    val dom = concat($"source", lit(".example.com"))
    val raw = when(v === 0,
        concat(lit("https://"), dom, lit("/item/"), key, lit("?a=1&b=2")))
      .when(v === 1,
        concat(lit("HTTPS://WWW."), upper(dom), lit(":443/item/"), key,
          lit("/?b=2&a=1#frag")))
      .when(v === 2,
        concat(lit("https://"), dom, lit(":443/item/"), key,
          lit("?utm_source=feed&a=1&b=2")))
      .otherwise(
        concat(lit("https://www."), dom, lit("/item/"), key,
          lit("/?b=2&utm_campaign=x&a=1&fbclid=zzz")))
    graft.Graft.canonicalizeUrls(
        Tables(s, dir, "documents").select($"doc_id", raw.as("url")), "url")
      .groupBy($"domain")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"url").as("n_raw"),
        countDistinct($"canonical_url").as("n_canonical"),
        min($"canonical_url").as("sample_url"))
      .orderBy($"domain")
  }

  /** t36 — plural stemming ([[graft.Graft.sStem]], Harman's S-stemmer)
    * over the corpus vocabulary: the lightweight morphological
    * normalization an index/dedup pipeline applies so `models` and
    * `model` hit the same posting list. The report is per-language:
    * token count, raw type count, stemmed type count, and the number
    * of COLLAPSED types (raw - stemmed — how much the stemmer folded
    * the vocabulary), plus an order-independent xxhash-free checksum
    * (sum of stem lengths) pinning every individual stem decision —
    * one wrong rule application moves the sum and hash-fails.
    *
    * Scale shape: stemming is a per-token codegen'd CASE over
    * endswith tests (no regex, no UDF) applied INSIDE the explode
    * pass; both distincts partial-aggregate. The oracle mirrors the
    * three rules as the same CASE in DuckDB. */
  def t36Stem(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .select($"lang", explode(TextDedup.tokens($"text")).as("tok"))
      .select($"lang", $"tok", graft.Graft.sStem($"tok").as("stem"))
    toks.groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("n_types_raw"),
        countDistinct($"stem").as("n_types_stemmed"),
        (countDistinct($"tok") - countDistinct($"stem")).as("n_collapsed"),
        sum(length($"stem")).as("stem_len_sum"))
      .orderBy($"lang")
  }

  /** t37 — deterministic per-language k-reservoir document sample
    * ([[graft.Graft.reservoirSample]] over the custom
    * [[graft.functions.ReservoirSample]] TypedImperativeAggregate):
    * 5 doc_ids per lang, selected bottom-k by an md5-derived 60-bit
    * order hash of the id's decimal text — the "give me a stable,
    * re-runnable spot-check sample of every stratum" pass a curation
    * pipeline runs before eyeballing data, and a per-GROUP sampler
    * Spark's TABLESAMPLE cannot express. The hash choice makes the
    * sample oracle-checkable: DuckDB window-ranks the identical
    * md5-prefix order and keeps rk <= 5 — any reservoir eviction bug,
    * lost merge, or off-by-one ranks differently and hash-fails.
    *
    * Scale shape: one partial-folded ObjectHashAggregate — each
    * partition reduces every lang to <= 5 pairs pre-exchange; no
    * window over the corpus, no per-key sort (contrast the oracle's
    * own row_number spelling, which at 100 TB would sort every
    * partition of every key — the gap this operator exists to close). */
  def t37Reservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select($"lang", $"doc_id",
      expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
        .as("hv"))
    graft.Graft.reservoirSample(docs, "lang", $"hv", $"doc_id", k = 5)
      .withColumnRenamed("sampled", "doc_id")
      .orderBy($"lang", $"rk")
  }

  /** t38 — feature hashing (the hashing trick, Weinberger ICML'09):
    * tokens map to a FIXED 64-bucket feature space through a
    * polynomial rolling hash of their codepoints — the vectorizer
    * that needs NO vocabulary pass, no dictionary broadcast, and no
    * growth as the corpus scales (the reason hashed features, not
    * fitted vocabularies, are what 100 TB featurization pipelines
    * ship: the t20/t25 tf-idf path must materialize and join a term
    * dictionary; this path is one embarrassingly parallel projection).
    * Collisions are the accepted trade and are VISIBLE here: the
    * digest is per-doc (nnz buckets, token count, argmax bucket with
    * smallest-bucket tie-break), so a collision-handling slip on
    * either engine hash-fails. The hash is spelled portably —
    * fold((a·31 + codepoint) mod 1048573) over the token's chars,
    * seed 7, bucket = mod 64 — as a Spark `aggregate` HOF mirrored by
    * DuckDB's list_reduce, exact in int64 on both.
    *
    * Scale shape: tokenize → hash → (doc, bucket) partial-folded
    * count; the per-doc digest windows over ≤ 64 rows per doc. The
    * 1-in-20 doc slice is presentation bounding only. */
  /** t39 — linear-model inference over hashed features (the
    * fasttext-style quality classifier pattern, which is how
    * production corpus filters actually run at scale): documents
    * vectorize through t38's 64-bucket hashing trick, a FIXED weight
    * vector scores each bucket (here a deterministic synthetic model
    * — w(b) = ((b·37 + 11) mod 100) − 50 — spelled identically on
    * both engines; a real deployment broadcasts its trained weights
    * the same way), and each document gets score = Σ count(b)·w(b)
    * plus the sign decision. The point under test is the INFERENCE
    * PLUMBING: featurize → weight join-free (weights derive in-plan
    * from the bucket id — zero state, zero broadcast) → per-doc fold,
    * one exchange end to end, no vocabulary, no model file.
    *
    * Scale shape: identical to t38 plus one more partial-folded
    * aggregate; embarrassingly parallel inference, the shape that
    * scores 100 TB of text without a model server. */
  def t39LinearScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .filter($"doc_id" % 20 === 0)
      .select($"doc_id",
        explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
    val hashed = toks.withColumn("bucket", expr(
      """aggregate(transform(split(tok, ''), c -> cast(ascii(c) as bigint)),
        |  cast(7 as bigint), (a, x) -> (a * 31 + x) % 1048573) % 64"""
        .stripMargin))
    hashed.groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("w", expr("(bucket * 37 + 11) % 100 - 50"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_tokens"),
        sum($"cnt" * $"w").as("score"))
      .select($"doc_id", $"n_tokens", $"score",
        when($"score" > 0, lit("keep")).otherwise(lit("drop")).as("label"))
      .orderBy($"doc_id")
  }

  def t38FeatureHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .filter($"doc_id" % 20 === 0)
      .select($"doc_id",
        explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
    val hashed = toks.withColumn("bucket", expr(
      """aggregate(transform(split(tok, ''), c -> cast(ascii(c) as bigint)),
        |  cast(7 as bigint), (a, x) -> (a * 31 + x) % 1048573) % 64"""
        .stripMargin))
    val cnt = hashed.groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"doc_id").orderBy($"cnt".desc, $"bucket")
    cnt.withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_buckets"),
        sum($"cnt").as("n_tokens"),
        max(when($"rn" === 1, $"bucket")).as("top_bucket"),
        max(when($"rn" === 1, $"cnt")).as("top_cnt"))
      .orderBy($"doc_id")
  }

  /** t40 — epoch-style mixture materialization
    * ([[graft.Graft.epochMix]]): the "train en for 2.25 epochs, zh
    * for 0.5" schedule executed as deterministic row replication —
    * floor(w) whole copies plus one more for the salted-md5-bucket
    * fraction of ids (t08's hash, different salt: copy decisions and
    * split assignment stay independent). Weights are exact 1/65536
    * fractions by the operator contract, so both engines compare the
    * same integer cut. Oracle: the same CASE table, the same md5
    * bucket, generate_series for the copies. */
  def t40EpochMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = when($"lang" === "en", 2.25).when($"lang" === "de", 1.5)
      .when($"lang" === "es", 0.75).when($"lang" === "fr", 1.0)
      .otherwise(0.5)
    graft.Graft.epochMix(
        Tables(s, dir, "documents").select($"doc_id", $"lang"), w, "doc_id")
      .select($"doc_id", $"lang", $"copy".cast("long").as("copy"))
      .orderBy($"doc_id", $"copy")
  }

  /** t41 — CROSS-doc duplicated-gram fraction: per document, how many
    * of its positional 8-token grams also occur in at least one OTHER
    * document — the Gopher-class dedup quality signal t10 does NOT
    * measure (t10 is intra-doc repetition; a doc can be internally
    * clean and still be 90% boilerplate shared with the rest of the
    * crawl). Report: gram count, cross-duplicated gram count, and the
    * integer permille — the score a pipeline thresholds on before or
    * instead of hard substring dedup (d24 removes the runs; this
    * grades the documents).
    *
    * Scale shape: grams fold to 8-byte xxhash64 BEFORE any exchange
    * (the d24/t07 discipline — shuffles carry hashes, never text);
    * the document-frequency fold is a partial+final count over
    * (hash, doc) distinct pairs; the score join keys on the hash and
    * the final per-doc fold is partial+final. Integer permille via
    * `div` — no float anywhere.
    *
    * Exactness: gram identity is xxhash64 equality (2^-64-per-pair
    * collision argument, d01/d24); the oracle pairs on the
    * space-joined gram STRING. Docs shorter than 8 tokens have no
    * grams and drop from the report on both engines. */
  def t41DupGrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Tables(s, dir, "documents")
      .select($"doc_id",
        explode(TextDedup.shingleHashes($"text", 8)).as("h"))
    val gdf = grams.select($"doc_id", $"h").distinct()
      .groupBy($"h").agg(count(lit(1)).as("gdf"))
    grams.join(gdf, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"gdf" >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_permille", expr("1000L * n_dup div n_grams"))
      .orderBy($"doc_id")
  }

  /** t42 — shortest-first CURRICULUM ordering of the corpus under the
    * oracle gate: every document's global rank in the
    * (n_chars, doc_id) total order, via [[graft.Graft.globalOrdinal]]
    * — the range-partition + per-partition-index + offset-join
    * pattern, NOT a single-partition `row_number() OVER (ORDER BY …)`
    * (which is what the DuckDB oracle spells, single-node engines
    * being exactly where that spelling belongs). The doc_id tiebreak
    * makes the order total, which is what makes the ordinal
    * deterministic and placement-independent; a boundary drift in the
    * range sampler, a wrong partition-id decode, or a dropped offset
    * all hash-fail. Length-ascending is the classic curriculum
    * schedule; any total-order key column list works. */
  def t42Curriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Graft.globalOrdinal(
        Tables(s, dir, "documents").select($"doc_id", $"n_chars"),
        Seq(col("n_chars"), col("doc_id")))
      .select($"ordinal", $"doc_id", $"n_chars")
      .orderBy($"ordinal")
  }

  /** t43 — DETERMINISTIC corpus shuffle under the oracle gate: each
    * document's position in a salted-md5 total order, via
    * [[graft.Graft.globalOrdinal]] — the reproducible training-data
    * shuffle (same permutation every run, every engine, resumable by
    * ordinal cursor — what `ORDER BY rand()` can never give and a
    * single-partition `row_number` cannot give at scale). The salt
    * prefix decouples this permutation from t08's split buckets and
    * t13's stratified order (different salted hashes = independent
    * permutations — the multi-epoch reshuffle knob: bump the salt per
    * epoch). md5 hex is the t08 cross-engine hash convention; doc_id
    * tiebreak totalizes (md5 collisions notwithstanding). */
  def t43CorpusShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = Tables(s, dir, "documents")
      .select($"doc_id",
        md5(concat(lit("shuf:"), $"doc_id".cast("string"))
          .cast("binary")).as("__skey"))
    graft.Graft.globalOrdinal(keyed, Seq(col("__skey"), col("doc_id")))
      .select($"ordinal", $"doc_id")
      .orderBy($"ordinal")
  }

  /** t44 — CONCAT-SPLIT sequence layout under the oracle gate: the
    * GPT-pretraining data shape t11's bin packing deliberately is not
    * — the corpus is logically CONCATENATED in a deterministic total
    * order and sliced into fixed 512-token training windows, so
    * documents SPAN pack boundaries (no padding waste, every window
    * exactly full; t11's greedy fill keeps documents whole and eats
    * the tail slack instead — the two industry layouts, now both
    * covered). Each document's placement is fully described by its
    * exact global token offset: `tok_start` =
    * [[graft.Graft.globalPrefixSum]] over doc_id order (the
    * distributed weighted-prefix kernel — a plain
    * `sum() OVER (ORDER BY)` would serialize the corpus through one
    * partition), then pack_first/pack_last/pack_offset are integer
    * arithmetic on it. `greatest(n_tokens, 1)` keeps a hypothetical
    * empty document inside its own start pack rather than emitting
    * pack_last = pack_first − 1. Oracle: DuckDB's global window sum
    * (correct at oracle scale, the exact thing that does not
    * distribute) plus the same integer arithmetic. */
  def t44ConcatSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
    packLayout(
      graft.Graft.globalPrefixSum(docs, Seq(col("doc_id")), col("n_tokens")))
      .orderBy($"doc_id")
  }

  /** The shared concat-split pack arithmetic over a frame carrying
    * (`n_tokens`, `prefix`): exact 512-token window placement.
    * `private[graft]`: st31's streaming maintainer places each
    * micro-batch through the same arithmetic. */
  private[graft] def packLayout(withPrefix: DataFrame): DataFrame = {
    val B = 512
    withPrefix
      .withColumnRenamed("prefix", "tok_start")
      .withColumn("pack_first", expr(s"tok_start DIV $B"))
      .withColumn("pack_last",
        expr(s"(tok_start + greatest(n_tokens, 1L) - 1) DIV $B"))
      .withColumn("pack_offset", col("tok_start") % B)
      .select(col("doc_id"), col("n_tokens"), col("tok_start"),
        col("pack_first"), col("pack_last"), col("pack_offset"))
  }

  /** The t45 pack CURSOR (tag `pack_cur`): the lake's total token
    * count, computed ONCE (one narrow scan, partial-folded sum) and
    * persisted as a KB-scale sidecar — the only lake-derived fact the
    * incremental packer needs. Production advances it inside the same
    * commit that lands the batch's pack assignments (the
    * BatchIdJournal discipline); the harness leaves it frozen at the
    * lake snapshot so the query is idempotent across invocations. */
  private[graft] def t45CursorPath(s: SparkSession, dir: String): String = {
    val path = graft.ops.Layout.tmpPath("pack_cur", dir)
    if (!graft.internal.LayoutFs.markerExists(s, path, "_CUR_DONE")) {
      graft.ops.Layout.sweepStaleFor("pack_cur", dir)
      import s.implicits._
      val total = Tables.spread(Tables(s, dir, "documents"))
        .filter($"doc_id" % 5 < 4)
        .agg(sum(size(tokens($"text")).cast("long")))
        .first().getLong(0)
      val (lfs, root) = graft.internal.LayoutFs.of(s, path)
      lfs.mkdirs(root)
      lfs.writeText(
        new org.apache.hadoop.fs.Path(root, "_total_tokens"),
        total.toString)
      graft.internal.LayoutFs.touchMarker(s, path, "_CUR_DONE")
    }
    path
  }

  /** t45 — INCREMENTAL concat-split append under the oracle gate: the
    * daily-crawl batch (doc_id % 5 == 4) extends the t44 pack layout
    * WITHOUT re-reading the lake — new documents concatenate at the
    * END of the corpus order (arrival order, the production
    * semantics), so their exact placement is the persisted token
    * CURSOR ([[t45CursorPath]] — the lake's total, one sidecar read)
    * plus a batch-local [[graft.Graft.globalPrefixSum]]. Per-batch
    * cost is batch-sized: batch tokenization + a batch prefix sum +
    * one KB sidecar read; the lake text is never re-scanned (the
    * d15/s25 incremental discipline applied to the packing layout —
    * without it a 100 TB corpus re-tokenizes daily to place the new
    * 0.1%). The in-query require pins the advanced cursor the
    * production commit would persist. Oracle: DuckDB's from-scratch
    * global window sum over (lake-then-batch, doc_id) order,
    * restricted to the batch rows — the incremental answer must equal
    * re-packing the world. */
  def t45IncConcatSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = t45CursorPath(s, dir)
    val (lfs, root) = graft.internal.LayoutFs.of(s, path)
    val lakeTotal = lfs.readText(
      new org.apache.hadoop.fs.Path(root, "_total_tokens")).trim.toLong
    val batch = Tables.spread(Tables(s, dir, "documents"))
      .filter($"doc_id" % 5 === 4)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
    val placed = packLayout(
      graft.Graft.globalPrefixSum(batch, Seq(col("doc_id")), col("n_tokens"))
        .withColumn("prefix", col("prefix") + lit(lakeTotal)))
      .localCheckpoint(true)
    // the cursor the production commit would advance to: lake total +
    // batch total must equal the end of the last placed document
    val advanced = placed
      .agg(max($"tok_start" + $"n_tokens")).first().getLong(0)
    val batchSum = placed.agg(sum($"n_tokens")).first().getLong(0)
    require(advanced == lakeTotal + batchSum,
      s"cursor advance mismatch: $advanced != $lakeTotal + $batchSum")
    placed.orderBy($"doc_id")
  }
}
