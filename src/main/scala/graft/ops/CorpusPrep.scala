package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for a large-scale training-data pipeline
  * (north-star extensions beyond the reference): benchmark decontamination,
  * PII redaction, per-domain caps, deterministic stratified sampling,
  * TF-IDF term scoring, corpus-level n-gram statistics.
  *
  * Scale posture (100 TB): every operator here is either a pure per-row
  * column expression (PII, sampling) or ends in a single keyed shuffle
  * whose key cardinality is bounded by the vocabulary / domain count, not
  * by corpus bytes. Document text never shuffles except as exploded
  * n-gram/word tokens that aggregate map-side first.
  */
object CorpusPrep {

  /** Non-empty whitespace tokens of a text column — THE corpus
    * tokenization, shared by every word-level operator (decontaminate,
    * tf-idf, n-gram stats, repetition signals) so their oracles can
    * never drift apart. */
  private[ops] def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** Word n-grams over a token-array column (space-joined strings).
    * `concat_ws` is safe here: every element is within bounds, so no
    * nulls are skipped. Callers must materialize the token array through
    * a projection first (see decontaminate) — inlining tokens() here
    * re-runs split() per element_at. */
  private[ops] def wordGrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j =>
          element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Benchmark decontamination (the standard pre-training hygiene step:
    * drop training documents that share long n-grams with an evaluation
    * set — see e.g. GPT-3 appendix C / PaLM §7). The eval set here is the
    * deterministic slice `doc_id % 97 == 0`; a training doc is flagged
    * when it shares >= `minShared` distinct word `n`-grams with an eval
    * doc.
    *
    * Scale shape: the eval side is a benchmark suite — bounded and tiny
    * relative to the corpus — so its distinct-gram postings are
    * broadcast; the training side streams through a map-side hash join
    * and aggregates (train_id, eval_id) pair counts map-side first. The
    * corpus-sized side never shuffles raw text, only matched gram rows. */
  def decontaminate(s: SparkSession, d: String, n: Int = 4,
      minShared: Int = 2): DataFrame = {
    val grams = docGrams(s, d, n)
    deconJoin(
      grams.filter(col("doc_id") % 97 =!= 0),
      grams.filter(col("doc_id") % 97 === 0)
        .withColumnRenamed("doc_id", "eval_id"),
      minShared)
  }

  /** One (doc_id, distinct word n-gram) exploded frame per document —
    * the shared gram derivation of the in-memory and stored-index
    * decontamination paths, so the two cannot drift. The token array is
    * materialized through a projection first: inlining tokens() into
    * wordGrams would re-run split() per element_at. */
  private def docGrams(s: SparkSession, d: String, n: Int): DataFrame =
    // compute-dense scan consumer (Tables.parallelizeSmallScan): the
    // n-gram build + per-doc distinct dominates, and a single-file corpus
    // would otherwise evaluate it in one task
    Tables.parallelizeSmallScan(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(col("t"), n))).as("gram"))

  /** Shared matched-gram tail: eval postings are benchmark-sized (tiny
    * vs the corpus) so they broadcast; the corpus side streams through a
    * map-side hash join and the (train, eval) pair counts aggregate
    * partial first — corpus text never shuffles, only matched gram rows. */
  private def deconJoin(trainGrams: DataFrame, evalGrams: DataFrame,
      minShared: Int): DataFrame =
    trainGrams.join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("train_id"), col("eval_id"), col("n_shared"))
      .orderBy(col("train_id"), col("eval_id"))

  /** Decontamination index AT REST — the production asymmetry the
    * in-memory form ignores: an eval benchmark suite changes rarely,
    * while corpus snapshots arrive continuously, so the eval slice's
    * distinct n-gram postings are tokenized and written ONCE and every
    * subsequent training snapshot probes the stored postings without
    * ever re-reading the eval documents. Unlike the LSH/IVF/BM25 stored
    * probes, a corpus-sized probe key set touches every gram, so
    * partition pruning deliberately does NOT apply here: the postings
    * are plain parquet, the index is benchmark-sized and the probe reads
    * it whole (and broadcasts it, [[deconJoin]]); updating a suite
    * rewrites the index. The gram width `n` is a join-compatibility
    * parameter: a probe tokenizing at a different n would equality-join
    * disjoint string sets and silently report no contamination, so it is
    * recorded in `meta/` and the probe DERIVES it from the index rather
    * than accepting it as an argument (the bm25 n_buckets precedent: no
    * out-of-band config). */
  def writeDeconIndex(s: SparkSession, d: String, outDir: String,
      n: Int = 4): Unit = {
    import s.implicits._
    docGrams(s, d, n).filter(col("doc_id") % 97 === 0)
      .withColumnRenamed("doc_id", "eval_id")
      .write.mode("overwrite").parquet(s"$outDir/grams")
    Seq(n).toDF("n").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/meta")
  }

  /** Layout contracts of `grams/` and `meta/`: the probe reads with them,
    * so no footer-read job infers a schema. */
  private[ops] val DeconGramsSchema = "eval_id BIGINT, gram STRING"
  private[ops] val DeconMetaSchema = "n INT"
  /** The at-rest decontamination pipeline as ONE driver-checkable query:
    * write the eval-gram index (cached per JVM via
    * [[StoredIndex.cached]]), then probe the training corpus against
    * it. Output is identical to [[decontaminate]] by the shared
    * gram/join construction, so the same hash-checked oracle pins the
    * write→probe path end to end. */
  def deconStoredQuery(s: SparkSession, d: String): DataFrame = {
    val out = StoredIndex.cached("decon", d, s"$d/documents.parquet")(
      writeDeconIndex(s, d, _))
    deconProbeStored(s, d, out)
  }

  /** Probe a stored eval-gram index: the training side is derived
    * exactly as in [[decontaminate]], tokenized at the gram width the
    * INDEX records (never caller-supplied — a width mismatch would
    * silently join disjoint gram sets); the eval side comes from the
    * index — the probe plan re-tokenizes ONLY the training corpus (one
    * `documents` scan), never the eval slice. The grams read carries an
    * explicit schema: an empty eval slice may write a dir with no data
    * files, and schema INFERENCE over it would throw where the in-memory
    * twin returns empty. */
  def deconProbeStored(s: SparkSession, d: String, outDir: String,
      minShared: Int = 2): DataFrame = {
    val n = s.read.schema(DeconMetaSchema).parquet(s"$outDir/meta").head().getInt(0)
    deconJoin(
      docGrams(s, d, n).filter(col("doc_id") % 97 =!= 0),
      s.read.schema(DeconGramsSchema).parquet(s"$outDir/grams"),
      minShared)
  }

  /** PII redaction over a corpus with deterministically planted PII (the
    * synthetic `documents` table is PII-free, so emails/phones are first
    * injected as a pure function of doc_id — same derivation on the
    * oracle side). Counts matches and reports an md5 digest of the
    * redacted text: a byte-exact check that redaction touched exactly
    * the PII spans. Pure per-row regex column expressions — codegen'd,
    * no shuffle, embarrassingly parallel at any scale. */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\+[0-9]{8,}"
    val withPii = concat(
      col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" tel +"),
          (col("doc_id") + 32000000000L).cast("string"))).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), withPii.as("text"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(s"($emailPat)")))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(s"($phonePat)")))
          .as("n_phones"),
        md5(regexp_replace(
          regexp_replace(col("text"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>")).as("red_md5"))
      .orderBy(col("doc_id"))
  }

  /** Per-domain document cap (pre-training corpora cap any one domain's
    * contribution; `source` stands in for the registrable domain): keep
    * the first `k` docs per source in deterministic doc_id order.
    *
    * Scale: one shuffle keyed by source. A skewed mega-domain makes a
    * single partition hot — AQE skew-split handles the sort, and because
    * only (doc_id, source) shuffles (never text), the hot partition is
    * rows × ~20 bytes. For extreme skew a two-phase top-k (partial top-k
    * per map partition, then merge) bounds it further. */
  def domainCap(s: SparkSession, d: String, k: Int = 10): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy(col("source")).orderBy(col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("source"), col("rk"))

  /** Deterministic stratified sampling: within each language stratum keep
    * docs whose md5(doc_id) ends in one of 3 of the 16 hex digits
    * (≈18.75% expected rate). Hash-based selection is reproducible
    * across runs/retries (no RNG state — the property that matters for
    * resumable 100 TB jobs) and independent of partitioning. Single
    * map-side-combinable aggregate. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val picked = substring(md5(col("doc_id").cast("string")), 32, 1)
      .isin("0", "1", "2")
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(picked, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("rate",
        round(col("n_sampled").cast("double") / col("n_total"), 3))
      .orderBy(col("lang"))
  }

  /** Quality-weighted acceptance sampling (the classifier-weighted
    * upsampling/downsampling step of DCLM/FineWeb-style pipelines):
    * document `d` is kept iff its deterministic uniform byte
    * `u(d) ∈ [0, 256)` — the first two md5 hex digits of the id string,
    * decoded by nibble arithmetic so both engines compute the same
    * integer — is below `floor(256 · w(d))`, where the acceptance weight
    * `w(d) = min(1, n_chars / 500)` is a transparent length-based
    * quality proxy (swap in any scorer; the mechanism is the operator).
    * Hashing the ID makes acceptance reproducible under repartitioning,
    * retries, and corpus growth — the same properties as
    * [[splitAssign]] — and E[kept | w] = w exactly in 1/256 steps.
    *
    * Scale shape: pure per-row projection + filter, no shuffle; the
    * `orderBy` is presentation determinism. */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    weightedSampleOf(Tables.documents(s, d))

  private[ops] def weightedSampleOf(docs: DataFrame): DataFrame = {
    val hex = "0123456789abcdef"
    val dig = md5(col("doc_id").cast("string"))
    val u = ((instr(lit(hex), substring(dig, 1, 1)) - 1) * 16 +
      (instr(lit(hex), substring(dig, 2, 1)) - 1)).cast("long")
    docs
      .select(col("doc_id"), col("n_chars"), u.as("u"),
        floor(lit(256.0) * least(lit(1.0),
          col("n_chars") / lit(500.0))).cast("long").as("cut"))
      .filter(col("u") < col("cut"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top-`k` terms per document (tf × ln(N/df), the textbook
    * form). Two aggregates: term frequency keyed by (doc_id, word) and
    * document frequency keyed by word — both map-side combinable. The
    * df table is NOT hint-broadcast: vocabulary grows with corpus size
    * (typos, URLs, ids), so at 100 TB a forced broadcast is a driver
    * OOM — AQE picks broadcast when df measures small, sort-merge on
    * `word` otherwise. Only the 1-row corpus count N is hint-broadcast.
    * The final per-doc top-k window partitions by doc_id — maximal
    * parallelism, no global sort. */
  def tfIdfTopTerms(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"),
      explode(tokens(lower(col("text")))).as("word"))
    val tf = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") *
        log(col("n_docs").cast("double") / col("df")), 3))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word")))
        .cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("word"), col("score"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Per-language document-length distribution (quartiles + p99): the
    * corpus-profiling stat behind length filters and batch-shape
    * decisions. Exact `percentile` keeps the oracle hash-matchable; its
    * aggregation state is a value→count map per group, bounded by the
    * distinct-length cardinality (≤ max doc length), which is fine at
    * any corpus size. For genuinely unbounded-cardinality columns use
    * the `approx_percentile` twin (same call shape, KLL-sketch state,
    * spec-checked error bound). */
  def lengthQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(n_chars, 0.25)"), 2).as("p25"),
        round(expr("percentile(n_chars, 0.5)"), 2).as("p50"),
        round(expr("percentile(n_chars, 0.75)"), 2).as("p75"),
        round(expr("percentile(n_chars, 0.99)"), 2).as("p99"))
      .orderBy(col("lang"))

  /** Equi-depth decile bucketing via NTILE: assign every document a
    * 1..10 length decile within its language (tie-broken by doc_id so
    * the bucketing is total and oracle-stable), then summarize each
    * bucket's boundaries — the binning stage of a length-balanced
    * sampling/mixing policy. One shuffle on lang; the window sort rides
    * the same exchange as the final aggregation's partial stage. */
  def lengthDeciles(s: SparkSession, d: String): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("decile", ntile(10).over(byLang).cast("long"))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("decile"))
  }

  /** Sketch-based twin of [[lengthQuantiles]] for unbounded-cardinality
    * columns at scale (mergeable GK state, no value map). Driver-
    * verified by the exactness corollary (the [[Sketches.heavyHitters]]
    * pattern): with accuracy 10000 the sketch's rank error is ≤ n/10000,
    * so on groups under 10000 rows it never compresses and returns the
    * EXACT discrete percentile values — which is what the `quantile_disc`
    * oracle checks (verified: identical rank convention, first value at
    * cumulative ≥ p). The >accuracy approximation regime is covered by
    * the in-suite tolerance spec. */
  def lengthQuantilesApprox(s: SparkSession, d: String): DataFrame =
    lengthQuantilesApproxAt(s, d, accuracy = 10000)

  private[ops] def lengthQuantilesApproxAt(s: SparkSession, d: String,
      accuracy: Int): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"approx_percentile(n_chars, array(0.25, 0.5, 0.75, 0.99), $accuracy)")
          .as("qs"))
      .select(col("lang"), col("n_docs"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"),
        element_at(col("qs"), 4).as("p99"))
      .orderBy(col("lang"))

  /** Corpus-level top-`k` word n-grams by occurrence count (the heavy-
    * hitter statistic behind boilerplate lists and filter rules). Explode
    * → count keyed by gram (map-side partial aggregation shrinks the
    * shuffle to distinct-gram cardinality) → global top-k via TakeOrdered
    * (per-partition top-k then a k-row merge — no full sort at scale). */
  def topNgrams(s: SparkSession, d: String, n: Int = 2,
      k: Int = 20): DataFrame =
    Tables.documents(s, d)
      .select(tokens(col("text")).as("t"))
      .select(explode(wordGrams(col("t"), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("gram"))
      .limit(k)

  /** Top-`k` bigram collocations by pointwise mutual information
    * (the association statistic behind phrase mining and tokenizer-merge
    * candidates; Church & Hanks, CL 1990). PMI(a,b) =
    * ln( p(ab) / (p(a) p(b)) ) with p(ab) over bigram occurrences and
    * p(a), p(b) over unigram occurrences; reported in integer millinats
    * (the [[unigramLmScore]] fixed-point precedent — integer compare, no
    * float-hash fragility) with the top-k ordered on the rounded value.
    *
    * Shape at scale: ONE corpus pass — a tagged explode emits unigrams
    * and bigrams together, one shuffle keyed (kind, gram) counts both
    * (map-side partials shrink it to distinct-gram cardinality), and the
    * vocabulary-sized count table is checkpointed so all downstream
    * consumers (two component-word joins, two totals) read the computed
    * table instead of re-scanning the corpus. The unigram join side is
    * vocabulary-bounded but NOT forced broadcast — at web scale a
    * vocabulary can run to tens of millions of rows, and AQE already
    * picks broadcast whenever it actually fits (the [[Dedup.ngramJaccard]]
    * reasoning). The two 1-row totals ARE forced broadcast. `minCount`
    * keeps rare-pair noise out of the top-k (PMI's known low-count
    * pathology). */
  def pmiBigrams(s: SparkSession, d: String, k: Int = 20,
      minCount: Long = 5): DataFrame =
    pmiBigramsOf(Tables.documents(s, d), k, minCount)

  private[ops] def pmiBigramsOf(docs: DataFrame, k: Int,
      minCount: Long): DataFrame = {
    // Single corpus pass: the naive CTE formulation (separate unigram
    // and bigram aggregations, totals derived from each) inlines the
    // corpus subtree into every consumer — 5 full scans in the physical
    // plan. Instead one tagged explode emits unigrams (kind 0) and
    // bigrams (kind 1) together, one shuffle keyed (kind, gram) counts
    // both, and the RESULT — a vocabulary-sized table, many orders of
    // magnitude below the corpus — is checkpointed so the joins and the
    // two totals read the computed table, not the plan.
    val toks = docs.select(tokens(col("text")).as("t"))
    val counts = toks.select(explode(concat(
        transform(col("t"), w =>
          struct(lit(0).as("kind"), w.as("g"))),
        transform(wordGrams(col("t"), 2), g =>
          struct(lit(1).as("kind"), g.as("g"))))).as("e"))
      .groupBy(col("e.kind").as("kind"), col("e.g").as("g"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val uni = counts.filter(col("kind") === 0)
      .select(col("g").as("w"), col("n").as("n_w"))
    val bi0 = counts.filter(col("kind") === 1)
      .select(col("g").as("gram"), col("n").as("n_ab"))
    val nUni = uni.agg(sum(col("n_w")).as("n_uni"))
    val nBi = bi0.agg(sum(col("n_ab")).as("n_bi"))
    bi0.filter(col("n_ab") >= minCount)
      .withColumn("wa", substring_index(col("gram"), " ", 1))
      .withColumn("wb", substring_index(col("gram"), " ", -1))
      .join(uni.withColumnRenamed("w", "wa").withColumnRenamed("n_w", "n_a"), "wa")
      .join(uni.withColumnRenamed("w", "wb").withColumnRenamed("n_w", "n_b"), "wb")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBi))
      .select(col("gram"), col("n_ab"),
        round(log(
          (col("n_ab") * lit(1.0) / col("n_bi")) /
            ((col("n_a") * lit(1.0) / col("n_uni")) *
              (col("n_b") * lit(1.0) / col("n_uni")))) * 1000)
          .cast("long").as("pmi_millinats"))
      .orderBy(col("pmi_millinats").desc, col("gram"))
      .limit(k)
  }

  /** Sequence packing (training-batch preparation: fill a fixed token
    * budget with documents so little padding is wasted — the T5/GPT
    * sample-packing step). Documents are packed greedily in doc_id order
    * within fixed id-range groups of `groupSize` docs: a document opens a
    * new bin when adding it would overflow `capacity` (an oversized
    * document occupies a bin alone). Emits one row per document with its
    * (group, bin) assignment.
    *
    * Packing is inherently sequential, so the parallel unit is the
    * GROUP: one shuffle keyed by grp, then a per-group fold over the
    * sorted (doc_id, n_tokens) array — O(groupSize) state, embarrassingly
    * parallel across groups, deterministic under retries. Fixing the
    * group boundary to the id space (not the partition layout) is what
    * makes the result reproducible on any cluster shape; cross-group
    * fragmentation is bounded by one under-filled bin per group. */
  def packSequences(s: SparkSession, d: String, capacity: Int = 512,
      groupSize: Int = 100): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      expr(s"doc_id div $groupSize").as("grp"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val emptyOut = array()
      .cast("array<struct<doc_id:bigint,n_tokens:bigint,bin:bigint>>")
    docs.groupBy(col("grp"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("n_tokens")))).as("ds"))
      .select(col("grp"), explode(aggregate(
        col("ds"),
        struct(lit(0L).as("bin"), lit(0L).as("run"), emptyOut.as("out")),
        (acc, x) => {
          val overflow =
            acc("run") + x("n_tokens") > capacity && acc("run") > 0
          val bin = when(overflow, acc("bin") + 1L).otherwise(acc("bin"))
          val run = when(overflow, x("n_tokens"))
            .otherwise(acc("run") + x("n_tokens"))
          struct(bin.as("bin"), run.as("run"),
            concat(acc("out"), array(struct(
              x("doc_id").as("doc_id"), x("n_tokens").as("n_tokens"),
              bin.as("bin")))).as("out"))
        },
        acc => acc("out"))).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("grp"),
        col("p.bin").as("bin"), col("p.n_tokens").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val gateStopwords = Seq("the", "a")

  /** Composed Gopher-style quality gate (Rae et al. 2021 §A1.1): the
    * document-level accept/reject decision assembled from the individual
    * signals this module and [[TextAnalysis]] already compute — word
    * count bounds, mean-word-length bounds, duplicate-2-gram fraction,
    * and required stopwords — with a `fail_reasons` audit column naming
    * every violated rule (the column quality pipelines keep for filter
    * forensics). Pure per-row array algebra over one token-array
    * projection: no shuffle, fully codegen'd, embarrassingly parallel.
    *
    * Thresholds are the Gopher shapes adapted to this corpus so every
    * rule except mean_word_len actually fires on the test data (the
    * synthetic vocabulary makes 3 ≤ mwl ≤ 10 always true — kept because
    * the rule is load-bearing on real corpora). */
  def qualityGate(s: SparkSession, d: String, minWords: Int = 40,
      maxWords: Int = 100000, maxDup2: Double = 0.05): DataFrame =
    qualityGateOf(Tables.documents(s, d), minWords, maxWords, maxDup2)

  /** Core gate over any `(doc_id, text)` frame — split out so specs can
    * plant degenerate documents (whitespace-only, empty). */
  def qualityGateOf(docs: DataFrame, minWords: Int = 40,
      maxWords: Int = 100000, maxDup2: Double = 0.05): DataFrame = {
    // one materialized token array feeds everything (inlining tokens()
    // into the gram lambdas re-runs split() per element_at)
    val base = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
    val g2 = wordGrams(col("t"), 2)
    val dup2 = when(size(g2) === 0, 0.0).otherwise(
      round((size(g2) - size(array_distinct(g2))).cast("double") / size(g2), 3))
    val scored = base.select(
      col("doc_id"),
      size(col("t")).as("n_tokens"),
      // zero guard (like dup2's): a whitespace-only document would
      // otherwise NULL-propagate through `pass`/`fail_reasons` in Spark
      // and NaN/error in the oracle; 0.0 makes the mwl rule fire
      when(size(col("t")) === 0, 0.0).otherwise(
        round(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          size(col("t")), 3)).as("mean_word_len"),
      dup2.as("dup_2gram_frac"),
      gateStopwords.map(w => array_contains(col("t"), w)).reduce(_ && _)
        .as("has_stopwords"))
    val failDup = col("dup_2gram_frac") > maxDup2
    val failMwl = col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0
    val failStop = !col("has_stopwords")
    val failWords = col("n_tokens") < minWords || col("n_tokens") > maxWords
    scored
      .withColumn("pass", !failDup && !failMwl && !failStop && !failWords)
      // concat_ws skips nulls — exactly right here (vs the N-Triples
      // serializer, where that same behavior was a landmine)
      .withColumn("fail_reasons", concat_ws(",",
        when(failDup, "dup_2gram"), when(failMwl, "mean_word_len"),
        when(failStop, "stopwords"), when(failWords, "word_count")))
      .orderBy(col("doc_id"))
  }

  /** Temperature-based language-mixture resampling (the multilingual
    * rebalancing step, e.g. mBERT/XLM-R exponential smoothing): with
    * sampling temperature `alpha` < 1, low-resource languages are kept in
    * full while high-resource ones are downsampled toward the flattened
    * target distribution p_l^alpha. Keep probability per language is
    * (n_min/n_l)^(1-alpha), normalized so the rarest language keeps
    * everything; selection is a deterministic per-doc hash threshold
    * (Knuth multiplicative mix of doc_id → uniform in [0,1)) — no RNG
    * state, reproducible across retries and partitionings.
    *
    * Two tiny keyed aggregates bracket one map-side filter; the
    * per-language rate table is broadcast-joined back (cardinality =
    * distinct languages — bounded by nature, unlike a per-document
    * table). */
  def temperatureMix(s: SparkSession, d: String,
      alpha: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val byLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_before"))
    val nMin = byLang.agg(min(col("n_before")).as("n_min"))
    // (n_min/n_l)^(1-alpha); the alpha=0.5 default uses sqrt explicitly —
    // both engines' correctly-rounded sqrt∘divide keeps the keep-rule
    // bitwise reproducible in the DuckDB oracle (pow risks ulp drift)
    val fracs = byLang.crossJoin(broadcast(nMin))
      .withColumn("keep_frac",
        if (alpha == 0.5)
          sqrt(col("n_min").cast("double") / col("n_before"))
        else
          pow(col("n_min").cast("double") / col("n_before"), 1.0 - alpha))
      .select(col("lang"), col("n_before"), col("keep_frac"))
    val u = ((col("doc_id") * 2654435761L) % 100000L).cast("double") / 100000.0
    val perLang = docs.join(broadcast(fracs), "lang")
      .filter(u < col("keep_frac"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .join(fracs, "lang")
    val totals = perLang.agg(sum(col("n_before")).as("tot_before"),
      sum(col("n_kept")).as("tot_kept"))
    perLang.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_before"), col("n_kept"),
        round(col("keep_frac"), 4).as("keep_frac"),
        round(col("n_before").cast("double") / col("tot_before"), 4)
          .as("share_before"),
        round(col("n_kept").cast("double") / col("tot_kept"), 4)
          .as("share_after"))
      .orderBy(col("lang"))
  }

  /** Sub-document (paragraph-level) deduplication, MassiveText/RefinedWeb
    * style: hash each unit, keep only the globally-first occurrence of
    * each unit, report per-document dup fractions and the surviving token
    * count. This corpus has no newline structure, so the unit is a
    * fixed `chunk`-token window (documented proxy; on real corpora the
    * splitter is a paragraph regex — the plan below is unchanged).
    *
    * Scale shape: chunk text reduces to (md5, doc_id, idx, n_toks)
    * BEFORE the shuffle — document bytes never cross the wire. One
    * hash-keyed window ranks occurrences (first = kept), one doc_id
    * aggregate folds the verdicts back. The md5 key doubles as the
    * oracle-parity key; at 100 TB xxhash64 halves the key bytes but the
    * plan is identical. */
  def chunkDedup(s: SparkSession, d: String, chunk: Int = 10): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val chunkArr = when(size(col("t")) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(size(col("t")).cast("double") / chunk)
          .cast("int") - 1),
        i => concat_ws(" ", slice(col("t"), i * chunk + 1, lit(chunk)))))
    val chunks = base
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("idx", "ctext")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        md5(col("ctext")).as("h"),
        size(tokens(col("ctext"))).cast("long").as("nt"))
    val firstRank = row_number().over(
      Window.partitionBy(col("h")).orderBy(col("doc_id"), col("idx")))
    chunks.withColumn("rn", firstRank)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("rn") === 1, col("nt")).otherwise(0L)).as("kept_tokens"))
      .withColumn("dup_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 3))
      .orderBy(col("doc_id"))
  }

  /** Unigram language-model quality score (the CCNet-shape perplexity
    * filter, with the corpus itself as the LM training set): per-document
    * mean negative log2 unigram probability, in bits per token. Documents
    * full of rare words score high (surprising), repetitive common-word
    * documents score low.
    *
    * Floating-point discipline: the per-word surprisal is quantized to
    * integer MILLIBITS before the per-document sum, so the aggregate is
    * exact integer arithmetic — order-independent under any partitioning
    * and bitwise-identical in the DuckDB oracle (a raw double sum would
    * drift with reduction order).
    *
    * Scale shape: the per-word log-prob table is VOCABULARY-sized — it
    * grows with the corpus, so (same policy as the tf-idf df join) it
    * carries no broadcast hint: a hint would override
    * autoBroadcastJoinThreshold unconditionally and OOM the driver at
    * web scale, while AQE still chooses a broadcast whenever the table
    * measures small. Only the 1-row grand total is force-broadcast; the
    * per-doc aggregate combines map-side. */
  def unigramLmScore(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val logp = vocab.crossJoin(broadcast(total))
      .select(col("w"),
        round(log2(col("cnt").cast("double") / col("total")) * 1000)
          .cast("long").as("millibits"))
    words.join(logp, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("millibits")).as("sum_millibits"))
      .withColumn("bits_per_token",
        round(-col("sum_millibits").cast("double") /
          (col("n_tokens") * 1000.0), 3))
      .orderBy(col("doc_id"))
  }

  /** Deterministic global shuffle + sharding (training-order
    * preparation): every document gets a pseudorandom but reproducible
    * position — shard = first hex digit of md5(seed:doc_id) (16 shards),
    * position = rank of the full digest within the shard. Re-running on
    * any cluster shape, or resuming after failure, yields the identical
    * order; changing `seed` reshuffles.
    *
    * Scale shape: no global sort — the only shuffle is the 16-way window
    * partition (at 100 TB, widen to 2-4 hex digits for 256-65k shards so
    * each window partition stays executor-sized). The alternative
    * `ntile() OVER (ORDER BY digest)` is a single-partition window — the
    * classic scale-killer this formulation avoids. */
  def shuffleShards(s: SparkSession, d: String, seed: Int = 42): DataFrame = {
    val digest = md5(concat_ws(":", lit(seed), col("doc_id")))
    Tables.documents(s, d)
      .select(col("doc_id"), digest.as("digest"))
      .withColumn("shard",
        (instr(lit("0123456789abcdef"), substring(col("digest"), 1, 1)) - 1)
          .cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("digest"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Deterministic train/val/test split assignment by content-free id
    * hash: bucket = first md5 byte of the id string (256 buckets), split
    * boundaries at 0xe6 (230/256 ≈ 89.8% train) and 0xf3 (13/256 ≈ 5.1%
    * val, rest test). Hashing the ID — not a row number — is what makes
    * the assignment stable under repartitioning, re-runs, and corpus
    * growth (a new document never moves an old one between splits, the
    * property a position-based split lacks). The bucket compares as a
    * hex STRING: lexicographic order on fixed-width lowercase hex equals
    * numeric order, and the literal thresholds stay engine-portable (no
    * hex-to-int builtin needed on either side).
    *
    * Scale shape: a pure per-row projection — no shuffle, no state; the
    * one `orderBy` is presentation-determinism for the oracle. */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    splitAssignOf(Tables.documents(s, d))

  private[ops] def splitAssignOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("bucket"))
      .withColumn("split",
        when(col("bucket") < "e6", "train")
          .when(col("bucket") < "f3", "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))

  /** Duplicated-substring detection over OVERLAPPING token windows — the
    * window approximation of suffix-array substring dedup ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2021): a
    * `w`-token window is duplicated when the identical window text occurs
    * >= 2 times anywhere in the corpus (any document, any alignment —
    * which is exactly what [[chunkDedup]]'s disjoint chunks miss). Per
    * document, reports the duplicated-window count and the number of
    * token positions covered by at least one duplicated window (the
    * union of the [pos, pos+w) intervals, swept with a single `lead`),
    * i.e. the fraction of the document a substring-level dedup pass
    * would cut.
    *
    * Scale shape (100 TB): windows are keyed by their 16-byte md5
    * map-side inside the explode projection, so window TEXT never
    * shuffles — only (doc_id, pos, 16B) rows. The duplicate-key table
    * comes from one partial-aggregating groupBy (repeated windows
    * collapse map-side) and feeds a left-semi equi-join that AQE can
    * skew-split if one boilerplate window dominates. The per-doc totals
    * (n_tokens, n_windows) are computed from the token array WITHOUT
    * exploding, so the non-duplicated bulk of the corpus crosses no
    * shuffle at all. md5 keying is oracle-faithful: DuckDB groups by the
    * same md5 of the same window strings. */
  def spanDedup(s: SparkSession, d: String, w: Int = 8): DataFrame =
    spanDedupOf(Tables.documents(s, d), w)

  private[ops] def spanDedupOf(docs: DataFrame, w: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n_tokens"))
    val totals = base.select(col("doc_id"), col("n_tokens"),
      greatest(lit(0L), col("n_tokens") - (w - 1)).as("n_windows"))
    val wins = base.filter(col("n_tokens") >= w)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), (col("n_tokens") - w).cast("int")),
        i => unhex(md5(concat_ws(" ", slice(col("t"), i + 1, lit(w))))))))
      .toDF("doc_id", "pos", "h")
    val dupKeys = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val sweep = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = wins.join(dupKeys, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("nxt", lead(col("pos"), 1).over(sweep))
      .withColumn("cov", when(col("nxt").isNull, lit(w.toLong))
        .otherwise(least(lit(w.toLong), (col("nxt") - col("pos")).cast("long"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_windows"), sum(col("cov")).as("covered_tokens"))
    totals.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("covered_frac", when(col("n_tokens") > 0,
        round(col("covered_tokens").cast("double") / col("n_tokens"), 3))
        .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }
}
