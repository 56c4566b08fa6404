package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`
  * (north-star extensions): token counting, quality scoring, language ID,
  * fingerprinting. All pure column expressions — one parquet scan, no
  * UDFs, fully codegen'd, trivially parallel at 100 TB.
  */
object TextAnalysis {

  /** Count of regex matches in a column (codegen'd; no array
    * materialization cost beyond the match list). */
  private def matchCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern)))

  /** Token counting: whitespace tokens plus a BPE-ish segmentation
    * (letter runs / digit runs / single punctuation), the standard cheap
    * proxy for subword token counts. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      matchCount(col("text"), "(\\S+)").as("n_ws_tokens"),
      matchCount(lower(col("text")), "([a-z]+|[0-9]+|[^a-z0-9\\s])").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  private val stopwordPattern = "\\b(the|a|of|and|to|in|is)\\b"

  /** Quality scoring: length/token/stopword-ratio heuristics (the usual
    * pre-training filters, e.g. C4-style). Ratios rounded for oracle
    * stability. */
  def qualityScores(s: SparkSession, d: String): DataFrame =
    qualityScoresOf(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** Quality scoring over any `(doc_id, text)` frame (unsorted) — shared
    * with [[corpusSummary]], which feeds a parallelized scan and buries
    * the result under joins where the sort would be dead weight. */
  private[ops] def qualityScoresOf(docs: DataFrame): DataFrame = {
    val t = lower(col("text"))
    val nTokens = matchCount(t, "(\\S+)")
    val nStop = matchCount(t, s"($stopwordPattern)")
    val nAlpha = matchCount(t, "([a-z])")
    val df = docs.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      round(length(regexp_replace(t, "\\s", "")).cast("double") / nTokens, 3)
        .as("avg_token_len"),
      round(nStop.cast("double") / nTokens, 3).as("stopword_ratio"),
      round(nAlpha.cast("double") / length(col("text")), 3).as("alpha_ratio"))
    df.withColumn("keep",
      (col("n_tokens") >= 5) && (col("n_tokens") <= 100000) &&
        (col("stopword_ratio") > 0.001) && (col("avg_token_len") < 12))
  }

  /** Stopword-profile language ID (n-gram-free heuristic: count hits of
    * per-language function-word sets; argmax with a fixed tie order). */
  def langId(s: SparkSession, d: String): DataFrame = {
    val t = lower(col("text"))
    val en = matchCount(t, "(\\b(the|a|of|and|to|in|is)\\b)")
    val de = matchCount(t, "(\\b(der|die|und|das|ist|nicht)\\b)")
    val es = matchCount(t, "(\\b(el|la|de|que|y|los)\\b)")
    val fr = matchCount(t, "(\\b(le|la|de|et|les|des)\\b)")
    Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("en_score"), de.as("de_score"), es.as("es_score"), fr.as("fr_score"))
      .withColumn("predicted",
        when(greatest(col("en_score"), col("de_score"), col("es_score"),
          col("fr_score")) === 0, "und")
          .when(col("en_score") >= col("de_score") &&
            col("en_score") >= col("es_score") &&
            col("en_score") >= col("fr_score"), "en")
          .when(col("de_score") >= col("es_score") &&
            col("de_score") >= col("fr_score"), "de")
          .when(col("es_score") >= col("fr_score"), "es")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021 §A1
    * use duplicate n-gram fractions to drop degenerate/boilerplate docs):
    * fraction of word 2-grams / 3-grams that are repeats of an earlier
    * occurrence within the same document. Pure array algebra per row —
    * no shuffle, trivially parallel. */
  def repetitionSignals(s: SparkSession, d: String): DataFrame = {
    val toks = CorpusPrep.tokens(col("text"))
    def grams(n: Int) = CorpusPrep.wordGrams(col("t"), n)
    def dupFrac(g: org.apache.spark.sql.Column) =
      when(size(g) === 0, 0.0).otherwise(
        round((size(g) - size(array_distinct(g))).cast("double") / size(g), 3))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        dupFrac(grams(2)).as("dup_2gram_frac"),
        dupFrac(grams(3)).as("dup_3gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Canonical-form document fingerprint: md5 of the whitespace-collapsed
    * lowercased text. The exact-dedup key (D5-style tag-and-split happens
    * on groupBy of this column). */
  def fingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      .orderBy(col("doc_id"))

  /** Rolling-hash winnowing fingerprints (the Winnow kernel, one static call):
    * per-document selected-hash count plus a full-content digest of the
    * selected set — the substring-overlap detector that md5/SimHash can't
    * provide. The digest is md5 over the canonical rendering (ascending
    * signed values, comma-joined): the winnow hash is plain polynomial
    * arithmetic mod 2⁶⁴, so a DuckDB oracle regrows every selected value
    * with HUGEINT arithmetic and must reproduce this digest exactly —
    * full hash-check, not rows-only. */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      graft.functions.Winnow(col("text")).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("n_hashes"),
        md5(array_join(transform(col("fp"), v => v.cast("string")), ","))
          .as("fp_md5"))
      .orderBy(col("doc_id"))

  /** The composed training-corpus preparation pipeline — the flagship
    * extension shape: C4-style quality filter ∩ exact-dedup survivors
    * (min doc_id per content digest) ∩ near-dup cluster survivors
    * (doc_id == its connected-component label) → per-language corpus
    * stats. Each stage is the production operator; the composition is
    * three semi-joins on doc_id feeding one aggregate — at 100 TB the
    * doc_id survivor sets are the only things that shuffle, and the
    * text column is read once. */
  def corpusSummary(s: SparkSession, d: String): DataFrame = {
    // compute-dense scan consumer (Tables.parallelizeSmallScan): the
    // quality stage's four regex passes and the final text-length
    // aggregate otherwise run single-task on a one-file corpus (measured
    // 331 + 94 ms of 1-task stages at sf0.1 on 32 cores); both consumers
    // below share the ONE bounded exchange via ReuseExchange
    val docs = Tables.parallelizeSmallScan(
      Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang")))
    // carry n_tokens out of the quality stage instead of re-running the
    // \S+ matchCount over every surviving body in the final aggregate:
    // the count is whitespace-defined, so lower() in qualityScores cannot
    // change it, and the corpus-sized regex pass runs once, not twice;
    // unsorted form — the sort would be dead weight under the joins
    val kept = qualityScoresOf(docs).filter(col("keep"))
      .select(col("doc_id"), col("n_tokens"))
    val exactSurvivors = Dedup.exact(s, d).select(col("keep_id").as("doc_id"))
    val clusterSurvivors = Dedup.nearDupClusters(s, d)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    docs
      .join(kept, Seq("doc_id"))
      .join(exactSurvivors, Seq("doc_id"), "left_semi")
      .join(clusterSurvivors, Seq("doc_id"), "left_semi")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy(col("lang"))
  }

  /** Winnowing *guarantee* under the DuckDB oracle: the fingerprint set
    * is a pure function of the text, so on a corpus with planted exact
    * copies at `doc_id + offset`, the identical-fingerprint-set pair set
    * IS SQL-expressible: exactly the (d, d+offset) pairs. The raw
    * documents corpus is NOT discriminating enough for that (a ~30-word
    * vocabulary + planted J≥0.9 near-dups → measured 6 distinct-text
    * pairs whose selected-min sets coincide), so each doc's id is first
    * interleaved into its text (every whitespace run → ` id `): every
    * winnow window (w+k-1 = 8 chars) then spans id digits, making the
    * fingerprint set doc-specific, while exact copies (which keep the
    * ORIGINAL doc's id) still collide completely. Pairs join on a 64-bit
    * digest of the (sorted, deduped) set first, verify array equality on
    * match. */
  def winnowDupPairs(s: SparkSession, d: String,
      offset: Long = 100000L): DataFrame = {
    val docs = Tables.parallelizeSmallScan(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        regexp_replace(col("text"), lit("\\s+"),
          concat(lit(" "), col("doc_id").cast("string"), lit(" "))).as("text"))
    // fingerprints once per base document, then the copies (a copy keeps
    // its ORIGINAL doc's interleaved text): the regexp+Winnow work is the
    // dominant cost of this query
    val fps = Dedup.planted(docs
      .select(col("doc_id"), graft.functions.Winnow(col("text")).as("fp"))
      .filter(size(col("fp")) > 0) // texts shorter than the k-gram never pair
      .withColumn("key", xxhash64(to_json(struct(col("fp"))))),
      "doc_id", offset)
    Dedup.pairs(fps, "doc_id", Seq("key"), Seq("fp"))
      .filter(col("a_fp") === col("b_fp"))
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }
}
