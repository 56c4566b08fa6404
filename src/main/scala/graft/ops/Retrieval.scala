package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus retrieval scoring (extension operators): rank corpus documents
  * against a query set — the curation primitive behind "find training
  * documents similar to this eval/seed set" and lexical-retrieval
  * baselines beside the embedding ANN operators in [[Similarity]]. */
object Retrieval {

  /** BM25 top-`k` corpus documents per query (Robertson–Walker, TREC-3).
    * The query set is the deterministic `doc_id % 97 == 0` slice (the
    * [[CorpusPrep.decontaminate]] eval-slice convention); every other
    * document is corpus. Query terms enter as a distinct set (standard
    * unweighted-query BM25);
    * `idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))` (the non-negative
    * RSJ form), term saturation `tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`
    * with the usual k1 = 1.2, b = 0.75. Scores report in integer
    * milli-units (the fixed-point oracle precedent) and the per-query
    * top-k ranks on (score_milli DESC, doc_id) — an integer total order,
    * identical on both engine and oracle.
    *
    * Shape at scale: ONE corpus pass builds the inverted index —
    * (doc_id, term, tf) postings — which is checkpointed: materializing
    * the index once and deriving document lengths, document frequencies,
    * the query-term table, and the totals FROM it is the standard
    * index-build shape (the alternative inlines the corpus subtree into
    * all five consumers). Postings join query terms as a term equi-join
    * with no forced broadcast (a query set can be arbitrarily large; AQE
    * promotes when it fits), the (query, doc) partial sums aggregate
    * map-side, and the top-k is a per-query window over k·|queries|
    * candidates — never a global sort. The two 1-row totals (N, avgdl)
    * are forced broadcast. */
  def bm25TopK(s: SparkSession, d: String, k: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ix = buildIndex(s, d)
    // w_milli is a function of (tf, df, dl, totals) ONLY — independent of
    // which query matched the term — so it is computed once per corpus
    // posting BEFORE the query-term join instead of once per
    // (query, doc, term) match (a |matched queries per posting|-fold cut
    // in the log/divide/round work, ~40× at sf0.1). The integer
    // milli-unit values are identical either way, so the per-(query, doc)
    // sums — and the oracle hash — are unchanged.
    ix.corpus
      .join(ix.df, "term")
      .join(ix.dl, "doc_id")
      .crossJoin(broadcast(ix.totals))
      .select(col("term"), col("doc_id"), wMilli(k1, b))
      .join(ix.qterms, "term")
      .select(col("query_id"), col("doc_id"), col("w_milli"))
      .transform(rankTopK(k))
  }

  /** The one tokenize-once index build shared by the in-memory scorer and
    * the at-rest writer — the eval-slice convention (`doc_id % 97`) and
    * the tf/dl/df derivations live HERE only, so the two consumers cannot
    * drift. Postings rows are unique per (doc_id, term) by construction,
    * so a plain count IS the document frequency — countDistinct would add
    * a second dedup aggregation over the largest table for nothing. */
  private case class Bm25Index(corpus: DataFrame, qterms: DataFrame,
      dl: DataFrame, df: DataFrame, totals: DataFrame)

  private def buildIndex(s: SparkSession, d: String): Bm25Index = {
    // outer parallelizeSmallScan: the checkpoint freezes the aggregate's
    // POST-AQE partitioning, and AQE coalesces this small shuffle to one
    // partition — every downstream consumer (the fully-broadcast scoring
    // join especially) would then fuse over ONE task (measured 2.2 s of a
    // 3.5 s x_bm25_topk run in a 1-task stage at sf0.1 on 32 cores). The
    // same driver-side size guard applies: at scale the postings table is
    // corpus-sized, the guard is false, and no exchange is added.
    val raw = Tables.parallelizeSmallScan(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(CorpusPrep.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val par = s.sparkContext.defaultParallelism
    val small = Tables.pathBytes(s, s"$d/documents.parquet") <
      Tables.smallScanBytes(par)
    val postings = (if (small && par > 1) raw.repartition(par, col("doc_id"))
      else raw).localCheckpoint()
    val qterms = postings.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("query_id"), col("term"))
    val corpus = postings.filter(col("doc_id") % 97 =!= 0)
    val dl = corpus.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = corpus.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    Bm25Index(corpus, qterms, dl, df, totals)
  }

  /** The per-(query, doc, term) BM25 weight — ONE definition for both the
    * in-memory and stored-probe scorers, over whatever frame carries
    * (tf, df, dl, n_docs, avgdl). Constants stay as the LITERALS (k1 + 1,
    * 1 - b evaluated as double ops, not Scala-folded): the oracle writes
    * the same expressions, so both engines round identically at every
    * step. Each per-term weight fixed-points to integer milli-units
    * BEFORE the sum: the aggregate is then exact integer arithmetic —
    * order-insensitive under any partitioning (a double sum rounded after
    * the fact could flip at a .0005 boundary depending on scan order,
    * silently breaking the hash gate). */
  private def wMilli(k1: Double, b: Double) =
    round(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))) *
      (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * ((lit(1.0) - lit(b)) +
        lit(b) * col("dl") / col("avgdl"))) * 1000)
      .cast("long").as("w_milli")

  /** Shared milli-sum + per-query rank tail of both scorers. */
  private def rankTopK(k: Int)(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_milli")).as("score_milli"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_milli").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_milli"))
      .orderBy(col("query_id"), col("rank"))

  /** Layout contract of `postings/` as [[writeBm25Index]] writes it
    * (denormalized dl/df ride each row; `bucket` is the partition
    * column) — stated once so the serving-path probe reads the probed
    * bucket directories without schema inference. */
  private[ops] val PostingsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("term", StringType), StructField("tf", LongType),
      StructField("df", LongType), StructField("dl", LongType),
      StructField("bucket", IntegerType)))
  }

  /** Layout contracts of the `qterms/` and `totals/` side tables. */
  private[ops] val QtermsSchema = "query_id BIGINT, term STRING"
  private[ops] val TotalsSchema = "n_docs DOUBLE, avgdl DOUBLE, n_buckets INT"

  /** BM25 index AT REST — at 100 TB an index you rebuild per query set
    * isn't an index (r8 finding). One tokenization pass writes:
    *
    *   - `postings/` — (doc_id, term, tf, dl, df), DENORMALIZED: document
    *     length and document frequency ride on every posting row (one
    *     long each — the standard impact-file trade: index bytes for
    *     join-free probes), partitioned by `bucket = pmod(hash(term), n)`
    *     so a probe's partition filter prunes whole term-bucket
    *     directories before any I/O.
    *   - `qterms/` — the eval-slice query terms (tiny by definition).
    *   - `totals/` — one row: (n_docs, avgdl, n_buckets). n_buckets lives
    *     here so probes derive the same bucket hash without out-of-band
    *     config.
    *
    * Probing then joins stored postings against query terms with NO scan
    * of `documents` — corpus text is never re-tokenized. */
  def writeBm25Index(s: SparkSession, d: String, outDir: String,
      nBuckets: Int = 64): Unit = {
    val ix = buildIndex(s, d)
    StoredIndex.writePartitioned(
      ix.corpus.join(ix.df, "term").join(ix.dl, "doc_id")
        .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets))),
      "bucket", s"$outDir/postings")
    ix.qterms.write.mode("overwrite").parquet(s"$outDir/qterms")
    ix.totals.withColumn("n_buckets", lit(nBuckets))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/totals")
  }

  /** The at-rest BM25 pipeline as ONE driver-checkable query: write the
    * term-bucketed index (cached per JVM via [[StoredIndex.cached]]),
    * then probe it. Output is identical to [[bm25TopK]] by the shared
    * build/weight/rank construction, so the same hash-checked oracle
    * pins write→prune→probe end to end. */
  def bm25StoredQuery(s: SparkSession, d: String): DataFrame = {
    val out = StoredIndex.cached("bm25", d, s"$d/documents.parquet")(
      writeBm25Index(s, d, _))
    bm25ProbeStored(s, out)
  }

  /** Probe the stored BM25 index: identical scoring arithmetic to
    * [[bm25TopK]] (same literal constants, same milli-unit fixed point,
    * same rank order), but every input comes from the index — the probe
    * plan contains no `documents` scan. The query terms' bucket set is
    * collected driver-side (≤ n_buckets ints — bounded) and pushed as a
    * partition filter, so a narrow query set reads only its term-bucket
    * directories; `queryIds` restricts to a query subset (the serving
    * shape: one query → a handful of buckets out of 64). */
  def bm25ProbeStored(s: SparkSession, outDir: String, k: Int = 3,
      k1: Double = 1.2, b: Double = 0.75,
      queryIds: Option[Seq[Long]] = None): DataFrame = {
    // ONE read of the 1-row totals: n_buckets routes the probe on the
    // driver; (n_docs, avgdl) re-enter the plan as a literal-built frame.
    // Explicit schemas (the writer's layout contracts): inference costs a
    // footer-read job per probe.
    val t = s.read.schema(TotalsSchema)
      .parquet(s"$outDir/totals")
      .select(col("n_docs"), col("avgdl"), col("n_buckets")).head()
    if (t.isNullAt(1)) {
      // an index over a corpus with no non-eval documents has no avgdl:
      // nothing can score — an empty result, not a driver NPE
      import s.implicits._
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("query_id", "rank", "doc_id", "score_milli")
    }
    val nBuckets = t.getInt(2)
    val totals = broadcast(s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(t.getDouble(0), t.getDouble(1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("avgdl",
          org.apache.spark.sql.types.DoubleType)))))
    val qtAll = s.read.schema(QtermsSchema)
      .parquet(s"$outDir/qterms")
    val qt = queryIds.fold(qtAll)(ids =>
      qtAll.filter(col("query_id").isin(ids.map(Long.box): _*)))
    val buckets = qt
      .select(pmod(hash(col("term")), lit(nBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    // serving-path read of only the probed term-bucket directories
    // (StoredIndex scaladoc); w_milli per stored posting BEFORE the
    // query-term join (the bm25TopK hoist: it is query-independent, and
    // the stored rows already carry df/dl denormalized) — identical milli
    // values, far fewer evaluations
    StoredIndex.readProbed(s, s"$outDir/postings", "bucket",
        buckets.toSeq, PostingsSchema)
      .crossJoin(totals)
      .select(col("term"), col("doc_id"), wMilli(k1, b))
      .join(qt, "term")
      .select(col("query_id"), col("doc_id"), col("w_milli"))
      .transform(rankTopK(k))
  }
}
