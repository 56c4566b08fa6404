package graft.ops

import graft.functions.{CosineSimilarity, SignSignature}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * One exact-refinement stage, [[topK]], fed by different candidate
  * generators: the (small) query set is broadcast against the candidates
  * it may match, each pair is scored with the native [[CosineSimilarity]]
  * expression, and each query is ranked with a window. The candidates
  * stay partition-local; only per-query top-k rows (the window's partial
  * group limit) move. The generators:
  *   - all pairs (brute force): the correctness baseline, |Q|·|C| scores.
  *   - sign bucket (LSH): random-hyperplane signatures (sign of the dot
  *     product with fixed seeded projections); a query's candidates share
  *     its signature bucket, so the cross product never materializes.
  *   - IVF cell: a k-means coarse quantizer; a query's candidates lie in
  *     its `nProbe` nearest cells.
  * The LSH and IVF stores at rest are probed the same way: the queries
  * are routed on the driver and only the probed directories are read.
  */
object Similarity {

  /** Brute-force cosine top-k for query vectors `vec_id < nQueries`. */
  def bruteForceTopK(s: SparkSession, d: String,
      nQueries: Int = 8, k: Int = 5): DataFrame =
    frameTopK(Tables.embeddings(s, d), Nil, nQueries, k)

  /** The exact-refinement stage every candidate generator feeds: the
    * broadcast queries `(qid, qe, on…)` join the candidates
    * `(cid, ce, on…)` on `on` (empty: every candidate), self matches
    * drop, each pair is scored by the native [[CosineSimilarity]] rounded
    * to 4 decimals (`sim`), and each query keeps its `k` best by `sim`
    * descending, lowest `cid` on ties, numbered by `row_number` (`rn`,
    * INT) and sorted by (qid, rn). Each candidate carries one `on` key
    * and the query rows' keys are unique per query, so a (qid, cid) pair
    * is scored at most once. */
  private[ops] def topK(queries: DataFrame, cands: DataFrame, on: Seq[String],
      k: Int): DataFrame = {
    val scored = cands.join(broadcast(queries), on)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(CosineSimilarity(col("qe"), col("ce")), 4).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** [[topK]] over one `(vec_id, embedding, on…)` frame: its
    * `vec_id < nQueries` rows query every row. */
  private def frameTopK(emb: DataFrame, on: Seq[String], nQueries: Int,
      k: Int): DataFrame = {
    def side(id: String, e: String) =
      col("vec_id").as(id) +: col("embedding").as(e) +: on.map(col)
    topK(emb.filter(col("vec_id") < nQueries).select(side("qid", "qe"): _*),
      emb.select(side("cid", "ce"): _*), on, k)
  }

  /** The index dimensionality every LSH/SemDeDup path is configured for:
    * [[graft.functions.SignSignature]] nulls the signature of any row
    * with a different embedding length, so stragglers on a mixed-dim
    * corpus drop out of the buckets on BOTH engines (the oracle's literal
    * plane table is this wide) instead of silently staying on one side. */
  private[ops] val IndexDims = 64

  /** Most queries a stored probe routes on the driver. */
  private val MaxDriverQueries = 4096

  /** Layout contracts of the at-rest stores ([[writeLshPartitioned]] /
    * [[writeIvfPartitioned]] write exactly these columns; the partition
    * column is last) — stated once so the serving-path probes can read
    * the probed directories without schema inference. */
  private[ops] val LshStoreSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("sig", LongType)))
  }
  private[ops] val IvfStoreSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cell", IntegerType)))
  }
  /** Layout contract of the IVF store's `centroids/` side table. */
  private[ops] val CentroidsSchema = "cell INT, centroid ARRAY<DOUBLE>"

  /** Sign-signature frame shared by the LSH paths: signature bit p =
    * sign(<embedding, plane_{p+planeOffset}>) via the
    * [[graft.functions.SignSignature]] expression (deterministic seeded
    * hyperplanes, weight tables cached per executor). One word holds at
    * most 64 planes — `1L << p` wraps mod 64, so wider signatures
    * compose from multiple words over DISJOINT plane families selected
    * by `planeOffset`, as the SemDeDup banding does. */
  private[ops] def signedEmbeddings(emb: DataFrame, nPlanes: Int,
      planeOffset: Int = 0): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      SignSignature.of(col("embedding"), nPlanes, planeOffset,
        expectedDims = IndexDims).as("sig"))

  /** Random-hyperplane LSH bucketing + exact re-score: candidates for a
    * query are exactly the corpus rows with the same `nPlanes`-bit sign
    * signature. Returns per-query top-k within its bucket. */
  def lshTopK(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      nPlanes: Int = 8): DataFrame =
    frameTopK(signedEmbeddings(Tables.embeddings(s, d), nPlanes), Seq("sig"),
      nQueries, k)

  /** LSH index at rest — the sign-signature twin of the IVF serving
    * layout: the signed corpus is written `partitionBy("sig")`, one
    * directory per signature bucket. The "centroid table" equivalent is
    * the hyperplane family itself, which needs no storage at all: the
    * planes are a pure function of (seed, plane index), so any process
    * regenerates them bit-identically. */
  def writeLshPartitioned(s: SparkSession, d: String, outDir: String,
      nPlanes: Int = 8): Unit =
    StoredIndex.writePartitioned(
      signedEmbeddings(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        nPlanes),
      "sig", s"$outDir/corpus")

  /** Probe the stored LSH index: query signatures are computed ON THE
    * DRIVER by the native expression's own kernel ([[SignSignature.compute]],
    * same planes and index width, so the bits agree by construction), then
    * only the probed signature directories are read — partition pruning
    * cuts the file listing to the queries' buckets. Same serving contract
    * as [[ivfProbeStored]]: query cardinality ≪ corpus (vectors are
    * collected to route them); bulk query sets go through [[lshTopK]]. */
  def lshProbeStored(s: SparkSession, d: String, outDir: String,
      nQueries: Int = 8, k: Int = 5, nPlanes: Int = 8): DataFrame = {
    import s.implicits._
    val qVecs = driverQueries(s, d, nQueries, "lshProbeStored", "lshTopK")
    val queryRows = qVecs.flatMap { case (qid, e) =>
      // the index width contract (signedEmbeddings pins expectedDims): a
      // mismatched-width query has a null signature — no bucket
      val sig = SignSignature.compute(ArrayData.toArrayData(e), nPlanes, 0,
        isDouble = false, expectedDims = IndexDims)
      if (sig == SignSignature.NullSentinel) None else Some((qid, e, sig))
    }.toSeq
    val queries = queryRows.toDF("qid", "qe", "sig")
    val cands = StoredIndex.readProbed(s, s"$outDir/corpus", "sig",
        queryRows.map(_._3).distinct.sorted, LshStoreSchema)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("sig"))
    topK(queries, cands, Seq("sig"), k)
  }

  /** The query vectors (`vec_id < nQueries`) a stored probe routes on the
    * driver, collected under the [[MaxDriverQueries]] guard; `probe`
    * names the caller and `bulk` the distributed path for larger sets. */
  private def driverQueries(s: SparkSession, d: String, nQueries: Int,
      probe: String, bulk: String): Array[(Long, Array[Float])] = {
    import s.implicits._
    require(nQueries <= MaxDriverQueries,
      s"$probe routes queries on the driver (nQueries=$nQueries > " +
        s"max $MaxDriverQueries); use $bulk for bulk query sets")
    Tables.embeddings(s, d)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
  }

  /** LSH retrieval *guarantee* under the DuckDB oracle: an identical
    * vector has an identical sign signature, so a planted exact copy of
    * each query at `vec_id + offset` lands in the query's bucket and is
    * its top-1 (cosine 1.0 beats every other candidate — the corpus's
    * max pairwise cosine is ≈0.5). Expected output is SQL-expressible:
    * (q, q+offset, 1.0, 1) per query. */
  def lshDupRetrieval(s: SparkSession, d: String, nQueries: Int = 8,
      nPlanes: Int = 8, offset: Long = 100000L): DataFrame = {
    val emb = Dedup.planted(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", offset)
    // the PRODUCTION signature/bucket/score pipeline, k = 1: shared code
    // guarantees the oracle exercises exactly what lshTopK runs
    frameTopK(signedEmbeddings(emb, nPlanes), Seq("sig"), nQueries, k = 1)
  }

  /** Measured recall@k of the production LSH path ([[lshTopK]]) against
    * the exact baseline ([[bruteForceTopK]]): per query, how many of the
    * true top-k the bucketed search returned. The [[slicedTopKAgreement]]
    * pattern — both rankings are deterministic, so the oracle recomputes
    * both sides and the overlap is a hash-checkable number, turning the
    * ANN quality claim from "spec'd once" into "measured every run".
    * (The oracle reproduces the signatures from the same hyperplane
    * doubles via [[graft.functions.SignSignature.planeWeights]].) */
  def lshRecallAtK(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      nPlanes: Int = 8): DataFrame =
    recallOverlap(bruteForceTopK(s, d, nQueries, k), lshTopK(s, d, nQueries, k, nPlanes))

  /** |exact ∩ ann| per query — the one definition both recall rows (and
    * their oracles) share: left join on (qid, cid), count matches. */
  private def recallOverlap(exact: DataFrame, ann: DataFrame): DataFrame = {
    val e = exact.select(col("qid"), col("cid"))
    val a = ann.select(col("qid").as("aqid"), col("cid").as("acid"))
    e.join(a, col("qid") === col("aqid") && col("cid") === col("acid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("acid")).as("n_common"))
      .orderBy(col("qid"))
  }

  /** Matryoshka-style truncated retrieval: score on only the first
    * `dims` dimensions (MRL-trained embeddings concentrate signal in the
    * prefix, making the truncation the cheap first-pass ranker — 4× less
    * arithmetic and bytes here), then report per-query agreement with
    * the full-dimension top-k: `n_common` of the two top-k sets. The
    * evaluation harness one runs before trusting a truncation level.
    * Same shuffle shape as [[bruteForceTopK]] (broadcast queries, corpus
    * partition-local) — the slice happens inside the scan projection, so
    * only `dims` floats per row are ever scored. */
  def slicedTopKAgreement(s: SparkSession, d: String, dims: Int = 16,
      nQueries: Int = 8, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // ONE pair enumeration scores both variants (the slice is a cheap
    // in-expression projection of the already-loaded vector), and both
    // ranks come from windows over the SAME qid partitioning — a single
    // Exchange, not two join branches re-running the corpus scan.
    val w = Window.partitionBy(col("qid"))
    val scored = cands.join(broadcast(queries), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(CosineSimilarity(col("qe"), col("ce")), 4).as("sim_full"),
        round(CosineSimilarity(slice(col("qe"), 1, dims),
          slice(col("ce"), 1, dims)), 4).as("sim_sliced"))
      .withColumn("rn_full",
        row_number().over(w.orderBy(col("sim_full").desc, col("cid"))))
      .withColumn("rn_sliced",
        row_number().over(w.orderBy(col("sim_sliced").desc, col("cid"))))
    scored.filter(col("rn_full") <= k)
      .groupBy(col("qid"))
      .agg(count(when(col("rn_sliced") <= k, 1)).as("n_common"))
      .orderBy(col("qid"))
  }

  /** Symmetric int8 quantization of the embedding column — the standard
    * 4× compression step before ANN indexing at scale (per-vector scale
    * = max|x|/127, q_i = round(x_i/scale)). Pure column algebra over the
    * array: codegen'd, no UDF, embarrassingly parallel; the oracle
    * checks per-vector scale, the quantized checksum, and the max
    * reconstruction error bound (≤ scale/2). */
  def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), dbl.as("x"))
      .withColumn("scale",
        array_max(transform(col("x"), v => abs(v))) / lit(127.0))
    val q = transform(col("x"), v =>
      when(col("scale") === 0.0, lit(0.0)).otherwise(round(v / col("scale"))))
    emb.withColumn("q", q)
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("q_scale"),
        aggregate(col("q"), lit(0.0), (acc, v) => acc + v).cast("long").as("q_sum"),
        round(aggregate(
          zip_with(col("x"), col("q"), (x, v) => abs(x - v * col("scale"))),
          lit(0.0), (acc, e) => greatest(acc, e)), 6).as("max_err"))
      .orderBy(col("vec_id"))
  }

  /** IVF (inverted-file) ANN — the other standard scale path beside LSH:
    * a k-means coarse quantizer partitions the corpus into `nCells`
    * cells; each query exactly re-scores only its `nProbe` nearest cells.
    * At 100 TB the cell assignment is one pass (broadcast centroids),
    * the corpus is written partitioned by cell, and a query touches
    * nProbe/nCells of the data — the centroid table itself is tiny and
    * lives on the driver. Deterministic via the k-means seed. */
  def ivfTopK(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4): DataFrame =
    ivfTopKOf(s, Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      trainedCentroids(s, d, nCells), nQueries, k, nProbe)

  /** IVF retrieval *guarantee* under the DuckDB oracle — the exact trick
    * [[lshDupRetrieval]] uses: an identical vector has distance 0 to the
    * query, so the planted copy of each query at `vec_id + offset` lands
    * in the query's own k-means cell (ties in cell assignment are
    * irrelevant: IDENTICAL vectors get the SAME assignment), the query's
    * own cell is always among its nProbe probes (self-distance 0 is the
    * minimum), and the copy is the query's top-1 at cosine 1.0 (the
    * corpus's max non-identical pairwise cosine is ≈0.5). Runs the
    * PRODUCTION cell-assign/probe/score pipeline with k = 1; expected
    * output is SQL-expressible: (q, q's min identical partner, 1.0, 1). */
  def ivfDupRetrieval(s: SparkSession, d: String, nQueries: Int = 8,
      nCells: Int = 16, nProbe: Int = 4, offset: Long = 100000L): DataFrame = {
    val emb = Dedup.planted(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", offset)
    // quantizer trained on the doubled corpus (uncached — guarantee-twin
    // corpus, not the serving index)
    ivfTopKOf(s, emb, kmeansCentroids(emb, nCells), nQueries, k = 1, nProbe)
  }

  /** Measured recall@k of an IVF-structured search under the DuckDB
    * oracle. The trained coarse quantizer ([[ivfTopK]]'s seeded k-means)
    * is not SQL-expressible, so ITS quality evidence is the planted-copy
    * guarantee plus the spec'd recall bound; this twin swaps in the one
    * coarse quantizer an oracle CAN replicate — centroids are the
    * `nCells` corpus vectors with the smallest `md5(vec_id || '/ivf')`
    * (a seeded sample, the untrained-quantizer IVF baseline) — and keeps
    * every other stage of the production shape: Voronoi cell assignment
    * (nearest centroid by rounded cosine, centroid-id tie-break),
    * nProbe-nearest-cells probing, exact re-score, per-query top-k,
    * overlap with [[bruteForceTopK]]. Every stage is deterministic and
    * SQL-expressible, so recall@k lands as a hash-checked oracle row.
    *
    * Scale shape: centroid selection is a distributed top-`nCells` (no
    * global sort); assignment is a broadcast cross join against the tiny
    * centroid table aggregated with map-side-combinable max(struct) —
    * one row per vec_id shuffles, embeddings never do. */
  def ivfRecallAtK(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // deterministic seeded sample as centroids: top-nCells by md5 order
    // (TakeOrderedAndProject — distributed, no full sort), then COLLECTED
    // to a local relation: the centroid table is tiny and is referenced
    // three times (assignment, probe map ×2) — as a plan subtree each
    // reference would re-run the corpus scan + top-N; as a local relation
    // the corpus pays that scan exactly once (the same centroids-on-the-
    // driver shape ivfTopKOf gets from model.clusterCenters)
    val picked: Array[(Int, Array[Float])] = emb
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("/ivf"))))
      .orderBy(col("h")).limit(nCells)
      .select(col("h"), col("embedding")).as[(String, Array[Float])]
      .collect().sortBy(_._1).zipWithIndex
      .map { case ((_, e), i) => (i + 1, e) }
    val cent = picked.toSeq.toDF("cell", "cent_e")
    // Voronoi assignment via the shared rule (rounded cosine desc, lowest
    // cell on ties — [[voronoiAssign]]). localCheckpoint: queries and
    // candidates both read `assigned`; as a lazy subtree each side would
    // re-pay the corpus×centroid cross join (the repeated-scan trap the
    // PMI/BM25 operators already close).
    val assigned = voronoiAssign(emb, cent).localCheckpoint()
    // nProbe nearest cells per cell, from the tiny centroid self-join
    val c2 = cent.select(col("cell").as("probe_cell"),
      col("cent_e").as("probe_e"))
    val probes = cent.crossJoin(c2)
      .select(col("cell").as("query_cell"), col("probe_cell"),
        round(CosineSimilarity(col("cent_e"), col("probe_e")), 4).as("psim"))
      .withColumn("pr", row_number().over(Window.partitionBy(col("query_cell"))
        .orderBy(col("psim").desc, col("probe_cell"))))
      .filter(col("pr") <= nProbe)
      .select(col("query_cell"), col("probe_cell"))
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cell").as("query_cell"))
      .join(broadcast(probes), "query_cell")
    val cands = assigned.select(col("vec_id").as("cid"),
      col("embedding").as("ce"), col("cell").as("probe_cell"))
    // the overlap join drops topK's final sort (EliminateSorts)
    recallOverlap(bruteForceTopK(s, d, nQueries, k),
      topK(queries, cands, Seq("probe_cell"), k))
  }

  /** Seeded k-means training over any `(vec_id, embedding)` frame,
    * returning just the centroid table — the tiny index metadata that
    * lives on the driver / beside the data. Cell ASSIGNMENT is kept out
    * of MLlib on purpose: `model.transform` routes through `findClosest`
    * (norm-bound-pruned `fastSquaredDistance`), whose ulp-level shortcuts
    * no SQL oracle can replay — so every consumer assigns with the one
    * explicitly-defined rule [[voronoiAssign]] instead, and the trained
    * centroids become plain literals both engines score identically. */
  private[ops] def kmeansCentroids(embIn: DataFrame,
      nCells: Int): Array[Array[Double]] = {
    val emb = embIn.withColumn("features", array_to_vector(col("embedding")))
    val kmeans = new KMeans().setK(nCells).setSeed(42L).setMaxIter(10)
    kmeans.fit(emb).clusterCenters.map(_.toArray)
  }

  /** Trained centroids, once per embeddings content and `nCells`
    * ([[graft.Scaffold.Derived]]): the oracle-SQL builder and the query
    * path must see BITWISE-identical centroids in one JVM (train once,
    * serialize the same doubles into the literals the production
    * assignment scores against). */
  private val centroids = new graft.Scaffold.Derived[Int, Array[Array[Double]]]

  private[ops] def trainedCentroids(s: SparkSession, d: String,
      nCells: Int): Array[Array[Double]] =
    centroids(s"$d/embeddings.parquet", nCells)(kmeansCentroids(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), nCells))

  /** Centroids as a tiny (cell, cent_e) frame, 0-based cell ids. */
  private def centroidFrame(s: SparkSession,
      centroids: Array[Array[Double]]): DataFrame =
    s.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("cell", "cent_e")

  /** Voronoi cell assignment with the ONE rule every IVF path (in-memory,
    * at-rest write, stored-probe routing, DuckDB oracle) shares: nearest
    * centroid by rounded cosine, lowest cell id on ties. The centroid
    * table is broadcast; max(struct) is partially aggregable, so only
    * (vec_id, winner) rows shuffle — embeddings never do.
    *
    * Unscorable rows — null/zero-norm embeddings or a width different
    * from the centroids' (cosine null for every centroid) — are OUTSIDE
    * the indexed domain and dropped here, on every path alike: without
    * the filter they would fall through max(struct)'s null ordering into
    * an arbitrary cell on the distributed side while the driver-routed
    * probe (which cannot score them either) drops them, silently
    * breaking stored-vs-in-memory twin parity on mixed corpora. */
  private[ops] def voronoiAssign(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"),
        round(CosineSimilarity(col("embedding"), col("cent_e")), 4).as("csim"),
        col("cell"))
      .filter(col("csim").isNotNull)
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        max(struct(col("csim"), (-col("cell")).as("neg_id"))).as("w"))
      .select(col("vec_id"), col("embedding"), (-col("w.neg_id")).as("cell"))

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** nProbe nearest cells per cell, from the (tiny) centroid set —
    * computed on the driver, the same place the centroids live. */
  private[ops] def probeMapOf(centroids: Array[Array[Double]],
      nProbe: Int): Map[Int, Seq[Int]] =
    centroids.indices.map { c =>
      c -> centroids.indices.sortBy(o => dist2(centroids(c), centroids(o)))
        .take(nProbe).toSeq
    }.toMap

  /** The production IVF pipeline over any `(vec_id, embedding)` frame —
    * shared by [[ivfTopK]] and the [[ivfDupRetrieval]] guarantee oracle so
    * the oracle exercises exactly what production runs. `assigned` is
    * localCheckpointed for the same reason [[ivfRecallAtK]]'s is: queries
    * and candidates both read it, and as a lazy subtree each side would
    * re-pay the corpus×centroid assignment. */
  private[ops] def ivfTopKOf(s: SparkSession, embIn: DataFrame,
      centroids: Array[Array[Double]], nQueries: Int, k: Int,
      nProbe: Int): DataFrame = {
    val assigned =
      voronoiAssign(embIn, centroidFrame(s, centroids)).localCheckpoint()
    val probeMap = probeMapOf(centroids, nProbe)
    val probes = s.createDataFrame(
      probeMap.toSeq.flatMap { case (c, ps) => ps.map(p => (c, p)) })
      .toDF("query_cell", "probe_cell")
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cell").as("query_cell"))
      .join(broadcast(probes), "query_cell")
    val cands = assigned
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("cell").as("probe_cell"))
    topK(queries, cands, Seq("probe_cell"), k)
  }

  /** The `x_sim_ivf` DuckDB oracle, built at dump time: the trained
    * k-means centroids (cached — the query path scores the SAME doubles)
    * and the driver-computed probe map are emitted as literals, and the
    * oracle replays assign → probe → rescore with the exact arithmetic
    * the production plan uses (`round(list_cosine_similarity, 4)` is
    * bitwise-aligned with the native [[CosineSimilarity]] — the invariant
    * every green ANN oracle already rests on). The technique is the
    * hyperplanes-as-literals trick that converted `x_sim_lsh`: any
    * deterministic seeded driver-resident structure is SQL once
    * serialized. */
  def ivfOracleSql(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4): String = {
    val centroids = trainedCentroids(s, d, nCells)
    val probeMap = probeMapOf(centroids, nProbe)
    val centVals = centroids.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(", ")
    val probeVals = probeMap.toSeq.sortBy(_._1).flatMap { case (c, ps) =>
      ps.map(p => s"($c, $p)")
    }.mkString(", ")
    val dims = centroids.headOption.map(_.length).getOrElse(0)
    s"""WITH cent AS (SELECT * FROM (VALUES $centVals) AS t(cell, ce)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
       |      WHERE embedding IS NOT NULL AND len(embedding) = $dims
       |        AND list_aggregate(list_transform(embedding::DOUBLE[],
       |              v -> abs(v)), 'max') > 0),
       |assigned AS (SELECT vec_id, x, cell FROM (
       |  SELECT e.vec_id, e.x, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_cosine_similarity(e.x, c.ce), 4) DESC, c.cell) AS rn
       |  FROM e CROSS JOIN cent c) WHERE rn = 1),
       |probes AS (SELECT * FROM (VALUES $probeVals) AS p(query_cell, probe_cell)),
       |qp AS (SELECT vec_id AS qid, x AS qe, probe_cell
       |       FROM assigned JOIN probes ON assigned.cell = probes.query_cell
       |       WHERE vec_id < $nQueries),
       |ann AS (
       |  SELECT qp.qid, a.vec_id AS cid,
       |    round(list_cosine_similarity(qp.qe, a.x), 4) AS sim,
       |    row_number() OVER (PARTITION BY qp.qid
       |      ORDER BY round(list_cosine_similarity(qp.qe, a.x), 4) DESC, a.vec_id) AS rn
       |  FROM assigned a JOIN qp ON a.cell = qp.probe_cell
       |  WHERE qp.qid <> a.vec_id)
       |SELECT qid, cid, sim, CAST(rn AS INT) AS rn FROM ann
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  /** IVF at rest — the serving layout at 100 TB: the cell-assigned corpus
    * is written `partitionBy("cell")`, one directory per k-means cell, and
    * the centroid table lands beside it (it IS the index metadata: tiny,
    * driver-resident). A probe against the stored index then reads ONLY
    * its probed cell directories — partition pruning cuts the file listing
    * before any I/O happens, so a query touches ~nProbe/nCells of the
    * bytes at rest instead of filtering after a full scan. */
  def writeIvfPartitioned(s: SparkSession, d: String, outDir: String,
      nCells: Int = 16): Unit =
    writeIvfStore(s,
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      trainedCentroids(s, d, nCells), outDir)

  /** The IVF store of `emb` under the given centroids. */
  private[ops] def writeIvfStore(s: SparkSession, emb: DataFrame,
      centroids: Array[Array[Double]], outDir: String): Unit = {
    StoredIndex.writePartitioned(
      voronoiAssign(emb, centroidFrame(s, centroids)), "cell", s"$outDir/corpus")
    centroidFrame(s, centroids).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
  }

  /** The at-rest IVF pipeline as ONE driver-checkable query: write the
    * cell-partitioned index (cached per JVM), then probe it. Output is
    * identical to [[ivfTopK]] by the shared-rule construction, so the
    * same hash-checked oracle pins the whole write→prune→probe path —
    * at-rest serving graduates from spec-pinned parity to a green
    * CORRECTNESS row of its own. */
  def ivfStoredQuery(s: SparkSession, d: String): DataFrame = {
    val out = StoredIndex.cached("ivf", d, s"$d/embeddings.parquet")(
      writeIvfPartitioned(s, d, _))
    ivfProbeStored(s, d, out)
  }

  /** [[ivfStoredQuery]]'s twin for the LSH layout: same signature, same
    * buckets, same oracle as [[lshTopK]]. */
  def lshStoredQuery(s: SparkSession, d: String): DataFrame = {
    val out = StoredIndex.cached("lsh", d, s"$d/embeddings.parquet")(
      writeLshPartitioned(s, d, _))
    lshProbeStored(s, d, out)
  }

  /** Query the stored IVF index: quantize the query vectors against the
    * stored centroids ON THE DRIVER (the serving-path shape — no job runs
    * to route a query), then exact-re-score only the probed cell
    * directories. Query vectors come from the source embeddings table
    * (`vec_id < nQueries`, a pushed-down point read); the STORED corpus
    * is touched exclusively through the pruned partition filter.
    *
    * Serving contract: this path `collect()`s the query vectors, so it is
    * for query-set cardinality ≪ corpus — point lookups routed without a
    * Spark job. Bulk query sets (a corpus self-join, an eval sweep) go
    * through [[ivfTopK]], which keeps queries distributed; the
    * [[MaxDriverQueries]] guard makes the boundary explicit instead of
    * letting a caller discover it as a driver OOM. */
  def ivfProbeStored(s: SparkSession, d: String, outDir: String,
      nQueries: Int = 8, k: Int = 5, nProbe: Int = 4): DataFrame = {
    import s.implicits._
    val qVecs = driverQueries(s, d, nQueries, "ivfProbeStored", "ivfTopK")
    val centroids: Array[Array[Double]] =
      s.read.schema(CentroidsSchema)
        .parquet(s"$outDir/centroids")
        .select(col("cell"), col("centroid")).as[(Int, Seq[Double])]
        .collect().sortBy(_._1).map(_._2.toArray)
    val probeMap = probeMapOf(centroids, nProbe)
    // driver-side quantization with the SAME rule the stored corpus was
    // assigned under (voronoiAssign: rounded cosine desc, lowest cell on
    // ties) — one shared rule, so stored-vs-in-memory parity holds by
    // construction, not by luck on near-equidistant queries. A query the
    // distributed rule cannot score (width mismatch vs the index's
    // centroids, zero norm → null cosine) is unroutable and dropped, and
    // a cell it cannot score against (a zero-norm centroid) is skipped —
    // exactly the rows voronoiAssign's null-cosine filter drops. Scores
    // come from the native expression's kernel, rounded HALF_UP to 4
    // places like Spark's `round`.
    val cents = centroids.map(c => ArrayData.toArrayData(c))
    val queryRows = qVecs.flatMap { case (qid, e) =>
      val q = ArrayData.toArrayData(e)
      cents.indices
        .flatMap { c =>
          val cos = CosineSimilarity.compute(q, cents(c), false, true, false, false)
          if (cos.isNaN) None
          else Some(c -> java.math.BigDecimal.valueOf(cos)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue)
        }
        .maxByOption { case (c, sim) => (sim, -c) }
        .toSeq.flatMap { case (cell, _) => probeMap(cell).map(p => (qid, e, p)) }
    }.toSeq
    val queries = queryRows.toDF("qid", "qe", "probe_cell")
    val cands = StoredIndex.readProbed(s, s"$outDir/corpus", "cell",
        queryRows.map(_._3).distinct.sorted, IvfStoreSchema)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("cell").as("probe_cell"))
    topK(queries, cands, Seq("probe_cell"), k)
  }
}
