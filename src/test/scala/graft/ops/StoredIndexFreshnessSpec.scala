package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest index freshness contract (r12 VERDICT item 6), parametrized
  * over every cache-keyed store family: the *_stored queries cache their
  * index per JVM keyed by `Scaffold.fingerprint(src)`, so an IN-PLACE
  * corpus rewrite must (a) not serve the stale index and (b) produce
  * exactly what a cold build over the new corpus produces. Each family
  * runs end-to-end three times — original corpus, mutated-in-place
  * corpus, and a pristine copy of the mutated corpus at a fresh path
  * (whose cache key cannot collide) — asserting
  * `mutated == pristine-copy` (freshness: the served probe is
  * indistinguishable from a cold one) and `original != mutated` (the
  * mutation was answer-changing, so the first assertion is not vacuous).
  * A regression that keys the cache on path alone, or skips the
  * fingerprint on a hit, fails here by serving the stale index.
  */
class StoredIndexFreshnessSpec extends graft.SparkSpec {

  private val src = "/root/testdata/sf0.001"

  /** Copy a table via read→write (schema-preserving), optionally
    * filtered — the mutation always reads from the immutable driver
    * testdata, never from the dir being overwritten. */
  private def writeTable(table: String, destDir: String,
      f: DataFrame => DataFrame = identity): Unit =
    f(spark.read.parquet(s"$src/$table.parquet"))
      .write.mode("overwrite").parquet(s"$destDir/$table.parquet")

  /** Drop roughly half the corpus, keeping the low-id rows every stored
    * probe sources its queries from (ivf/lsh read `vec_id < 8`;
    * bm25/decon derive query/eval slices from low/periodic doc_ids), and
    * plant eval-doc text (doc 0 is in decon's `doc_id % 97 == 0` eval
    * slice) into a band of training docs — halving alone leaves the
    * contamination counts coincidentally unchanged at this SF. */
  private def mutate(destDir: String): Unit = {
    val evalText = spark.read.parquet(s"$src/documents.parquet")
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    writeTable("documents", destDir,
      _.filter(col("doc_id") < 20 || col("doc_id") % 2 === 0)
        .withColumn("text",
          when(col("doc_id").between(2, 10), lit(evalText))
            .otherwise(col("text"))))
    writeTable("embeddings", destDir,
      _.filter(col("vec_id") < 20 || col("vec_id") % 2 === 0))
  }

  private val families: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "x_sim_ivf_stored" -> ((s, d) => Similarity.ivfStoredQuery(s, d)),
    "x_sim_lsh_stored" -> ((s, d) => Similarity.lshStoredQuery(s, d)),
    "x_bm25_stored" -> ((s, d) => Retrieval.bm25StoredQuery(s, d)),
    "x_decon_stored" -> ((s, d) => CorpusPrep.deconStoredQuery(s, d)),
    "x_dedup_incr_stored" -> ((s, d) => Dedup.incrDedupStoredQuery(s, d)))

  for ((name, query) <- families) test(s"$name rebuilds on in-place corpus rewrite") {
    val dir = graft.Scaffold.cleanupOnExit(
      Files.createTempDirectory("graft-fresh").toString)
    writeTable("documents", dir)
    writeTable("embeddings", dir)
    val original = query(spark, dir).collect().toSeq

    mutate(dir) // in-place: same path, new content fingerprint

    val afterMutation = query(spark, dir).collect().toSeq

    val pristine = graft.Scaffold.cleanupOnExit(
      Files.createTempDirectory("graft-fresh-cold").toString)
    mutate(pristine) // same mutated corpus, fresh path → cold build
    val coldBuild = query(spark, pristine).collect().toSeq

    assert(afterMutation === coldBuild,
      s"$name served a result a cold build over the new corpus would not — " +
        "stale index (cache key ignored the content fingerprint?)")
    assert(original !== afterMutation,
      s"$name: the mutation did not change the answer; the freshness " +
        "assertion above is vacuous — strengthen the mutation")
  }

  // The other fingerprint-keyed derived values (graft.Scaffold.Derived):
  // the streaming drives' staged splits and the trained IVF centroids.
  // After an in-place rewrite each must answer as its batch twin over the
  // rewritten table does.

  private def freshDir(): String = graft.Scaffold.cleanupOnExit(
    Files.createTempDirectory("graft-fresh").toString)

  test("x_stream_hourly restages on in-place events rewrite") {
    val dir = freshDir()
    writeTable("events", dir)
    val original =
      graft.streaming.StreamDrive.hourlyFromFiles(spark, dir).collect().toSeq
    writeTable("events", dir, _.filter(col("user_id") % 2 === 0))
    val afterRewrite =
      graft.streaming.StreamDrive.hourlyFromFiles(spark, dir).collect().toSeq
    assert(afterRewrite === Sessionize.hourlyWindows(spark, dir).collect().toSeq,
      "the drive replayed a stale staged split")
    assert(original !== afterRewrite, "the rewrite did not change the answer")
  }

  test("x_stream_dedup restages on in-place documents rewrite") {
    import spark.implicits._
    def groups(df: DataFrame) = df.select("digest", "keep_id", "n_copies")
      .as[(String, Long, Long)].collect().toSet
    val dir = freshDir()
    writeTable("documents", dir)
    val original = groups(graft.streaming.StreamDrive.dedupFromFiles(spark, dir))
    mutate(dir)
    val afterRewrite =
      groups(graft.streaming.StreamDrive.dedupFromFiles(spark, dir))
    assert(afterRewrite === groups(Dedup.exact(spark, dir)),
      "the drive replayed a stale staged split")
    assert(original !== afterRewrite, "the rewrite did not change the answer")
  }

  test("ivfTopK retrains its centroids on in-place embeddings rewrite") {
    val dir = freshDir()
    writeTable("embeddings", dir)
    Similarity.ivfTopK(spark, dir).collect()
    val oldCentroids = Similarity.trainedCentroids(spark, dir, 16)
    mutate(dir)
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    def topK(centroids: Array[Array[Double]]) =
      Similarity.ivfTopKOf(spark, emb, centroids, 8, 5, 4).collect().toSeq
    val fresh = topK(Similarity.kmeansCentroids(emb, 16))
    assert(Similarity.ivfTopK(spark, dir).collect().toSeq === fresh,
      "ivfTopK probed with centroids trained on the old embeddings")
    assert(topK(oldCentroids) !== fresh,
      "the old centroids answer as fresh ones do; the check above is vacuous")
  }
}
