package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.types.StructType

/** The at-rest store layout constants (PostingsSchema, LshStoreSchema,
  * IvfStoreSchema, and the side tables' DDL: QtermsSchema, TotalsSchema,
  * CentroidsSchema, FpIndexSchema, BloomSchema, DeconGramsSchema,
  * DeconMetaSchema) are hand-stated contracts that the serving-path probe
  * trusts INSTEAD of schema inference — so a writer change (renamed
  * column, widened tf) would not fail the probe's read; it would return
  * all-null columns for the renamed field and silently corrupt scores.
  * This suite writes each store small and asserts the writer's actual
  * output equals its contract: the data files must carry exactly the
  * contract's non-partition columns (name and type), and the partition
  * directories must be keyed on the contract's LAST column, which is the
  * partition column by convention (stated at each constant). An
  * unpartitioned store or side table must carry exactly its DDL's
  * columns. */
class StoreSchemaContractSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** (leaf-dir data schema as name->type pairs, partition key of the
    * first partition directory) of a partitioned store. Reading ONE leaf
    * directory (its own basePath) yields exactly the file columns — no
    * partition-column inference to blur the comparison. */
  private def observedLayout(store: String): (Seq[(String, String)], String) = {
    val dirs = Option(new java.io.File(store).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.contains("=")).sortBy(_.getName)
    assert(dirs.nonEmpty, s"no partition directories under $store")
    val leaf = spark.read.parquet(dirs.head.getPath).schema
    (leaf.fields.toSeq.map(f => f.name -> f.dataType.simpleString),
      dirs.head.getName.takeWhile(_ != '='))
  }

  private def contractPairs(c: StructType): Seq[(String, String)] =
    c.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def assertContract(store: String, contract: StructType): Unit = {
    val (observed, partKey) = observedLayout(store)
    assert(partKey == contract.fields.last.name,
      s"store at $store partitions on '$partKey' but the contract's " +
        s"partition column (last field) is '${contract.fields.last.name}'")
    assert(observed == contractPairs(contract).dropRight(1),
      s"writer output columns $observed diverge from the stated " +
        s"contract ${contractPairs(contract).dropRight(1)} — the probe's " +
        "explicit-schema read would return all-null for the divergent field")
  }

  /** An unpartitioned side table's data columns equal its stated DDL. */
  private def assertDdl(table: String, ddl: String): Unit = {
    val observed = contractPairs(spark.read.parquet(table).schema)
    assert(observed == contractPairs(StructType.fromDDL(ddl)),
      s"writer output columns $observed at $table diverge from the stated " +
        s"contract '$ddl' — the explicit-schema read would return all-null " +
        "for the divergent field")
  }

  private def tempStore(kind: String): String = graft.Scaffold.cleanupOnExit(
    java.nio.file.Files.createTempDirectory(s"graft-contract-$kind").toString)

  private lazy val bm25Store = {
    val out = tempStore("bm25")
    Retrieval.writeBm25Index(spark, sfDir, out, nBuckets = 4); out
  }
  private lazy val ivfStore = {
    val out = tempStore("ivf")
    Similarity.writeIvfPartitioned(spark, sfDir, out, nCells = 4); out
  }

  test("writeBm25Index postings match PostingsSchema") {
    assertContract(s"$bm25Store/postings", Retrieval.PostingsSchema)
  }

  test("writeBm25Index qterms and totals match QtermsSchema and TotalsSchema") {
    assertDdl(s"$bm25Store/qterms", Retrieval.QtermsSchema)
    assertDdl(s"$bm25Store/totals", Retrieval.TotalsSchema)
  }

  test("writeLshPartitioned corpus matches LshStoreSchema") {
    val out = tempStore("lsh")
    Similarity.writeLshPartitioned(spark, sfDir, out)
    assertContract(s"$out/corpus", Similarity.LshStoreSchema)
  }

  test("writeIvfPartitioned corpus matches IvfStoreSchema") {
    assertContract(s"$ivfStore/corpus", Similarity.IvfStoreSchema)
  }

  test("writeIvfPartitioned centroids match CentroidsSchema") {
    assertDdl(s"$ivfStore/centroids", Similarity.CentroidsSchema)
  }

  test("writeIncrIndex fp and bloom match FpIndexSchema and BloomSchema") {
    val out = tempStore("incr")
    Dedup.writeIncrIndex(spark, sfDir, out)
    // read whole by its probe, so stored flat: no partition column
    assert(Dedup.FpIndexSchema == "doc_id BIGINT, fp BIGINT")
    assertDdl(s"$out/fp", Dedup.FpIndexSchema)
    assertDdl(s"$out/bloom", Dedup.BloomSchema)
  }

  test("writeDeconIndex grams and meta match DeconGramsSchema and DeconMetaSchema") {
    val out = tempStore("decon")
    CorpusPrep.writeDeconIndex(spark, sfDir, out)
    assert(CorpusPrep.DeconGramsSchema == "eval_id BIGINT, gram STRING")
    assertDdl(s"$out/grams", CorpusPrep.DeconGramsSchema)
    assertDdl(s"$out/meta", CorpusPrep.DeconMetaSchema)
  }
}
