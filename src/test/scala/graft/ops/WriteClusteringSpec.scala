package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the store-writer clustering of [[StoredIndex.writePartitioned]]:
  * the keyed exchange on the partition column puts every row of a value
  * in one write task, so each partition directory holds exactly one file
  * however many partitions the input arrives in (the many-small-files
  * failure the clustering exists to prevent). */
class WriteClusteringSpec extends SparkSpec {

  private lazy val srcDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-writeclustering").toString
    graft.Scaffold.cleanupOnExit(dir)
    spark.range(0, 2000)
      .select(col("id"), md5(col("id").cast("string")).as("txt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/src")
    s"$dir/src"
  }

  test("clustered small-scale write yields one file per partition directory") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-writeclustering-out").toString
    graft.Scaffold.cleanupOnExit(dir)
    // spread over 8 input partitions: without the keyed exchange each
    // directory would receive up to 8 files
    val in = spark.read.parquet(srcDir).repartition(8)
      .withColumn("bucket", pmod(hash(col("id")), lit(16)))
    StoredIndex.writePartitioned(in, "bucket", s"$dir/store")
    val buckets = new java.io.File(s"$dir/store").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(buckets.length === 16)
    for (b <- buckets) {
      val dataFiles = b.listFiles().filter(f =>
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(dataFiles.length === 1,
        s"${b.getName} has ${dataFiles.length} data files (expected 1)")
    }
    // the layout stays readable with the partition column materialized
    val back = spark.read.parquet(s"$dir/store")
    assert(back.count() === 2000)
    assert(back.select(countDistinct(col("bucket"))).head().getLong(0) === 16)
  }
}
