package graft.tools

import graft.ops.{StoredIndex, Tables}
import org.apache.spark.sql.functions._

/** Optimization-round measurement tool: the store WRITE subtrees never
  * appear in PlanDump output (the `*_stored` queries' plans show only the
  * probe; the write runs as a side effect inside [[StoredIndex.cached]]),
  * so this dumps the physical plan of a writer-shaped frame routed
  * through [[StoredIndex.clustered]] — the clustering every
  * [[StoredIndex.writePartitioned]] store write applies, and the
  * artifact backing the salted-clustering claim in OPTIMIZATION_r22.md. Two dumps: the
  * bench-scale degenerate shape (splits = 1) and a forced multi-split
  * shape (sourceBytesHint = 1 TB) showing the salted exchange a 100 TB
  * store write gets.
  *
  * Usage: runMain graft.tools.WritePlanDump <outDir>
  */
object WritePlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: WritePlanDump <outDir>")
    val outDir = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val in = Tables.documents(spark, sfDir)
      .select(col("doc_id"), xxhash64(col("text")).as("fp"))
      .withColumn("bucket", pmod(hash(col("fp")), lit(64)))
    for ((tag, hint) <- Seq(
        ("store_write_cluster_bench", -1L),            // real sf bytes
        ("store_write_cluster_100tb", 1L << 40))) {    // forced multi-split
      val df = StoredIndex.clustered(
        in, 64, "bucket", col("doc_id"), sourceBytesHint = hint)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${tag}.txt")
      try w.println(plan) finally w.close()
      println(s"WRITEPLANDUMP ok $tag")
    }
    spark.stop()
  }
}
