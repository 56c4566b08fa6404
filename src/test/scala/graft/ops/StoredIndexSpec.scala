package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The serving-path store read in isolation: only the probed partition
  * directories enter the scan, probed-but-unwritten buckets drop out of
  * the one root listing, and the all-missing edge returns an EMPTY frame with
  * the contract schema instead of throwing (the integration sweeps in
  * ScaleDesignSpec always probe at least one written bucket, so the
  * empty branch is pinned only here). */
class StoredIndexSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("bucket", LongType)))

  private def writeStore(): String = {
    val dir = graft.Scaffold.cleanupOnExit(java.nio.file.Files
      .createTempDirectory("graft-storedindex-spec").toString)
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 20L), (4L, "d", 30L))
      .toDF("id", "v", "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    dir
  }

  test("reads exactly the probed directories; missing buckets drop silently") {
    val dir = writeStore()
    // 10 and 30 exist, 99 was never written
    val df = StoredIndex.readProbed(spark, dir, "bucket",
      Seq(10L, 30L, 99L), schema)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "bucket"))
    assert(df.schema("bucket").dataType == LongType,
      "explicit schema must pin the partition column type (inference " +
        "would narrow small dir values to Int)")
    val rows = df.select(col("id"), col("v"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq((1L, "a", 10L), (2L, "b", 10L), (4L, "d", 30L)))
    // the scan's root paths are ONLY the probed-and-existing directories
    val scanPaths = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName)
    }.flatten
    assert(scanPaths.sorted == Seq("bucket=10", "bucket=30"),
      s"scan listed more than the probed dirs: $scanPaths")
  }

  test("wide probes take the single-listing branch and agree with point checks") {
    val dir = writeStore()
    // a wide probe (every written bucket plus 37 misses) reads every row
    // once, the same rows a probe of exactly the written buckets reads;
    // both answer existence from the one root listing
    def ids(values: Seq[Long]) =
      StoredIndex.readProbed(spark, dir, "bucket", values, schema)
        .select(col("id"), col("bucket"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val wide = ids((0L until 40L).map(_ * 10L))
    assert(wide == ids(Seq(10L, 20L, 30L)))
    assert(wide == Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L)))
  }

  test("caller errors fail fast instead of masquerading as empty results") {
    val dir = writeStore()
    // a store root that was never written is a probe-before-write bug
    intercept[IllegalArgumentException] {
      StoredIndex.readProbed(spark, dir + "-nope", "bucket", Seq(1L), schema)
    }
    // a partition column the store isn't keyed on can never match
    intercept[IllegalArgumentException] {
      StoredIndex.readProbed(spark, dir, "sig", Seq(10L), schema)
    }
    // a value needing Hive path escaping is rejected, not silently missed
    intercept[IllegalArgumentException] {
      StoredIndex.readProbed(spark, dir, "bucket", Seq("a b"), schema)
    }
    // non-integral values are rejected even when their toString LOOKS
    // path-safe: Float/Double rendering ("10.0", "1.0E7") need not match
    // the writer's partition-path form, so the probe would silently miss
    // an existing directory instead of erroring
    intercept[IllegalArgumentException] {
      StoredIndex.readProbed(spark, dir, "bucket", Seq(10.0f), schema)
    }
    intercept[IllegalArgumentException] {
      StoredIndex.readProbed(spark, dir, "bucket", Seq("10"), schema)
    }
  }

  test("an unpartitioned store root (data files, no partCol dirs) fails fast") {
    // same caller error as a wrong partCol: the store exists but probing
    // it by directory can never match, so an empty frame would disguise
    // a write-side bug as "no candidates"
    val dir = graft.Scaffold.cleanupOnExit(java.nio.file.Files
      .createTempDirectory("graft-storedindex-flat").toString)
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "bucket")
      .write.mode("overwrite").parquet(dir) // no partitionBy
    val e = intercept[IllegalArgumentException] {
      StoredIndex.readProbed(spark, dir, "bucket", Seq(10L), schema)
    }
    assert(e.getMessage.contains("not partitioned"))
  }

  test("a partitioned write of an EMPTY frame reads as empty, not as an error") {
    // such a root holds only marker files (_SUCCESS) — hidden entries
    // must not trip the unpartitioned-root guard
    val dir = graft.Scaffold.cleanupOnExit(java.nio.file.Files
      .createTempDirectory("graft-storedindex-empty").toString)
    import spark.implicits._
    Seq.empty[(Long, String, Long)].toDF("id", "v", "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val df = StoredIndex.readProbed(spark, dir, "bucket", Seq(10L), schema)
    assert(df.count() == 0)
  }

  test("duplicate probed values scan their directory once") {
    val dir = writeStore()
    val rows = StoredIndex.readProbed(spark, dir, "bucket",
        Seq(10L, 10L, 30L), schema)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(rows == Seq((1L, 10L), (2L, 10L), (4L, 30L)),
      s"duplicated probe values must not duplicate rows: $rows")
  }

  test("all probed buckets missing yields an empty frame with the contract schema") {
    val dir = writeStore()
    val df = StoredIndex.readProbed(spark, dir, "bucket", Seq(98L, 99L), schema)
    assert(df.schema == schema)
    assert(df.count() == 0)
    // and an empty probe set likewise (a query routed to no buckets)
    assert(StoredIndex.readProbed(spark, dir, "bucket", Nil, schema).count() == 0)
  }

  // ---- metadata-call contract, pinned by OBSERVATION (counting fs) ----
  // The class exists to bound driver metadata calls, but its result-
  // correctness specs can't see a regression that re-introduces store-
  // wide discovery (the r15-r18 full-store-listing bug returned correct
  // rows for four rounds and surfaced only as cross-round bench drift).
  // A cfs:-scheme local filesystem records every listStatus/exists path;
  // the assertions below only constrain calls AGAINST THE STORE (root +
  // partition dirs) so Spark-internal metadata on the scanned leaf files
  // can't flake them.

  private def countingStore(): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    val local = writeStore()
    (s"cfs:$local", local)
  }

  private def rootLists(root: String): Seq[String] =
    CountingFs.listedPaths.filter(_ == root)
  private def bucketLists(root: String): Seq[String] =
    CountingFs.listedPaths.filter(_.startsWith(root + "/bucket="))
  private def bucketExists(root: String): Seq[String] =
    CountingFs.existedPaths.filter(_.startsWith(root + "/bucket="))

  /** Probe `values` through the counting fs; the store calls must be ONE
    * root listing, then calls only on probed directories the store
    * holds: a listing of an unprobed directory is store-wide discovery,
    * and an `exists` on a missing one is a point check the root listing
    * already answered. Spark's own scan setup re-checks each SELECTED
    * leaf, so the bound is per-path O(1), not a raw total. */
  private def assertProbeCalls(values: Seq[Long], rows: Long): Unit = {
    val (base, local) = countingStore()
    CountingFs.reset()
    assert(StoredIndex.readProbed(spark, base, "bucket", values, schema)
      .count() == rows)
    assert(rootLists(local).size == 1,
      s"a probe lists the store root exactly once: ${rootLists(local)}")
    val selected = values.toSet.intersect(Set(10L, 20L, 30L))
      .map(v => s"$local/bucket=$v")
    val lists = bucketLists(local)
    assert(lists.forall(selected),
      s"listing outside the probed, written dirs: $lists")
    val exists = bucketExists(local)
    assert(exists.forall(selected),
      s"exists call on an unprobed or missing dir: $exists")
    assert(exists.size <= 2 * selected.size,
      s"per-path checks must stay O(1): $exists")
  }

  test("narrow probe: one store listing, metadata touches only probed dirs") {
    assertProbeCalls(Seq(10L, 30L, 99L), rows = 3)
  }

  test("wide probe: exactly one store listing, zero per-value point checks") {
    assertProbeCalls((0L until 40L).map(_ * 10L), rows = 4)
  }

  test("empty probe: zero listings and zero point checks against the store") {
    val (base, local) = countingStore()
    CountingFs.reset()
    assert(StoredIndex.readProbed(spark, base, "bucket", Nil, schema)
      .count() == 0)
    assert(CountingFs.listedPaths.forall(!_.startsWith(local)) &&
        CountingFs.existedPaths.forall(!_.startsWith(local)),
      "the empty probe reads nothing and must pay no store metadata calls " +
        s"(got lists=${CountingFs.listedPaths} exists=${CountingFs.existedPaths})")
  }

  test("all-missing narrow probe pays the sanity listing exactly once") {
    assertProbeCalls(Seq(98L, 99L), rows = 0)
  }
}
