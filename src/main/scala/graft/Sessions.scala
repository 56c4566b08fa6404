package graft

import org.apache.spark.sql.SparkSession

/** The ONE shared local-session configuration for every entry point
  * (Bench, Verify, the measurement tools, the test harness). Previously
  * copy-pasted into six builders (ADVICE r21) — a retune that misses one
  * silently diverges benchmarks, verification and plan dumps in plan
  * shape. Master/parallelism follow the driver contract:
  * `local[$SPARK_GRAFT_CPUS]`, shuffle partitions = cpus. */
object Sessions {

  /** Core count from the driver contract (`SPARK_GRAFT_CPUS`). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def localBuilder(cpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // some driver generations ship events.ts as TIMESTAMP(NANOS), which
      // Spark rejects by default — read those as long nanoseconds; the
      // temporal operators adapt to either encoding (Tables.eventMicros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing runs at Spark defaults. r21 pinned a 16 KB
      // minPartitionSize floor here to keep small-but-CPU-dense post-
      // shuffle stages parallel (x_bm25_topk once spent 3.4 s of 4.6 s in
      // one 1-task job); the r21 parallelizeSmallScan work fixed that at
      // the SCAN level, and the r22 interleaved A/B (two rounds, both
      // sides, 10 queries — OPTIMIZATION_r22.md) measured the floor as
      // equal-or-slower everywhere, including its original beneficiaries
      // (x_bm25_topk 3.5-3.8 s without vs 3.7-4.1 s with; x_tfidf_top
      // 1.0-1.2 vs 1.4-1.6): the extra tiny post-shuffle tasks are pure
      // overhead once scans parallelize. Dropped — fewer tuned constants.
      .config("spark.ui.enabled", "false")
      // Spark keeps generated classes in one JVM-wide LRU (a static conf,
      // so the first session of a JVM fixes it). At the default of 100 a
      // working set larger than the cache is recompiled on every pass: the
      // 11 corpus operators at sf0.001 compile 294 classes cold and
      // 183-189 again on every steady pass (3.1-3.6 s a pass; 2.4-2.7 s
      // when nothing is recompiled). The largest pass any entry point
      // makes, Bench's warm-up of all 102 driver queries at sf0.001,
      // compiles 922 distinct classes (counted with an unbounded cache);
      // 2,000 holds that with room for the timed runs' own plans. With it
      // a steady corpus pass compiles nothing (CorpusPassCodegenSpec).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
}
