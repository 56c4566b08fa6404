package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** corpus_ops: the banded candidate→verify and stored-index queries of
  * `SparkEntry`, each timed to a full-output sink (a `.count()` would let
  * Catalyst prune columns). The first pass over a corpus directory builds
  * the stored indexes (the program caches them per JVM and directory);
  * later passes probe them. */
object Corpus {
  import Main._

  val Queries: Seq[String] = Seq("x_dedup_simhash", "x_dedup_minhash",
    "x_dedup_semantic_lsh", "x_sim_lsh", "x_lsh_dup", "x_winnow_dup", "x_bm25_stored",
    "x_dedup_incr_stored", "x_decon_stored", "x_sim_lsh_stored", "x_sim_ivf_stored")

  /** One pass: every query to a full-output sink — `noop`, or parquet
    * files under `outputs` when given — timed per query. */
  def pass(spark: SparkSession, dir: String, tag: String,
      outputs: Option[String] = None): Seq[Double] =
    Queries.map { q =>
      timed {
        Spans.span(s"ops.$q", tag) {
          val df = SparkEntry.queries(q)(spark, dir)
          outputs match {
            case Some(o) => df.write.mode("overwrite").parquet(s"$o/$q")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
      }._2
    }

  def run(a: Args, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val dir = a.spec.get("corpus_dir").asText

    // set-up: session and a first read of both tables
    val (spark, setupTimes) = setUp(setUpReps(a)) { _ =>
      val s = session(a.cores, a.work)
      Seq("documents", "embeddings").foreach(t => s.read.parquet(s"$dir/$t.parquet").count())
      s
    }(stop)
    out("setup_reps_s") = setupTimes

    // measured phase, every timed pass to a noop sink: the cold pass (the
    // process's first: it builds the stored indexes and every query runs
    // for the first time), then steady passes that probe the indexes, for
    // the run's time. Between them, an untimed pass writes each query's
    // full output for the DuckDB oracles.
    val outputs = s"${a.work}/outputs"
    val passes = mutable.ArrayBuffer(pass(spark, dir, "cold"))
    pass(spark, dir, "oracle", Some(outputs))
    val t0 = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds)
      passes += pass(spark, dir, s"steady-${passes.size - 1}")
    out("pass_query_s") = passes.toSeq

    val oracles = (SparkEntry.oracleSql ++ SparkEntry.oracleSqlDynamic(spark, dir))
      .filter { case (k, _) => Queries.contains(k) }
    json.writeValue(java.nio.file.Paths.get(s"$outputs/oracle_sql.json").toFile, oracles)
    out("outputs_dir") = outputs
    out("oracle_corpus_dir") = dir
    out("queries") = Queries

    if (a.trace) {
      // steady passes with tracing off and on, alternately
      val probe = new Probe(None)
      val alternating = (0 until 4).map { i =>
        val on = i % 2 == 1
        if (on) { probe.register(spark); Spans.enabled = true }
        val w0 = nowMs
        val times = pass(spark, dir, s"traced-$i")
        val engine = probe.window(w0, nowMs)
        if (on) { Spans.enabled = false; probe.unregister(spark) }
        (on, times, engine)
      }
      val traced = alternating.filter(_._1)
      out("trace_overhead_ratio") = median(traced.map(_._2.sum)) /
        median(alternating.filterNot(_._1).map(_._2.sum))
      out("traced_query_s") = Queries.indices.map(i => Queries(i) -> median(traced.map(_._2(i)))).toMap
      out("engine_per_pass") = traced.map(_._3)
      // a cold pass with the code already warm: a fresh copy of the corpus
      // is a directory the program has not indexed, so only the stored
      // indexes are built again
      val copy = s"${a.work}/corpus-copy"
      copyDir(dir, copy)
      out("warm_cold_pass_s") = pass(spark, copy, "cold-copy").sum
    }
  }
}
