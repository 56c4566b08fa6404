package graft

/** Mechanized form of the per-round plan audit: NO registered query may
  * plan a `CartesianProduct` — the one join shape that cannot survive a
  * 100x scale-up (both sides unbounded, no key, no broadcast bound).
  *
  * Scope notes:
  *   - `BroadcastNestedLoopJoin` is deliberately NOT banned: the
  *     brute-force similarity baselines broadcast a BOUNDED query set
  *     (`require`-capped driver routing, `Similarity.scala`) against the
  *     corpus, which scales with the corpus like any scan — that is the
  *     documented serving shape, not a scale bug.
  *   - Streaming drives (`x_stream_*`) EXECUTE on invocation (wall-time
  *     drives writing checkpoints/sinks) and return a scan of their own
  *     sink output — there is no production plan to audit on the
  *     returned frame, and StreamingSpec pins their trigger behavior.
  *   - A query with a DELIBERATE cartesian would be exempt-listed in
  *     `allowCartesian` with its justification; the list is EMPTY — even
  *     the exact all-pairs recall oracles (`x_dedup_semantic`,
  *     `x_sim_topk`) are written as bounded-broadcast or keyed joins.
  *
  * Cost: building every plan executes the eager prefixes some operators
  * have (index builds, capped collects) at sf0.001 — the smallest
  * fixture — so the sweep stays cheap while still planning the exact
  * production DAGs.
  */
class PlanGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val streamDrives: Set[String] =
    SparkEntry.queries.keySet.filter(_.startsWith("x_stream_"))

  private val allowCartesian = Set.empty[String]

  test("no registered query plans a CartesianProduct") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !streamDrives(name)) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct") && !allowCartesian(name))
        offenders += name
    }
    assert(offenders.isEmpty,
      s"queries planning a CartesianProduct: ${offenders.mkString(", ")} — " +
        "either re-shape the join (bucket/broadcast/key it) or exempt it " +
        "here with a written justification")
  }
}
