package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.IntegerType

/** The contract of [[Similarity.topK]], the exact-refinement stage every
  * candidate generator (all pairs, sign bucket, IVF cell, stored probes)
  * feeds, pinned on a hand-built frame: query 0's own vector is among the
  * candidates, and candidates 1 and 2 tie after 4-decimal rounding
  * although candidate 2's raw cosine is the higher one. */
class SimilarityTopKSpec extends graft.SparkSpec {

  /** A unit 2-d vector whose cosine with (1, 0) is `c`. */
  private def at(c: Double): Seq[Float] =
    Seq(c.toFloat, math.sqrt(1 - c * c).toFloat)

  private def queries: DataFrame = {
    import spark.implicits._
    Seq((0L, at(1.0), 7)).toDF("qid", "qe", "key")
  }

  /** (cid, cosine with query 0, key); candidate 4 scores highest but
    * sits in another bucket. */
  private val candRows = Seq(
    (2L, 0.80004, 7), (0L, 1.0, 7), (3L, 0.5, 7), (1L, 0.80002, 7),
    (4L, 0.99, 8))

  private def cands(rows: Seq[(Long, Double, Int)]): DataFrame = {
    import spark.implicits._
    rows.map { case (cid, c, key) => (cid, at(c), key) }.toDF("cid", "ce", "key")
  }

  private def check(res: DataFrame): Unit = {
    assert(res.columns.toSeq == Seq("qid", "cid", "sim", "rn"))
    assert(res.schema("rn").dataType == IntegerType)
    val rows = res.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // exactly k = 2 rows, the tie broken by the lower cid, no (0, 0) row
    assert(rows == Seq((0L, 1L, 0.8, 1), (0L, 2L, 0.8, 2)))
  }

  test("all-pairs topK: rounded ties rank by cid, self matches drop, k INT-ranked rows") {
    check(Similarity.topK(queries.drop("key"),
      cands(candRows.filter(_._3 == 7)).drop("key"), Nil, k = 2))
  }

  test("keyed topK: only same-key candidates score, with the same ranking contract") {
    check(Similarity.topK(queries, cands(candRows), Seq("key"), k = 2))
  }
}
