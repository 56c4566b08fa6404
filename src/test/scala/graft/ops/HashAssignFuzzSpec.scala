package graft.ops

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll

/** Property fuzz for the hash-deterministic assignment operators
  * ([[CorpusPrep.splitAssignOf]] / [[CorpusPrep.weightedSampleOf]]):
  * over ARBITRARY ids — negative, zero, Long extremes — the Spark-side
  * md5 bucketing must agree with an independent JVM recompute, because
  * any divergence (string rendering of the id, hex case, nibble
  * decoding) silently reassigns documents between splits at scale. */
class HashAssignFuzzSpec extends SparkSpec {
  import spark.implicits._


  private val idsGen: Gen[List[Long]] = Gen.listOfN(40, Gen.oneOf(
    Gen.chooseNum(Long.MinValue, Long.MaxValue),
    Gen.chooseNum(-1000L, 1000L),
    Gen.oneOf(0L, -1L, 1L, Long.MinValue, Long.MaxValue)))

  test("splitAssign agrees with the JVM md5 oracle on arbitrary ids") {
    val prop = forAll(idsGen) { ids0 =>
      val ids = ids0.distinct
      val got = CorpusPrep.splitAssignOf(ids.toDF("doc_id"))
        .as[(Long, String, String)].collect()
        .map { case (id, b, sp) => id -> ((b, sp)) }.toMap
      ids.forall { id =>
        val b = md5hex(id.toString).substring(0, 2)
        val sp = if (b < "e6") "train" else if (b < "f3") "val" else "test"
        got(id) == ((b, sp))
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("weightedSample acceptance agrees with the JVM oracle on arbitrary (id, n_chars)") {
    val rowGen = Gen.listOfN(40, for {
      id <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      nc <- Gen.oneOf(Gen.chooseNum(0L, 600L), Gen.oneOf(0L, 499L, 500L, 501L, 250L))
    } yield (id, nc))
    val prop = forAll(rowGen) { rows0 =>
      val rows = rows0.distinctBy(_._1)
      val kept = CorpusPrep.weightedSampleOf(
        rows.map { case (id, nc) => (id, "", nc) }.toDF("doc_id", "text", "n_chars"))
        .select("doc_id").as[Long].collect().toSet
      rows.forall { case (id, nc) =>
        val u = java.lang.Long.parseLong(md5hex(id.toString).substring(0, 2), 16)
        val cut = math.floor(256.0 * math.min(1.0, nc / 500.0)).toLong
        kept.contains(id) == (u < cut)
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
}
