package graft.pipeline

import graft.SparkSpec
import graft.pipeline.FileRegistry.Quad
import org.scalacheck.Gen
import org.scalacheck.Prop.forAllNoShrink

/** Property spec for [[TaskStore.update]], the one state-change operator:
  * over small states that are sets, with null subjects, objects and
  * graphs, and inserts that repeat, are already present or share a
  * retract pair, the new state is the set
  * `(state − rows matching a retract pair) ∪ distinct(insert)`, compared
  * null-safely like the triplestore's term equality, and holds no
  * duplicate row. */
class TaskStoreUpdateSpec extends SparkSpec {
  import spark.implicits._

  private val subjects = Gen.oneOf("http://t/1", "http://t/2", "http://e/1", null)
  private val predicates = Gen.oneOf("http://p/status", "http://p/modified", "http://p/x")
  private val values = Gen.oneOf("a", "b", "", null)
  private val quad: Gen[Quad] =
    for (s <- subjects; p <- predicates; o <- values; g <- values) yield (s, p, o, g)

  private val caseGen = for {
    state <- Gen.listOfN(8, quad).map(_.distinct)
    retract <- Gen.listOfN(2, Gen.zip(subjects, predicates))
    fresh <- Gen.listOfN(3, quad)
    present <- Gen.someOf(state)
    onPair <- Gen.listOfN(2, for {
      sp <- Gen.oneOf(retract); o <- values; g <- values } yield (sp._1, sp._2, o, g))
    repeats <- Gen.choose(0, 2)
  } yield {
    val insert = fresh ++ present ++ onPair
    (state, retract, insert ++ insert.take(repeats))
  }

  test("update is the set (state - retracted pairs) + distinct(insert), null-safe") {
    // no shrinking: ScalaCheck's String shrinker throws on a null value
    val prop = forAllNoShrink(caseGen) { case (state, retract, insert) =>
      val got = TaskStore.update(state.toDF("subject", "predicate", "obj", "graph"),
        retract, insert).as[Quad].collect().toSeq
      val kept = state.filterNot(q => retract.contains((q._1, q._2)))
      got.size == got.distinct.size && got.toSet == (kept ++ insert).toSet
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
