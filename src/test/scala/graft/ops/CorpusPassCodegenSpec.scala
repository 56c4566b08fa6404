package graft.ops

import graft.SparkEntry
import org.apache.spark.metrics.source.CodegenMetrics

/** A steady corpus pass reuses the generated classes of the pass before
  * it: the JVM-wide codegen cache (sized in `graft.Sessions`) holds the
  * whole working set of the corpus operators, so repeating them compiles
  * nothing. With Spark's default of 100 entries each repeat recompiled
  * about 200 classes. */
class CorpusPassCodegenSpec extends graft.SparkSpec {

  test("a second corpus pass compiles no classes") {
    val dir = "/root/testdata/sf0.001"
    // the queries the corpus_ops benchmark workload times, each to a
    // full-output sink as it does
    def pass(): Unit = perfbench.Corpus.Queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    }
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val before = compiled
    pass()
    assert(compiled - before == 0L)
  }
}
