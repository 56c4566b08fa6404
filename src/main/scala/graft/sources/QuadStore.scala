package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TTL ingest: quads read back from the sink directories the import
  * pipeline writes. */
object QuadStore {

  /** TTL/N-Triples ingest — the read-back face of `ExtractPipeline
    * .writeTtl`'s sink directories (what a downstream consumer of the
    * reference's TTL output parses; re-parse itself is G5,
    * lib/pipeline-import.js re-reads via n3). One text scan per
    * directory, the native `ParseNTriple` expression per line; blank
    * lines and `#` comments yield no row (P6), malformed lines are
    * surfaced (`parse_ok = false`, raw line kept) rather than dropped,
    * so ingest errors are observable. Embarrassingly parallel —
    * `maxPartitionBytes` splits big files, no shuffle.
    *
    * It stays a product surface although no service path calls it: it is
    * the documented G5 read-back of the TTL sinks (README's module list
    * names it), the one way a consumer reads the output as quads. */
  def readTtl(spark: SparkSession, dir: String): DataFrame = {
    import graft.rdf.NTriples
    spark.read.text(dir)
      .filter(length(trim(col("value"))) > 0 &&
        !trim(col("value")).startsWith("#"))
      .select(col("value").as("line"),
        NTriples.parseNTriple(col("value")).as("q"))
      .select(col("line"), col("q").isNotNull.as("parse_ok"),
        col("q.subject").as("subject"), col("q.predicate").as("predicate"),
        col("q.obj").as("obj"), col("q.graph").as("graph"))
  }
}
