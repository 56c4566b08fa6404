package graft.streaming

import graft.rdf.Vocab
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta (changeset) ingest — the reference's push-based entry point
  * (`POST /delta`, app.js:28-45) re-expressed as Structured Streaming.
  *
  * The wire format is a JSON array of changesets of inserted/deleted
  * triples, each term `{type, value}` (lib/delta.js; FIXTURES.md §1).
  * `scheduledTasks` reproduces `Delta.getInsertsFor(adms:status,
  * scheduled)` (lib/delta.js:13-17): flatten → filter → project subject.
  *
  * Batch and streaming share the same column pipeline: the streaming
  * entry reads a file/socket/Kafka source of delta JSON lines and drives
  * the batch extraction per micro-batch via `foreachBatch` — the Spark
  * equivalent of the reference's fire-and-forget dispatch (T1,
  * app.js:35-38), with better delivery guarantees (checkpointed exactly-
  * once per sink vs. the reference's at-most-once, T2).
  */
object DeltaSource {

  private val termSchema = StructType(Seq(
    StructField("type", StringType), StructField("value", StringType)))
  private val tripleSchema = StructType(Seq(
    StructField("subject", termSchema), StructField("predicate", termSchema),
    StructField("object", termSchema)))
  /** One changeset: `{inserts: [...], deletes: [...]}`. */
  val changesetSchema: StructType = StructType(Seq(
    StructField("inserts", ArrayType(tripleSchema)),
    StructField("deletes", ArrayType(tripleSchema))))
  /** A delta body is an array of changesets. */
  val deltaSchema: ArrayType = ArrayType(changesetSchema)

  /** P8 content-type guard (app.js:18-22): the reference only JSON-parses
    * a request whose content-type matches `^application/json`. Batches
    * that carry a `content_type` column get the same regex filter before
    * `from_json`; sources without one (file drops) are implicitly JSON,
    * like the reference's deltanotifier contract. Malformed bodies are
    * also harmless either way: `from_json` yields null → `explode(null)`
    * emits zero rows, matching the 204-no-tasks path. */
  private def contentTypeGuard(deltas: DataFrame): DataFrame =
    if (deltas.columns.contains("content_type"))
      deltas.filter(col("content_type").rlike("^application/json"))
    else deltas

  /** P1 (lib/delta.js:9-17) over a DataFrame with a `body` JSON-string
    * column: explode changesets → explode inserts → keep the
    * `adms:status` = scheduled triples → project subject values. */
  def scheduledTasks(deltas: DataFrame): DataFrame =
    contentTypeGuard(deltas)
      .select(explode(from_json(col("body"), deltaSchema)).as("cs"))
      .select(explode(col("cs.inserts")).as("t"))
      .filter(col("t.predicate.value") === Vocab.admsStatus &&
        col("t.object.value") === Vocab.statusScheduled)
      .select(col("t.subject.value").as("task"))

  /** Streaming front-end over a directory of delta JSON files (one body
    * per line). Checkpointed; each micro-batch hands its distinct
    * scheduled task URIs, sorted, to `dispatch` — the pipeline driver
    * (T1). The list is delta-sized, so it is collected and de-duplicated
    * on the driver rather than through a shuffle. */
  def run(spark: SparkSession, inputDir: String, checkpointDir: String)
      (dispatch: Seq[String] => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val lines = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(inputDir)
      .withColumnRenamed("value", "body")
    scheduledTasks(lines).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dispatch(batch.select("task").as[String].collect().distinct.sorted.toSeq)
      }
      .start()
  }
}
