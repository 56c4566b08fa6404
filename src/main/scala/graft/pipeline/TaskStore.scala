package graft.pipeline

import graft.rdf.Vocab
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Task lifecycle over a quad table — the reference's SPARQL task layer
  * (lib/task.js) as DataFrame operators.
  *
  * The store is a flat quad DataFrame `(subject, predicate, obj, graph)`
  * with string columns (object IRIs and literal lexical forms share `obj`;
  * task-layer values are all IRIs/strings/timestamps, lib/utils.js:15-21).
  * Every task shares one graph, so no partitioning of the table prunes a
  * per-task operation: each one below filters the whole table.
  *
  * Updates follow the reference's DELETE+INSERT WHERE shape (K6,
  * lib/task.js:158-187) as read-rewrite transformations: the returned
  * DataFrame is the new state of the table — the caller owns the write
  * (partition overwrite, or a MERGE on a table format that supports it).
  */
object TaskStore {

  /** S4/J2 star lookup (lib/task.js:80-108): one row per task with its
    * properties pivoted into columns; OPTIONAL error → nullable column
    * (left-outer semantics fall out of the conditional aggregation). */
  def loadTasks(quads: DataFrame): DataFrame = {
    def prop(p: String) = max(when(col("predicate") === p, col("obj")))
    quads
      .filter(col("predicate").isin(Vocab.rdfType, Vocab.dctIsPartOf,
        Vocab.muUuid, Vocab.dctCreated, Vocab.dctModified, Vocab.admsStatus,
        Vocab.taskIndex, Vocab.taskOperation, Vocab.taskError))
      .groupBy(col("subject").as("task"))
      .agg(
        prop(Vocab.rdfType).as("type"),
        prop(Vocab.dctIsPartOf).as("job"),
        prop(Vocab.muUuid).as("uuid"),
        prop(Vocab.dctCreated).as("created"),
        prop(Vocab.dctModified).as("modified"),
        prop(Vocab.admsStatus).as("status"),
        prop(Vocab.taskIndex).as("index"),
        prop(Vocab.taskOperation).as("operation"),
        prop(Vocab.taskError).as("error"),
        max(col("graph")).as("task_graph"))
      .filter(col("type") === Vocab.taskType)
  }

  /** S4 point lookup with the P7 operation guard
    * (lib/task.js:83-99: VALUES ?operation + bound subject). Returns zero
    * or one row — the reference yields null for non-task subjects
    * (lib/pipeline-import.js:29-30). */
  def loadExtractionTask(quads: DataFrame, taskUri: String): DataFrame =
    loadTasks(quads.filter(col("subject") === taskUri))
      .filter(col("operation").isin(Vocab.opExtracting, Vocab.opImporting))

  /** S9 `nie:url` metadata lookup (lib/file-helpers.js:40-63,
    * `getFileMetadata`): DISTINCT ?url for a bound remote-file subject
    * across all graphs (`GRAPH ?g` in the reference). Zero rows ⇔ the
    * reference's `null` return. The state is not bucketed, so the filter
    * scans it whole; the distinct runs over the handful of matching rows. */
  def fileUrl(quads: DataFrame, remoteUri: String): DataFrame =
    quads.filter(col("subject") === remoteUri &&
      col("predicate") === Vocab.nieUrl)
      .select(col("obj").as("url"))
      .distinct()

  /** J1 2-hop chain (lib/pipeline-import.js:131-139):
    * task →inputContainer ?c →hasFile ?page, DISTINCT pages. The task
    * side is a handful of rows → broadcast; only the hasFile edge set
    * shuffles. */
  def inputPages(quads: DataFrame, taskUri: String): DataFrame = {
    val containers = quads.filter(col("subject") === taskUri &&
      col("predicate") === Vocab.taskInputContainer)
      .select(col("obj").as("container"))
    val files = quads.filter(col("predicate") === Vocab.taskHasFile)
      .select(col("subject").as("container"), col("obj").as("page"))
    files.join(broadcast(containers), "container")
      .select(col("page")).distinct()
  }

  /** K6 status transition (lib/task.js:158-187): DELETE the task's
    * status+modified triples, INSERT the new ones. Pure rewrite — returns
    * the updated table. The inserted triples inherit the task's named
    * graph (`GRAPH ?g` in the reference update), so graph-partitioned
    * stores stay partition-pure. The two new rows are a local frame, as
    * [[appendError]] builds its record. Callers that already hold the
    * task's graph (the orchestrator loads it with the task) pass
    * `knownGraph`; otherwise one driver-side point read looks it up, and
    * a task with no rows in `quads` gets no new rows. */
  def transitionStatus(quads: DataFrame, taskUri: String, newStatus: String,
      nowIso: String, knownGraph: Option[String] = None): DataFrame = {
    import quads.sparkSession.implicits._
    val kept = quads.filter(!(col("subject") === taskUri &&
      col("predicate").isin(Vocab.admsStatus, Vocab.dctModified)))
    val graph = knownGraph.orElse(quads.filter(col("subject") === taskUri)
      .select(col("graph")).as[String].head(1).headOption)
    val inserted = graph.toSeq.flatMap(g => Seq(
      (taskUri, Vocab.admsStatus, newStatus, g),
      (taskUri, Vocab.dctModified, nowIso, g)))
      .toDF("subject", "predicate", "obj", "graph")
      .coalesce(1) // the two rows add one file, not two, to a written state
    kept.unionByName(inserted)
  }

  /** K7 startup recovery (lib/task.js:24-63): every busy task of the
    * watched operations → failed, set-based in one pass. */
  def failBusyTasks(quads: DataFrame, nowIso: String): DataFrame = {
    val busy = loadTasks(quads)
      .filter(col("status") === Vocab.statusBusy &&
        col("operation").isin(Vocab.opExtracting, Vocab.opImporting))
      .select(col("task"), col("task_graph"))
    val kept = quads.join(broadcast(busy),
      quads("subject") === busy("task") &&
        quads("predicate").isin(Vocab.admsStatus, Vocab.dctModified),
      "left_anti")
    val inserted = busy.select(col("task").as("subject"),
      lit(Vocab.admsStatus).as("predicate"),
      lit(Vocab.statusFailed).as("obj"), col("task_graph").as("graph"))
      .unionByName(busy.select(col("task").as("subject"),
        lit(Vocab.dctModified).as("predicate"),
        lit(nowIso).as("obj"), col("task_graph").as("graph")))
    kept.unionByName(inserted)
  }

  /** K5 error record (lib/task.js:189-206): mint an oslc:Error + link in
    * the task's `graph`. The error URI is content-addressed (reference
    * mints a uuid — same determinism deviation as the file sink). */
  def appendError(quads: DataFrame, taskUri: String, message: String,
      graph: String): DataFrame = {
    import quads.sparkSession.implicits._
    val e = "http://redpencil.data.gift/id/jobs/error/" +
      graft.rdf.sha1Hex(s"$taskUri $message")
    insertData(quads, Seq(
      (e, Vocab.rdfType, Vocab.oslcError, graph),
      (e, Vocab.oslcMessage, message, graph),
      (taskUri, Vocab.taskError, e, graph)).toDF("subject", "predicate", "obj", "graph"))
  }

  /** INSERT DATA (lib/pipeline-import.js:180-218) into a triplestore has
    * set semantics: `rows` join `quads` as one set union, so a quad already
    * present (a replay, a re-run re-minting the same content-addressed
    * entity or error) is not appended again, and duplicates collapse. */
  private[pipeline] def insertData(quads: DataFrame, rows: DataFrame): DataFrame =
    quads.unionByName(rows).distinct()
}
