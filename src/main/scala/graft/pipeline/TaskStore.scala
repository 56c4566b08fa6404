package graft.pipeline

import graft.rdf.Vocab
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Task lifecycle over a quad table — the reference's SPARQL task layer
  * (lib/task.js) as DataFrame operators.
  *
  * The store is a flat quad DataFrame `(subject, predicate, obj, graph)`
  * with string columns (object IRIs and literal lexical forms share `obj`;
  * task-layer values are all IRIs/strings/timestamps, lib/utils.js:15-21).
  * Every task shares one graph, so no partitioning of the table prunes a
  * per-task operation.
  *
  * A task's reads are the reference's bound-subject lookups
  * (lib/task.js:80-108, lib/pipeline-import.js:131-139): point reads that
  * filter the table and collect the handful of matching rows, then pivot
  * or de-duplicate them on the driver, so none of them shuffles.
  *
  * Updates follow the reference's DELETE+INSERT WHERE shape (K6,
  * lib/task.js:158-187) as read-rewrite transformations: the returned
  * DataFrame is the new state of the table — the caller owns the write.
  * Every update maps a state that is a set to a set, and the ones a task
  * makes ([[transitionStatus]], [[appendError]], [[insertData]]) are
  * narrow: none of them re-aggregates the table.
  */
object TaskStore {

  /** The star's columns, in order, and the predicate each one pivots. */
  private val TaskProps = Seq("type" -> Vocab.rdfType, "job" -> Vocab.dctIsPartOf,
    "uuid" -> Vocab.muUuid, "created" -> Vocab.dctCreated,
    "modified" -> Vocab.dctModified, "status" -> Vocab.admsStatus,
    "index" -> Vocab.taskIndex, "operation" -> Vocab.taskOperation,
    "error" -> Vocab.taskError)

  /** [[loadTasks]]' columns: `task`, the [[TaskProps]], `task_graph`. */
  private val TaskSchema = StructType(
    ("task" +: TaskProps.map(_._1) :+ "task_graph").map(StructField(_, StringType)))

  /** S4/J2 star lookup (lib/task.js:80-108): one row per task with its
    * properties pivoted into columns; OPTIONAL error → nullable column
    * (left-outer semantics fall out of the conditional aggregation). */
  def loadTasks(quads: DataFrame): DataFrame = {
    val aggs = TaskProps.map { case (c, p) =>
      max(when(col("predicate") === p, col("obj"))).as(c)
    } :+ max(col("graph")).as("task_graph")
    quads
      .filter(col("predicate").isin(TaskProps.map(_._2): _*))
      .groupBy(col("subject").as("task"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("type") === Vocab.taskType)
  }

  /** The service's task read: one point read (`subject = taskUri`,
    * collected). Returns [[loadExtractionTask]]'s row, pivoted on the
    * driver with [[loadTasks]]' semantics (the max per property and,
    * over the property rows, of the graph; Spark's string order), and
    * the task's input containers, distinct and sorted. The row is empty
    * unless the subject is a task of a watched operation. */
  private[pipeline] def readTask(quads: DataFrame,
      taskUri: String): (Option[Row], Seq[String]) = {
    import quads.sparkSession.implicits._
    val rows = quads.filter(col("subject") === taskUri)
      .select("predicate", "obj", "graph").as[(String, String, String)].collect()
    def maxOf(xs: Iterable[String]) = xs.filter(_ != null)
      .maxByOption(UTF8String.fromString).orNull
    val props = rows.filter(r => TaskProps.exists(_._2 == r._1))
    val values = TaskProps.map { case (_, p) => maxOf(props.collect { case (`p`, o, _) => o }) }
    val byName = TaskProps.map(_._1).zip(values).toMap
    val task = Option.when(byName("type") == Vocab.taskType &&
        Seq(Vocab.opExtracting, Vocab.opImporting).contains(byName("operation")))(
      new GenericRowWithSchema((taskUri +: values :+ maxOf(props.map(_._3))).toArray,
        TaskSchema))
    val containers = rows.collect { case (Vocab.taskInputContainer, c, _) if c != null => c }
    (task, containers.distinct.sorted.toSeq)
  }

  /** The second point read: the pages the containers hold
    * (`task:hasFile`), collected, distinct and sorted. No containers,
    * no read. */
  private[pipeline] def pagesIn(quads: DataFrame, containers: Seq[String]): Seq[String] =
    if (containers.isEmpty) Nil
    else {
      import quads.sparkSession.implicits._
      quads.filter(col("predicate") === Vocab.taskHasFile &&
          col("subject").isin(containers: _*) && col("obj").isNotNull)
        .select("obj").as[String].collect().distinct.sorted.toSeq
    }

  /** S4 point lookup with the P7 operation guard
    * (lib/task.js:83-99: VALUES ?operation + bound subject). Returns zero
    * or one row — the reference yields null for non-task subjects
    * (lib/pipeline-import.js:29-30). A local frame of [[readTask]]'s row. */
  def loadExtractionTask(quads: DataFrame, taskUri: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    quads.sparkSession.createDataFrame(readTask(quads, taskUri)._1.toSeq.asJava, TaskSchema)
  }

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
    * task →inputContainer ?c →hasFile ?page, DISTINCT pages, as a local
    * frame of [[readTask]]'s containers' [[pagesIn]]. */
  def inputPages(quads: DataFrame, taskUri: String): DataFrame = {
    import quads.sparkSession.implicits._
    pagesIn(quads, readTask(quads, taskUri)._2).toDF("page")
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
    val e = "http://redpencil.data.gift/id/jobs/error/" +
      graft.rdf.sha1Hex(s"$taskUri $message")
    insertData(quads, Seq(
      (e, Vocab.rdfType, Vocab.oslcError, graph),
      (e, Vocab.oslcMessage, message, graph),
      (taskUri, Vocab.taskError, e, graph)))
  }

  /** INSERT DATA (lib/pipeline-import.js:180-218) into a triplestore has
    * set semantics: `rows`, de-duplicated on the driver, replace their
    * copies in `quads` (a null-safe anti-join against their broadcast),
    * so a quad already present (a replay, a re-run re-minting the same
    * content-addressed entity or error) is not appended again. Over a
    * `quads` that is a set — every state the service writes is one —
    * this is `distinct(quads ∪ rows)`, without re-aggregating the table. */
  private[pipeline] def insertData(quads: DataFrame,
      rows: Seq[FileRegistry.Quad]): DataFrame = {
    import quads.sparkSession.implicits._
    val inserts = rows.distinct.toDF("subject", "predicate", "obj", "graph")
    val present = inserts.columns.map(c => quads(c) <=> inserts(c)).reduce(_ && _)
    quads.join(broadcast(inserts), present, "left_anti").unionByName(inserts)
  }
}
