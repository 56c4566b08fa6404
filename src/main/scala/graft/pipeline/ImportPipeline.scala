package graft.pipeline

import graft.sources.PageSource
import graft.rdf.Vocab
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end task orchestrator — the reference's `run(deltaEntry)`
  * (lib/pipeline-import.js:28-117) composed from the layer operators:
  *
  *   task read → its pages → extract/validate/repair →
  *   write TTL (+ debug TTLs) + externalized HTML → register file
  *   metadata + containers → success; any failure after task load →
  *   error record + failed (T5).
  *
  * No job of a task shuffles. The task and its pages are two point reads
  * of the state, collected ([[TaskStore.readTask]], [[TaskStore.pagesIn]]);
  * the registration is minted on the driver from the collected manifest;
  * and the new state is one [[TaskStore.transitionStatus]]: the task's
  * status rows retracted and its inserts (the registration on success,
  * the error record on failure) anti-joined away and appended, one
  * [[TaskStore.update]] — a narrow plan over the state's files.
  *
  * The reference marks the task busy first (T3, lib/pipeline-import.js:33).
  * Here the state is swapped once per task, so a busy status would never
  * be written: a task's whole change is one delete pattern (its status
  * and modified rows) plus one insert set. A crash mid-task leaves the
  * task `scheduled`, and the replay re-runs it.
  *
  * Differences from the reference, by design (each one documented at the
  * operator that owns it):
  *   - one DataFrame DAG instead of a sequential per-page loop — all
  *     pages extract/validate in parallel; per-page error isolation (T4)
  *     lives inside the flatMap;
  *   - per-verdict partitioned *directories* instead of per-page files
  *     (a file per page at 100 TB is a small-files problem); the
  *     registration stays per page, so the metadata graph is identical
  *     in shape;
  *   - URIs/uuids content-derived instead of uuid()-minted → idempotent
  *     re-runs (the reference re-mints on every run).
  *
  * Scale note on the driver-side manifest: the page list, per-page byte
  * sizes and the registration minted from them live on the driver. That
  * is the task-METADATA cardinality (one row per page and partition — the
  * reference holds the page set in a JS `Set`, lib/pipeline-import.js:127),
  * not the triple cardinality; the extracted quads never leave executors.
  * The tagged quads are the one persisted frame: the TTL sink, the HTML
  * sink and the size collect all read it, and the extraction before it is
  * one narrow pass per page ([[ExtractPipeline.run]]), so each page is
  * opened and extracted once. It is unpersisted before returning — the
  * returned quad state has no lineage into it.
  */
object ImportPipeline {

  /** Outcome summary: the new quad-table state plus what happened —
    * callers own the write of `quads` (partition overwrite / MERGE). */
  final case class ImportResult(quads: DataFrame, status: String,
      nPages: Long, error: Option[String])

  /** F3 basename (lib/file-helpers.js:16-18, `path.parse(path).name`),
    * node-verified on the edges: trailing slashes are ignored
    * ("a/b/" → "b"), a leading-dot base keeps its dot (".env" → ".env" —
    * the extension starts at the last dot only when it isn't char 0),
    * and ".." is special-cased whole ("..." → ".."). */
  private[graft] def basename(uri: String): String = {
    val noSlash = uri.reverse.dropWhile(_ == '/').reverse
    val base = noSlash.substring(noSlash.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0 && base != "..") base.substring(0, dot) else base
  }

  /** One row per (page, partition) — also for a page with no line there:
    * the reference writes (and registers) empty files too. File name
    * `<basename>-<part>.ttl` (lib/pipeline-import.js:75,85,92,99); size =
    * Σ (UTF-8 bytes + newline) over the page's member lines, what `stat`
    * of the written file reports (lib/file-helpers.js:104-105); `valid`
    * marks the valid partition's files, the rest are debug files. */
  private def manifest(tagged: DataFrame, pages: Seq[String],
      parts: Seq[(String, Column, Column)], taskUri: String,
      graph: String): Seq[(FileRegistry.ResultFile, Boolean)] = {
    import tagged.sparkSession.implicits._
    val lineSizes = parts.map { case (_, member, line) =>
      when(member, octet_length(line) + 1).otherwise(0).cast("long") }
    // A page's rows sit in one partition of `tagged` (the extraction is
    // page-local), so a per-partition fold needs no exchange; the driver
    // merge only guards a page that spans partitions.
    val sizes = tagged.select(col("url"), array(lineSizes: _*))
      .as[(String, Array[Long])]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap[String, Array[Long]]()
        rows.foreach { case (url, row) =>
          val a = acc.getOrElseUpdate(url, new Array[Long](row.length))
          for (i <- row.indices) a(i) += row(i)
        }
        acc.iterator
      }
      .collect()
      .groupMapReduce(_._1)(_._2)((a, b) => a.zip(b).map(p => p._1 + p._2))
    for (p <- pages; ((part, _, _), i) <- parts.zipWithIndex)
      yield (FileRegistry.ResultFile(taskUri, graph, s"${basename(p)}-$part.ttl",
        sizes.get(p).fold(0L)(_(i)), p), part == "valid")
  }

  /** A finished task's state change (lib/pipeline-import.js:75-109):
    * the status becomes success and its files' registration
    * ([[FileRegistry.registration]]) joins `quads` as a set, in one
    * [[TaskStore.transitionStatus]]. */
  private[graft] def registerSuccess(quads: DataFrame,
      files: Seq[(FileRegistry.ResultFile, Boolean)],
      taskUri: String, graph: String, nowIso: String): DataFrame =
    TaskStore.transitionStatus(quads, taskUri, Vocab.statusSuccess, nowIso,
      Some(graph), insert = FileRegistry.registration(files, nowIso))

  /** Run the import pipeline for one scheduled task (lib/pipeline-import
    * .js:28-117). `quads` is the current metadata store; `pagesDir` holds
    * the harvested HTML (the reference resolves page URIs to /share paths
    * through S8 — here PageSource reads only the files of the directory
    * whose url is one of the task's input pages); `outDir`
    * receives the TTL partitions and externalized HTML. Returns the new
    * quad-table state as a plan over `quads` (DataFrames are immutable;
    * the caller writes it). */
  def runImportPipeline(spark: SparkSession, quads: DataFrame, taskUri: String,
      pagesDir: String, outDir: String, nowIso: String,
      writeDebug: Boolean = false): ImportResult = {
    // S4/J2/P7 task load; empty ⇔ reference's `if (!task) return`
    val (task, containers) = TaskStore.readTask(quads, taskUri)
    if (task.isEmpty)
      return ImportResult(quads, "not_a_task", 0L, None)
    val graph = Option(task.get.getAs[String]("task_graph"))
      .getOrElse("http://mu.semte.ch/graphs/harvesting")

    try {
      // J1/D1 page enumeration (count-then-paginate is obsolete under
      // Spark, SURVEY O1 — the task's page set is metadata-sized)
      val pages = TaskStore.pagesIn(quads, containers)

      // S2/S3 read of this task's pages only: the url filter prunes the
      // shared directory's other files at listing, before any is opened
      val pageHtml = PageSource.readPages(spark, pagesDir, pages)

      // G1-G4 + P4/D5: one pass per page, read by every sink below
      val tagged = ExtractPipeline.run(spark, pageHtml).persist()
      try {
        // K1/K9 sinks
        ExtractPipeline.writeTtl(tagged, s"$outDir/ttl", writeDebug)
        ExtractPipeline.writeHtmlFiles(ExtractPipeline.htmlFiles(tagged), s"$outDir/html")
        // K2-K4 registration of every written file, then success
        val files = manifest(tagged, pages, ExtractPipeline.ttlParts(writeDebug),
          taskUri, graph)
        ImportResult(registerSuccess(quads, files, taskUri, graph, nowIso),
          "success", pages.size.toLong, None)
      } finally tagged.unpersist()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // T5 (lib/pipeline-import.js:110-116): error record + failed
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        val failed = TaskStore.transitionStatus(quads, taskUri, Vocab.statusFailed,
          nowIso, Some(graph), insert = TaskStore.errorRecord(taskUri, msg, graph))
        ImportResult(failed, "failed", 0L, Some(msg))
    }
  }
}
