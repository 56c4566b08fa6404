package graft.pipeline

import graft.rdf.{Vocab, sha1Hex}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File/container metadata registration — the INSERT DATA sinks K2-K4
  * (lib/file-helpers.js:103-147, lib/pipeline-import.js:180-218). As in
  * the reference, one template per written result file: [[metadata]] and
  * [[containers]] are plain functions of one manifest row, and
  * [[registration]] applies both to every row of a task's manifest on
  * the driver, where the manifest already is.
  *
  * Input: a manifest with one row per written result file (`task`,
  * `graph`, `file_name`, `size`, `derived_from`, and for [[registration]]
  * whether the file is valid), none of them null — as [[ResultFile]]s,
  * or as a DataFrame of those columns for the per-generator frames.
  * Output: the metadata quads to insert into the store. URIs are
  * content-derived (sha1 of task+file name) rather than uuid-minted —
  * deterministic and idempotent under re-runs (same deviation as
  * ExtractPipeline G2).
  */
object FileRegistry {

  /** One written result file: a manifest row. */
  final case class ResultFile(task: String, graph: String, file_name: String,
      size: Long, derived_from: String)

  /** (subject, predicate, obj, graph) */
  type Quad = (String, String, String, String)

  private val sharePrefix = "share://"
  private val logicalPrefix = "http://data.lblod.info/id/files/"
  private val containerPrefix = "http://redpencil.data.gift/id/dataContainers/"
  private val importGraphPrefix = "http://mu.semte.ch/graphs/harvesting/tasks/import/"

  /** The reference registers files as
    * `dct:creator <http://lblod.data.gift/services/harvesting-import-service>`
    * (lib/file-helpers.js:121,129 region). */
  val CreatorUri = "http://lblod.data.gift/services/harvesting-import-service"

  /** Content-derived file id. Includes the source page URI
    * (`derived_from`), not just the basename-derived file name — two
    * input pages sharing a basename (`share://a/doc.html`,
    * `share://b/doc.html` both yield `doc-valid.ttl`) must mint distinct
    * file entities, as the reference's per-file uuids do. */
  private def fileId(f: ResultFile): String =
    sha1Hex(s"${f.task}/${f.derived_from}/${f.file_name}")

  /** K2: physical (`share://…`) + logical file entities, 10 properties
    * each (`a`, `mu:uuid`, `nfo:fileName`, `dct:creator`, `dct:created`,
    * `dct:modified`, `dct:format`, `nfo:fileSize`, `dbpedia:fileExtension`,
    * and `nie:dataSource` / `prov:wasDerivedFrom`), matching the
    * reference's INSERT DATA template (lib/file-helpers.js:108-139).
    *
    * `mu:uuid` deviation, documented: the reference mints independent
    * uuids phyId/loId where each equals its entity URI's basename
    * (`share://phyId.ext`, `.../id/files/loId`). Here both URIs are
    * content-addressed off the same sha1 id, so both entities carry that
    * id as `mu:uuid` — the uuid == URI-basename invariant downstream
    * consumers key on is preserved; only uniqueness-per-entity collapses
    * (deterministic + idempotent under re-runs, same deviation as G2). */
  def metadata(f: ResultFile, nowIso: String): Seq[Quad] = {
    val id = fileId(f)
    val ext = f.file_name.split("\\.", -1).last
    val logical = logicalPrefix + id
    // physical fileName = the share:// URI's basename (same content id)
    val physicalName = s"$id.$ext"
    val physical = sharePrefix + physicalName
    def entity(s: String, name: String) = Seq(
      Vocab.rdfType -> Vocab.nfoFileDataObject, Vocab.muUuid -> id,
      Vocab.nfoFileName -> name, Vocab.dctCreator -> CreatorUri,
      Vocab.dctFormat -> "text/turtle", Vocab.nfoFileSize -> f.size.toString,
      Vocab.dbpediaFileExtension -> ext, Vocab.dctCreated -> nowIso,
      Vocab.dctModified -> nowIso).map { case (p, o) => (s, p, o, f.graph) }
    entity(logical, f.file_name) ++ entity(physical, physicalName) ++ Seq(
      (logical, Vocab.provWasDerivedFrom, f.derived_from, f.graph),
      (physical, Vocab.nieDataSource, logical, f.graph))
  }

  /** K3/K4/K9: the result containers a file is appended to, matching the
    * reference's `append…` calls per page (lib/pipeline-import.js:75-106).
    * Every file goes into the task's file container (`task:hasFile`). A
    * valid file also goes into the import graph, which ALSO acts as a
    * container (`appendTaskResultFile(task, importGraph, validFile)`,
    * :81), and the graph container gets `task:hasGraph` → the import
    * graph; debug files get neither. Each unit is the container entity
    * (`a nfo:DataContainer` + `mu:uuid` = URI basename, content-derived
    * sha1 — the reference mints `container.id` and embeds it in the URI
    * the same way, :37-43) and the task's `task:resultsContainer`
    * back-link (:180-218). Units repeat across a task's files; the
    * store's set union collapses them, as repeated INSERT DATA does. The
    * import graph's id is sha1 of the task (the reference embeds
    * `task.id`, :40 — content-derived here, same deviation). */
  def containers(f: ResultFile, valid: Boolean): Seq[Quad] = {
    def unit(id: String, uri: String, p: String, o: String) = Seq(
      (uri, Vocab.rdfType, Vocab.nfoDataContainer, f.graph),
      (uri, Vocab.muUuid, id, f.graph),
      (uri, p, o, f.graph),
      (f.task, Vocab.taskResultsContainer, uri, f.graph))
    def container(kind: String, p: String, o: String) = {
      val id = sha1Hex(s"${f.task}/$kind")
      unit(id, containerPrefix + id, p, o)
    }
    val logical = logicalPrefix + fileId(f)
    val files = container("files", Vocab.taskHasFile, logical)
    if (!valid) files
    else {
      val graphId = sha1Hex(f.task)
      val importGraph = importGraphPrefix + graphId
      files ++ unit(graphId, importGraph, Vocab.taskHasFile, logical) ++
        container("graphs", Vocab.taskHasGraph, importGraph)
    }
  }

  /** Every file's [[metadata]] and [[containers]]: the quads one
    * finished task inserts, minted on the driver from its manifest (one
    * row per written file and whether it is valid). Not de-duplicated:
    * the store's state change ([[TaskStore.update]]) de-duplicates
    * them on the driver before they meet the state. */
  def registration(files: Seq[(ResultFile, Boolean)], nowIso: String): Seq[Quad] =
    files.flatMap { case (f, v) => metadata(f, nowIso) ++ containers(f, v) }

  /** [[metadata]] of every row of a five-column manifest. */
  def fileMetadataQuads(manifest: DataFrame, nowIso: String): DataFrame =
    mint(manifest, lit(true))((f, _) => metadata(f, nowIso))

  /** [[containers]] of every row of a five-column manifest of valid files,
    * as a set. */
  def containerQuads(manifest: DataFrame): DataFrame =
    mint(manifest, lit(true))((f, v) => containers(f, v)).distinct()

  /** [[containers]] of every row of a five-column manifest of debug files
    * (`-original/-invalid/-corrected.ttl`), as a set. */
  def debugContainerQuads(debugManifest: DataFrame): DataFrame =
    mint(debugManifest, lit(false))((f, v) => containers(f, v)).distinct()

  private def mint(files: DataFrame, valid: Column)(
      fn: (ResultFile, Boolean) => Seq[Quad]): DataFrame = {
    import files.sparkSession.implicits._
    files.select(struct(col("task"), col("graph"), col("file_name"), col("size"),
        col("derived_from")), valid)
      .as[(ResultFile, Boolean)]
      .flatMap { case (f, v) => fn(f, v) }
      .toDF("subject", "predicate", "obj", "graph")
  }
}
