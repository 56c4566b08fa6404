package graft.pipeline

import graft.rdf.Vocab
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File/container metadata registration — the INSERT DATA sinks K2-K4
  * (lib/file-helpers.js:103-147, lib/pipeline-import.js:180-218) as quad
  * generators over the written-TTL manifest.
  *
  * Input: a manifest DataFrame with one row per written result file
  * (`task`, `graph`, `file_name`, `size`, `derived_from`). Output: the
  * metadata quads to append to the store. URIs are content-derived
  * (sha1 of task+file name) rather than uuid-minted — deterministic and
  * idempotent under re-runs (same deviation as ExtractPipeline G2).
  */
object FileRegistry {

  private val sharePrefix = "share://"
  private val logicalPrefix = "http://data.lblod.info/id/files/"

  /** F4 share-URI ⇄ filesystem path rewrite (lib/file-helpers.js:35,91). */
  def shareUriToPath(uri: Column): Column =
    regexp_replace(uri, "^share://", "/share/")
  def pathToShareUri(path: Column): Column =
    regexp_replace(path, "^/share/", sharePrefix)

  /** The reference registers files as
    * `dct:creator <http://lblod.data.gift/services/harvesting-import-service>`
    * (lib/file-helpers.js:121,129 region). */
  val CreatorUri = "http://lblod.data.gift/services/harvesting-import-service"

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
  def fileMetadataQuads(manifest: DataFrame, nowIso: String): DataFrame = {
    val physical = concat(lit(sharePrefix), fileId, lit("."), col("ext"))
    val m = manifest
      .withColumn("ext", element_at(split(col("file_name"), "\\."), -1))
      .withColumn("id", fileId)
      .withColumn("logical", logicalFileUri)
      .withColumn("physical", physical)

    val entityQuads = array(
      // logical entity
      q(col("logical"), Vocab.rdfType, lit(Vocab.nfoFileDataObject)),
      q(col("logical"), Vocab.muUuid, col("id")),
      q(col("logical"), Vocab.nfoFileName, col("file_name")),
      q(col("logical"), Vocab.dctCreator, lit(CreatorUri)),
      q(col("logical"), Vocab.dctFormat, lit("text/turtle")),
      q(col("logical"), Vocab.nfoFileSize, col("size")),
      q(col("logical"), Vocab.dbpediaFileExtension, col("ext")),
      q(col("logical"), Vocab.dctCreated, lit(nowIso)),
      q(col("logical"), Vocab.dctModified, lit(nowIso)),
      q(col("logical"), Vocab.provWasDerivedFrom, col("derived_from")),
      // physical entity mirrors + dataSource link
      q(col("physical"), Vocab.rdfType, lit(Vocab.nfoFileDataObject)),
      q(col("physical"), Vocab.nieDataSource, col("logical")),
      q(col("physical"), Vocab.muUuid, col("id")),
      // physical fileName = the share:// URI's basename (same content id)
      q(col("physical"), Vocab.nfoFileName,
        regexp_replace(col("physical"), lit("^share://"), lit(""))),
      q(col("physical"), Vocab.dctCreator, lit(CreatorUri)),
      q(col("physical"), Vocab.dctFormat, lit("text/turtle")),
      q(col("physical"), Vocab.nfoFileSize, col("size")),
      q(col("physical"), Vocab.dbpediaFileExtension, col("ext")),
      q(col("physical"), Vocab.dctCreated, lit(nowIso)),
      q(col("physical"), Vocab.dctModified, lit(nowIso)))
    m.select(col("graph"), explode(entityQuads).as("q"))
      .select(col("q.subject"), col("q.predicate"), col("q.obj"), col("graph"))
  }

  private def importGraphIdCol: Column = sha1(col("task"))
  /** The per-task import graph URI (reference embeds `task.id`,
    * lib/pipeline-import.js:40 — content-derived here, same deviation). */
  def importGraphUri: Column = concat(
    lit("http://mu.semte.ch/graphs/harvesting/tasks/import/"), importGraphIdCol)

  /** Content-derived file id. Includes the source page URI
    * (`derived_from`), not just the basename-derived file name — two
    * input pages sharing a basename (`share://a/doc.html`,
    * `share://b/doc.html` both yield `doc-valid.ttl`) must mint distinct
    * file entities, as the reference's per-file uuids do. */
  private def fileId: Column =
    sha1(concat(col("task"), lit("/"), col("derived_from"),
      lit("/"), col("file_name")))

  private def logicalFileUri: Column = concat(lit(logicalPrefix), fileId)

  private def q(s: Column, p: String, o: Column): Column =
    struct(s.as("subject"), lit(p).as("predicate"), o.cast("string").as("obj"))

  private def explodeQuads(manifest: DataFrame, quads: Column): DataFrame =
    manifest.select(col("graph"), explode(quads).as("q"))
      .select(col("q.subject"), col("q.predicate"), col("q.obj"), col("graph"))
      .distinct()

  /** A task's result container (`kind` = "files" / "graphs"): its
    * content-derived id, and the URI that embeds it. */
  private def containerId(kind: String): Column =
    sha1(concat(col("task"), lit(s"/$kind")))
  private def containerUri(id: Column): Column =
    concat(lit("http://redpencil.data.gift/id/dataContainers/"), id)
  private def fileContainerId: Column = containerId("files")
  private def fileContainerUri: Column = containerUri(fileContainerId)

  /** One `appendTaskResultFile` unit (lib/pipeline-import.js:180-198): the
    * container entity (`a nfo:DataContainer` + `mu:uuid`), `task:hasFile`
    * to the manifest row's logical file, and the task's
    * `task:resultsContainer` back-link. Duplicate inserts across files
    * collapse via distinct — same set semantics as repeated INSERT DATA. */
  private def fileContainerUnit(containerUri: Column, containerId: Column): Column =
    array(
      q(containerUri, Vocab.rdfType, lit(Vocab.nfoDataContainer)),
      q(containerUri, Vocab.muUuid, containerId),
      q(containerUri, Vocab.taskHasFile, logicalFileUri),
      q(col("task"), Vocab.taskResultsContainer, containerUri))

  /** K3/K4: result containers for the *valid* files, matching the
    * reference's three `append…` calls per page
    * (lib/pipeline-import.js:75-83):
    *   - file container: `task:hasFile` per valid file;
    *   - import-graph container: the import graph ALSO acts as a
    *     container holding `task:hasFile` per valid file
    *     (`appendTaskResultFile(task, importGraph, validFile)`, :81);
    *   - graph container: `task:hasGraph` → the import graph.
    * All carry `mu:uuid` (= URI basename, content-derived sha1 — the
    * reference mints `container.id` and embeds it in the URI the same
    * way, lib/pipeline-import.js:37-43) and are linked from the task via
    * `task:resultsContainer` (lib/pipeline-import.js:180-218). */
  def containerQuads(manifest: DataFrame): DataFrame = {
    val graphContainerId = containerId("graphs")
    val graphContainer = containerUri(graphContainerId)
    val links = concat(
      fileContainerUnit(fileContainerUri, fileContainerId),
      fileContainerUnit(importGraphUri, importGraphIdCol),
      array(
        q(graphContainer, Vocab.rdfType, lit(Vocab.nfoDataContainer)),
        q(graphContainer, Vocab.muUuid, graphContainerId),
        q(graphContainer, Vocab.taskHasGraph, importGraphUri),
        q(col("task"), Vocab.taskResultsContainer, graphContainer)))
    explodeQuads(manifest, links)
  }

  /** K9 registration: debug files (`-original/-invalid/-corrected.ttl`)
    * are linked into the FILE container only
    * (lib/pipeline-import.js:84-106 — no importGraph/graphContainer
    * appends for them). */
  def debugContainerQuads(debugManifest: DataFrame): DataFrame =
    explodeQuads(debugManifest,
      fileContainerUnit(fileContainerUri, fileContainerId))
}
