package graft.pipeline

import graft.rdf.Vocab
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The file/container registration as Spark Column trees — the form the
  * engine used before [[FileRegistry]]'s per-file functions: one
  * `explode` of a struct array per generator, a `distinct` per container
  * generator, and the three generators unioned per task. Kept as the
  * reference the per-file functions are differentially checked against
  * (FileRegistryDiffSpec). Not used by the engine.
  */
object FileRegistryColumnReference {

  private val sharePrefix = "share://"
  private val logicalPrefix = "http://data.lblod.info/id/files/"

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
      q(col("logical"), Vocab.dctCreator, lit(FileRegistry.CreatorUri)),
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
      q(col("physical"), Vocab.dctCreator, lit(FileRegistry.CreatorUri)),
      q(col("physical"), Vocab.dctFormat, lit("text/turtle")),
      q(col("physical"), Vocab.nfoFileSize, col("size")),
      q(col("physical"), Vocab.dbpediaFileExtension, col("ext")),
      q(col("physical"), Vocab.dctCreated, lit(nowIso)),
      q(col("physical"), Vocab.dctModified, lit(nowIso)))
    m.select(col("graph"), explode(entityQuads).as("q"))
      .select(col("q.subject"), col("q.predicate"), col("q.obj"), col("graph"))
  }

  private def importGraphIdCol: Column = sha1(col("task"))
  private def importGraphUri: Column = concat(
    lit("http://mu.semte.ch/graphs/harvesting/tasks/import/"), importGraphIdCol)

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

  private def containerId(kind: String): Column =
    sha1(concat(col("task"), lit(s"/$kind")))
  private def containerUri(id: Column): Column =
    concat(lit("http://redpencil.data.gift/id/dataContainers/"), id)
  private def fileContainerId: Column = containerId("files")
  private def fileContainerUri: Column = containerUri(fileContainerId)

  private def fileContainerUnit(containerUri: Column, containerId: Column): Column =
    array(
      q(containerUri, Vocab.rdfType, lit(Vocab.nfoDataContainer)),
      q(containerUri, Vocab.muUuid, containerId),
      q(containerUri, Vocab.taskHasFile, logicalFileUri),
      q(col("task"), Vocab.taskResultsContainer, containerUri))

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

  def debugContainerQuads(debugManifest: DataFrame): DataFrame =
    explodeQuads(debugManifest,
      fileContainerUnit(fileContainerUri, fileContainerId))

  /** The three-way union the orchestrator registered a manifest with
    * (`valid` flag in place of the old `part` column). */
  def registration(files: DataFrame, nowIso: String): DataFrame =
    fileMetadataQuads(files, nowIso)
      .unionByName(containerQuads(files.filter(col("valid"))))
      .unionByName(debugContainerQuads(files.filter(!col("valid"))))
}
