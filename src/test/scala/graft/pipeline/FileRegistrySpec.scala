package graft.pipeline

import graft.SparkSpec
import graft.rdf.Vocab
import org.apache.spark.sql.functions._

class FileRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def manifest = Seq(
    ("http://t/1", "http://g/1", "valid.ttl", 1234L, "http://page/1"))
    .toDF("task", "graph", "file_name", "size", "derived_from")

  test("K2: physical+logical entities with dataSource link") {
    val quads = FileRegistry.fileMetadataQuads(manifest, "2026-01-01T00:00:00Z")
    val bySubject = quads.collect().groupBy(_.getAs[String]("subject"))
    assert(bySubject.size == 2)
    val (physical, logical) = bySubject.keys.partition(_.startsWith("share://"))
    assert(physical.size == 1 && logical.size == 1)
    val link = quads.filter(col("predicate") === Vocab.nieDataSource).collect()
    assert(link.length == 1)
    assert(link.head.getAs[String]("subject") == physical.head)
    assert(link.head.getAs[String]("obj") == logical.head)
    assert(quads.filter(col("predicate") === Vocab.nfoFileSize &&
      col("obj") === "1234").count() == 2)
    assert(physical.head.endsWith(".ttl"))
    // the physical entity's fileName must be the share URI's basename
    val physName = quads.filter(col("subject") === physical.head &&
      col("predicate") === Vocab.nfoFileName).collect().head.getAs[String]("obj")
    assert(s"share://$physName" == physical.head)
  }

  test("K2: full per-entity property set matches the reference INSERT DATA template") {
    // lib/file-helpers.js:108-139: each entity carries a, mu:uuid,
    // nfo:fileName, dct:creator, dct:created, dct:modified, dct:format,
    // nfo:fileSize, dbpedia:fileExtension, plus nie:dataSource (physical)
    // / prov:wasDerivedFrom (logical).
    val quads = FileRegistry.fileMetadataQuads(manifest, "2026-01-01T00:00:00Z")
      .collect().groupBy(_.getAs[String]("subject"))
      .map { case (s, rows) => s -> rows.map(_.getAs[String]("predicate")).toSet }
    val (physical, logical) = quads.keys.partition(_.startsWith("share://"))
    val shared = Set(Vocab.rdfType, Vocab.muUuid, Vocab.nfoFileName,
      Vocab.dctCreator, Vocab.dctCreated, Vocab.dctModified, Vocab.dctFormat,
      Vocab.nfoFileSize, Vocab.dbpediaFileExtension)
    assert(quads(physical.head) == shared + Vocab.nieDataSource)
    assert(quads(logical.head) == shared + Vocab.provWasDerivedFrom)
    // uuid == URI basename invariant (reference: phyId / loId embed in URI)
    val all = FileRegistry.fileMetadataQuads(manifest, "2026-01-01T00:00:00Z").collect()
    all.filter(_.getAs[String]("predicate") == Vocab.muUuid).foreach { r =>
      val subject = r.getAs[String]("subject")
      val basename = subject.substring(subject.lastIndexOf('/') + 1)
        .replaceAll("^share://", "").replaceAll("\\.[a-z]+$", "")
      assert(basename == r.getAs[String]("obj"), subject)
    }
    all.filter(_.getAs[String]("predicate") == Vocab.dctCreator).foreach { r =>
      assert(r.getAs[String]("obj") == FileRegistry.CreatorUri)
    }
  }

  test("K3/K4: containers carry mu:uuid == URI basename (pipeline-import.js:190,210)") {
    val quads = FileRegistry.containerQuads(manifest).collect()
    val containers = quads.filter(_.getAs[String]("predicate") == Vocab.rdfType)
      .map(_.getAs[String]("subject"))
    // file container + import-graph container + graph container
    assert(containers.length == 3)
    containers.foreach { c =>
      val uuids = quads.filter(r => r.getAs[String]("subject") == c &&
        r.getAs[String]("predicate") == Vocab.muUuid).map(_.getAs[String]("obj"))
      assert(uuids.length == 1, c)
      assert(c.endsWith("/" + uuids.head), c)
    }
  }

  test("K3/K4: containers link files and graphs back to the task") {
    val quads = FileRegistry.containerQuads(manifest)
    val links = quads.filter(col("subject") === "http://t/1" &&
      col("predicate") === Vocab.taskResultsContainer)
    // file container + import-graph container + graph container
    // (the reference appends the valid file to BOTH the file container
    // and the import graph, lib/pipeline-import.js:75-83)
    assert(links.count() == 3)
    assert(quads.filter(col("predicate") === Vocab.taskHasFile).count() == 2)
    assert(quads.filter(col("predicate") === Vocab.taskHasGraph).count() == 1)
  }

  test("K9: debug files register into the file container only") {
    val debug = FileRegistry.debugContainerQuads(manifest)
    assert(debug.filter(col("predicate") === Vocab.taskHasGraph).count() == 0)
    assert(debug.filter(col("predicate") === Vocab.taskHasFile).count() == 1)
    assert(debug.filter(col("predicate") === Vocab.taskResultsContainer).count() == 1)
    // and that container is a subset of containerQuads' file container
    val full = FileRegistry.containerQuads(manifest)
    val debugContainer = debug.filter(col("predicate") === Vocab.taskHasFile)
      .select("subject").as[String].head()
    assert(full.filter(col("subject") === debugContainer &&
      col("predicate") === Vocab.taskHasFile).count() == 1)
  }

  test("pages sharing a basename mint distinct file entities") {
    val m2 = Seq(
      ("http://t/1", "http://g/1", "doc-valid.ttl", 10L, "share://a/doc.html"),
      ("http://t/1", "http://g/1", "doc-valid.ttl", 20L, "share://b/doc.html"))
      .toDF("task", "graph", "file_name", "size", "derived_from")
    val quads = FileRegistry.fileMetadataQuads(m2, "2026-01-01T00:00:00Z")
    val logicals = quads.filter(
      col("subject").startsWith("http://data.lblod.info/id/files/"))
      .select("subject").distinct()
    assert(logicals.count() == 2)
    // and the container links address both
    assert(FileRegistry.containerQuads(m2)
      .filter(col("predicate") === Vocab.taskHasFile)
      .select("obj").distinct().count() == 2)
  }

  test("idempotency: same manifest → same URIs (deterministic minting)") {
    val a = FileRegistry.fileMetadataQuads(manifest, "2026-01-01T00:00:00Z")
      .select("subject").distinct().as[String].collect().toSet
    val b = FileRegistry.fileMetadataQuads(manifest, "2026-01-01T00:00:00Z")
      .select("subject").distinct().as[String].collect().toSet
    assert(a == b)
  }
}
