package graft.pipeline

import graft.SparkSpec
import graft.rdf.Vocab
import org.apache.spark.sql.functions._

/** End-to-end pipeline spec over in-memory pages + the synthesized
  * driver-table harness (SURVEY §3.1 stages 6-8). */
class ExtractPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val page =
    """<html prefix="besluit: http://data.vlaanderen.be/ns/besluit# prov: http://www.w3.org/ns/prov#
      |              eli: http://data.europa.eu/eli/ontology#"><body>
      |  <div about="https://example.org/besluit/B1" typeof="besluit:Besluit">
      |    <span property="eli:title">Reglement X</span>
      |    <span property="eli:date_publication" datatype="xsd:date" content="May 4, 2023"></span>
      |    <div property="prov:value" datatype="rdf:HTML"><p>full body</p></div>
      |  </div>
      |</body></html>""".stripMargin

  private def pages = Seq(("https://example.org/zitting/1", page)).toDF("url", "html")

  test("full pipeline: extraction, externalization, provenance, verdicts") {
    val out = ExtractPipeline.run(spark, pages).cache()
    val rows = out.select($"subject.value", $"predicate.value", $"obj.value",
      $"verdict").as[(String, String, String, String)].collect().toSet

    // externalized rdf:HTML object → content-addressed file URI, valid
    val ext = rows.filter(_._2 == Vocab.extractedDecisionContent)
    assert(ext.size == 1)
    assert(ext.head._3.startsWith("http://data.lblod.info/id/files/"))
    assert(ext.head._4 == "valid")
    // provenance once per subject
    assert(rows.count(_._2 == Vocab.provWasDerivedFrom) == 1)
    assert(rows.exists(r => r._2 == Vocab.provWasDerivedFrom &&
      r._3 == "https://example.org/zitting/1"))
    // repairable date → corrected
    assert(rows.exists(r => r._2 == "http://data.europa.eu/eli/ontology#date_publication"
      && r._4 == "corrected"))
    // corrected partition serializes the repaired (unpadded-quirk) form
    val correctedTtl = out.filter($"verdict" === "corrected")
      .select($"ttl").as[String].collect()
    assert(correctedTtl.exists(_.contains("\"2023-05-4\"")))
    out.unpersist()
  }

  test("TTL sink round-trips through the readTtl ingest source (G4 → G5 identity)") {
    val out = ExtractPipeline.run(spark, pages)
    val dir = java.nio.file.Files.createTempDirectory("ttl-roundtrip").toString
    ExtractPipeline.writeTtl(out, dir, writeDebug = true)
    for (part <- Seq("valid", "original")) {
      val back = graft.sources.QuadStore.readTtl(spark, s"$dir/$part")
      assert(back.count() > 0)
      assert(back.filter(!$"parse_ok").count() == 0, s"$part: unparseable lines")
      // parse-then-reserialize is the identity on the sink's own output
      val reser = back.select($"line", graft.rdf.NTriples.toNTriple(
        $"subject", $"predicate", $"obj").as("re"))
      assert(reser.filter($"line" =!= $"re").count() == 0, s"$part: lossy round-trip")
    }
    // comments and blank lines are ignored, junk is surfaced not dropped
    val extra = java.nio.file.Files.createTempDirectory("ttl-junk").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$extra/f.nt"),
      "# comment\n\n<http://s> <http://p> \"v\" .\nnot a triple\n")
    val parsed = graft.sources.QuadStore.readTtl(spark, extra)
    assert(parsed.count() == 2)
    assert(parsed.filter($"parse_ok").count() == 1)
    assert(parsed.filter(!$"parse_ok").select($"line").as[String].head()
      == "not a triple")
  }

  test("K9 debug partitions match correctAndRepairTriples exactly (pipeline-import.js:220-241)") {
    // page yields: valid triples (title, externalized prov:value, cites,
    // provenance) + one repairable date ("May 4, 2023" → corrected).
    val out = ExtractPipeline.run(spark, pages)
    val dir = java.nio.file.Files.createTempDirectory("ttl-sink").toString
    ExtractPipeline.writeTtl(out, dir, writeDebug = true)
    def lines(part: String): Seq[String] =
      spark.read.text(s"$dir/$part").as[String].collect().toSeq
    val valid = lines("valid")
    val invalid = lines("invalid")
    val corrected = lines("corrected")
    // corrected file holds the ORIGINAL (unrepaired) lexical form...
    assert(corrected.exists(_.contains("\"May 4, 2023\"")), corrected)
    assert(!corrected.exists(_.contains("\"2023-05-4\"")), corrected)
    // ...the repaired form goes to the valid file (validTriples.push(fixedTriple))
    assert(valid.exists(_.contains("\"2023-05-4\"")), valid)
    // invalid file includes every validation failure — also the repaired ones
    assert(corrected.toSet.subsetOf(invalid.toSet), (invalid, corrected))
    // |invalid| = #invalid + #corrected; this page has no unrepairable triple
    assert(invalid.size == corrected.size)
    // -original.ttl: the full pre-validation serialization (:85-91) —
    // all extracted triples in original form, repaired form absent
    val original = lines("original")
    assert(original.size == valid.size) // (#valid + #corrected, no invalids here)
    assert(original.exists(_.contains("\"May 4, 2023\"")))
    assert(!original.exists(_.contains("\"2023-05-4\"")))
  }

  test("html side-output table carries the payload for the file sink (G2)") {
    val raw = ExtractPipeline.extractQuads(spark, pages)
    val (_, files) = ExtractPipeline.externalizeHtml(raw)
    val f = files.as[(String, String, String)].collect()
    assert(f.length == 1)
    assert(f.head._2 == "<p>full body</p>")
    assert(f.head._3 == "https://example.org/zitting/1")
  }

  test("html file sink writes one <md5>.html per externalized object (G2/K1)") {
    val raw = ExtractPipeline.extractQuads(spark, pages)
    val (_, files) = ExtractPipeline.externalizeHtml(raw)
    val outDir = java.nio.file.Files.createTempDirectory("html-sink").toString
    ExtractPipeline.writeHtmlFiles(files, outDir)
    // Hadoop local FS writes .crc checksum sidecars; ignore them
    val written = new java.io.File(outDir).listFiles().toSeq
      .filterNot(_.getName.startsWith("."))
    assert(written.length == 1)
    assert(written.head.getName.endsWith(".html"))
    val content = new String(java.nio.file.Files.readAllBytes(written.head.toPath))
    assert(content == "<p>full body</p>")
  }

  test("run reads each page once and plans no shuffle") {
    // pages behind the test-only counting filesystem: every open of a
    // page file is one read of its content
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[graft.ops.CountingFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("pages").toString
    for (n <- 1 to 4) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/page-$n.html"),
      page.replace("besluit/B1", s"besluit/B$n"))
    val files = new java.io.File(dir).listFiles().map(_.getPath).sorted.toSeq
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    graft.ops.CountingFs.reset()
    spark.listenerManager.register(listener)
    try ExtractPipeline.run(spark, graft.sources.PageSource.readPages(spark, s"cfs:$dir")
        .select("url", "html"))
      .write.format("noop").mode("overwrite").save()
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val reads = graft.ops.CountingFs.openedPaths.filter(_.startsWith(dir)).sorted
    assert(reads == files, reads)
    // the final adaptive plan, query stages included
    object Shuffles extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    assert(plans.size == 1, plans)
    val exchanges = Shuffles.collect(plans.asScala.head) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.isEmpty, plans.asScala.head.treeString)
  }

  test("per page: one provenance quad per subject, one file per shared HTML body") {
    val body = "<p>shared body</p>"
    def besluit(id: String) =
      s"""<div about="https://example.org/besluit/$id" typeof="besluit:Besluit">
         |<span property="eli:title">Besluit $id</span>
         |<div property="prov:value" datatype="rdf:HTML">$body</div></div>""".stripMargin
    val shared = Seq(("https://example.org/zitting/2",
      s"""<html prefix="besluit: http://data.vlaanderen.be/ns/besluit# prov: http://www.w3.org/ns/prov#
         | eli: http://data.europa.eu/eli/ontology#"><body>${besluit("A")}
         |${besluit("B")}</body></html>""".stripMargin)).toDF("url", "html")
    val out = ExtractPipeline.run(spark, shared).cache()
    val rows = out.select($"subject.value", $"predicate.value", $"obj.value")
      .as[(String, String, String)].collect().toSeq
    val subjects = rows.map(_._1).distinct
    assert(subjects.sorted == Seq("https://example.org/besluit/A",
      "https://example.org/besluit/B"), subjects)
    val prov = rows.filter(_._2 == Vocab.provWasDerivedFrom)
    assert(prov.map(_._1).sorted == subjects.sorted, prov)
    assert(prov.forall(_._3 == "https://example.org/zitting/2"), prov)
    // two externalized quads, one content-addressed file URI
    val ext = rows.filter(_._2 == Vocab.extractedDecisionContent)
    val uri = s"http://data.lblod.info/id/files/${md5hex(body)}"
    assert(ext.map(_._3) == Seq(uri, uri), ext)
    // the side table holds one row per externalized quad...
    val files = ExtractPipeline.htmlFiles(out).as[(String, String, String)].collect()
    assert(files.toSeq == Seq.fill(2)((uri, body, "https://example.org/zitting/2")),
      files.toSeq)
    // ...and the sink writes their one <md5>.html
    val outDir = java.nio.file.Files.createTempDirectory("html-sink").toString
    ExtractPipeline.writeHtmlFiles(ExtractPipeline.htmlFiles(out), outDir)
    val written = new java.io.File(outDir).listFiles().toSeq
      .filterNot(_.getName.startsWith("."))
    assert(written.map(_.getName) == Seq(s"${md5hex(body)}.html"), written)
    assert(java.nio.file.Files.readString(written.head.toPath) == body)
    out.unpersist()
  }

  test("rdfa_externalize gives one row per externalized quad") {
    val sf = "/root/testdata/sf0.001"
    val externalized = ExtractPipeline.run(spark, ExtractPipeline.syntheticPages(spark, sf))
      .filter($"predicate.value" === Vocab.extractedDecisionContent)
      .select($"url", $"obj.value")
    val summary = ExtractPipeline.externalizeSummary(spark, sf)
    assert(summary.columns.toSeq == Seq("url", "file_uri", "content"))
    val rows = summary.select($"url", $"file_uri").as[(String, String)].collect()
    assert(rows.length > 0)
    assert(rows.sorted.toSeq ==
      externalized.as[(String, String)].collect().sorted.toSeq)
  }

  test("binding projection coerces integer/dateTime columns (P2, utils.js:7-25)") {
    val bindings = Seq(("42", "2023-05-04T10:11:12", "keep"))
      .toDF("count", "modified", "label")
    val typedDf = graft.ops.Bindings.typed(bindings, Map(
      "count" -> graft.rdf.Vocab.xsdInteger,
      "modified" -> graft.rdf.Vocab.xsdDateTime,
      "label" -> graft.rdf.Vocab.xsdString))
    val row = typedDf.collect().head
    // xsd:integer → decimal(38,0): unbounded-integer-safe
    assert(row.getDecimal(0).longValueExact() == 42L)
    assert(row.get(1).isInstanceOf[java.sql.Timestamp])
    assert(row.getString(2) == "keep")
    // parseInt semantics: leading digit prefix, garbage → null
    val edge = graft.ops.Bindings.typed(
      Seq("x", "1.5", "12abc", "9223372036854775808").toDF("count"),
      Map("count" -> graft.rdf.Vocab.xsdInteger)).collect()
    assert(edge(0).isNullAt(0))
    assert(edge(1).getDecimal(0).longValueExact() == 1L)
    assert(edge(2).getDecimal(0).longValueExact() == 12L)
    assert(edge(3).getDecimal(0).toString == "9223372036854775808")
    // parseInt radix inference (node-verified): a 0x/0X prefix flips to
    // hex, with sign; bare "0x"/non-hex digits → NaN → null; no octal
    val hex = graft.ops.Bindings.typed(
      Seq("0x10", "-0X1f", "+0x10", "0x", "0xzz", "08", " 42 ", "1e3")
        .toDF("count"),
      Map("count" -> graft.rdf.Vocab.xsdInteger)).collect()
    assert(hex(0).getDecimal(0).longValueExact() == 16L)
    assert(hex(1).getDecimal(0).longValueExact() == -31L)
    assert(hex(2).getDecimal(0).longValueExact() == 16L)
    assert(hex(3).isNullAt(0))
    assert(hex(4).isNullAt(0))
    assert(hex(5).getDecimal(0).longValueExact() == 8L)
    assert(hex(6).getDecimal(0).longValueExact() == 42L)
    assert(hex(7).getDecimal(0).longValueExact() == 1L)
  }

  test("malformed page is isolated, not fatal (T4)") {
    // each failing page logs one WARN line with its url and exception
    // class; nesting this deep overflows the recursive RDFa walk
    val deep = "<html><body>" + "<span>" * 100000 + "x</body></html>"
    val okUrl = "https://example.org/ok"
    val mixed = Seq((okUrl, page), ("https://example.org/deep", deep),
      ("https://example.org/broken", null: String)).toDF("url", "html")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "extract-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        events.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("graft.pipeline.ExtractPipeline")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    logger.addAppender(appender)
    def lines(df: org.apache.spark.sql.DataFrame) =
      df.select($"ttl").as[String].collect().sorted.toSeq
    val got = try lines(ExtractPipeline.run(spark, mixed))
      finally { logger.removeAppender(appender); appender.stop() }
    import scala.jdk.CollectionConverters._
    assert(events.asScala.toSeq.sorted == Seq(
      "WARN extraction failed for https://example.org/broken: java.lang.NullPointerException",
      "WARN extraction failed for https://example.org/deep: java.lang.StackOverflowError"))
    // the failing pages add nothing; the good page's output is unchanged
    assert(got.nonEmpty)
    assert(got == lines(ExtractPipeline.run(spark, Seq((okUrl, page)).toDF("url", "html"))))
  }

  test("synthesized driver harness populates all three verdict partitions") {
    val summary = ExtractPipeline.pipelineSummary(spark, "/root/testdata/sf0.001")
      .agg(sum("n_valid"), sum("n_corrected"), sum("n_invalid"))
      .as[(Long, Long, Long)].head()
    assert(summary._1 > 0 && summary._2 > 0 && summary._3 > 0, summary.toString)
  }
}
