package graft.pipeline

import graft.SparkSpec
import graft.rdf.Vocab
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** End-to-end orchestrator spec (lib/pipeline-import.js:28-117 parity):
  * full lifecycle over HTML fixtures, asserting the final quad-table
  * state — status transitions, file/container registration, error
  * capture. */
class ImportPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val T = "http://t/1"
  private val Now = "2026-03-01T00:00:00Z"

  private def pageHtml(id: Int, date: String) =
    s"""<html prefix="besluit: http://data.vlaanderen.be/ns/besluit# prov: http://www.w3.org/ns/prov# eli: http://data.europa.eu/eli/ontology#"><body>
       |<div about="http://example.org/besluit/$id" typeof="besluit:Besluit">
       |<span property="eli:title">Besluit $id</span>
       |<span property="eli:date_publication" datatype="xsd:date" content="$date"></span>
       |<div property="prov:value" datatype="rdf:HTML"><p>body $id</p></div>
       |</div></body></html>""".stripMargin

  /** Two pages: page 1 all-valid, page 2 with a repairable date. */
  private def writePages(): String = {
    val dir = Files.createTempDirectory("pages").toString
    Files.writeString(Paths.get(s"$dir/page-1.html"), pageHtml(1, "2023-05-04"))
    Files.writeString(Paths.get(s"$dir/page-2.html"), pageHtml(2, "May 4, 2023"))
    dir
  }

  private def taskQuads = Seq(
    (T, Vocab.rdfType, Vocab.taskType),
    (T, Vocab.muUuid, "uuid-1"),
    (T, Vocab.admsStatus, Vocab.statusScheduled),
    (T, Vocab.taskOperation, Vocab.opExtracting),
    (T, Vocab.taskInputContainer, "http://c/in"),
    ("http://c/in", Vocab.taskHasFile, "share://page-1.html"),
    ("http://c/in", Vocab.taskHasFile, "share://page-2.html"))
    .toDF("subject", "predicate", "obj")
    .withColumn("graph", lit("http://g/tasks"))

  test("success lifecycle: extract → write → register → success") {
    val pagesDir = writePages()
    val outDir = Files.createTempDirectory("import-out").toString
    val result = ImportPipeline.runImportPipeline(spark, taskQuads, T,
      pagesDir, outDir, Now, writeDebug = true)
    assert(result.status == "success" && result.nPages == 2, result)
    val state = result.quads.cache()

    // final task state: success + modified=Now, exactly once each
    val t = state.filter(col("subject") === T &&
      col("predicate").isin(Vocab.admsStatus, Vocab.dctModified))
      .select("predicate", "obj").as[(String, String)].collect()
    assert(t.toMap == Map(Vocab.admsStatus -> Vocab.statusSuccess,
      Vocab.dctModified -> Now), t.toSeq)
    assert(t.length == 2)

    // TTL written: valid partition carries both pages' triples, the
    // repaired date form included; debug partitions exist
    val valid = spark.read.text(s"$outDir/ttl/valid").as[String].collect()
    assert(valid.exists(_.contains("Besluit 1")))
    assert(valid.exists(_.contains("\"2023-05-4\"")))
    val corrected = spark.read.text(s"$outDir/ttl/corrected").as[String].collect()
    assert(corrected.exists(_.contains("\"May 4, 2023\"")))
    // externalized HTML side files on disk
    val htmlFiles = new java.io.File(s"$outDir/html").listFiles()
      .filterNot(_.getName.startsWith("."))
    assert(htmlFiles.length == 2, htmlFiles.mkString(","))

    // registration: per page, valid + original + invalid + corrected files
    // → 4 logical + 4 physical entities each with mu:uuid
    val fileNames = state.filter(col("predicate") === Vocab.nfoFileName)
      .select("obj").as[String].collect()
    for (p <- Seq("page-1", "page-2"); part <- Seq("valid", "original", "invalid", "corrected"))
      assert(fileNames.contains(s"$p-$part.ttl"), s"$p-$part.ttl missing")
    // sizes recorded; valid files are non-empty, page-1 has no invalids
    val sizes = state.filter(col("predicate") === Vocab.nfoFileSize)
      .join(state.filter(col("predicate") === Vocab.nfoFileName)
        .select(col("subject"), col("obj").as("fname")), "subject")
      .select(col("fname"), col("obj").cast("long")).as[(String, Long)]
      .collect().toMap
    assert(sizes("page-1-valid.ttl") > 0)
    assert(sizes("page-1-invalid.ttl") == 0) // all-valid page
    assert(sizes("page-2-invalid.ttl") > 0)  // repairable date, original form
    assert(sizes("page-2-invalid.ttl") == sizes("page-2-corrected.ttl"))
    // ...and each size is exactly its page's share of the written
    // partition: Σ (UTF-8 bytes + newline) over the lines whose subject
    // is that page's besluit (every quad of page n has that subject)
    for (part <- Seq("valid", "original", "invalid", "corrected")) {
      val lines = spark.read.text(s"$outDir/ttl/$part").as[String].collect().toSeq
      val byPage = lines.groupBy(l => Seq(1, 2).find(n =>
        l.startsWith(s"<http://example.org/besluit/$n>")))
      assert(!byPage.contains(None), s"$part: line of no page ${byPage.get(None)}")
      for (n <- Seq(1, 2)) {
        val bytes = byPage.getOrElse(Some(n), Nil)
          .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 1L).sum
        assert(sizes(s"page-$n-$part.ttl") == bytes, s"page-$n-$part.ttl")
      }
    }

    // containers: valid files in file container AND import graph;
    // debug files in the file container only
    val hasFile = state.filter(col("predicate") === Vocab.taskHasFile &&
      !col("subject").startsWith("http://c/"))
      .select("subject", "obj").as[(String, String)].collect()
    val byContainer = hasFile.groupBy(_._1).view.mapValues(_.length).toMap
    val importGraphs = byContainer.keys.filter(_.contains("/import/"))
    assert(importGraphs.size == 1)
    assert(byContainer(importGraphs.head) == 2) // valid files only
    val fileContainer = byContainer.keys.filterNot(_.contains("/import/")).head
    assert(byContainer(fileContainer) == 8) // 2 pages × 4 partitions
    // task links all three result containers
    assert(state.filter(col("subject") === T &&
      col("predicate") === Vocab.taskResultsContainer).count() == 3)
    // no error record
    assert(state.filter(col("predicate") === Vocab.taskError).count() == 0)
    state.unpersist()
  }

  test("a success state is one set union and one status transition") {
    // every state change is one TaskStore.update: over a parquet state (a
    // local frame would let Spark fold a filter into the relation), the
    // success state (whatever the debug setting), the failure state and
    // the startup state each plan one broadcast left-anti join of the scan
    // against the key table and one Union with the inserts, and no Filter,
    // shuffle, aggregate or Generate
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val pagesDir = writePages()
    val stateDir = Files.createTempDirectory("state").toString + "/state"
    taskQuads.unionByName(Seq(("http://t/9", Vocab.rdfType, Vocab.taskType),
        ("http://t/9", Vocab.admsStatus, Vocab.statusBusy),
        ("http://t/9", Vocab.taskOperation, Vocab.opImporting))
      .toDF("subject", "predicate", "obj").withColumn("graph", lit("http://g/tasks")))
      .write.parquet(stateDir)
    val state = ImportService.readState(spark, stateDir)
    def shape(what: String, newState: org.apache.spark.sql.DataFrame): Seq[String] = {
      val p: SparkPlan = newState.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val joins = p.collect { case j: BaseJoinExec => j }
      assert(joins.size == 1 && (joins.head match {
        case b: BroadcastHashJoinExec => b.joinType == LeftAnti
        case _ => false
      }), s"$what:\n$p")
      assert(p.collect { case u: UnionExec => u }.size == 1, s"$what:\n$p")
      assert(p.collect { case f: FilterExec => f }.isEmpty, s"$what:\n$p")
      assert(p.collect { case n: ShuffleExchangeExec => n; case n: BaseAggregateExec => n;
        case n if n.nodeName == "Generate" => n }.isEmpty, s"$what:\n$p")
      p.collect { case n => n.nodeName }
    }
    val shapes = Seq(false, true).map { debug =>
      val result = ImportPipeline.runImportPipeline(spark, state, T, pagesDir,
        Files.createTempDirectory("import-out").toString, Now, writeDebug = debug)
      assert(result.status == "success", result)
      shape(s"success, writeDebug=$debug", result.quads)
    }
    assert(shapes(0) == shapes(1), shapes)
    val failed = ImportPipeline.runImportPipeline(spark, state, T,
      "/nonexistent/pages/dir", Files.createTempDirectory("import-out").toString, Now)
    assert(failed.status == "failed", failed)
    shape("failure", failed.quads)
    val recovered = TaskStore.failBusyTasks(state, Now)
    assert(recovered.filter(col("subject") === "http://t/9" &&
      col("predicate") === Vocab.admsStatus).select("obj").as[String].collect().toSeq ==
      Seq(Vocab.statusFailed))
    shape("startup", recovered)
  }

  test("re-running a task is idempotent: no duplicated metadata quads") {
    val pagesDir = writePages()
    val out1 = Files.createTempDirectory("import-out").toString
    val first = ImportPipeline.runImportPipeline(spark, taskQuads, T,
      pagesDir, out1, Now)
    // materialize round 1's state so round 2 joins against fixed data
    val state1 = first.quads.cache(); val n1 = state1.count()
    val second = ImportPipeline.runImportPipeline(spark, state1, T,
      pagesDir, Files.createTempDirectory("import-out2").toString, Now)
    assert(second.status == "success")
    // transitions replace status/modified; every minted quad is already
    // present → the set union appends nothing
    assert(second.quads.count() == n1)
    // debug output off: only the valid partition is written, and only
    // the valid files are registered (logical + physical entity each)
    assert(new java.io.File(s"$out1/ttl").list().toSeq == Seq("valid"))
    val fileNames = state1.filter(col("predicate") === Vocab.nfoFileName)
      .select("obj").as[String].collect()
    assert(fileNames.filter(_.startsWith("page-")).sorted.toSeq ==
      Seq("page-1-valid.ttl", "page-2-valid.ttl"), fileNames.toSeq)
    assert(fileNames.length == 4, fileNames.toSeq)
    state1.unpersist()
  }

  test("one debug-on task reads each page once") {
    // pages behind the test-only counting filesystem: every open of a
    // page file is one read of its content
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[graft.ops.CountingFileSystem].getName)
    val pagesDir = writePages()
    val files = new java.io.File(pagesDir).listFiles().map(_.getPath).sorted.toSeq
    // other tasks' pages share the directory: more than the 32 root paths
    // above which Spark lists files with a job
    for (n <- 3 to 42)
      Files.writeString(Paths.get(s"$pagesDir/page-$n.html"), pageHtml(n, "2023-05-04"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    graft.ops.CountingFs.reset()
    spark.sparkContext.addSparkListener(listener)
    val result = try ImportPipeline.runImportPipeline(spark, taskQuads, T,
      s"cfs:$pagesDir", Files.createTempDirectory("import-out").toString, Now,
      writeDebug = true)
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(result.status == "success" && result.nPages == 2, result)
    val reads = graft.ops.CountingFs.openedPaths.filter(_.startsWith(pagesDir)).sorted
    assert(reads == files, reads)
    import scala.jdk.CollectionConverters._
    assert(!jobs.asScala.exists(_.startsWith("Listing leaf files")), jobs)
  }

  test("no plan over the persisted extraction shuffles: sinks and manifest") {
    // a page's rows sit in one partition of the persisted frame, so the
    // sinks and the manifest's per-page size fold read it without an exchange
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try ImportPipeline.runImportPipeline(spark, taskQuads, T,
      writePages(), Files.createTempDirectory("import-out").toString, Now,
      writeDebug = true)
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(result.status == "success", result)
    val helper = new AdaptiveSparkPlanHelper {}
    import scala.jdk.CollectionConverters._
    val overTagged = plans.asScala.toSeq.filter(p =>
      helper.collect(p) { case s: InMemoryTableScanExec => s }.nonEmpty)
    // four TTL partitions and the manifest, at least
    assert(overTagged.size >= 5, plans.asScala.mkString("\n\n"))
    overTagged.foreach { p =>
      assert(helper.collect(p) { case e: ShuffleExchangeExec => e }.isEmpty, p) }
  }

  test("the import stage compiles whole-stage: no codegen fallback") {
    // fallback=false turns a failed whole-stage compile (e.g. a method
    // beyond the JVM's 64 KB) into an error instead of a silent
    // interpreted stage; CODEGEN_ONLY does the same for expressions
    val keys = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val pagesDir = writePages()
      val pages = graft.sources.PageSource.readPages(spark, pagesDir)
      val lines = ExtractPipeline.run(spark, pages.select("url", "html"))
      val out = Files.createTempDirectory("import-out").toString
      ExtractPipeline.writeTtl(lines, s"$out/ttl", writeDebug = true)
      val valid = spark.read.text(s"$out/ttl/valid").as[String].collect()
      assert(valid.exists(_.contains("\"2023-05-4\"")), valid.toSeq)
      assert(spark.read.text(s"$out/ttl/corrected").count() == 1)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("failure lifecycle: error record + failed status (T5)") {
    val outDir = Files.createTempDirectory("import-out").toString
    val result = ImportPipeline.runImportPipeline(spark, taskQuads, T,
      "/nonexistent/pages/dir", outDir, Now)
    assert(result.status == "failed" && result.error.nonEmpty, result)
    val state = result.quads
    val status = state.filter(col("subject") === T &&
      col("predicate") === Vocab.admsStatus).select("obj").as[String].collect()
    assert(status.toSeq == Seq(Vocab.statusFailed))
    assert(state.filter(col("predicate") === Vocab.oslcMessage).count() == 1)
    assert(state.filter(col("subject") === T &&
      col("predicate") === Vocab.taskError).count() == 1)
  }

  test("a task failing twice with the same message keeps one error record") {
    def fail(state: org.apache.spark.sql.DataFrame) =
      ImportPipeline.runImportPipeline(spark, state, T, "/nonexistent/pages/dir",
        Files.createTempDirectory("import-out").toString, Now)
    val first = fail(taskQuads)
    val state1 = first.quads.cache(); state1.count()
    val second = fail(state1)
    assert(second.status == "failed" && second.error == first.error, second)
    val state = second.quads.cache()
    val errors = state.filter(col("predicate") === Vocab.taskError)
      .select("obj").as[String].collect()
    assert(errors.length == 1, errors.toSeq)
    // one error entity: its type, its message and the task's link to it
    assert(state.filter(col("subject") === errors.head ||
      col("obj") === errors.head).count() == 3)
    assert(state.distinct().count() == state.count())
    state.unpersist(); state1.unpersist()
  }

  test("non-task subject: state untouched (pipeline-import.js:29-30)") {
    val result = ImportPipeline.runImportPipeline(spark, taskQuads,
      "http://not/a/task", "/tmp", "/tmp/out-unused", Now)
    assert(result.status == "not_a_task")
    assert(result.quads.count() == taskQuads.count())
  }

  test("lifecycle harness state matches its relational contract") {
    val sf = "/root/testdata/sf0.01"
    val state = graft.ops.QuadOps.taskLifecycleState(spark, sf)
    val t1 = state.filter(col("subject") === "urn:task:1" &&
      col("predicate") === Vocab.admsStatus).select("obj").as[String].collect()
    assert(t1.toSeq == Seq(Vocab.statusSuccess))
    // untouched sibling task
    val t2 = state.filter(col("subject") === "urn:task:2" &&
      col("predicate") === Vocab.admsStatus).select("obj").as[String].collect()
    assert(t2.toSeq == Seq(Vocab.statusScheduled))
    val reg = graft.ops.QuadOps.taskLifecycleRegistry(spark, sf)
      .as[(String, Long)].collect().toMap
    assert(reg(Vocab.muUuid) == 7)     // 4 file entities + 3 containers
    assert(reg(Vocab.taskHasFile) == 4) // 2 files × (file + import containers)
    assert(reg(Vocab.taskResultsContainer) == 3)
  }

  test("F3 basename mirrors path.parse().name (node-verified edges)") {
    val cases = Seq(
      "a/b.tar.gz" -> "b.tar", "/share/x.html" -> "x", "a/b/" -> "b",
      ".env" -> ".env", "noext" -> "noext", "a.b.c/d" -> "d", "x." -> "x",
      "share://pages/F1.html" -> "F1", "" -> "", "a/.hidden.txt" -> ".hidden",
      "..." -> "..", ".." -> "..", "a//b//" -> "b")
    cases.foreach { case (in, want) =>
      assert(ImportPipeline.basename(in) == want,
        s"basename('$in') != node path.parse name '$want'")
    }
  }
}
