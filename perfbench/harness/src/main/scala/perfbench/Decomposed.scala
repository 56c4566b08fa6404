package perfbench

import graft.pipeline.{ExtractPipeline, FileRegistry, ImportService, TaskStore}
import graft.rdf.{NTriples, Vocab}
import graft.sources.PageSource
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** One extraction task composed step by step from the layers' public
  * functions, in `runImportPipeline`'s order, with a span around each
  * call. Each step's output is persisted and materialized to a `noop`
  * sink inside its span, so a span's time is the work of that layer alone
  * (the next layer reads the cached result). This attributes time to
  * layers; it is not the program's pipeline: `runImportPipeline` persists
  * only the tagged quads, so it runs the extraction again for the HTML
  * sink and once per branch of the provenance union, which this
  * re-composition (extraction persisted) runs once. Figures of the
  * program's own pipeline — wall time, jobs, page rows read, the HTML
  * sink's write tasks — come from the unmodified `runImportPipeline`.
  * Manifest sizes are computed as `runImportPipeline` does, since its
  * manifest helpers are not public. */
object Decomposed {

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.write.format("noop").mode("overwrite").save()
    p
  }

  private def manifest(spark: SparkSession, pages: Seq[String], lines: DataFrame,
      part: String, task: String, graph: String): DataFrame = {
    import spark.implicits._
    val sizes = lines.groupBy(col("url"))
      .agg(sum(octet_length(col("line")) + lit(1)).as("size"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    pages.map { p =>
      val base = p.substring(p.lastIndexOf('/') + 1).stripSuffix(".html")
      (task, graph, s"$base-$part.ttl", sizes.getOrElse(p, 0L), p)
    }.toDF("task", "graph", "file_name", "size", "derived_from")
  }

  /** Returns the tagged quads, the quads registration minted, and the
    * HTML side files. */
  def run(spark: SparkSession, state: DataFrame, task: String, pagesDir: String,
      outDir: String, stateDir: String, debug: Boolean): Map[String, Long] = {
    import Spans.span
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df; df }
    try span("task", task) {
      val row = span("taskstore.load", task) {
        TaskStore.loadExtractionTask(state, task).collect()
      }
      val graph = Option(row.head.getAs[String]("task_graph"))
        .getOrElse("http://mu.semte.ch/graphs/harvesting")
      val busy = span("taskstore.transition", task) {
        keep(materialize(TaskStore.transitionStatus(state, task, Vocab.statusBusy,
          Main.Now, Some(graph))))
      }
      val pages = span("taskstore.input_pages", task) {
        TaskStore.inputPages(busy, task).as[String](Encoders.STRING).collect().toSeq
      }
      val pageHtml = span("sources.read_pages", task) {
        val pageSet = spark.createDataset(pages)(Encoders.STRING).toDF("url")
        keep(materialize(PageSource.readPages(spark, pagesDir)
          .join(broadcast(pageSet), Seq("url"), "left_semi")))
      }
      val raw = span("extract", task) {
        keep(materialize(ExtractPipeline.extractQuads(spark, pageHtml)))
      }
      val (externalized, htmlFiles) = span("externalize", task) {
        val (e, h) = ExtractPipeline.externalizeHtml(raw)
        (keep(materialize(e)), keep(materialize(h)))
      }
      val withProv = span("provenance", task) {
        keep(materialize(ExtractPipeline.withProvenance(externalized)))
      }
      val tagged = span("rdf.validate_repair", task) {
        keep(materialize(ExtractPipeline.tagged(withProv)))
      }
      val lines = span("rdf.serialize", task) {
        keep(materialize(ExtractPipeline.withTtlLine(tagged)))
      }
      span("sink.ttl", task) { ExtractPipeline.writeTtl(lines, s"$outDir/ttl", debug) }
      span("sink.html", task) { ExtractPipeline.writeHtmlFiles(htmlFiles, s"$outDir/html") }
      val minted = span("registry", task) {
        val original = NTriples.toNTriple(col("subject"), col("predicate"), col("obj")).as("line")
        val valid = manifest(spark, pages, lines.filter(col("verdict").isin("valid", "corrected"))
          .select(col("url"), col("ttl").as("line")), "valid", task, graph)
        var m = FileRegistry.fileMetadataQuads(valid, Main.Now)
          .unionByName(FileRegistry.containerQuads(valid))
        if (debug) for ((part, rows) <- Seq(
            "original" -> lines,
            "invalid" -> lines.filter(col("verdict").isin("invalid", "corrected")),
            "corrected" -> lines.filter(col("verdict") === "corrected"))) {
          val dm = manifest(spark, pages, rows.select(col("url"), original), part, task, graph)
          m = m.unionByName(FileRegistry.fileMetadataQuads(dm, Main.Now))
            .unionByName(FileRegistry.debugContainerQuads(dm))
        }
        keep(materialize(m.distinct().join(busy,
          Seq("subject", "predicate", "obj", "graph"), "left_anti")))
      }
      val done = span("taskstore.transition", task) {
        keep(materialize(TaskStore.transitionStatus(busy.unionByName(minted), task,
          Vocab.statusSuccess, Main.Now, Some(graph))))
      }
      span("service.write_state", task) { ImportService.writeState(done, stateDir) }
      Map("quads" -> tagged.count(), "minted" -> minted.count(),
        "html_files" -> htmlFiles.count())
    } finally cached.foreach(_.unpersist())
  }
}
