package perfbench

import graft.html.{HtmlParser, RdfaExtractor}
import graft.pipeline.{ImportPipeline, ImportService}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bulk extraction task of the traced run: one larger task executed
  * directly, as the service would, with debug TTLs on — `runImportPipeline`
  * then `ImportService.writeState` — and the checks of what it wrote. */
object Bulk {
  import Main._

  /** One task end to end into a fresh directory; returns the wall time and
    * the outputs the correctness check compares. */
  def once(spark: SparkSession, state: DataFrame, task: String, pagesDir: String,
      dir: String): (Double, Map[String, Any]) = {
    val (result, wall) = timed {
      val r = ImportPipeline.runImportPipeline(spark, state, task, pagesDir, s"$dir/task",
        Now, writeDebug = true)
      ImportService.writeState(r.quads, s"$dir/state")
      r
    }
    val reg = registrations(spark, s"$dir/state").get(task)
    val c = outputCounts(s"$dir/task") ++ Map("task" -> task, "status" -> result.status,
      "registered_files" -> reg.map(_._1).getOrElse(0L),
      "state_status" -> reg.map(_._2).getOrElse("missing"), "wall_s" -> wall)
    deleteDir(dir)
    (wall, c)
  }

  /** Direct single-thread calls into graft.html over the tasks' pages. */
  def htmlDirect(pagesDir: String, spark: SparkSession, state: DataFrame,
      tasks: Seq[String]): Map[String, Double] = {
    val pages = {
      import spark.implicits._
      tasks.flatMap(t => graft.pipeline.TaskStore.inputPages(state, t).as[String].collect()).sorted
    }
    val files = pages.map(p => p.stripPrefix("share://"))
      .map(n => (s"share://$n", Files.readString(Paths.get(pagesDir, n))))
    var parseNs, extractNs, quads = 0L
    for (round <- 0 until 2; (url, html) <- files) { // round 0 warms the JIT
      val t0 = System.nanoTime()
      try HtmlParser.parse(html) catch { case _: Throwable => () }
      val t1 = System.nanoTime()
      val n = try RdfaExtractor.extract(html, url).size catch { case _: Throwable => 0 }
      val t2 = System.nanoTime()
      if (round == 1) { parseNs += t1 - t0; extractNs += t2 - t1; quads += n }
    }
    val n = files.size.toDouble
    Map("parse_ms_per_page" -> parseNs / 1e6 / n, "extract_ms_per_page" -> extractNs / 1e6 / n,
      "quads_per_page" -> quads / n, "pages" -> n)
  }
}
