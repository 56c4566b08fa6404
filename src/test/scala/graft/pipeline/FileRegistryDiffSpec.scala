package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential spec: [[FileRegistry]]'s per-file functions against the
  * Column trees they replaced ([[FileRegistryColumnReference]]), as sorted
  * rows with zero mismatches — the three generators a five-column manifest
  * feeds, and a task's whole registration as a set. The corpus crosses two
  * tasks, two graphs, file names with several dots, no dot, none at all,
  * a leading dot, a double dot, non-ASCII, a space and a trailing dot,
  * two pages sharing a basename, and valid and debug files. Null manifest
  * fields are outside the contract ([[ImportPipeline]]'s manifest never
  * emits them). */
class FileRegistryDiffSpec extends SparkSpec {
  import spark.implicits._

  private val Now = "2026-03-01T00:00:00Z"

  private val files: DataFrame = (for {
    (task, t) <- Seq("http://t/1", "http://t/2").zipWithIndex
    graph <- Seq("http://g/1", "http://mu.semte.ch/graphs/harvesting")
    (name, n) <- Seq("a.b.c-valid.ttl", "noext", "", ".env", "x..ttl",
      "caf\u00e9-\u00fcber.ttl", "with space.ttl", "trail.").zipWithIndex
    page <- Seq("share://a/doc.html", "share://b/doc.html")
    valid <- Seq(true, false)
  } yield (task, graph, name, (t * 1000L + n) * 4096L, page, valid))
    .toDF("task", "graph", "file_name", "size", "derived_from", "valid")

  private def manifest(valid: Boolean) =
    files.filter(col("valid") === valid).drop("valid")

  private def rows(df: DataFrame) =
    df.select("subject", "predicate", "obj", "graph")
      .as[(String, String, String, String)].collect().toSeq.sorted

  private def same(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(g.nonEmpty)
    assert(g == w, s"only got: ${g.diff(w).take(5)}; only want: ${w.diff(g).take(5)}")
  }

  test("fileMetadataQuads matches the Column trees row for row") {
    same(FileRegistry.fileMetadataQuads(files.drop("valid"), Now),
      FileRegistryColumnReference.fileMetadataQuads(files.drop("valid"), Now))
  }

  test("containerQuads and debugContainerQuads match the Column trees") {
    same(FileRegistry.containerQuads(manifest(true)),
      FileRegistryColumnReference.containerQuads(manifest(true)))
    same(FileRegistry.debugContainerQuads(manifest(false)),
      FileRegistryColumnReference.debugContainerQuads(manifest(false)))
  }

  test("registration is the three-way union's set") {
    val manifest = files.select(struct(col("task"), col("graph"), col("file_name"),
        col("size"), col("derived_from")), col("valid"))
      .as[(FileRegistry.ResultFile, Boolean)].collect().toSeq
    same(FileRegistry.registration(manifest, Now).toDF("subject", "predicate", "obj", "graph")
        .distinct(),
      FileRegistryColumnReference.registration(files, Now).distinct())
  }
}
