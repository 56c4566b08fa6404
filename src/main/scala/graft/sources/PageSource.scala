package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Harvested-page ingest (SURVEY S2/S3): a directory of HTML files —
  * plain or gzipped — becomes a `(url, html, path)` DataFrame for
  * [[graft.pipeline.ExtractPipeline]].
  *
  * The reference streams each file and pipes `.gz` paths through
  * `createUnzip()` (lib/rdfa-extractor.js:65-70); Spark's text source
  * applies the Hadoop codec by extension, so gzip is transparent here.
  * `wholetext` keeps one row per file (an HTML document must not be
  * split), and the file-metadata column `_metadata.file_path` carries
  * provenance.
  *
  * 100 TB posture: one whole document per row is the right granularity —
  * parallelism comes from the number of files, and
  * `spark.sql.files.maxPartitionBytes` / `openCostInBytes` control
  * packing of small harvested pages into tasks. Gzipped inputs are
  * per-file work units by nature (non-splittable), which matches the
  * one-page-one-document model. The directory is read as one root path
  * (a glob over it would make every file a root path, listed by a Spark
  * job once there are more than 32), and a task's read names its pages:
  * the url filter on the file-metadata column prunes files while Spark
  * lists them, so a task never opens the other tasks' pages in a shared
  * directory (as the reference enumerates only the task's own files,
  * lib/pipeline-import.js:131-139).
  */
object PageSource {

  /** Read every HTML/HTML.gz page directly under `dir`. */
  def readPages(spark: SparkSession, dir: String): DataFrame =
    withUrl(files(spark, dir))

  /** Read only the pages whose url ([[pathToUrl]]) is in `urls`; the
    * other files in `dir` are pruned at listing and never opened. The
    * url set is one `InSet` node, not an `In` of one literal per page,
    * so plan size does not grow with the task's page count. */
  def readPages(spark: SparkSession, dir: String, urls: Seq[String]): DataFrame =
    withUrl(files(spark, dir).filter(graft.rdf.toColumn(InSet(
      graft.rdf.toExpr(pathToUrl(filePath)), urls.map(UTF8String.fromString).toSet))))

  private def files(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true").text(dir)

  private def filePath: Column = col("_metadata.file_path")

  private def withUrl(files: DataFrame): DataFrame =
    files.select(pathToUrl(filePath).as("url"), col("value").as("html"),
      filePath.as("path"))

  /** file:/…/name → share://name URI, the share:// prefix plus the
    * file's name (F4, lib/file-helpers.js:35): `x.html.gz` is
    * `share://x.html.gz`, so two files are always two urls. The file
    * path is a percent-encoded URI → decoded back to the filesystem
    * name. */
  def pathToUrl(path: Column): Column = {
    val raw = element_at(split(path, "/"), -1)
    // url_decode is form-decoding: a literal '+' (legal, unencoded in URI
    // paths) would become a space — shield it as %2B first. A stray '%'
    // in a filename makes decoding fail → try_url_decode + fall back to
    // the raw name rather than aborting the scan.
    concat(lit("share://"),
      coalesce(try_url_decode(regexp_replace(raw, "\\+", "%2B")), raw))
  }
}
