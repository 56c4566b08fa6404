package graft.sources

import graft.SparkSpec
import graft.pipeline.ExtractPipeline
import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.functions._

/** S2/S3: plain + gzipped page files through the source into the
  * extraction pipeline. */
class PageSourceSpec extends SparkSpec {
  import spark.implicits._

  private val html =
    """<div about="https://example.org/b/1" vocab="http://schema.org/">
      |<span property="name">Besluit één</span></div>""".stripMargin

  test("plain and .gz files read identically; urls derived from filenames") {
    val dir = Files.createTempDirectory("pages").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.html"), html)
    val gz = new GZIPOutputStream(new FileOutputStream(s"$dir/b.html.gz"))
    gz.write(html.getBytes("UTF-8")); gz.close()

    val pages = PageSource.readPages(spark, dir).cache()
    val rows = pages.select("url", "html").as[(String, String)].collect().toMap
    assert(rows.keySet == Set("share://a.html", "share://b.html.gz"))
    assert(rows.values.toSeq.distinct.size == 1, "gzip must decode to same text")
    assert(rows("share://b.html.gz") == html)

    // feeds the pipeline end-to-end
    val quads = ExtractPipeline.run(spark, pages.select("url", "html"))
    assert(quads.filter(col("predicate.value") === "http://schema.org/name")
      .count() == 2)
    pages.unpersist()
  }

  test("x.html and x.html.gz are two urls: a read of one opens only it") {
    // the url is share:// plus the file name (F4), so the plain and the
    // gzipped copy are two pages and a task naming one reads one
    val dir = Files.createTempDirectory("pages").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/x.html"), html)
    val gz = new GZIPOutputStream(new FileOutputStream(s"$dir/x.html.gz"))
    gz.write(html.getBytes("UTF-8")); gz.close()
    assert(PageSource.readPages(spark, dir).select("url").as[String].collect()
      .toSet == Set("share://x.html", "share://x.html.gz"))
    val pages = PageSource.readPages(spark, dir, Seq("share://x.html"))
    val read = pages.select("url", "path").as[(String, String)].collect().toSeq
    assert(read.map(_._1) == Seq("share://x.html"), read)
    assert(read.forall(_._2.endsWith("/x.html")), read)
    val out = Files.createTempDirectory("ttl").toString
    ExtractPipeline.writeTtl(ExtractPipeline.run(spark, pages.select("url", "html")), out)
    val valid = spark.read.text(s"$out/valid").as[String].collect().toSeq
    val counts = valid.groupBy(identity).map { case (l, ls) => l -> ls.size }
    assert(counts.size == 2 && counts.contains("<https://example.org/b/1> " +
      "<http://www.w3.org/ns/prov#wasDerivedFrom> <share://x.html> ."), counts)
    // every line once, the provenance quad included
    assert(counts.values.toSet == Set(1), counts)
  }

  test("urls from the file-metadata path equal the input_file_name() urls") {
    val dir = Files.createTempDirectory("pages").toString
    val names = Seq("a b.html", "a+b.html", "%41.html", "%zz.html", "c.html.gz",
      "d.gz", "e", "f.HTML")
    for (n <- names) {
      if (n.endsWith(".gz")) {
        val gz = new GZIPOutputStream(new FileOutputStream(s"$dir/$n"))
        gz.write(html.getBytes("UTF-8")); gz.close()
      } else Files.writeString(java.nio.file.Paths.get(s"$dir/$n"), html)
    }
    val urls = PageSource.readPages(spark, dir).select("url").as[String].collect().sorted
    // the url the former input_file_name() derivation gave each file
    val before = spark.read.option("wholetext", "true").text(s"$dir/*")
      .select(PageSource.pathToUrl(input_file_name())).as[String].collect().sorted
    assert(urls.toSeq == before.toSeq)
    assert(urls.toSet == Set("share://a b.html", "share://a+b.html",
      "share://%41.html", "share://%zz.html", "share://c.html.gz", "share://d.gz",
      "share://e", "share://f.HTML"), urls.toSeq)
    // a task's read keeps exactly the named pages, odd names included
    val some = Seq("share://a b.html", "share://%zz.html", "share://c.html.gz",
      "share://nope.html")
    val picked = PageSource.readPages(spark, dir, some).select("url", "html")
      .as[(String, String)].collect()
    assert(picked.map(_._1).sorted.toSeq == some.init.sorted)
    assert(picked.forall(_._2 == html))
  }
}
