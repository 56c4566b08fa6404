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
    assert(rows.keySet == Set("share://a.html", "share://b.html"))
    assert(rows.values.toSeq.distinct.size == 1, "gzip must decode to same text")
    assert(rows("share://b.html") == html)

    // feeds the pipeline end-to-end
    val quads = ExtractPipeline.run(spark, pages.select("url", "html"))
    assert(quads.filter(col("predicate.value") === "http://schema.org/name")
      .count() == 2)
    pages.unpersist()
  }

  test("x.html and x.html.gz share one url: each is its own page") {
    // both files map to share://x.html; extraction is page-local, so each
    // row yields its own quads and its own provenance quad
    val dir = Files.createTempDirectory("pages").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/x.html"), html)
    val gz = new GZIPOutputStream(new FileOutputStream(s"$dir/x.html.gz"))
    gz.write(html.getBytes("UTF-8")); gz.close()
    val pages = PageSource.readPages(spark, dir, Seq("share://x.html"))
    assert(pages.select("url").as[String].collect().toSeq ==
      Seq("share://x.html", "share://x.html"))
    val out = Files.createTempDirectory("ttl").toString
    ExtractPipeline.writeTtl(ExtractPipeline.run(spark, pages.select("url", "html")), out)
    val valid = spark.read.text(s"$out/valid").as[String].collect().toSeq
    val counts = valid.groupBy(identity).map { case (l, ls) => l -> ls.size }
    assert(counts.size == 2 && counts.contains("<https://example.org/b/1> " +
      "<http://www.w3.org/ns/prov#wasDerivedFrom> <share://x.html> ."), counts)
    // every line twice, the provenance quad included
    assert(counts.values.toSet == Set(2), counts)
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
      "share://%41.html", "share://%zz.html", "share://c.html", "share://d.html",
      "share://e.html", "share://f.HTML.html"), urls.toSeq)
    // a task's read keeps exactly the named pages, odd names included
    val some = Seq("share://a b.html", "share://%zz.html", "share://c.html", "share://nope.html")
    val picked = PageSource.readPages(spark, dir, some).select("url", "html")
      .as[(String, String)].collect()
    assert(picked.map(_._1).sorted.toSeq == some.init.sorted)
    assert(picked.forall(_._2 == html))
  }
}
