package graft.rdf

import graft.SparkSpec
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Differential spec: the compiled [[TermKernel]] against the Column trees
  * it replaced ([[ColumnTreeReference]]), row by row, with zero
  * mismatches allowed — per term (validity, fixability, repaired term,
  * rendering) and per quad (verdict, repaired quad, the `ttl` line that
  * `ExtractPipeline.tagged` + `withTtlLine` produce). Inputs: the
  * JsDate/JsNumber/JsUrl probe corpora under every datatype, the
  * Validation/Repair spec cases, and a seeded soup with null fields and
  * null terms, blank nodes, bad IRI characters, empty and malformed
  * language tags and every datatype branch. Run once through generated
  * code and once interpreted. */
class TermKernelDiffSpec extends SparkSpec {

  private val nullableTerm = StructType(
    Term.schema.fieldNames.map(StructField(_, StringType)).toSeq)

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b += '\t'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'u' if i + 6 <= s.length &&
              s.substring(i + 2, i + 6).forall(Character.digit(_, 16) >= 0) =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c => b += c; i += 2
        }
      } else { b += s.charAt(i); i += 1 }
    }
    b.toString
  }

  private def corpus(name: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(s"src/test/resources/$name/corpus.tsv"),
      StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)
      .map(l => unescape(l.split("\t", -1)(0)))
  }

  private val datatypes: Seq[String] = Seq(null, "", Vocab.xsdString,
    Vocab.xsdBoolean, Vocab.xsdDate, Vocab.xsdDateTime, Vocab.xsdInteger,
    Vocab.xsdInt, Vocab.rdfsLiteral, Vocab.rdfLangString, Vocab.rdfHTML,
    Vocab.rdfXMLLiteral, Vocab.wktLiteral,
    "http://www.w3.org/2001/XMLSchema#decimal", "http://x/bad dt", "http://x/<dt>")
  private val langs: Seq[String] = Seq(null, "", "en", "nl-BE", "en us",
    "123", "en-", "x-private-1", "é")
  private val termTypes: Seq[String] =
    Seq(Term.NamedNode, Term.BlankNode, Term.Literal, null, "Other")

  /** Values of the Validation/Repair specs' cases plus escaping and
    * encoding edges. */
  private val specValues: Seq[String] = Seq(null, "", "true", "false", "TRUE",
    "False", "yes", "1", "1.5", "0x1F", "Infinity", " 12 ", "abc",
    "2023-05-04", "2023-05-04Z", "2023-05-04+02:00", "-0044-03-15",
    "1997-99-99", "May 4 2023", "May 4, 2023", "2023/05/04", "2023-5-4",
    "2023-05-04T10:20:30", "2023-05-04T10:20:30.5Z", "2023-05-04 10:20",
    "http://example.org/x", "http://example.org/a b", "urn:x:<y>", "a{b}",
    "<p>x</p>", "<x/>", "a\"b\\c\nd\te\rf", "ünï©ødé ☃ 😀",
    "\u0000\u0007", " ", "https", "https://x https://y",
    "POINT(1 2)", "<http://www.opengis.net/def/crs/EPSG/0/31370> POINT(1 2)",
    "<https://www.opengis.net/def/crs/EPSG/0/31370> POINT(1 2)",
    "<https://a%2Fb/> POINT(1 2)", "<http://a:99999/> POINT(1 2) https",
    "<ftp://x/> POINT(0 0)")

  private lazy val values: Seq[String] = {
    val urls = corpus("jsurl")
    (specValues ++ corpus("jsdate") ++ corpus("jsnumber") ++ urls ++
      urls.flatMap(u => Seq(s"<$u> POINT(1 2)", s"POINT(1 2) <$u>"))).distinct
  }

  /** Every value under every datatype, as literal and as IRI/blank node,
    * then a seeded soup over all fields. */
  private lazy val terms: Seq[Row] = {
    val rnd = new scala.util.Random(20261017)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val typed = for (v <- values; dt <- datatypes)
      yield Row(Term.Literal, v, dt, if (dt == Vocab.rdfLangString) pick(langs) else null)
    val nodes = values.flatMap(v => Seq(Row(Term.NamedNode, v, null, null),
      Row(Term.BlankNode, v, null, null)))
    val soup = Seq.fill(6000)(Row(pick(termTypes), pick(values), pick(datatypes), pick(langs)))
    typed ++ nodes ++ soup
  }

  private def termFrame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(terms.map(Row(_)), 4),
    StructType(Seq(StructField("t", nullableTerm))))

  private def quadFrame: DataFrame = {
    val rnd = new scala.util.Random(7919)
    val pool = terms
    def term(): Row = if (rnd.nextInt(50) == 0) null else pool(rnd.nextInt(pool.size))
    // real-world shape: IRI subject/predicate, the object drawn from the pool
    val iri = Row(Term.NamedNode, "http://example.org/s", null, null)
    val quads = Seq.fill(20000)(Row(term(), term(), term(),
      if (rnd.nextBoolean()) "http://g" else null)) ++
      pool.map(o => Row(iri, iri, o, "http://g"))
    spark.createDataFrame(spark.sparkContext.parallelize(quads, 4),
      StructType(Seq(StructField("subject", nullableTerm),
        StructField("predicate", nullableTerm), StructField("obj", nullableTerm),
        StructField("graph", StringType))))
  }

  /** Rows where any (kernel, reference) pair differs null-safely. */
  private def mismatches(df: DataFrame, pairs: Seq[(String, Column, Column)]): Seq[String] = {
    val cols = pairs.flatMap { case (n, k, r) => Seq(k.as(s"k_$n"), r.as(s"r_$n")) }
    val differs = pairs.map { case (n, _, _) => !(col(s"k_$n") <=> col(s"r_$n")) }
      .reduce(_ || _)
    df.select(col("*") +: cols: _*).filter(differs).limit(20).collect()
      .map(_.toString).toSeq
  }

  private def termPairs(t: Column) = Seq(
    ("valid", Validation.isValidTerm(t), ColumnTreeReference.isValidTerm(t)),
    ("fixable", Repair.isTermFixable(t), ColumnTreeReference.isTermFixable(t)),
    ("fixed", Repair.fixTerm(t), ColumnTreeReference.fixTerm(t)),
    ("ttl", NTriples.serializeTerm(t), ColumnTreeReference.serializeTerm(t)))

  private def quadPairs = {
    val quad = struct(col("subject"), col("predicate"), col("obj"), col("graph"))
    val (rv, rFixed, rLine) = ColumnTreeReference.verdictFixedLine(quad)
    val kv = Repair.verdict(quad)
    val kFixed = when(kv === "corrected", Repair.fixQuad(quad)).otherwise(quad)
    Seq(("verdict", kv, rv), ("fixed", kFixed, rFixed),
      ("ttl", NTriples.toNTriple(kFixed.getField("subject"),
        kFixed.getField("predicate"), kFixed.getField("obj")), rLine),
      ("fixQuad", Repair.fixQuad(quad), ColumnTreeReference.fixQuad(quad)),
      ("fixable", Repair.isQuadFixable(quad), ColumnTreeReference.isQuadFixable(quad)))
  }

  test("kernel = Column-tree reference on every term: valid, fixable, fixed, rendering") {
    assert(terms.size > 20000)
    val bad = mismatches(termFrame, termPairs(col("t")))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("kernel = Column-tree reference on every quad: verdict, fixed quad, line") {
    val df = quadFrame.cache()
    val bad = mismatches(df, quadPairs)
    // the soup reaches every verdict
    val verdicts = df.select(Repair.verdict(struct(col("subject"), col("predicate"),
      col("obj"), col("graph")))).distinct().collect().map(_.getString(0)).toSet
    df.unpersist()
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(verdicts == Set("valid", "corrected", "invalid"), verdicts)
  }

  test("interpreted kernel (no codegen) = reference") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val bad = mismatches(termFrame.limit(4000), termPairs(col("t"))) ++
        mismatches(quadFrame.limit(4000), quadPairs)
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
