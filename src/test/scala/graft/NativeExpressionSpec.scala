package graft

import graft.functions._
import graft.rdf._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every native expression, table-driven: generated code (with no
  * interpreted fallback) and the interpreted path give the same rows,
  * equal to a direct call of the expression's kernel, and an unaliased
  * column is named after the SQL function. */
class NativeExpressionSpec extends SparkSpec {

  private val floats = ArrayType(FloatType, containsNull = true)
  private val doubles = ArrayType(DoubleType, containsNull = true)
  // nullable fields, so a term can carry the nulls a kernel must handle
  private val termType = StructType(Term.schema.fields.map(_.copy(nullable = true)))
  private val schema = StructType(Seq(
    StructField("text", StringType), StructField("a", floats),
    StructField("b", doubles), StructField("line", StringType),
    StructField("v", StringType), StructField("s", termType),
    StructField("p", termType), StructField("o", termType),
    StructField("g", StringType)))

  private def term(t: Term): Row =
    if (t == null) null else Row(t.termType, t.value, t.datatype, t.lang)

  private val iri = Term.iri("http://ex.org/s")
  private val pred = term(Term.iri("http://ex.org/p"))
  private val rows: Seq[Row] = Seq(
    // null inputs everywhere
    Row(null, null, null, null, null, null, null, null, null),
    // no tokens, a malformed line, an empty value, an all-null term and a
    // boolean literal with no value
    Row("", Seq(), Seq(), "garbage", "", Row(null, null, null, null), pred,
      term(Term.typed(null, Vocab.xsdBoolean)), ""),
    Row(" \t\n", Seq(1f, null, 3f), Seq(1.0, null, 3.0),
      "<http://s> <http://p> \"bad\\uZZZZ\" .", "not a date", term(Term.blank("b1")),
      pred, term(Term.lit("x")), null),
    // fewer than n tokens
    Row("one two", Seq(1f, 2f, 3f), Seq(1.0, 2.0), "<http://s> <http://p>",
      "2023-05-04", term(iri), pred,
      term(Term.typed("TRUE", Vocab.xsdBoolean)), "http://ex.org/g"),
    Row("one\u000btwo three four", Seq(0f, 0f, 0f), Seq(0.5, -1.0, 2.0),
      "_:b1 <http://p> \"x\"@en .", "May 4 2023 10:20:30", term(iri), pred,
      term(Term.typed("2023-5-4", Vocab.xsdDate)), null),
    Row("the quick brown fox jumps over the lazy dog", Seq(0.5f, -1f, 2f),
      Seq(3.0, 1.0, -2.0),
      "<http://s> <http://p> \"2023-05-04\"^^<http://www.w3.org/2001/XMLSchema#date> <http://g> .",
      "http://www.opengis.net/def/crs/EPSG/0/4326", term(Term.iri("http://ex.org/a b")),
      pred, term(Term.typed("12", Vocab.xsdInt)), "http://ex.org/g"),
    Row("a b c a b c a b c", Seq(2f, 1f, 0f), Seq(2.0, 1.0, 0.0),
      "<http://s> <http://p> <http://o> .", "http://[::1", term(iri), pred,
      term(Term.typed("<https://www.opengis.net/def/crs/EPSG/0/4326> POINT(1 2)",
        Vocab.wktLiteral)), null),
    Row("x", Seq(1f), Seq(1.0), "# comment", "https://xn--nxasmq6b.com",
      term(iri), term(Term.lit("not an iri")), term(Term.langLit("x", "bad tag!")),
      null))

  /** One expression: its SQL name, its argument columns, its Column
    * builder, and the kernel call on Catalyst-internal arguments. */
  private case class Case(name: String, args: Seq[String], build: Seq[Column] => Column,
      kernel: Seq[Any] => Any)

  private def str(a: Any) = a.asInstanceOf[UTF8String]
  private def arr(a: Any) = a.asInstanceOf[ArrayData]
  private def row(a: Any) = a.asInstanceOf[InternalRow]
  /** The kernel on non-null arguments; null otherwise, as the call propagates. */
  private def strict(f: Seq[Any] => Any): Seq[Any] => Any =
    a => if (a.contains(null)) null else f(a)
  private def unless[T](sentinel: T)(v: T): Any = if (v == sentinel) null else v
  private def nanNull(v: Double): Any = if (v.isNaN) null else v
  private def term1(op: TermKernelExpr.Op, f: InternalRow => Any) =
    Case(op.name, Seq("o"), c => TermKernelExpr.call(op, c: _*), a => f(row(a(0))))
  private def quad(op: TermKernelExpr.Op, f: (InternalRow, InternalRow, InternalRow) => Any) =
    Case(op.name, Seq("s", "p", "o"), c => TermKernelExpr.call(op, c: _*),
      a => f(row(a(0)), row(a(1)), row(a(2))))

  private val cases: Seq[Case] = Seq(
    Case("simhash64", Seq("text"), c => SimHash64(c(0)),
      strict(a => unless(SimHash64.NullSentinel)(SimHash64.compute(str(a(0)))))),
    Case("shingle_hashes", Seq("text"), c => ShingleHashes(c(0)),
      strict(a => ShingleHashes.compute(str(a(0)), 3))),
    Case("minhash_sig", Seq("text"), c => MinHashSig(c(0), 4),
      strict(a => MinHashSig.compute(str(a(0)), 4, 3, 42L))),
    Case("winnow_fingerprint", Seq("text"), c => Winnow(c(0)),
      strict(a => Winnow.compute(str(a(0)), 5, 4))),
    Case("sign_signature", Seq("a"), c => SignSignature.of(c(0), 16),
      strict(a => unless(SignSignature.NullSentinel)(
        SignSignature.compute(arr(a(0)), 16, 0, isDouble = false)))),
    Case("cosine_similarity", Seq("a", "b"), c => CosineSimilarity(c(0), c(1)),
      strict(a => nanNull(CosineSimilarity.compute(arr(a(0)), arr(a(1)),
        aDouble = false, bDouble = true, aNulls = true, bNulls = true)))),
    Case("cosine_similarity", Seq("NULL", "b"),
      c => CosineSimilarity(lit(null), c(1)), _ => null),
    Case("js_url_parseable", Seq("v"), c => JsUrlMirror(c(0)),
      strict(a => JsUrlMirror.isParseable(str(a(0))))),
    Case("js_date_reformat", Seq("v"), c => JsDateReformat.date(c(0)),
      strict(a => JsDateReformat.reformat(str(a(0)), false))),
    Case("js_datetime_reformat", Seq("v"), c => JsDateReformat.dateTime(c(0)),
      strict(a => JsDateReformat.reformat(str(a(0)), true))),
    Case("parse_ntriple", Seq("line"), c => NTriples.parseNTriple(c(0)),
      strict(a => NTriples.parseRow(str(a(0))))),
    term1(TermKernelExpr.IsValidTerm, TermKernel.isValidTerm),
    term1(TermKernelExpr.IsTermFixable, TermKernel.isTermFixable),
    term1(TermKernelExpr.FixTerm, TermKernel.fixTerm),
    term1(TermKernelExpr.SerializeTerm, TermKernel.serializeTerm),
    quad(TermKernelExpr.IsQuadFixable, TermKernel.isQuadFixable),
    quad(TermKernelExpr.Verdict, TermKernel.verdict),
    quad(TermKernelExpr.ToNTriple, TermKernel.toNTriple),
    Case("fixQuad", Seq("s", "p", "o", "g"),
      c => TermKernelExpr.call(TermKernelExpr.FixQuad, c: _*),
      a => TermKernel.fixQuad(row(a(0)), row(a(1)), row(a(2)), str(a(3)))))

  /** An RDD-backed frame: a local relation would be evaluated while
    * planning, never by the generated code. */
  private lazy val input: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** One column per case, in input order (a projection keeps it). */
  private lazy val frame: DataFrame = input.select(cases.map(k =>
    k.build(k.args.map(a => if (a == "NULL") lit(null) else col(a)))): _*)

  private def collectUnder(confs: (String, String)*): Seq[Row] = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try frame.collect().toSeq
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("an unaliased native expression is named after its SQL function") {
    val names = frame.columns.toSeq
    val expected = cases.map(k => s"${k.name}(${k.args.mkString(", ")})")
    assert(names == expected)
  }

  test("generated and interpreted code both equal a direct kernel call") {
    val generated = collectUnder("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "true")
    val interpreted = collectUnder("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(generated.size == rows.size && interpreted.size == rows.size)
    val bad = for {
      ((in, (gen, int)), r) <- rows.zip(generated.zip(interpreted)).zipWithIndex
      (k, i) <- cases.zipWithIndex
      internal = k.args.map(a => if (a == "NULL") null
        else CatalystTypeConverters.convertToCatalyst(in.get(schema.fieldIndex(a))))
      want = CatalystTypeConverters.convertToScala(k.kernel(internal), frame.schema(i).dataType)
      if gen.get(i) != want || int.get(i) != want
    } yield s"row $r ${k.name}(${k.args.mkString(", ")}): generated ${gen.get(i)}, " +
      s"interpreted ${int.get(i)}, kernel $want"
    assert(bad.isEmpty, bad.mkString("\n"))
    // the table reaches both a value and a null for every expression but
    // the NULL-literal cosine and the never-null verdict
    cases.zipWithIndex.filterNot(_._1.args.contains("NULL")).foreach { case (k, i) =>
      assert(generated.exists(_.get(i) != null), k.name)
      if (k.name != "verdict") assert(generated.exists(_.get(i) == null), k.name)
    }
  }
}
