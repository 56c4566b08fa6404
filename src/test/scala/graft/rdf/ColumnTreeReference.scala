package graft.rdf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The validate/repair/serialize rules as Spark Column trees built from
  * built-ins (`when`/`rlike`/`isin`/`regexp_replace`/`concat`) — the
  * form the engine used before [[TermKernel]]. Kept as the reference the
  * kernel is differentially checked against (TermKernelDiffSpec): same
  * rule order, same SQL null semantics, by construction of Spark's own
  * operators. Not used by the engine.
  */
object ColumnTreeReference {

  // ------------------------------------------------------------ validation

  def isJsNumber(value: Column): Column =
    coalesce(value.rlike(Validation.jsNumberRegex), lit(false))

  def isValidWkt(value: Column): Column = {
    val crs = regexp_extract(value, Validation.wktCrsRegex, 1)
    (length(value) > 0) &&
      (crs === "" || (Validation.isJsParseableUrl(crs) && crs.startsWith("http://")))
  }

  def isParseableIri(value: Column): Column =
    coalesce(!value.rlike(Validation.iriRefBadCharRegex), lit(false))

  def isValidTerm(term: Column): Column = {
    val tt = term.getField("termType")
    val v  = term.getField("value")
    val dt = term.getField("datatype")
    val lang = term.getField("lang")
    when(tt === Term.BlankNode, lit(false))
      .when(tt === Term.NamedNode && !isParseableIri(v), lit(false))
      .when(tt === Term.Literal && dt.isNotNull && dt =!= "" &&
        !isParseableIri(dt), lit(false))
      .when(dt.isNull || dt === "", lit(true))
      .when(dt === Vocab.rdfsLiteral, lit(false))
      .when(dt === Vocab.rdfLangString,
        coalesce(lang.rlike(Validation.langTagRegex), lit(false)))
      .when(dt === Vocab.xsdString, lit(true))
      .when(dt === Vocab.rdfHTML, lit(true))
      .when(dt === Vocab.rdfXMLLiteral, lit(false))
      .when(dt === Vocab.xsdBoolean, v.isin("true", "false"))
      .when(dt === Vocab.xsdDate, coalesce(v.rlike(Validation.dateRegex), lit(false)))
      .when(dt === Vocab.xsdDateTime, coalesce(v.rlike(Validation.dateTimeRegex), lit(false)))
      .when(dt === Vocab.xsdInteger, isJsNumber(v))
      .when(dt === Vocab.wktLiteral, coalesce(isValidWkt(v), lit(false)))
      .otherwise(lit(false))
  }

  def isValidQuad(quad: Column): Column =
    isValidTerm(quad.getField("subject")) && isValidTerm(quad.getField("predicate")) &&
      isValidTerm(quad.getField("obj"))

  // ---------------------------------------------------------------- repair

  private def termStruct(tt: Column, v: Column, dt: Column, lang: Column): Column =
    struct(tt.as("termType"), v.as("value"), dt.as("datatype"), lang.as("lang"))

  private def literal(v: Column, dt: String): Column =
    termStruct(lit(Term.Literal), v, lit(dt), lit(null).cast("string"))

  def fixBoolean(value: Column): Column = {
    val lowered = lower(value)
    when(lowered.isin("true", "false"), literal(lowered, Vocab.xsdBoolean))
      .otherwise(lit(null).cast(Term.schema))
  }

  def fixDate(value: Column): Column = {
    val reformatted = JsDateReformat.date(value)
    when(reformatted.isNotNull, literal(reformatted, Vocab.xsdDate))
      .otherwise(lit(null).cast(Term.schema))
  }

  def fixDateTime(value: Column): Column = {
    val reformatted = JsDateReformat.dateTime(value)
    when(reformatted.isNotNull, literal(reformatted, Vocab.xsdDateTime))
      .otherwise(lit(null).cast(Term.schema))
  }

  def fixLiteral(value: Column): Column = literal(value, Vocab.xsdString)

  def fixInteger(value: Column): Column =
    when(isJsNumber(value), literal(value, Vocab.xsdInteger))
      .otherwise(lit(null).cast(Term.schema))

  def fixWkt(value: Column): Column = {
    val hasCrs = regexp_extract(value, Validation.wktCrsRegex, 1) =!= ""
    val replaced = regexp_replace(value, lit("(?s)^(.*?)https"), lit("$1http"))
    when(length(value) > 0,
      literal(when(hasCrs, replaced).otherwise(value), Vocab.wktLiteral))
      .otherwise(lit(null).cast(Term.schema))
  }

  def fixTerm(term: Column): Column = {
    val dt = term.getField("datatype")
    val v  = term.getField("value")
    when(isValidTerm(term), term)
      .when(dt === Vocab.xsdBoolean, fixBoolean(v))
      .when(dt === Vocab.xsdDate, fixDate(v))
      .when(dt === Vocab.xsdDateTime, fixDateTime(v))
      .when(dt === Vocab.rdfsLiteral, fixLiteral(v))
      .when(dt === Vocab.rdfLangString || dt === Vocab.rdfXMLLiteral, fixLiteral(v))
      .when(dt === Vocab.xsdInt, fixInteger(v))
      .when(dt === Vocab.wktLiteral, fixWkt(v))
      .otherwise(lit(null).cast(Term.schema))
  }

  def termParseable(t: Column): Column = {
    val tt = t.getField("termType"); val v = t.getField("value")
    val dt = t.getField("datatype"); val lang = t.getField("lang")
    val badIri = tt === Term.NamedNode && !isParseableIri(v)
    val badDt = tt === Term.Literal && dt.isNotNull && dt =!= "" &&
      !isParseableIri(dt)
    val badTag = tt === Term.Literal && lang.isNotNull && length(lang) > 0 &&
      !lang.rlike(Validation.langTagRegex)
    !(badIri || badDt || badTag)
  }

  def fixQuad(quad: Column): Column = {
    val s = quad.getField("subject"); val p = quad.getField("predicate")
    val o = quad.getField("obj")
    val anyBlank = s.getField("termType") === Term.BlankNode ||
      p.getField("termType") === Term.BlankNode ||
      o.getField("termType") === Term.BlankNode
    val parseError =
      !(termParseable(s) && termParseable(p) && termParseable(o))
    val fs = fixTerm(s); val fp = fixTerm(p); val fo = fixTerm(o)
    when(anyBlank || parseError || fs.isNull || fp.isNull || fo.isNull,
      lit(null).cast(Quad.schema))
      .otherwise(struct(fs.as("subject"), fp.as("predicate"), fo.as("obj"),
        quad.getField("graph").as("graph")))
  }

  def isTermFixable(term: Column): Column = {
    val dt = term.getField("datatype")
    val v  = term.getField("value")
    when(term.getField("termType") === Term.BlankNode, lit(false))
      .when(isValidTerm(term), lit(true))
      .when(dt === Vocab.xsdBoolean, lower(v).isin("true", "false"))
      .when(dt === Vocab.xsdDate, JsDateReformat.date(v).isNotNull)
      .when(dt === Vocab.xsdDateTime, JsDateReformat.dateTime(v).isNotNull)
      .when(dt === Vocab.rdfsLiteral || dt === Vocab.rdfLangString ||
        dt === Vocab.rdfXMLLiteral, lit(true))
      .when(dt === Vocab.xsdInt, isJsNumber(v))
      .when(dt === Vocab.wktLiteral, length(v) > 0)
      .otherwise(lit(false))
  }

  def isQuadFixable(quad: Column): Column =
    termParseable(quad.getField("subject")) &&
      termParseable(quad.getField("predicate")) &&
      termParseable(quad.getField("obj")) &&
      isTermFixable(quad.getField("subject")) &&
      isTermFixable(quad.getField("predicate")) &&
      isTermFixable(quad.getField("obj"))

  def verdict(quad: Column): Column =
    when(isValidQuad(quad), "valid")
      .when(isQuadFixable(quad), "corrected")
      .otherwise("invalid")

  // --------------------------------------------------------- serialization

  def escape(c: Column): Column = {
    val e1 = regexp_replace(c, "\\\\", "\\\\\\\\")
    val e2 = regexp_replace(e1, "\"", "\\\\\"")
    val e3 = regexp_replace(e2, "\n", "\\\\n")
    val e4 = regexp_replace(e3, "\r", "\\\\r")
    regexp_replace(e4, "\t", "\\\\t")
  }

  def serializeTerm(term: Column): Column = {
    val tt = term.getField("termType")
    val v  = term.getField("value")
    val dt = term.getField("datatype")
    val lang = term.getField("lang")
    when(tt === Term.NamedNode, concat(lit("<"), v, lit(">")))
      .when(tt === Term.BlankNode, concat(lit("_:"), v))
      .otherwise {
        val quoted = concat(lit("\""), escape(v), lit("\""))
        when(lang.isNotNull && length(lang) > 0,
          concat(quoted, lit("@"), lang))
          .when(dt.isNotNull && dt =!= Vocab.xsdString,
            concat(quoted, lit("^^<"), dt, lit(">")))
          .otherwise(quoted)
      }
  }

  def toNTriple(subject: Column, predicate: Column, obj: Column): Column =
    concat(serializeTerm(subject), lit(" "), serializeTerm(predicate),
      lit(" "), serializeTerm(obj), lit(" ."))

  /** `ExtractPipeline.tagged` + `withTtlLine` over the reference rules. */
  def verdictFixedLine(quad: Column): (Column, Column, Column) = {
    val v = verdict(quad)
    val fixed = when(v === "corrected", fixQuad(quad)).otherwise(quad)
    (v, fixed, toNTriple(fixed.getField("subject"), fixed.getField("predicate"),
      fixed.getField("obj")))
  }
}
