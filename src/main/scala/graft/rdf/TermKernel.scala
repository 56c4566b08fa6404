package graft.rdf

import java.lang.{Boolean => JBool}
import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-term rules of validation (lib/validateTriple.js), repair
  * (lib/fixTriple.js) and N-Triples rendering as plain JVM functions over
  * Catalyst's internal values: a term is a 4-string struct row
  * `(termType, value, datatype, lang)`, possibly null.
  *
  * PARITY CONTRACT: every function returns exactly what the Column
  * expression it replaced returned, nulls included — SQL three-valued
  * logic (`JBool` null = unknown), `when` falling through on a null
  * condition, `rlike` as `Matcher.find`, `length` in code points,
  * `regexp_replace` round-tripping its input through `String`. The rule
  * provenance lives on [[Validation]] and [[Repair]]; the differential
  * spec pins the parity against the former trees row by row.
  *
  * [[TermKernelExpr]] exposes each function as one codegen'd node, so a
  * verdict→fixed→ttl projection is a handful of static calls instead of
  * thousands of expression nodes (whose generated Java outgrew the JVM's
  * 64 KB method limit, forcing the stage out of whole-stage codegen).
  */
object TermKernel {

  private val T = JBool.TRUE
  private val F = JBool.FALSE
  private def u(s: String): UTF8String = UTF8String.fromString(s)

  private val NamedNode = u(Term.NamedNode)
  private val BlankNode = u(Term.BlankNode)
  private val LiteralTT = u(Term.Literal)
  private val XsdString = u(Vocab.xsdString)
  private val XsdBoolean = u(Vocab.xsdBoolean)
  private val XsdDate = u(Vocab.xsdDate)
  private val XsdDateTime = u(Vocab.xsdDateTime)
  private val XsdInteger = u(Vocab.xsdInteger)
  private val XsdInt = u(Vocab.xsdInt)
  private val RdfsLiteral = u(Vocab.rdfsLiteral)
  private val LangString = u(Vocab.rdfLangString)
  private val RdfHtml = u(Vocab.rdfHTML)
  private val XmlLiteral = u(Vocab.rdfXMLLiteral)
  private val Wkt = u(Vocab.wktLiteral)
  private val True = u("true")
  private val False = u("false")

  private val Valid = u("valid")
  private val Corrected = u("corrected")
  private val Invalid = u("invalid")

  private val iriBadChar = Pattern.compile(Validation.iriRefBadCharRegex)
  private val langTag = Pattern.compile(Validation.langTagRegex)
  private val date = Pattern.compile(Validation.dateRegex)
  private val dateTime = Pattern.compile(Validation.dateTimeRegex)
  private val jsNumber = Pattern.compile(Validation.jsNumberRegex)
  private val wktCrs = Pattern.compile(Validation.wktCrsRegex)

  private def field(t: InternalRow, i: Int): UTF8String =
    if (t == null || t.isNullAt(i)) null else t.getUTF8String(i)
  private def matches(p: Pattern, s: UTF8String): Boolean =
    s != null && p.matcher(s.toString).find()
  private def bool(b: Boolean): JBool = if (b) T else F
  /** `a === b` for a non-null constant `b`: null when `a` is null. */
  private def eq3(a: UTF8String, b: UTF8String): JBool =
    if (a == null) null else bool(a == b)
  /** Kleene AND / OR / NOT, as Spark evaluates `&&` / `||` / `!`. */
  private def and3(a: JBool, b: JBool): JBool =
    if (a == F || b == F) F else if (a == null || b == null) null else T
  private def or3(a: JBool, b: JBool): JBool =
    if (a == T || b == T) T else if (a == null || b == null) null else F
  private def not3(a: JBool): JBool = if (a == null) null else bool(!a)

  /** `coalesce(!rlike(iriRefBadCharRegex), false)`. */
  private def iriOk(s: UTF8String): Boolean =
    s != null && !iriBadChar.matcher(s.toString).find()
  private def isJsNumber(v: UTF8String): Boolean = matches(jsNumber, v)
  /** `regexp_extract(v, wktCrsRegex, 1)` for a non-null `v`. */
  private def crs(v: UTF8String): String = {
    val m = wktCrs.matcher(v.toString)
    if (m.find()) m.group(1) else ""
  }
  private def validWkt(v: UTF8String): Boolean =
    v != null && v.numBytes > 0 && {
      val c = crs(v)
      c.isEmpty || (JsUrlMirror.isParseable(u(c)) && c.startsWith("http://"))
    }
  /** `lower(v) IN ('true', 'false')`, as the lowered value: only ASCII
    * letters lower to t/r/u/e/f/a/l/s in any locale, so the root locale
    * decides exactly what Spark's `lower` decides. */
  private def lowerBool(v: UTF8String): UTF8String =
    v.toString.toLowerCase(Locale.ROOT) match {
      case "true" => True
      case "false" => False
      case _ => null
    }
  private def literal(v: UTF8String, dt: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](LiteralTT, v, dt, null))

  /** Validity of one term (validateTriple.js:33-69) behind the n3
    * re-parse gate (validateTriple.js:11-16). */
  def isValidTerm(t: InternalRow): JBool = {
    val tt = field(t, 0); val v = field(t, 1)
    val dt = field(t, 2); val lang = field(t, 3)
    if (BlankNode == tt) F
    else if (NamedNode == tt && !iriOk(v)) F
    else if (LiteralTT == tt && dt != null && dt.numBytes > 0 && !iriOk(dt)) F
    else if (dt == null || dt.numBytes == 0) T
    else if (dt == RdfsLiteral) F
    else if (dt == LangString) bool(matches(langTag, lang))
    else if (dt == XsdString || dt == RdfHtml) T
    else if (dt == XmlLiteral) F
    else if (dt == XsdBoolean) { if (v == null) null else bool(v == True || v == False) }
    else if (dt == XsdDate) bool(matches(date, v))
    else if (dt == XsdDateTime) bool(matches(dateTime, v))
    else if (dt == XsdInteger) bool(isJsNumber(v))
    else if (dt == Wkt) bool(validWkt(v))
    else F
  }

  /** The n3 parse gate of the fixer (fixTriple.js:11-15): a malformed
    * IRI term, datatype IRI or non-empty language tag does not lex. */
  def termParseable(t: InternalRow): JBool = {
    val tt = field(t, 0); val v = field(t, 1)
    val dt = field(t, 2); val lang = field(t, 3)
    val badIri = and3(eq3(tt, NamedNode), bool(!iriOk(v)))
    val badDt = and3(eq3(tt, LiteralTT),
      bool(dt != null && dt.numBytes > 0 && !iriOk(dt)))
    val badTag = and3(eq3(tt, LiteralTT),
      bool(lang != null && lang.numBytes > 0 && !matches(langTag, lang)))
    not3(or3(or3(badIri, badDt), badTag))
  }

  /** Whether the per-term cascade of fixTriple.js:60-96 yields a term. */
  def isTermFixable(t: InternalRow): JBool = {
    val v = field(t, 1); val dt = field(t, 2)
    if (BlankNode == field(t, 0)) F
    else if (isValidTerm(t) == T) T
    else if (dt == null) F
    else if (dt == XsdBoolean) { if (v == null) null else bool(lowerBool(v) != null) }
    else if (dt == XsdDate) bool(v != null && JsDateReformat.reformat(v, false) != null)
    else if (dt == XsdDateTime) bool(v != null && JsDateReformat.reformat(v, true) != null)
    else if (dt == RdfsLiteral || dt == LangString || dt == XmlLiteral) T
    else if (dt == XsdInt) bool(isJsNumber(v))
    else if (dt == Wkt) { if (v == null) null else bool(v.numBytes > 0) }
    else F
  }

  /** The per-term cascade (fixTriple.js:60-96): the term itself when it
    * validates, its repaired form, or null when unrepairable. */
  def fixTerm(t: InternalRow): InternalRow = {
    val v = field(t, 1); val dt = field(t, 2)
    if (isValidTerm(t) == T) t
    else if (dt == null) null
    else if (dt == XsdBoolean) {
      val b = if (v == null) null else lowerBool(v)
      if (b == null) null else literal(b, XsdBoolean)
    } else if (dt == XsdDate || dt == XsdDateTime) {
      val withTime = dt == XsdDateTime
      val r = if (v == null) null else JsDateReformat.reformat(v, withTime)
      if (r == null) null else literal(r, if (withTime) XsdDateTime else XsdDate)
    } else if (dt == RdfsLiteral || dt == LangString || dt == XmlLiteral)
      literal(v, XsdString)
    else if (dt == XsdInt) { if (isJsNumber(v)) literal(v, XsdInteger) else null }
    else if (dt == Wkt) {
      if (v == null || v.numBytes == 0) null
      // fixTriple.js:109 — JS String.replace: first `https` only,
      // anywhere in the value, and only when a CRS URL is embedded
      else if (crs(v).isEmpty) literal(v, Wkt)
      else {
        val s = v.toString; val i = s.indexOf("https")
        literal(u(if (i < 0) s else s.substring(0, i) + "http" + s.substring(i + 5)), Wkt)
      }
    } else null
  }

  /** Every term re-parses and is fixable (a blank node is not). */
  def isQuadFixable(s: InternalRow, p: InternalRow, o: InternalRow): JBool =
    and3(and3(and3(termParseable(s), termParseable(p)), termParseable(o)),
      and3(and3(isTermFixable(s), isTermFixable(p)), isTermFixable(o)))

  /** `valid` | `corrected` | `invalid` (lib/pipeline-import.js:220-241). */
  def verdict(s: InternalRow, p: InternalRow, o: InternalRow): UTF8String =
    if (and3(and3(isValidTerm(s), isValidTerm(p)), isValidTerm(o)) == T) Valid
    else if (isQuadFixable(s, p, o) == T) Corrected
    else Invalid

  /** The repaired quad row, or null when a term is a blank node
    * (fixTriple.js:25-27), the line would not re-parse, or a term is
    * unrepairable. */
  def fixQuad(s: InternalRow, p: InternalRow, o: InternalRow,
      graph: UTF8String): InternalRow = {
    val anyBlank = or3(or3(eq3(field(s, 0), BlankNode),
      eq3(field(p, 0), BlankNode)), eq3(field(o, 0), BlankNode))
    val parses = and3(and3(termParseable(s), termParseable(p)), termParseable(o))
    if (anyBlank == T || parses == F) null
    else {
      val fs = fixTerm(s); val fp = fixTerm(p); val fo = fixTerm(o)
      if (fs == null || fp == null || fo == null) null
      else new GenericInternalRow(Array[Any](fs, fp, fo, graph))
    }
  }

  /** N-Triples string-literal escaping (ECHAR; mirrors n3.js Writer). */
  private def escape(v: UTF8String): UTF8String = {
    var plain = true; var i = 0
    while (plain && i < v.numBytes) {
      val b = v.getByte(i)
      plain = b != '\\' && b != '"' && b != '\n' && b != '\r' && b != '\t'
      i += 1
    }
    // regexp_replace re-encodes its input, so only valid UTF-8 passes as is
    if (plain && v.isValid) v
    else {
      val s = v.toString
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c => sb.append(c)
      }
      u(sb.toString)
    }
  }

  private val Lt = u("<"); private val Gt = u(">"); private val Blank = u("_:")
  private val Quote = u("\""); private val At = u("@"); private val Typed = u("^^<")
  private val Space = u(" "); private val Dot = u(" .")

  /** One term in N-Triples syntax; null when its value is null. */
  def serializeTerm(t: InternalRow): UTF8String = {
    val tt = field(t, 0); val v = field(t, 1)
    val dt = field(t, 2); val lang = field(t, 3)
    if (NamedNode == tt) UTF8String.concat(Lt, v, Gt)
    else if (BlankNode == tt) UTF8String.concat(Blank, v)
    else if (v == null) null
    else {
      val quoted = UTF8String.concat(Quote, escape(v), Quote)
      if (lang != null && lang.numBytes > 0) UTF8String.concat(quoted, At, lang)
      else if (dt != null && dt != XsdString) UTF8String.concat(quoted, Typed, dt, Gt)
      else quoted
    }
  }

  /** `s p o .`; null when any term serializes to null. */
  def toNTriple(s: InternalRow, p: InternalRow, o: InternalRow): UTF8String =
    UTF8String.concat(serializeTerm(s), Space, serializeTerm(p), Space,
      serializeTerm(o), Dot)
}

/** A [[TermKernel]] function as one Catalyst expression node. Children are
  * term structs (fields `termType, value, datatype, lang`, all strings),
  * except `fixQuad`'s trailing graph string; null children are passed as
  * null. Both the interpreted path and the generated code make the same
  * static call. */
case class TermKernelExpr(op: TermKernelExpr.Op, children: Seq[Expression])
    extends Expression {
  import TermKernelExpr._

  override def dataType: DataType = op.dataType
  override def nullable: Boolean = op ne Verdict
  override def prettyName: String = op.name
  override def flatArguments: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult = {
    val termFields = Term.schema.fieldNames.toSeq
    val ok = children.length == op.arity && children.zipWithIndex.forall {
      case (c, i) if i < 3 => c.dataType match {
        case st: StructType => st.fieldNames.toSeq == termFields &&
          st.fields.forall(_.dataType == StringType)
        case _ => false
      }
      case (c, _) => c.dataType == StringType
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects ${op.arity} " +
      s"term structs ${termFields.mkString("(", ", ", ")")} of strings" +
      (if (op eq FixQuad) " and a graph string" else ""))
  }

  override def eval(input: InternalRow): Any = op.apply(children.map(_.eval(input)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val result = ctx.freshName("kernel")
    val call = args.map(a => s"${a.isNull} ? null : ${a.value}").mkString(", ")
    ev.copy(code = Block.blocksToBlock(args.map(_.code)) + code"""
      ${CodeGenerator.boxedType(dataType)} $result = graft.rdf.TermKernel.${op.name}($call);
      boolean ${ev.isNull} = $result == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $result;""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TermKernelExpr = copy(children = newChildren)
}

object TermKernelExpr {
  /** A kernel function: its name on [[TermKernel]], result type, arity,
    * and the same call for the interpreted path. */
  sealed abstract class Op(val name: String, val dataType: DataType, val arity: Int,
      val apply: Seq[Any] => Any) extends Serializable
  private def row(a: Any): InternalRow = a.asInstanceOf[InternalRow]

  case object IsValidTerm extends Op("isValidTerm", BooleanType, 1,
    a => TermKernel.isValidTerm(row(a(0))))
  case object IsTermFixable extends Op("isTermFixable", BooleanType, 1,
    a => TermKernel.isTermFixable(row(a(0))))
  case object FixTerm extends Op("fixTerm", Term.schema, 1,
    a => TermKernel.fixTerm(row(a(0))))
  case object SerializeTerm extends Op("serializeTerm", StringType, 1,
    a => TermKernel.serializeTerm(row(a(0))))
  case object IsQuadFixable extends Op("isQuadFixable", BooleanType, 3,
    a => TermKernel.isQuadFixable(row(a(0)), row(a(1)), row(a(2))))
  case object Verdict extends Op("verdict", StringType, 3,
    a => TermKernel.verdict(row(a(0)), row(a(1)), row(a(2))))
  case object ToNTriple extends Op("toNTriple", StringType, 3,
    a => TermKernel.toNTriple(row(a(0)), row(a(1)), row(a(2))))
  case object FixQuad extends Op("fixQuad", Quad.schema, 4,
    a => TermKernel.fixQuad(row(a(0)), row(a(1)), row(a(2)), a(3).asInstanceOf[UTF8String]))

  def call(op: Op, args: Column*): Column = toColumn(TermKernelExpr(op, args.map(toExpr)))

  /** A quad struct's three term fields. */
  def terms(quad: Column): Seq[Column] = Seq("subject", "predicate", "obj").map(quad.getField)
}
