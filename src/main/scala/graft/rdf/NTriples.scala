package graft.rdf

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** N-Triples line ⇄ structured quad.
  *
  * The reference round-trips every extracted triple through strings — the
  * RDFa graph is serialized to N-Triples (lib/rdfa-extractor.js:103-114)
  * and then *each line is re-parsed with a fresh n3 Parser* for validation
  * and repair (lib/validateTriple.js:11-12, lib/fixTriple.js:11-12). We
  * keep quads structured end-to-end (SURVEY §7.1) and only serialize at
  * the sink / parse at ingest, so these two codecs are edge operators, not
  * the inner loop.
  *
  * Serialization is one codegen'd [[TermKernelExpr]] node per call (the
  * rendering and ECHAR escaping live in [[TermKernel.serializeTerm]]);
  * parsing is a hand-rolled single-pass scanner in a Catalyst expression
  * (no regex backtracking, one JVM call per line).
  */
object NTriples {

  /** One RDF term rendered in N-Triples syntax: `<iri>`, `_:label`, or a
    * quoted literal with its value ECHAR-escaped (backslash, quote, LF,
    * CR, TAB; mirrors n3.js Writer) and `@lang` when the tag is
    * non-empty, else `^^<datatype>` unless the datatype is xsd:string.
    * Null when the term's value is null. */
  def serializeTerm(term: Column): Column =
    TermKernelExpr.call(TermKernelExpr.SerializeTerm, term)

  /** Full N-Triples line `s p o .` from three term structs. Null-propagating:
    * a null/unparseable quad serializes to null, never to a bare `"."`. */
  def toNTriple(subject: Column, predicate: Column, obj: Column): Column =
    TermKernelExpr.call(TermKernelExpr.ToNTriple, subject, predicate, obj)

  def toNTriple(quad: Column): Column =
    TermKernelExpr.call(TermKernelExpr.ToNTriple, TermKernelExpr.terms(quad): _*)

  def parseNTriple(line: Column): Column = toColumn(ParseNTriple(toExpr(line)))

  // ---------------------------------------------------------------- parser

  /** Parse one N-Triples/N-Quads line into a quad struct (null if
    * malformed — the reference treats parse failures as invalid triples,
    * validateTriple.js:13-15). */
  def parseLine(line: String): Option[Quad] = {
    val p = new LineParser(line)
    p.parse()
  }

  private final class LineParser(s: String) {
    private var i = 0
    private def ws(): Unit = { while (i < s.length && (s(i) == ' ' || s(i) == '\t')) i += 1 }
    private def eof: Boolean = i >= s.length

    def parse(): Option[Quad] =
      try {
        ws()
        if (eof || s(i) == '#') return None
        val subj = term(allowLiteral = false).getOrElse(return None)
        ws()
        val pred = term(allowLiteral = false).getOrElse(return None)
        if (pred.termType != Term.NamedNode) return None
        ws()
        val obj = term(allowLiteral = true).getOrElse(return None)
        ws()
        val graph =
          if (!eof && s(i) == '<') term(allowLiteral = false).map(_.value).orNull
          else null
        ws()
        if (eof || s(i) != '.') return None
        i += 1; ws()
        if (!eof && s(i) != '#') return None
        Some(Quad(subj, pred, obj, graph))
      } catch {
        // malformed escapes (\uZZZZ → NumberFormatException, \UFFFFFFFF →
        // IllegalArgumentException) and truncation must classify the line
        // as invalid, never crash the task (validateTriple.js:13-15).
        case scala.util.control.NonFatal(_) => None
      }

    private def term(allowLiteral: Boolean): Option[Term] = {
      if (eof) return None
      s(i) match {
        case '<' =>
          val end = s.indexOf('>', i + 1)
          if (end < 0) None
          else { val v = s.substring(i + 1, end); i = end + 1; Some(Term.iri(v)) }
        case '_' =>
          if (i + 1 >= s.length || s(i + 1) != ':') return None
          var j = i + 2
          while (j < s.length && !Character.isWhitespace(s(j))) j += 1
          // a label may contain '.' internally but not trailing — a final
          // '.' is the statement terminator ("_:b1." is a valid line)
          var end = j
          while (end > i + 2 && s(end - 1) == '.') end -= 1
          val label = s.substring(i + 2, end); i = end
          if (label.isEmpty) None else Some(Term.blank(label))
        case '"' if allowLiteral => literalTerm()
        case _ => None
      }
    }

    private def literalTerm(): Option[Term] = {
      val sb = new StringBuilder
      i += 1
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          if (eof) return None
          s(i) match {
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 't' => sb += '\t'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case '"' => sb += '"'
            case '\'' => sb += '\''
            case '\\' => sb += '\\'
            case 'u' =>
              if (i + 4 >= s.length) return None
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case 'U' =>
              if (i + 8 >= s.length) return None
              sb.appendAll(Character.toChars(
                Integer.parseInt(s.substring(i + 1, i + 9), 16)))
              i += 8
            case _ => return None
          }
        } else sb += s(i)
        i += 1
      }
      if (eof) return None
      i += 1 // closing quote
      if (i < s.length && s(i) == '@') {
        // LANGTAG is [a-zA-Z]+('-'[a-zA-Z0-9]+)* — scanning that charset
        // also leaves a directly-attached '.' terminator unconsumed
        var j = i + 1
        while (j < s.length && (Character.isLetterOrDigit(s(j)) || s(j) == '-')) j += 1
        val lang = s.substring(i + 1, j); i = j
        // a bare '@' with no tag is a parse error in n3 (the reference's
        // parser rejects the line as invalid, not repairable) — match it
        if (lang.isEmpty) None
        else Some(Term.langLit(sb.toString, lang))
      } else if (i + 1 < s.length && s(i) == '^' && s(i + 1) == '^') {
        i += 2
        if (eof || s(i) != '<') return None
        val end = s.indexOf('>', i + 1)
        if (end < 0) return None
        val dt = s.substring(i + 1, end); i = end + 1
        Some(Term.typed(sb.toString, dt))
      } else Some(Term.lit(sb.toString))
    }
  }
}

/** `parse_ntriple(line)` → quad struct (null on malformed input). */
case class ParseNTriple(child: Expression)
    extends UnaryExpression with CodegenFallback
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType)

  override def dataType: DataType = Quad.schema
  override def nullable: Boolean = true
  override def prettyName: String = "parse_ntriple"

  private def termRow(t: Term): InternalRow = InternalRow(
    UTF8String.fromString(t.termType), UTF8String.fromString(t.value),
    if (t.datatype == null) null else UTF8String.fromString(t.datatype),
    if (t.lang == null) null else UTF8String.fromString(t.lang))

  override def nullSafeEval(input: Any): Any =
    NTriples.parseLine(input.asInstanceOf[UTF8String].toString) match {
      case Some(q) => InternalRow(termRow(q.subject), termRow(q.predicate),
        termRow(q.obj),
        if (q.graph == null) null else UTF8String.fromString(q.graph))
      case None => null
    }

  override protected def withNewChildInternal(newChild: Expression): ParseNTriple =
    copy(child = newChild)
}
