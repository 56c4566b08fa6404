package graft.rdf

import org.apache.spark.sql.Column

/** Triple repair — the reference's `fixTriple`/`fixTerm` cascade
  * (lib/fixTriple.js:60-96) and the verdict that splits the quads.
  *
  * Semantics preserved exactly:
  *   - a term that already validates is passed through (fixTriple.js:61-62);
  *   - `xsd:boolean` → lowercased, must then be `true`/`false`
  *     (fixTriple.js:130-140);
  *   - `xsd:date` / `xsd:dateTime` → JS-`Date` reparse + the unpadded
  *     re-format quirk (fixTriple.js:148-162, 197-214 — see
  *     [[JsDateReformat]]);
  *   - `rdfs:Literal` / `rdf:langString` / `rdf:XMLLiteral` → re-typed
  *     `xsd:string`, value kept (fixTriple.js:76-85, 183-189);
  *   - `xsd:int` → re-typed `xsd:integer` iff JS-`Number`-coercible, the
  *     original lexical form kept (fixTriple.js:87-89, 164-173);
  *   - `geosparql:wktLiteral` → first occurrence of the substring `https`
  *     replaced by `http` — JS `String.replace` replaces only the first
  *     match, anywhere in the value, not only inside the CRS URL
  *     (fixTriple.js:109) — and non-empty values without a CRS URL are kept
  *     as-is;
  *   - anything else, and any triple containing a blank node, is
  *     unrepairable (fixTriple.js:19-27, 94) → null;
  *   - the fixer re-parses the serialized line BEFORE any per-term fix
  *     (fixTriple.js:11-15), so a malformed IRI term, datatype IRI or
  *     non-empty language tag makes the quad unfixable whatever its
  *     datatype. The empty tag passes that gate: it serializes tagless,
  *     re-parses, and is re-typed `xsd:string`.
  *
  * The rules run in [[TermKernel]]; each function here is one
  * codegen'd [[TermKernelExpr]] node. A repaired term comes back as a
  * term struct; `null` struct = unfixable.
  */
object Repair {
  import TermKernelExpr._

  /** The full per-term cascade (fixTriple.js:60-96). Returns the (possibly
    * unchanged) term struct, or null if unrepairable. */
  def fixTerm(term: Column): Column = call(FixTerm, term)

  /** Repaired quad struct `(subject, predicate, obj, graph)`, or null if any
    * term is a blank node (fixTriple.js:25-27), the serialized line would
    * not re-parse, or a term is unrepairable. */
  def fixQuad(quad: Column): Column =
    call(FixQuad, terms(quad) :+ quad.getField("graph"): _*)

  /** Whether [[fixTerm]] yields a term, without building it. */
  def isTermFixable(term: Column): Column = call(IsTermFixable, term)

  /** Quad repairability: every term re-parses and is individually
    * fixable (a blank node is not). */
  def isQuadFixable(quad: Column): Column = call(IsQuadFixable, terms(quad): _*)

  /** Tag-and-split verdict (SURVEY §2.5 D5; reference
    * lib/pipeline-import.js:220-241): `valid` | `corrected` | `invalid`.
    * One pass, no shuffle — downstream sinks filter on this column. */
  def verdict(quad: Column): Column = call(Verdict, terms(quad): _*)
}
