package graft.rdf

import org.apache.spark.sql.types._

/** RDF term, the atom of the engine's data model.
  *
  * Mirrors the RDF/JS term model the reference manipulates via n3.js
  * (reference: lib/rdfa-extractor.js:7, lib/validateTriple.js:33-69):
  *
  *   - `termType` ∈ {"NamedNode", "BlankNode", "Literal"}
  *   - `value`    — IRI string, blank-node label, or literal lexical form
  *   - `datatype` — literal datatype IRI; `null` for NamedNode/BlankNode.
  *                  Plain literals carry xsd:string (n3.js auto-assigns it),
  *                  language-tagged literals carry rdf:langString.
  *   - `lang`     — BCP-47 tag for rdf:langString literals, else `null`.
  *
  * Kept as a flat struct (4 string columns) so every downstream rule —
  * validation, repair, serialization ([[TermKernel]]) — reads strings
  * straight from Catalyst's rows (whole-stage-codegen friendly, no opaque
  * JVM objects in the hot path, prunable/pushable at the Parquet scan).
  */
final case class Term(
    termType: String,
    value: String,
    datatype: String,
    lang: String)

object Term {
  val NamedNode = "NamedNode"
  val BlankNode = "BlankNode"
  val Literal   = "Literal"

  def iri(v: String): Term             = Term(NamedNode, v, null, null)
  def blank(label: String): Term       = Term(BlankNode, label, null, null)
  def lit(v: String): Term             = Term(Literal, v, Vocab.xsdString, null)
  def typed(v: String, dt: String): Term = Term(Literal, v, dt, null)
  def langLit(v: String, lang: String): Term =
    Term(Literal, v, Vocab.rdfLangString, lang)

  /** Spark schema of a term struct. */
  val schema: StructType = StructType(Seq(
    StructField("termType", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("datatype", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))
}

/** RDF quad `(subject, predicate, object, graph)` — the engine's core row
  * type, equivalent to the reference's n3 `Store` entries
  * (lib/rdfa-extractor.js:60) and to the `GRAPH ?g { s p o }` patterns of
  * every SPARQL query it issues (lib/task.js:31, lib/pipeline-import.js:134).
  *
  * `obj` (not `object` — Scala keyword) is the RDF object term. The graph
  * is a bare IRI string: at 100 TB the quad table is partitioned by graph
  * (per-task named graphs map to partition values), so keeping it a plain
  * top-level string column makes partition pruning trivial.
  */
final case class Quad(
    subject: Term,
    predicate: Term,
    obj: Term,
    graph: String)

object Quad {
  def apply(s: Term, p: Term, o: Term): Quad = Quad(s, p, o, null)

  val schema: StructType = StructType(Seq(
    StructField("subject", Term.schema, nullable = false),
    StructField("predicate", Term.schema, nullable = false),
    StructField("obj", Term.schema, nullable = false),
    StructField("graph", StringType, nullable = true)))
}

/** The datatype / predicate vocabulary the reference understands.
  * Single source of truth for the IRIs cited throughout
  * lib/validateTriple.js, lib/fixTriple.js, constants.js. */
object Vocab {
  val xsdString     = "http://www.w3.org/2001/XMLSchema#string"
  val xsdBoolean    = "http://www.w3.org/2001/XMLSchema#boolean"
  val xsdDate       = "http://www.w3.org/2001/XMLSchema#date"
  val xsdDateTime   = "http://www.w3.org/2001/XMLSchema#dateTime"
  val xsdInteger    = "http://www.w3.org/2001/XMLSchema#integer"
  val xsdInt        = "http://www.w3.org/2001/XMLSchema#int"
  val rdfsLiteral   = "http://www.w3.org/2000/01/rdf-schema#Literal"
  val rdfLangString = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
  val rdfHTML       = "http://www.w3.org/1999/02/22-rdf-syntax-ns#HTML"
  val rdfXMLLiteral = "http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral"
  val wktLiteral    = "http://www.opengis.net/ont/geosparql#wktLiteral"

  val rdfType        = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val rdfFirst       = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
  val rdfRest        = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
  val rdfNil         = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
  val provValue      = "http://www.w3.org/ns/prov#value"
  val provWasDerivedFrom = "http://www.w3.org/ns/prov#wasDerivedFrom"
  /** reference: lib/rdfa-extractor.js:13-14 */
  val extractedDecisionContent =
    "http://lblod.data.gift/vocabularies/besluit/extractedDecisionContent"

  // Task vocabulary (reference: constants.js:1-31, lib/task.js)
  val taskType          = "http://redpencil.data.gift/vocabularies/tasks/Task"
  val taskIndex         = "http://redpencil.data.gift/vocabularies/tasks/index"
  val taskOperation     = "http://redpencil.data.gift/vocabularies/tasks/operation"
  val taskError         = "http://redpencil.data.gift/vocabularies/tasks/error"
  val taskInputContainer  = "http://redpencil.data.gift/vocabularies/tasks/inputContainer"
  val taskResultsContainer = "http://redpencil.data.gift/vocabularies/tasks/resultsContainer"
  val taskHasFile       = "http://redpencil.data.gift/vocabularies/tasks/hasFile"
  val taskHasGraph      = "http://redpencil.data.gift/vocabularies/tasks/hasGraph"
  val admsStatus        = "http://www.w3.org/ns/adms#status"
  val dctIsPartOf       = "http://purl.org/dc/terms/isPartOf"
  val dctCreated        = "http://purl.org/dc/terms/created"
  val dctModified       = "http://purl.org/dc/terms/modified"
  val dctFormat         = "http://purl.org/dc/terms/format"
  val dctCreator        = "http://purl.org/dc/terms/creator"
  val muUuid            = "http://mu.semte.ch/vocabularies/core/uuid"
  val oslcError         = "http://open-services.net/ns/core#Error"
  val oslcMessage       = "http://open-services.net/ns/core#message"
  val nfoDataContainer  = "http://www.semanticdesktop.org/ontologies/2007/03/22/nfo#DataContainer"
  val nfoFileDataObject = "http://www.semanticdesktop.org/ontologies/2007/03/22/nfo#FileDataObject"
  val nfoFileName       = "http://www.semanticdesktop.org/ontologies/2007/03/22/nfo#fileName"
  val nfoFileSize       = "http://www.semanticdesktop.org/ontologies/2007/03/22/nfo#fileSize"
  val nieDataSource     = "http://www.semanticdesktop.org/ontologies/2007/01/19/nie#dataSource"
  val nieUrl            = "http://www.semanticdesktop.org/ontologies/2007/01/19/nie#url"
  val dbpediaFileExtension = "http://dbpedia.org/ontology/fileExtension"

  // Status domain (reference: constants.js:6-13)
  val statusScheduled = "http://redpencil.data.gift/id/concept/JobStatus/scheduled"
  val statusBusy      = "http://redpencil.data.gift/id/concept/JobStatus/busy"
  val statusSuccess   = "http://redpencil.data.gift/id/concept/JobStatus/success"
  val statusFailed    = "http://redpencil.data.gift/id/concept/JobStatus/failed"

  // Operation domain (reference: constants.js:1-4)
  val opExtracting = "http://lblod.data.gift/id/jobs/concept/TaskOperation/extracting"
  val opImporting  = "http://lblod.data.gift/id/jobs/concept/TaskOperation/importing"
}
