package graft.ops

import graft.rdf.{Repair, Term, Validation, Vocab}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's triple-pattern queries, run against a *real* quad table
  * (subject/predicate/object as columns) built from the driver tables —
  * the property-graph-over-triples layer of SURVEY §1.4.
  *
  * The quad table is the 100 TB-scale core of the engine: every task /
  * container / file entity lives in it. These operators prove the two
  * SPARQL join shapes the reference relies on — the star (J2: N properties
  * of one subject, rebuilt via groupBy-subject + conditional aggregation,
  * i.e. a pivot without a shuffle per property) and the chain (J1: 2-hop
  * s→o→o' traversal as self-joins on the quad table).
  */
object QuadOps {

  /** nation+region as a quad table:
    *   urn:nation:N  urn:p:name    <name literal>
    *   urn:nation:N  urn:p:region  urn:region:R
    *   urn:region:R  urn:p:name    <name literal>
    * Deterministic, string-only — usable as an oracle-checkable stand-in
    * for the task/metadata graph (lib/task.js:83-156). */
  def geoQuads(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    val nationName = n.select(
      concat(lit("urn:nation:"), col("n_nationkey")).as("subject"),
      lit("urn:p:name").as("predicate"),
      col("n_name").as("obj"))
    val nationRegion = n.select(
      concat(lit("urn:nation:"), col("n_nationkey")).as("subject"),
      lit("urn:p:region").as("predicate"),
      concat(lit("urn:region:"), col("n_regionkey")).as("obj"))
    val regionName = r.select(
      concat(lit("urn:region:"), col("r_regionkey")).as("subject"),
      lit("urn:p:name").as("predicate"),
      col("r_name").as("obj"))
    nationName.unionAll(nationRegion).unionAll(regionName)
  }

  /** J2 star join (lib/task.js:83-99): reassemble an entity row from its
    * property triples — groupBy(subject) + `max(when(predicate == p))` per
    * property. One shuffle total, however many properties; the SPARQL
    * equivalent is an N-way self-join. OPTIONAL properties fall out as
    * nulls for free (here: regions have no urn:p:region). */
  def starPivot(s: SparkSession, d: String): DataFrame =
    geoQuads(s, d)
      .groupBy(col("subject"))
      .agg(
        max(when(col("predicate") === "urn:p:name", col("obj"))).as("name"),
        max(when(col("predicate") === "urn:p:region", col("obj"))).as("region"))
      .orderBy(col("subject"))

  /** J1 2-hop chain join (lib/pipeline-import.js:131-139): follow
    * nation --urn:p:region--> region --urn:p:name--> literal, i.e.
    * `?n :region ?r . ?r :name ?rn . ?n :name ?nn` as quad self-joins.
    * The link edges are a fraction of the quad table — Catalyst prunes
    * each scan to one predicate before the joins (predicate pushdown). */
  def chainTraversal(s: SparkSession, d: String): DataFrame = {
    val q = geoQuads(s, d)
    val nationNames = q.filter(col("predicate") === "urn:p:name" &&
      col("subject").startsWith("urn:nation:"))
      .select(col("subject").as("nation"), col("obj").as("nation_name"))
    val links = q.filter(col("predicate") === "urn:p:region")
      .select(col("subject").as("nation"), col("obj").as("region"))
    val regionNames = q.filter(col("predicate") === "urn:p:name" &&
      col("subject").startsWith("urn:region:"))
      .select(col("subject").as("region"), col("obj").as("region_name"))
    nationNames.join(links, "nation").join(regionNames, "region")
      .select(col("nation_name"), col("region_name"))
      .orderBy(col("nation_name"))
  }

  /** S9 `nie:url` lookup (lib/file-helpers.js:40-63) under the oracle:
    * remote-file quads synthesized from nation, duplicated across two
    * named graphs so the reference's `SELECT DISTINCT ?url { GRAPH ?g
    * {...} }` shape — where the same statement in several graphs must
    * collapse — is actually exercised, then the production
    * [[graft.pipeline.TaskStore.fileUrl]] point lookup. */
  def fileUrlLookup(s: SparkSession, d: String,
      remoteUri: String = "urn:remote:1"): DataFrame = {
    val n = Tables.nation(s, d)
    def g(graph: String) = n.select(
      concat(lit("urn:remote:"), col("n_nationkey")).as("subject"),
      lit(Vocab.nieUrl).as("predicate"),
      concat(lit("http://example.org/files/"), col("n_name")).as("obj"),
      lit(graph).as("graph"))
    val quads = g("urn:graph:a").unionAll(g("urn:graph:b"))
    graft.pipeline.TaskStore.fileUrl(quads, remoteUri).orderBy(col("url"))
  }

  /** G4/G5 codec round-trip under the oracle: build term-struct quads from
    * nation, serialize with `to_ntriple`, re-parse with `parse_ntriple`,
    * serialize again — the emitted line must equal what plain SQL string
    * concatenation produces. Covers IRI objects, plain literals, and typed
    * literals (xsd:integer). */
  def ntriplesRoundtrip(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    def iri(v: org.apache.spark.sql.Column) = struct(
      lit(Term.NamedNode).as("termType"), v.as("value"),
      lit(null).cast("string").as("datatype"), lit(null).cast("string").as("lang"))
    def typed(v: org.apache.spark.sql.Column, dt: String) = struct(
      lit(Term.Literal).as("termType"), v.as("value"),
      lit(dt).as("datatype"), lit(null).cast("string").as("lang"))
    val subj = iri(concat(lit("urn:nation:"), col("n_nationkey")))
    val nameQuad = n.select(subj.as("s"), iri(lit("urn:p:name")).as("p"),
      typed(col("n_name"), Vocab.xsdString).as("o"))
    val keyQuad = n.select(subj.as("s"), iri(lit("urn:p:regionkey")).as("p"),
      typed(col("n_regionkey").cast("string"), Vocab.xsdInteger).as("o"))
    nameQuad.unionAll(keyQuad)
      .withColumn("line",
        graft.rdf.NTriples.toNTriple(col("s"), col("p"), col("o")))
      .withColumn("reparsed", graft.rdf.NTriples.parseNTriple(col("line")))
      .select(col("s.value").as("subject"),
        graft.rdf.NTriples.toNTriple(col("reparsed.subject"),
          col("reparsed.predicate"), col("reparsed.obj")).as("line"))
      .orderBy(col("line"))
  }

  // ----------------------------------------------------- task lifecycle

  private val LcT0 = "2026-01-01T00:00:00Z"
  private val LcT2 = "2026-02-01T00:00:00Z"
  private val LcTask = "urn:task:1"
  private val LcGraph = "urn:graph:tasks"

  /** Synthetic task graph for the orchestrator's relational core: one
    * scheduled extraction task per nation, each with one input container
    * holding two pages — the schema of lib/task.js:83-155. One nation
    * scan + explode (NOT an 11-way unionAll — the union tree multiplied
    * analysis/codegen cost ~4× on the downstream lifecycle plan). */
  def lifecycleTaskQuads(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val subj = concat(lit("urn:task:"), col("n_nationkey"))
    val cont = concat(lit("urn:container:"), col("n_nationkey"))
    def q(sub: org.apache.spark.sql.Column, p: String,
        o: org.apache.spark.sql.Column) = struct(
      sub.as("subject"), lit(p).as("predicate"), o.cast("string").as("obj"))
    n.select(explode(array(
      q(subj, Vocab.rdfType, lit(Vocab.taskType)),
      q(subj, Vocab.muUuid, concat(lit("uuid-"), col("n_nationkey"))),
      q(subj, Vocab.admsStatus, lit(Vocab.statusScheduled)),
      q(subj, Vocab.taskOperation, lit(Vocab.opExtracting)),
      q(subj, Vocab.dctIsPartOf, concat(lit("urn:job:"), col("n_nationkey"))),
      q(subj, Vocab.taskIndex, col("n_nationkey")),
      q(subj, Vocab.dctCreated, lit(LcT0)),
      q(subj, Vocab.dctModified, lit(LcT0)),
      q(subj, Vocab.taskInputContainer, cont),
      q(cont, Vocab.taskHasFile,
        concat(lit("share://page-"), col("n_nationkey"), lit("-a.html"))),
      q(cont, Vocab.taskHasFile,
        concat(lit("share://page-"), col("n_nationkey"), lit("-b.html"))))).as("q"))
      .select(col("q.subject"), col("q.predicate"), col("q.obj"),
        lit(LcGraph).as("graph"))
  }

  /** The orchestrator's pure-relational lifecycle on one task
    * (lib/pipeline-import.js:28-117 minus extraction): scheduled →
    * register per-page valid files + containers → success, as one status
    * transition that inserts the registration. The step is the production
    * operator ([[graft.pipeline.ImportPipeline.registerSuccess]], the
    * orchestrator's own registration tail) over the pages of
    * [[graft.pipeline.TaskStore.inputPages]], collected as the
    * orchestrator collects them; manifest sizes are a deterministic
    * stand-in (page-URI byte length) since no HTML is read here. */
  def lifecycleFinalState(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.{FileRegistry, ImportPipeline, TaskStore}
    val q0 = lifecycleTaskQuads(s, d)
    val files = TaskStore.inputPages(q0, LcTask).collect().map(_.getString(0)).toSeq
      .map(p => (FileRegistry.ResultFile(LcTask, LcGraph,
        s"${ImportPipeline.basename(p)}-valid.ttl",
        p.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong, p), true))
    ImportPipeline.registerSuccess(q0, files, LcTask, LcGraph, LcT2)
  }

  /** Lifecycle oracle query 1 — the entity rows: after the task's
    * transition, its status/modified must be exactly
    * (success, T2) and every other base quad untouched. Projects the
    * deterministic (non-sha1-minted) subjects so DuckDB can reconstruct
    * the expected state relationally. */
  def taskLifecycleState(s: SparkSession, d: String): DataFrame =
    lifecycleFinalState(s, d)
      .filter(col("subject").startsWith("urn:") &&
        col("predicate") =!= Vocab.taskResultsContainer)
      .select(col("subject"), col("predicate"), col("obj"))
      .orderBy(col("subject"), col("predicate"), col("obj"))

  /** Lifecycle oracle query 2 — the registration volume: per-predicate
    * counts of everything the pipeline minted (file entities, containers,
    * results links). Counts are arithmetic in the page count, so the
    * oracle derives them without sha1. */
  def taskLifecycleRegistry(s: SparkSession, d: String): DataFrame =
    lifecycleFinalState(s, d)
      .filter(!col("subject").startsWith("urn:") ||
        col("predicate") === Vocab.taskResultsContainer)
      .groupBy(col("predicate")).agg(count(lit(1)).as("n"))
      .orderBy(col("predicate"))

  // ------------------------------------------------------------ validation

  /** Deterministic validator corpus: one RDF object term synthesized per
    * document row, cycling through the §1.2 datatype branches. Drives the
    * real Validation/Repair columns (P4/D5/A3) under the DuckDB oracle —
    * the oracle encodes the expected verdict per branch. */
  def validationCorpus(s: SparkSession, d: String): DataFrame = {
    val idx = col("doc_id") % 7
    val sub3 = col("doc_id") % 3
    val sub2 = col("doc_id") % 2
    val termType = when(idx === 0, Term.NamedNode).otherwise(Term.Literal)
    val datatype = when(idx === 0, lit(null).cast("string"))
      .when(idx === 1, Vocab.xsdString)
      .when(idx === 2, Vocab.xsdBoolean)
      .when(idx === 3, Vocab.xsdDate)
      .when(idx === 4, Vocab.xsdInteger)
      .when(idx === 5, Vocab.rdfXMLLiteral)
      .otherwise(Vocab.wktLiteral)
    val value = when(idx === 0, concat(lit("urn:doc:"), col("doc_id")))
      .when(idx === 1, substring(col("text"), 1, 20))
      .when(idx === 2,
        when(sub3 === 0, "true").when(sub3 === 1, "TRUE").otherwise("yes"))
      .when(idx === 3, when(sub2 === 0, "2023-05-04").otherwise("2023/05/04"))
      .when(idx === 4,
        when(sub3 === 0, col("n_chars").cast("string"))
          .when(sub3 === 1, "4.5e2").otherwise("abc"))
      .when(idx === 5, "<x/>")
      .otherwise(when(sub2 === 0,
        "<http://www.opengis.net/def/crs/EPSG/0/31370> POINT(1 2)")
        .otherwise("<https://www.opengis.net/def/crs/EPSG/0/31370> POINT(1 2)"))
    Tables.documents(s, d).select(
      col("doc_id"), termType.as("termType"), datatype.as("datatype"),
      value.as("value"))
  }

  /** P4 per-triple validity + D5 verdict tagging over the corpus, using
    * the production validator/repair cascade (lib/validateTriple.js,
    * lib/fixTriple.js). */
  def validateCorpus(s: SparkSession, d: String): DataFrame = {
    val term = struct(col("termType"), col("value"), col("datatype"),
      lit(null).cast("string").as("lang"))
    validationCorpus(s, d)
      .withColumn("verdict",
        when(Validation.isValidTerm(term), "valid")
          .when(Repair.isTermFixable(term), "corrected")
          .otherwise("invalid"))
      .select(col("doc_id"), coalesce(col("datatype"), lit("none")).as("datatype"),
        col("value"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** A3 partition counts (lib/pipeline-import.js:220-241): sizes of the
    * disjoint valid / invalid / corrected verdict classes. */
  def verdictCounts(s: SparkSession, d: String): DataFrame =
    validateCorpus(s, d)
      .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
      .orderBy(col("verdict"))

  /** A3/K9 reference-faithful *file* sizes: `correctAndRepairTriples`
    * returns OVERLAPPING arrays (lib/pipeline-import.js:220-241) — a
    * repairable triple is pushed to invalidTriples at :229 AND (fixed) to
    * validTriples at :236 AND (original) to correctedTriples at :237. So
    *   |valid file|     = #valid + #corrected
    *   |invalid file|   = #invalid + #corrected
    *   |corrected file| = #corrected
    * — the exact row counts of the three TTL files the reference writes. */
  def partitionFileSizes(s: SparkSession, d: String): DataFrame =
    validateCorpus(s, d).agg(
      sum(when(col("verdict").isin("valid", "corrected"), 1L).otherwise(0L))
        .as("n_valid_file"),
      sum(when(col("verdict").isin("invalid", "corrected"), 1L).otherwise(0L))
        .as("n_invalid_file"),
      sum(when(col("verdict") === "corrected", 1L).otherwise(0L))
        .as("n_corrected_file"))
}
