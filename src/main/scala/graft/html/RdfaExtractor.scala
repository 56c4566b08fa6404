package graft.html

import graft.rdf.{Quad, Term, Vocab}
import scala.collection.mutable

/** RDFa 1.1 attribute walk over the [[HtmlParser]] tree — the engine's
  * equivalent of the reference's jsdom + @lblod/graph-rdfa-processor
  * extraction (lib/rdfa-extractor.js:58-101, G1 in SURVEY §2.8).
  *
  * Covers the attribute subset harvested besluit pages exercise
  * (FIXTURES.md §3): `vocab`, `prefix`, `about`, `resource`, `href`,
  * `src`, `typeof`, `property`, `content`, `datatype`, `datetime`,
  * `rel`/`rev` (including incomplete-triple completion by descendant
  * subjects), `lang`/`xml:lang`, `inlist` collections (rdf:List chains),
  * with CURIE / safe-CURIE / term resolution and a seeded set of common
  * prefixes (RDFa initial context).
  *
  * `inlist` list mappings are SCOPED per RDFa Core §7.5: an element that
  * establishes a new subject owns a fresh list mapping; values collected
  * under it chain into one rdf:List per predicate, emitted when that
  * element's subtree completes. Re-establishing the same subject later
  * in the page therefore yields a SEPARATE list — matching the
  * reference's processor — rather than merging across subtrees. Hanging
  * `rel inlist` (no object on the rel element) is completed by
  * descendant subjects in LIST direction per Core §7.5 step 10: each
  * completing subject appends to the rel element's list.
  *
  * lblod behaviors reproduced:
  *   - `specialHtmlPredicates`: a `property="prov:value"` whose object is
  *     an `rdf:HTML` literal is rewired to
  *     `lblod…/besluit/extractedDecisionContent`
  *     (lib/rdfa-extractor.js:13-14, 78-83);
  *   - U+FFFD stripped from the source before parsing
  *     (lib/rdfa-extractor.js:72);
  *   - provenance (`prov:wasDerivedFrom`, once per subject) is appended by
  *     [[graft.pipeline.ExtractPipeline]] as a DataFrame union (G3/D3) —
  *     not inside the walker, so it stays a declarative plan step.
  */
object RdfaExtractor {

  // Hoisted hot-path patterns: String.split/matches compile a fresh
  // java.util.regex.Pattern per call, and the walk hits these once or
  // more per attributed element (~1k compiles/page on the ParseBench
  // profile before hoisting).
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")
  private def wsSplit(s: String): Array[String] = wsPattern.split(s.trim)
  private val schemePattern =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:.*")
  private val dtDateTime =
    java.util.regex.Pattern.compile("^-?\\d{4,}-\\d\\d-\\d\\dT.*")
  private val dtDate = java.util.regex.Pattern.compile("^-?\\d{4,}-\\d\\d-\\d\\d$")
  private val dtTime =
    java.util.regex.Pattern.compile("^\\d\\d:\\d\\d(:\\d\\d(\\.\\d+)?)?$")
  private val dtYearMonth = java.util.regex.Pattern.compile("^-?\\d{4,}-\\d\\d$")
  private val dtYear = java.util.regex.Pattern.compile("^-?\\d{4,}$")

  /** RDFa initial-context prefixes (W3C) + those observed in harvested
    * pages; page-level `prefix` attributes extend/override these. */
  val defaultPrefixes: Map[String, String] = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "dc" -> "http://purl.org/dc/terms/",
    "dct" -> "http://purl.org/dc/terms/",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "prov" -> "http://www.w3.org/ns/prov#",
    "skos" -> "http://www.w3.org/2004/02/skos/core#",
    "schema" -> "http://schema.org/",
    "eli" -> "http://data.europa.eu/eli/ontology#",
    "besluit" -> "http://data.vlaanderen.be/ns/besluit#",
    "mandaat" -> "http://data.vlaanderen.be/ns/mandaat#",
    "persoon" -> "http://data.vlaanderen.be/ns/persoon#",
    "ext" -> "http://mu.semte.ch/vocabularies/ext/",
    // the RDFa 1.1 initial context's default prefix: a CURIE with an
    // empty prefix (":next") resolves in the XHTML vocabulary
    "" -> "http://www.w3.org/1999/xhtml/vocab#")

  /** RDFa 1.1 initial-context TERM mappings (W3C rdfa-1.1 context doc):
    * bare terms in predicate position resolve here when no `@vocab` is
    * in scope; anything else bare is dropped per Core §7.4.3. Matching
    * is case-insensitive per Core §10.1. */
  val defaultTerms: Map[String, String] = Map(
    "describedby" -> "http://www.w3.org/2007/05/powder-s#describedby",
    "license" -> "http://www.w3.org/1999/xhtml/vocab#license",
    "role" -> "http://www.w3.org/1999/xhtml/vocab#role")

  /** An incomplete triple (RDFa Core §7.5 step 10): a `rel`/`rev` without
    * an object on its own element; completed by every descendant that
    * establishes a new subject. With `inlist` on the rel element the
    * direction is "list" (§7.5 step 10's third case): completion appends
    * the descendant subject to the rel element's list mapping —
    * `listSink` carries that mapping by reference — instead of emitting
    * a direct triple. */
  private final case class Pending(subject: String, predicate: String,
      isRev: Boolean, listSink: Option[ListMap] = None)

  private final case class Ctx(
      base: String,
      subject: String,
      prefixes: Map[String, String],
      vocab: Option[String],
      lang: Option[String],
      pending: Seq[Pending] = Nil,
      /** Blank node pre-allocated by a hanging rel/rev element; descendants
        * that need an implicit subject (property-only) complete the
        * hanging triples with it and attach to it — one shared node per
        * rel element, as real RDFa processors produce. */
      pendingBridge: Option[String] = None)

  /** Extract all RDFa triples from an HTML document. `baseUri` doubles as
    * the initial subject (the reference passes the page url as baseURI,
    * lib/rdfa-extractor.js:77). */
  def extract(html: String, baseUri: String): Seq[Quad] = {
    // U+FFFD strip, lib/rdfa-extractor.js:72
    val cleaned = html.replace("\uFFFD", "")
    val root = HtmlParser.parse(cleaned)
    val out = mutable.ArrayBuffer[Quad]()
    // Blank labels must be DETERMINISTIC per page: Spark re-executes the
    // extraction on a task retry or a speculative attempt, and labels
    // from a global counter would differ between attempts, so output
    // written by different attempts would name different nodes. Per-page
    // counter + a base-URI discriminator keeps labels stable and
    // cross-page unique.
    val counter = new Counter(sha1Hex(baseUri))
    // HTML+RDFa §3.1: a <base href> element sets the in-scope base for
    // IRI resolution (including about="" → the base itself). First base
    // element wins, resolved against the caller's URI in case it is
    // itself relative; the blank-node seed stays keyed on the caller's
    // URI so labels remain page-stable regardless of in-document base.
    def findBase(n: HtmlParser.Node): Option[String] = n match {
      case e: HtmlParser.Element if e.tag == "base" =>
        e.attr("href").map(h => resolveAgainstBase(h.trim, baseUri))
      case e: HtmlParser.Element =>
        e.children.iterator.map(findBase).collectFirst { case Some(b) => b }
      case _ => None
    }
    val docBase = findBase(root).getOrElse(baseUri)
    // root list mapping (inlist collections at the page's base subject)
    val lists: ListMap = mutable.LinkedHashMap()
    walk(root, Ctx(docBase, docBase, defaultPrefixes, None, None), out, counter, lists)
    emitLists(lists, out, counter)
    // set semantics, like the reference's n3 Store: sibling property-only
    // elements under one hanging rel each complete it with the same
    // bridge node — identical quads collapse here.
    out.distinct.toSeq
  }

  /** `inlist` collections of ONE list-mapping scope:
    * (subject, predicate) → values in document order. */
  private type ListMap =
    mutable.LinkedHashMap[(String, String), mutable.ArrayBuffer[Term]]

  /** Emit each collected list as an rdf:first/rdf:rest chain (empty →
    * predicate points at rdf:nil, RDFa Core §7.5 step 14). Called when
    * the mapping's owning element completes. */
  private def emitLists(lists: ListMap, out: mutable.ArrayBuffer[Quad],
      counter: Counter): Unit =
    lists.foreach { case ((subj, pred), values) =>
      if (values.isEmpty)
        out += Quad(toTerm(subj), Term.iri(pred), Term.iri(Vocab.rdfNil))
      else {
        val nodes = values.map(_ => s"_:${counter.fresh()}")
        out += Quad(toTerm(subj), Term.iri(pred), toTerm(nodes.head))
        values.indices.foreach { i =>
          out += Quad(toTerm(nodes(i)), Term.iri(Vocab.rdfFirst), values(i))
          val rest = if (i + 1 < nodes.length) toTerm(nodes(i + 1))
            else Term.iri(Vocab.rdfNil)
          out += Quad(toTerm(nodes(i)), Term.iri(Vocab.rdfRest), rest)
        }
      }
    }

  private final class Counter(pageTag: String) {
    private var n = 0L
    def fresh(): String = { n += 1; s"rdfagen_${pageTag}_$n" }
  }

  /** Full sha1 of the base URI — a 32-bit hashCode would conflate blank
    * nodes across pages once quads are unioned (see rdf.sha1Hex). */
  private def sha1Hex(s: String): String = graft.rdf.sha1Hex(s)

  private def walk(e: HtmlParser.Element, ctx0: Ctx,
      out: mutable.ArrayBuffer[Quad], counter: Counter,
      lists: ListMap): Unit = {
    // <template> CONTENTS live in a separate DocumentFragment in the
    // DOM — jsdom's childNodes never surface them, so the reference's
    // processor extracts nothing from a template SUBTREE (client-side
    // framework leftovers on server-rendered pages carry RDFa-shaped
    // markup that must stay invisible). The template NODE itself is a
    // regular element in the tree walk, though: its own property/
    // typeof/about attributes process normally, with textContent ""
    // (the fragment contributes no text) — `<template property="ex:p"
    // content="v">` yields a triple there, and without @content the
    // object is the empty-string literal.
    val isTemplate = e.tag == "template"
    // DOM textContent of the element — "" for a template (children are
    // fragment-side); used for every literal-value fallback below.
    // A def, NOT a val: e.text walks the whole subtree, and computing it
    // eagerly for every element made the page walk quadratic-ish
    // (+31% on the extract benchmark when this was briefly a val)
    def textContent: String = if (isTemplate) "" else e.text
    var ctx = ctx0
    val inlist = e.attr("inlist").isDefined

    // prefix / vocab / lang updates apply to this element and descendants.
    // xmlns:p="uri" (RDFa 1.0 host-language style) is still honored by
    // RDFa 1.1 processors and appears in older harvested pages; @prefix
    // declarations override it on the same element.
    val xmlnsPrefixes = e.attrs.collect {
      case (k, v) if k.startsWith("xmlns:") && k.length > 6 && v.nonEmpty =>
        k.substring(6).toLowerCase(java.util.Locale.ROOT) -> v
    }
    if (xmlnsPrefixes.nonEmpty)
      ctx = ctx.copy(prefixes = ctx.prefixes ++ xmlnsPrefixes)
    e.attr("prefix").foreach { p =>
      ctx = ctx.copy(prefixes = ctx.prefixes ++ parsePrefixAttr(p)) }
    // Core §7.5 step 2: an EMPTY @vocab resets the in-scope vocabulary
    // to the host default (none for HTML) — bare terms below it drop
    // again instead of resolving against the inherited vocab
    e.attr("vocab").foreach(v => ctx = ctx.copy(
      vocab = if (v.trim.isEmpty) None else Some(v.trim)))
    e.attr("xml:lang").orElse(e.attr("lang"))
      .foreach(l => ctx = ctx.copy(lang = if (l.isEmpty) None else Some(l)))

    val about = e.attr("about").flatMap(resolveResource(_, ctx))
    // Core §7.5 priority chain: @resource, else @href, else @src — an
    // IGNORED @resource (unresolvable safe CURIE) falls through to
    // @href rather than suppressing the object entirely
    val resource = e.attr("resource").flatMap(resolveResource(_, ctx))
      .orElse(e.attr("href").flatMap(resolveResource(_, ctx)))
      .orElse(e.attr("src").flatMap(resolveResource(_, ctx)))
    val properties = e.attr("property").toSeq
      .flatMap(wsSplit).flatMap(resolveIri(_, ctx))
    val typeofs = e.attr("typeof").map(wsSplit(_).toSeq
      .flatMap(resolveIri(_, ctx)))

    // typeof without about on a property-bearing element types the
    // resource (or a fresh blank node), which becomes the property's
    // *object* (RDFa "typed object") — not the current subject.
    lazy val freshBlankNode: String = s"_:${counter.fresh()}"
    val typedNode: Option[String] = typeofs.map { _ =>
      // HTML+RDFa §3.1 host rule: @typeof on <head>/<body> types the
      // parent object (the document base), never a fresh blank node
      about.getOrElse(resource.getOrElse(
        if (e.tag == "head" || e.tag == "body") ctx.subject
        else freshBlankNode))
    }

    // HTML+RDFa 1.1 §3.1: with @property on the same element, @rel/@rev
    // are processed CURIE/IRI-only — TERM values (HTML link types like
    // "nofollow", and even initial-context terms like "license") are
    // ignored, and a rel/rev left empty acts as absent, so @href can
    // feed @property per Core §7.5 step 11.
    val curieOnly = e.attr("property").isDefined
    def linkTokens(name: String): Seq[String] =
      e.attr(name).toSeq.flatMap(wsSplit)
        .filter(t => !curieOnly || t.contains(":"))
    val rels = linkTokens("rel").flatMap(resolveIri(_, ctx))
    val revs = linkTokens("rev").flatMap(resolveIri(_, ctx))

    // --- new subject determination (simplified RDFa 1.1 sequence).
    // With rel/rev present, a same-element resource is the *object*, not
    // a new subject; without them, about > resource > typed blank node.
    val hasLinks = rels.nonEmpty || revs.nonEmpty
    val newSubject: Option[String] = about.orElse {
      if (properties.isEmpty && !hasLinks) resource.orElse(typedNode)
      else None
    }

    // --- list-mapping scope (RDFa Core §7.5 step 5/6): an element that
    // establishes a new subject owns a FRESH list mapping; its own inlist
    // values and its descendants' accumulate there and are emitted when
    // this element's subtree completes (step 14, below). Otherwise the
    // inherited mapping flows through and the nearest owning ancestor
    // emits.
    val localLists: ListMap =
      if (newSubject.isDefined) mutable.LinkedHashMap() else lists
    def addToList(subj: String, pred: String, value: Term): Unit =
      localLists.getOrElseUpdate((subj, pred), mutable.ArrayBuffer[Term]()) += value

    // --- complete inherited incomplete triples (RDFa Core §7.5): any
    // element that establishes a subject — via about, resource, or a
    // typed blank node — closes the parent's hanging rel/rev. An element
    // that itself hangs new rels without a subject bridges through a
    // fresh blank node, so chained rels compose instead of dropping.
    def complete(withSubject: String): Unit = {
      ctx.pending.foreach { p =>
        p.listSink match {
          case Some(sink) =>
            // list-direction incomplete triple: the completing subject
            // joins the rel element's list (document order = append order)
            sink.getOrElseUpdate((p.subject, p.predicate),
              mutable.ArrayBuffer[Term]()) += toTerm(withSubject)
          case None =>
            if (p.isRev)
              out += Quad(toTerm(withSubject), Term.iri(p.predicate), toTerm(p.subject))
            else
              out += Quad(toTerm(p.subject), Term.iri(p.predicate), toTerm(withSubject))
        }
      }
      ctx = ctx.copy(pending = Nil, pendingBridge = None)
    }
    if (ctx.pending.nonEmpty && newSubject.isDefined) complete(newSubject.get)

    // --- rel/rev triples (object on the same element), or new incomplete
    // triples handed to the subtree.
    val relObject: Option[String] = resource.orElse(
      typedNode.filter(_ => about.isEmpty && typeofs.isDefined))
    val relSubject: String =
      if (ctx.pending.nonEmpty && hasLinks && about.isEmpty) {
        // hanging rel meets a new hanging rel: complete via the parent's
        // pre-allocated bridge node (NOT typedNode's lazy blank — that
        // would conflate the bridge with this element's typed object)
        val bridge = ctx.pendingBridge.getOrElse(s"_:${counter.fresh()}")
        complete(bridge)
        bridge
      } else about.getOrElse(ctx.subject)
    var childPending = ctx.pending
    var childBridge = ctx.pendingBridge
    if (hasLinks) {
      relObject match {
        case Some(obj) =>
          // inlist applies to rel (forward) links only, never rev
          rels.foreach(r =>
            if (inlist) addToList(relSubject, r, toTerm(obj))
            else out += Quad(toTerm(relSubject), Term.iri(r), toTerm(obj)))
          revs.foreach(r =>
            out += Quad(toTerm(obj), Term.iri(r), toTerm(relSubject)))
        case None =>
          // §7.5 step 10: `inlist` puts the hanging RELs in LIST
          // direction — register each key now (no completing descendant
          // leaves an EMPTY list → rdf:nil) and hand the subtree
          // list-direction pendings, so every descendant that
          // establishes a subject APPENDS to this element's list mapping
          // instead of emitting a direct triple. REVs on the same
          // element are unaffected (inlist never applies to rev) and
          // pend normally — a rel+rev+inlist element hangs both kinds.
          val listRels = if (inlist) rels else Nil
          val plainRels = if (inlist) Nil else rels
          listRels.foreach(r =>
            localLists.getOrElseUpdate((relSubject, r), mutable.ArrayBuffer[Term]()))
          childPending =
            listRels.map(Pending(relSubject, _, isRev = false,
              listSink = Some(localLists))) ++
            plainRels.map(Pending(relSubject, _, isRev = false)) ++
            revs.map(Pending(relSubject, _, isRev = true))
          childBridge = Some(s"_:${counter.fresh()}")
      }
    }

    val subjectForChildren = newSubject.getOrElse(ctx.subject)

    // --- rdf:type triples
    typeofs.foreach { types =>
      val typed = typedNode.getOrElse(subjectForChildren)
      types.foreach { t =>
        out += Quad(toTerm(typed), Term.iri(Vocab.rdfType), Term.iri(t)) }
    }

    // --- property triples. A property-only element under a hanging rel
    // attaches to the rel's bridge node and thereby completes the hanging
    // triples (<div about=A rel=p><span property=name>…: A p _:b; _:b
    // name "…") — real-processor behavior for §7.5.
    if (properties.nonEmpty) {
      val subj = about.getOrElse {
        if (ctx.pending.nonEmpty && ctx.pendingBridge.isDefined) {
          val bridge = ctx.pendingBridge.get
          complete(bridge)
          bridge
        } else ctx.subject
      }
      val datatype = e.attr("datatype").map(dt =>
        if (dt.trim.isEmpty) "" else resolveIri(dt.trim, ctx).getOrElse(""))
      val objTerm: Term =
        datatype match {
          // markup-valued literals: the value is the re-serialized inner
          // markup, not the text content (RDFa 1.1 §7.5 step 11 for
          // rdf:XMLLiteral; rdf:HTML is its HTML5 host-language twin)
          case Some(dt) if dt == Vocab.rdfHTML || dt == Vocab.rdfXMLLiteral =>
            Term.typed(e.innerHtml, dt)
          case Some(dt) if dt.nonEmpty =>
            // @datetime substitutes for the text content only on TIME
            // elements (HTML+RDFa §3.1)
            val value = e.attr("content")
              .orElse(e.attr("datetime").filter(_ => e.tag == "time"))
              .getOrElse(textContent)
            Term.typed(value, dt)
          case Some(_) => // datatype="" → plain literal
            plainLiteral(e.attr("content").getOrElse(textContent), ctx)
          case None =>
            // HTML+RDFa §3.1: the datetime rule is scoped to TIME
            // elements, and a <time> WITHOUT @datetime still
            // datatype-infers its text content
            // (<time property>2012-03-18</time> is an xsd:date
            // literal). A value matching NO datetime production stays a
            // PLAIN literal, which keeps the in-scope language
            // (<time>March 18</time> under lang="en" is "March 18"@en)
            val timeValue =
              if (e.tag == "time")
                e.attr("datetime").orElse(Some(textContent.trim))
              else None
            e.attr("content").map(plainLiteral(_, ctx))
              .orElse(timeValue.map { dtv =>
                val inferred = inferDatetimeDatatype(dtv)
                if (inferred == Vocab.xsdString) plainLiteral(dtv, ctx)
                else Term.typed(dtv, inferred)
              })
              // Core §7.5 step 11: @resource/@href/@src become the
              // property's object ONLY when @rel/@rev are absent — with
              // links present the resource feeds the rel/rev triples and
              // @property falls through to a literal (conformance bug
              // found by the rel+property fixture, r14)
              .orElse(resource.filter(_ => !hasLinks).map(toTerm))
              // typed object: typeof without about → the typed node
              .orElse(typedNode.filter(_ => about.isEmpty).map(toTerm))
              .getOrElse(plainLiteral(textContent, ctx))
        }
      // lblod specialHtmlPredicates rewiring (rdfa-extractor.js:78-83)
      properties.foreach { p =>
        val predicate =
          if (p == Vocab.provValue && objTerm.datatype == Vocab.rdfHTML)
            Vocab.extractedDecisionContent
          else p
        if (inlist) addToList(subj, predicate, objTerm)
        else out += Quad(toTerm(subj), Term.iri(predicate), objTerm)
      }
    }

    // --- descend. Children inherit: the element's new subject; or, when a
    // property with a resource/typed-node object was emitted, that object
    // (chaining).
    val relChained = (rels.nonEmpty || revs.nonEmpty) && relObject.isDefined
    val childSubject =
      if (relChained) relObject.get
      else if (properties.nonEmpty && about.isEmpty && resource.isDefined) resource.get
      else if (properties.nonEmpty && about.isEmpty && typedNode.isDefined) typedNode.get
      else subjectForChildren
    val childCtx = ctx.copy(subject = childSubject, pending = childPending,
      pendingBridge = childBridge)
    // template children are fragment-side: never walked (see above)
    if (!isTemplate) e.children.foreach {
      case el: HtmlParser.Element => walk(el, childCtx, out, counter, localLists)
      case _ =>
    }
    // --- §7.5 step 14: this element owns its list mapping → serialize
    // its lists now that the subtree is complete
    if (localLists ne lists) emitLists(localLists, out, counter)
  }

  private def plainLiteral(v: String, ctx: Ctx): Term =
    ctx.lang.map(Term.langLit(v, _)).getOrElse(Term.lit(v))

  private def toTerm(iriOrBlank: String): Term =
    if (iriOrBlank.startsWith("_:")) Term.blank(iriOrBlank.substring(2))
    else Term.iri(iriOrBlank)

  /** `prefix="p1: uri1 p2: uri2"` (RDFa Core §5). Prefix names are
    * stored lowercased: RDFa Core §6 makes CURIE prefix mappings
    * case-insensitive, so `prefix="EX: …"` must serve `ex:p` and
    * `EX:p` alike — lookups lowercase their prefix to match. */
  def parsePrefixAttr(v: String): Map[String, String] = {
    val toks = wsSplit(v).filter(_.nonEmpty)
    val pairs = mutable.Map[String, String]()
    var i = 0
    while (i + 1 < toks.length) {
      val p = toks(i)
      if (p.endsWith(":")) {
        pairs += p.dropRight(1).toLowerCase(java.util.Locale.ROOT) -> toks(i + 1)
        i += 2
      } else i += 1
    }
    pairs.toMap
  }

  /** Resolve a CURIE / term / IRI in predicate position (property,
    * typeof, datatype): CURIEs via prefix map, bare terms via vocab,
    * absolute IRIs as-is. */
  def resolveIri(raw: String, ctx: Ctx): Option[String] = {
    val v = raw.trim
    if (v.isEmpty) None
    else if (v.contains(":")) {
      val idx = v.indexOf(':')
      val prefix = v.substring(0, idx).toLowerCase(java.util.Locale.ROOT)
      val local = v.substring(idx + 1)
      ctx.prefixes.get(prefix) match {
        case Some(ns) => Some(ns + local)
        case None if isAbsoluteIri(v) => Some(v)
        case None => None
      }
    } else ctx.vocab.map(_ + v)
      .orElse(defaultTerms.get(v.toLowerCase(java.util.Locale.ROOT)))
  }

  /** Resolve in subject/object position (about, resource, href, src):
    * safe CURIEs `[p:l]`, CURIEs, blank nodes, and IRIs resolved against
    * base. A SAFE CURIE resolves only through the prefix map (RDFa Core
    * §6: the brackets assert "this is a CURIE" — an undeclared prefix or
    * empty content means the attribute MUST be ignored, never
    * reinterpreted as an IRI), while an unbracketed value with an
    * unresolvable prefix falls back to IRI interpretation per the
    * CURIEorIRI grammar. */
  def resolveResource(raw: String, ctx: Ctx): Option[String] = {
    val v0 = raw.trim
    if (v0.isEmpty) return Some(ctx.base)
    if (v0.startsWith("[") && v0.endsWith("]")) {
      val v = v0.substring(1, v0.length - 1).trim
      if (v.startsWith("_:")) Some(v)
      else {
        val idx = v.indexOf(':')
        if (idx < 0) None // "[]" / "[term]" — ignored
        else ctx.prefixes.get(v.substring(0, idx).toLowerCase(java.util.Locale.ROOT))
          .map(_ + v.substring(idx + 1))
      }
    } else if (v0.startsWith("_:")) Some(v0)
    else if (v0.contains(":")) {
      val idx = v0.indexOf(':')
      ctx.prefixes.get(v0.substring(0, idx).toLowerCase(java.util.Locale.ROOT)) match {
        case Some(ns) => Some(ns + v0.substring(idx + 1))
        case None if isAbsoluteIri(v0) => Some(v0)
        case None => Some(v0) // scheme-looking value, keep verbatim
      }
    } else Some(resolveAgainstBase(v0, ctx.base))
  }

  private def isAbsoluteIri(v: String): Boolean =
    schemePattern.matcher(v).matches()

  /** RFC-3986-lite relative resolution (enough for harvested pages). */
  def resolveAgainstBase(ref: String, base: String): String = {
    if (ref.isEmpty) base
    // RFC 3986 §5.2: a reference with a scheme IS the target — callers
    // normally strip these in resolveResource, but <base href> resolution
    // feeds absolute URLs here directly
    else if (isAbsoluteIri(ref)) ref
    else if (ref.startsWith("#")) base.takeWhile(_ != '#') + ref
    else if (ref.startsWith("//"))
      base.takeWhile(_ != ':') + ":" + ref
    else if (ref.startsWith("/")) {
      val schemeEnd = base.indexOf("://")
      if (schemeEnd < 0) ref
      else {
        val authorityEnd = base.indexOf('/', schemeEnd + 3)
        normalizeDots(
          (if (authorityEnd < 0) base else base.substring(0, authorityEnd)) + ref)
      }
    } else {
      val noFrag = base.takeWhile(c => c != '#' && c != '?')
      val dir = noFrag.substring(0, math.max(noFrag.lastIndexOf('/') + 1,
        noFrag.indexOf("://") + 3))
      normalizeDots(dir + ref)
    }
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over the PATH component of a
    * merged `scheme://authority/path?query#frag` string — `about="../x"`
    * must resolve to the parent directory, not keep a literal `..`
    * segment (query/fragment are untouched; a base without an authority,
    * e.g. `urn:`, is returned unchanged). */
  private def normalizeDots(merged: String): String = {
    val schemeEnd = merged.indexOf("://")
    if (schemeEnd < 0) return merged
    val pathStart = merged.indexOf('/', schemeEnd + 3)
    if (pathStart < 0) return merged
    val cut = merged.indexWhere(c => c == '?' || c == '#', pathStart)
    val pathEnd = if (cut < 0) merged.length else cut
    val path = merged.substring(pathStart, pathEnd)
    if (!path.contains("/.")) return merged // fast path: nothing to remove
    val out = new StringBuilder
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) {
        in = "/" + in.substring(4)
        out.setLength(math.max(out.lastIndexOf("/"), 0))
      } else if (in == "/..") {
        in = "/"
        out.setLength(math.max(out.lastIndexOf("/"), 0))
      } else if (in == "." || in == "..") in = ""
      else {
        val next = in.indexOf('/', 1)
        if (next < 0) { out.append(in); in = "" }
        else { out.append(in.substring(0, next)); in = in.substring(next) }
      }
    }
    merged.substring(0, pathStart) + out + merged.substring(pathEnd)
  }

  /** HTML5 `datetime` attribute datatype inference (RDFa + HTML spec). */
  def inferDatetimeDatatype(v: String): String = {
    val t = v.trim
    if (dtDateTime.matcher(t).matches()) Vocab.xsdDateTime
    else if (dtDate.matcher(t).matches()) Vocab.xsdDate
    else if (dtTime.matcher(t).matches())
      "http://www.w3.org/2001/XMLSchema#time"
    else if (dtYearMonth.matcher(t).matches())
      "http://www.w3.org/2001/XMLSchema#gYearMonth"
    else if (dtYear.matcher(t).matches()) "http://www.w3.org/2001/XMLSchema#gYear"
    // startsWith, NOT a Java `matches("^P.*")`: the JS processors test
    // durations with an anchored /^P/ (a substring test — newlines in
    // the value are irrelevant), while Java's matches() demands a FULL
    // match whose '.' cannot cross a newline, so "P1Y\nx" would fall
    // through to xsd:string there. The JS semantics win.
    else if (t.startsWith("P")) "http://www.w3.org/2001/XMLSchema#duration"
    else Vocab.xsdString
  }
}
