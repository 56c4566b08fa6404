package graft.html

import graft.rdf.{Term, Vocab}
import org.scalatest.funsuite.AnyFunSuite

/** Golden cases for the RDFa walk (FIXTURES.md §3; reference
  * lib/rdfa-extractor.js + @lblod/graph-rdfa-processor semantics for the
  * harvested-page attribute subset). */
class RdfaExtractorSpec extends AnyFunSuite {

  private val base = "https://example.org/zitting/1"

  private def extract(html: String): Set[(String, String, String, String)] =
    RdfaExtractor.extract(html, base).map(q =>
      (q.subject.value, q.predicate.value, q.obj.value,
        Option(q.obj.datatype).getOrElse("-"))).toSet

  test("besluit fixture: about/typeof/property/datetime/href/prefix") {
    val html =
      """<html prefix="besluit: http://data.vlaanderen.be/ns/besluit# prov: http://www.w3.org/ns/prov#
        |              eli: http://data.europa.eu/eli/ontology#">
        |<body>
        |  <div about="https://example.org/besluit/B1" typeof="besluit:Besluit">
        |    <span property="eli:title">Reglement X</span>
        |    <time property="besluit:openbareTitel" datetime="2023-05-04">4 mei 2023</time>
        |    <a property="eli:cites" href="https://example.org/besluit/B0">earlier</a>
        |  </div>
        |</body></html>""".stripMargin
    val got = extract(html)
    val B1 = "https://example.org/besluit/B1"
    assert(got.contains((B1, Vocab.rdfType,
      "http://data.vlaanderen.be/ns/besluit#Besluit", "-")))
    assert(got.contains((B1, "http://data.europa.eu/eli/ontology#title",
      "Reglement X", Vocab.xsdString)))
    assert(got.contains((B1, "http://data.vlaanderen.be/ns/besluit#openbareTitel",
      "2023-05-04", Vocab.xsdDate)))
    assert(got.contains((B1, "http://data.europa.eu/eli/ontology#cites",
      "https://example.org/besluit/B0", "-")))
    assert(got.size == 4)
  }

  test("specialHtmlPredicates: prov:value + rdf:HTML → extractedDecisionContent") {
    val html =
      """<div about="https://example.org/besluit/B1"
        |     prefix="prov: http://www.w3.org/ns/prov#">
        |  <div property="prov:value" datatype="rdf:HTML"><p>full <b>body</b></p></div>
        |</div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    assert(quads.size == 1)
    val q = quads.head
    assert(q.predicate.value == Vocab.extractedDecisionContent)
    assert(q.obj.datatype == Vocab.rdfHTML)
    assert(q.obj.value == "<p>full <b>body</b></p>")
  }

  test("plain prov:value (no rdf:HTML) is NOT rewired") {
    val html =
      """<div about="https://example.org/b" prefix="prov: http://www.w3.org/ns/prov#">
        |  <span property="prov:value">plain</span></div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    assert(quads.head.predicate.value == "http://www.w3.org/ns/prov#value")
  }

  test("vocab resolves bare terms; content beats text; lang inherits") {
    val html =
      """<div vocab="http://schema.org/" lang="nl" about="https://example.org/x">
        |  <span property="name" content="Naam">ignored</span>
        |  <span property="description">tekst</span>
        |</div>""".stripMargin
    val got = RdfaExtractor.extract(html, base)
    val byPred = got.map(q => q.predicate.value -> q.obj).toMap
    assert(byPred("http://schema.org/name") == Term.langLit("Naam", "nl"))
    assert(byPred("http://schema.org/description") == Term.langLit("tekst", "nl"))
  }

  test("relative about/href resolve against base; empty about = base") {
    val html =
      """<div about="/besluiten/7" prefix="eli: http://data.europa.eu/eli/ontology#">
        |  <a property="eli:cites" href="#art-1">x</a></div>""".stripMargin
    val got = extract(html)
    assert(got.contains(("https://example.org/besluiten/7",
      "http://data.europa.eu/eli/ontology#cites",
      "https://example.org/zitting/1#art-1", "-")))
  }

  test("U+FFFD is stripped before parsing (rdfa-extractor.js:72)") {
    val html = "<div about=\"https://example.org/x\" vocab=\"http://schema.org/\">" +
      "<span property=\"name\">A�B</span></div>"
    val got = RdfaExtractor.extract(html, base)
    assert(got.head.obj.value == "AB")
  }

  test("no RDFa attributes → empty output (rdfa-extractor.js:104-106)") {
    assert(RdfaExtractor.extract("<html><body><p>nothing</p></body></html>", base).isEmpty)
  }

  test("typed object: property + typeof without about yields a typed blank object") {
    val html =
      """<div about="http://ex/s" vocab="http://schema.org/">
        |  <span property="author" typeof="Person">Alice</span>
        |</div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    val authorTriples = quads.filter(_.predicate.value == "http://schema.org/author")
    assert(authorTriples.size == 1)
    val obj = authorTriples.head.obj
    assert(obj.termType == Term.BlankNode, s"object should be a blank node, got $obj")
    val typeTriples = quads.filter(_.predicate.value == Vocab.rdfType)
    assert(typeTriples.size == 1)
    assert(typeTriples.head.subject == obj,
      "rdf:type must attach to the blank object, not the parent subject")
  }

  test("typeof without about creates a typed blank node") {
    val html = """<div typeof="besluit:Besluit"
      | prefix="besluit: http://data.vlaanderen.be/ns/besluit#"><span>x</span></div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    assert(quads.size == 1)
    assert(quads.head.subject.termType == Term.BlankNode)
    assert(quads.head.obj.value == "http://data.vlaanderen.be/ns/besluit#Besluit")
  }

  test("property chaining: resource object becomes child subject") {
    val html =
      """<div about="https://example.org/zitting" vocab="http://data.vlaanderen.be/ns/besluit#">
        |  <div property="heeftAgenda" resource="https://example.org/agenda/1">
        |    <span property="titel">Agenda 1</span>
        |  </div>
        |</div>""".stripMargin
    val got = extract(html)
    assert(got.contains(("https://example.org/zitting",
      "http://data.vlaanderen.be/ns/besluit#heeftAgenda",
      "https://example.org/agenda/1", "-")))
    assert(got.contains(("https://example.org/agenda/1",
      "http://data.vlaanderen.be/ns/besluit#titel", "Agenda 1", Vocab.xsdString)))
  }

  test("rel with same-element href emits the link and chains children") {
    val html =
      """<div about="https://example.org/z" vocab="http://data.vlaanderen.be/ns/besluit#">
        |  <div rel="heeftNotulen" href="https://example.org/notulen/1">
        |    <span property="titel">Notulen</span>
        |  </div>
        |</div>""".stripMargin
    val got = extract(html)
    assert(got.contains(("https://example.org/z",
      "http://data.vlaanderen.be/ns/besluit#heeftNotulen",
      "https://example.org/notulen/1", "-")))
    assert(got.contains(("https://example.org/notulen/1",
      "http://data.vlaanderen.be/ns/besluit#titel", "Notulen", Vocab.xsdString)))
  }

  test("rel without object: completed by each descendant subject (incomplete triples)") {
    val html =
      """<div about="https://example.org/z" vocab="http://data.vlaanderen.be/ns/besluit#">
        |  <div rel="behandelt">
        |    <div about="https://example.org/ap/1"><span property="titel">A</span></div>
        |    <div about="https://example.org/ap/2"><span property="titel">B</span></div>
        |  </div>
        |</div>""".stripMargin
    val got = extract(html)
    assert(got.contains(("https://example.org/z",
      "http://data.vlaanderen.be/ns/besluit#behandelt",
      "https://example.org/ap/1", "-")))
    assert(got.contains(("https://example.org/z",
      "http://data.vlaanderen.be/ns/besluit#behandelt",
      "https://example.org/ap/2", "-")))
  }

  test("resource without property/rel establishes the new subject for children") {
    val html =
      """<div about="https://example.org/top" vocab="http://schema.org/">
        |  <div resource="https://example.org/inner">
        |    <span property="name">Inner</span>
        |  </div>
        |</div>""".stripMargin
    val got = extract(html)
    assert(got.contains(("https://example.org/inner",
      "http://schema.org/name", "Inner", Vocab.xsdString)),
      s"children must attach to the resource-established subject; got $got")
  }

  test("hanging rel + property-only descendant: bridge blank node carries both") {
    val html =
      """<div about="https://example.org/A" vocab="http://schema.org/">
        |  <div rel="author"><span property="name">Alice</span></div>
        |</div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    val link = quads.filter(_.predicate.value == "http://schema.org/author")
    assert(link.size == 1)
    val bridge = link.head.obj
    assert(bridge.termType == Term.BlankNode)
    val name = quads.filter(_.predicate.value == "http://schema.org/name")
    assert(name.size == 1)
    assert(name.head.subject == bridge,
      "the property must attach to the same bridge node the rel links to")
  }

  test("rev inverts subject and object") {
    val html =
      """<div about="https://example.org/child" vocab="http://schema.org/">
        |  <a rev="isPartOf" href="https://example.org/parent">up</a>
        |</div>""".stripMargin
    val got = extract(html)
    assert(got.contains(("https://example.org/parent",
      "http://schema.org/isPartOf", "https://example.org/child", "-")))
  }

  test("inlist: property values chain into an ordered rdf:List (RDFa Core §7.5)") {
    val html =
      """<div about="http://ex.org/s" prefix="ex: http://ex.org/ns#">
        |  <span property="ex:tags" inlist content="alpha"></span>
        |  <span property="ex:tags" inlist content="beta"></span>
        |  <a rel="ex:links" inlist href="http://ex.org/o1">one</a>
        |  <a rel="ex:links" inlist href="http://ex.org/o2">two</a>
        |</div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    def chain(pred: String): Seq[String] = {
      val head = quads.find(q => q.subject.value == "http://ex.org/s" &&
        q.predicate.value == pred).get.obj
      assert(head.termType == Term.BlankNode)
      // follow rdf:first/rdf:rest to rdf:nil
      def follow(node: String, acc: Seq[String]): Seq[String] = {
        val first = quads.find(q => q.subject.value == node &&
          q.predicate.value == Vocab.rdfFirst).get.obj.value
        val rest = quads.find(q => q.subject.value == node &&
          q.predicate.value == Vocab.rdfRest).get.obj
        if (rest.value == Vocab.rdfNil) acc :+ first
        else follow(rest.value, acc :+ first)
      }
      follow(head.value, Nil)
    }
    assert(chain("http://ex.org/ns#tags") == Seq("alpha", "beta"))
    assert(chain("http://ex.org/ns#links") == Seq("http://ex.org/o1", "http://ex.org/o2"))
    // non-inlist siblings are unaffected: no stray direct triples
    assert(!quads.exists(q => q.predicate.value == "http://ex.org/ns#tags" &&
      q.obj.termType == Term.Literal))
  }

  test("inlist: hanging rel completed by descendant subjects appends to the list (§7.5 step 10)") {
    val html =
      """<div about="http://ex.org/s" prefix="ex: http://ex.org/ns#">
        |  <div rel="ex:items" inlist>
        |    <span about="http://ex.org/a">A</span>
        |    <span about="http://ex.org/b">B</span>
        |  </div>
        |  <div rel="ex:empty" inlist></div>
        |  <div rel="ex:more" rev="ex:parent" inlist>
        |    <span about="http://ex.org/c">C</span>
        |  </div>
        |</div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    def chain(pred: String): Seq[String] = {
      val head = quads.find(q => q.subject.value == "http://ex.org/s" &&
        q.predicate.value == pred).get.obj
      def follow(node: String, acc: Seq[String]): Seq[String] = {
        val first = quads.find(q => q.subject.value == node &&
          q.predicate.value == Vocab.rdfFirst).get.obj.value
        val rest = quads.find(q => q.subject.value == node &&
          q.predicate.value == Vocab.rdfRest).get.obj
        if (rest.value == Vocab.rdfNil) acc :+ first
        else follow(rest.value, acc :+ first)
      }
      follow(head.value, Nil)
    }
    // list direction: descendant subjects join the list in document order
    assert(chain("http://ex.org/ns#items") ==
      Seq("http://ex.org/a", "http://ex.org/b"))
    // and no direct (non-list) triples leak out of the completion
    assert(!quads.exists(q => q.predicate.value == "http://ex.org/ns#items" &&
      q.subject.value == "http://ex.org/s" &&
      q.obj.value.startsWith("http://ex.org/")))
    // a hanging rel inlist with no completing descendants stays an empty
    // list → rdf:nil
    val empty = quads.find(q => q.subject.value == "http://ex.org/s" &&
      q.predicate.value == "http://ex.org/ns#empty").get
    assert(empty.obj.value == Vocab.rdfNil)
    // rel+rev+inlist: the rel hangs in LIST direction, the rev hangs
    // normally — the same completing descendant serves both
    assert(chain("http://ex.org/ns#more") == Seq("http://ex.org/c"))
    assert(quads.exists(q => q.subject.value == "http://ex.org/c" &&
      q.predicate.value == "http://ex.org/ns#parent" &&
      q.obj.value == "http://ex.org/s"))
  }

  test("inlist: re-established subject yields a SEPARATE list per subtree (§7.5 step 14)") {
    // two sibling subtrees about the SAME subject: each owns its list
    // mapping, so ex:tags must point at TWO distinct rdf:List heads
    // (alpha,beta) and (gamma) — not one merged (alpha,beta,gamma) chain
    val html =
      """<div prefix="ex: http://ex.org/ns#">
        |  <div about="http://ex.org/s">
        |    <span property="ex:tags" inlist content="alpha"></span>
        |    <span property="ex:tags" inlist content="beta"></span>
        |  </div>
        |  <div about="http://ex.org/s">
        |    <span property="ex:tags" inlist content="gamma"></span>
        |  </div>
        |</div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    val heads = quads.filter(q => q.subject.value == "http://ex.org/s" &&
      q.predicate.value == "http://ex.org/ns#tags").map(_.obj)
    assert(heads.length == 2, s"expected two list heads, got $heads")
    assert(heads.forall(_.termType == Term.BlankNode))
    def follow(node: String, acc: Seq[String]): Seq[String] = {
      val first = quads.find(q => q.subject.value == node &&
        q.predicate.value == Vocab.rdfFirst).get.obj.value
      val rest = quads.find(q => q.subject.value == node &&
        q.predicate.value == Vocab.rdfRest).get.obj
      if (rest.value == Vocab.rdfNil) acc :+ first
      else follow(rest.value, acc :+ first)
    }
    val chains = heads.map(h => follow(h.value, Nil)).sortBy(_.length)
    assert(chains == Seq(Seq("gamma"), Seq("alpha", "beta")), chains.toString)
  }

  test("inlist: rel with no object on a childless element is the empty list (rdf:nil)") {
    val html =
      """<div about="http://ex.org/s" prefix="ex: http://ex.org/ns#">
        |  <span rel="ex:empty" inlist></span>
        |</div>""".stripMargin
    val quads = RdfaExtractor.extract(html, base)
    assert(quads.exists(q => q.subject.value == "http://ex.org/s" &&
      q.predicate.value == "http://ex.org/ns#empty" &&
      q.obj.value == Vocab.rdfNil))
  }

  test("xmlns: prefix declarations resolve CURIEs (RDFa 1.0 host style)") {
    val html =
      """<div xmlns:dcx="http://purl.org/dc/elements/1.1/" about="http://ex.org/s">
        |  <span property="dcx:title">Oud formaat</span>
        |</div>""".stripMargin
    val got = extract(html)
    assert(got.contains(("http://ex.org/s",
      "http://purl.org/dc/elements/1.1/title", "Oud formaat", Vocab.xsdString)))
    // @prefix beats xmlns: on the same element
    val both =
      """<div xmlns:p="http://old.example/ns#" prefix="p: http://new.example/ns#"
        |     about="http://ex.org/s"><span property="p:x">v</span></div>""".stripMargin
    assert(extract(both).contains(("http://ex.org/s",
      "http://new.example/ns#x", "v", Vocab.xsdString)))
  }

  test("datetime datatype inference variants") {
    assert(RdfaExtractor.inferDatetimeDatatype("2023-05-04T10:00:00") == Vocab.xsdDateTime)
    assert(RdfaExtractor.inferDatetimeDatatype("2023-05-04") == Vocab.xsdDate)
    assert(RdfaExtractor.inferDatetimeDatatype("10:30") == "http://www.w3.org/2001/XMLSchema#time")
    assert(RdfaExtractor.inferDatetimeDatatype("2023-05") == "http://www.w3.org/2001/XMLSchema#gYearMonth")
    assert(RdfaExtractor.inferDatetimeDatatype("P1D") == "http://www.w3.org/2001/XMLSchema#duration")
    // the duration test is an ANCHORED PREFIX (/^P/ in the JS
    // processors — a substring test), not a Java full-match: a newline
    // later in the value must not demote the datatype to xsd:string
    assert(RdfaExtractor.inferDatetimeDatatype("P1Y\nnote") ==
      "http://www.w3.org/2001/XMLSchema#duration")
    // the other shapes are full matches: interior junk fails them (a
    // trailing newline is removed by the trim before matching)
    assert(RdfaExtractor.inferDatetimeDatatype("2023-05-04 x") == Vocab.xsdString)
    assert(RdfaExtractor.inferDatetimeDatatype("2023-05-04\n") == Vocab.xsdDate)
  }
}
