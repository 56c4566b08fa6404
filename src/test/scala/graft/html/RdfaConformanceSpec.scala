package graft.html

import graft.rdf.Vocab
import org.scalatest.funsuite.AnyFunSuite

/** Curated W3C RDfa 1.1 conformance sweep (r9 VERDICT item 7): cases
  * hand-authored from the published RDFa 1.1 Core / HTML5+RDFa test
  * suite's corner semantics — the constructs harvested besluit pages do
  * NOT exercise, so the golden specs above cannot catch regressions in
  * them. Each test states the suite rule it pins. Known, deliberate
  * divergences from a full conforming processor are asserted AS the
  * current behavior and documented in FIXTURES.md §3 (this extractor
  * targets the reference's jsdom+graph-rdfa-processor subset, not full
  * conformance).
  */
class RdfaConformanceSpec extends AnyFunSuite {

  private val base = "https://example.org/page"

  private def extract(html: String): Seq[graft.rdf.Quad] =
    RdfaExtractor.extract(html, base)

  private def triples(html: String): Set[(String, String, String, String, String)] =
    extract(html).map(q => (q.subject.value, q.predicate.value, q.obj.value,
      Option(q.obj.datatype).getOrElse("-"),
      Option(q.obj.lang).getOrElse("-"))).toSet

  // --- @datatype="" overrides (Core §7.5 step 11: empty datatype forces
  // a plain literal even when the element has markup children)

  test("datatype='' with markup children yields the PLAIN text literal, not HTML") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |  <span property="ex:p" datatype="">plain <b>bold</b> tail</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "plain bold tail", Vocab.xsdString, "-")))
  }

  test("datatype='' keeps the language tag (plain literal = langString under @lang)") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/" lang="nl">
        |  <span property="ex:p" datatype="">tekst</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "tekst", Vocab.rdfLangString, "nl")))
  }

  test("datatype='' prefers @content over text content") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |  <span property="ex:p" datatype="" content="c-value">ignored</span>
        |</div>""".stripMargin)
    assert(got.exists(t => t._3 == "c-value"))
    assert(!got.exists(t => t._3 == "ignored"))
  }

  test("datatype with undeclared prefix resolves as an absolute IRI (TERMorCURIEorAbsIRI)") {
    // Core §7.5/§A: @datatype is a TERMorCURIEorAbsIRI — when CURIE
    // resolution fails (prefix undeclared), a value that is nonetheless a
    // syntactically valid absolute IRI (scheme "nosuch") is used verbatim
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |  <span property="ex:p" datatype="nosuch:dt">v</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "v", "nosuch:dt", "-")))
  }

  test("genuinely unresolvable datatype (bare term, no vocab) is ignored → plain literal (Core §7.5)") {
    // a colon-less term with no in-scope @vocab resolves to nothing at
    // all — THIS is the unresolvable case that falls back to a plain
    // literal, not an undeclared-prefix CURIE (which is still an AbsIRI)
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |  <span property="ex:p" datatype="undefinedterm">v</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "v", Vocab.xsdString, "-")))
  }

  // --- rdf:XMLLiteral (Core §7.5 step 11: value is the serialized inner
  // markup, exactly like the HTML5 host-language rdf:HTML twin)

  test("datatype=rdf:XMLLiteral serializes inner markup") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/ rdf: http://www.w3.org/1999/02/22-rdf-syntax-ns#">
        |  <span property="ex:p" datatype="rdf:XMLLiteral">keep <b>markup</b></span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "keep <b>markup</b>", Vocab.rdfXMLLiteral, "-")))
  }

  // --- language inheritance (Core §7.5 evaluation context; HTML+RDFa
  // §3.4: xml:lang takes precedence over lang on the same element)

  test("lang inherits through nesting; inner lang='' clears it") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/" lang="de">
        |  <span property="ex:outer">aussen</span>
        |  <div lang="">
        |    <span property="ex:inner">neutral</span>
        |  </div>
        |  <div lang="fr">
        |    <span property="ex:deep">profond</span>
        |  </div>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/outer",
      "aussen", Vocab.rdfLangString, "de")))
    assert(got.contains(("https://example.org/page#d", "http://ex.org/inner",
      "neutral", Vocab.xsdString, "-")))
    assert(got.contains(("https://example.org/page#d", "http://ex.org/deep",
      "profond", Vocab.rdfLangString, "fr")))
  }

  test("xml:lang beats lang on the same element") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |  <span property="ex:p" lang="en" xml:lang="it">ciao</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "ciao", Vocab.rdfLangString, "it")))
  }

  test("lang applies to @content values too") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/" lang="es">
        |  <span property="ex:p" content="hola">x</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "hola", Vocab.rdfLangString, "es")))
  }

  test("explicit datatype suppresses the language tag (typed, not langString)") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/" lang="nl">
        |  <span property="ex:p" datatype="xsd:string" content="s">x</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "s", Vocab.xsdString, "-")))
  }

  // --- subject/object resolution corners

  test("safe CURIE [ex:r] in @about resolves like the bare CURIE") {
    val got = triples(
      """<div about="[ex:r]" prefix="ex: http://ex.org/">
        |  <span property="ex:p">v</span>
        |</div>""".stripMargin)
    assert(got.exists(t => t._1 == "http://ex.org/r" && t._3 == "v"))
  }

  test("blank node _:x in @about is stable across elements of the page") {
    val quads = extract(
      """<div prefix="ex: http://ex.org/">
        |  <div about="_:x"><span property="ex:a">1</span></div>
        |  <div about="_:x"><span property="ex:b">2</span></div>
        |</div>""".stripMargin)
    val subs = quads.map(_.subject.value).distinct
    assert(subs.size == 1, s"same label must be same node, got $subs")
    assert(quads.map(_.predicate.value).toSet ==
      Set("http://ex.org/a", "http://ex.org/b"))
  }

  test("@resource beats @href as the rel object (attribute priority)") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |  <a rel="ex:link" resource="http://ex.org/R" href="http://ex.org/H">x</a>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/link",
      "http://ex.org/R", "-", "-")))
    assert(!got.exists(_._3 == "http://ex.org/H"))
  }

  test("@vocab in a subtree overrides the ancestor @vocab for bare terms") {
    val got = triples(
      """<div vocab="http://schema.org/" about="#d">
        |  <span property="name">outer</span>
        |  <div vocab="http://ex.org/">
        |    <span property="name">inner</span>
        |  </div>
        |</div>""".stripMargin)
    assert(got.exists(t => t._2 == "http://schema.org/name" && t._3 == "outer"))
    assert(got.exists(t => t._2 == "http://ex.org/name" && t._3 == "inner"))
  }

  test("xmlns:-declared prefix (RDFa 1.0 host style) still resolves") {
    val got = triples(
      """<div xmlns:old="http://old.example/ns#" about="#d">
        |  <span property="old:p">v</span>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://old.example/ns#p",
      "v", Vocab.xsdString, "-")))
  }

  test("@prefix on the same element overrides an identically-named xmlns: prefix") {
    val got = triples(
      """<div xmlns:p="http://a.example/" prefix="p: http://b.example/" about="#d">
        |  <span property="p:x">v</span>
        |</div>""".stripMargin)
    assert(got.exists(t => t._2 == "http://b.example/x"),
      s"@prefix must win over xmlns: (RDFa 1.1 §6), got ${got.map(_._2)}")
  }

  // --- property/rel interaction corners

  test("property with @href and no rel takes the resource as object (HTML+RDFa §3.1)") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |  <a property="ex:p" href="http://ex.org/obj">text ignored</a>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/p",
      "http://ex.org/obj", "-", "-")))
  }

  test("property + content on the SAME element as typeof: literal from content, type on the typed node") {
    // Core §7.5 step 5.2: typeof without about mints a typed node; a
    // property with @content is a literal about the CURRENT subject —
    // the typed node becomes the object only when no content/datatype
    val quads = extract(
      """<div about="#d" prefix="ex: http://ex.org/ schema: http://schema.org/">
        |  <span property="ex:name" typeof="schema:Person" content="Alice">x</span>
        |</div>""".stripMargin)
    val types = quads.filter(_.predicate.value == Vocab.rdfType)
    assert(types.size == 1 && types.head.obj.value == "http://schema.org/Person")
    val props = quads.filter(q => q.predicate.value == "http://ex.org/name")
    assert(props.nonEmpty && props.head.obj.value == "Alice")
  }

  // --- WHATWG recovery rules with RDfa-visible extents (r17: the
  // render→reparse convergence fuzz exposed these)

  test("a table start at a table insertion point acts as </table> (in-table rule)") {
    // "<table property=…><table>" builds SIBLING tables in browsers —
    // the second table's text must fall OUTSIDE the first's literal
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<table property="ex:p"><tr><td>one</td></tr><table><tr><td>two</td></tr></table>
        |</div>""".stripMargin)
    val lit = got.find(_._2 == "http://ex.org/p").map(_._3)
    assert(lit.exists(v => v.contains("one") && !v.contains("two")),
      s"second table leaked into the first's literal: $lit")
  }

  test("rt without a ruby in scope is a generic start and nests (in-body rt rule)") {
    // implied end tags fire ONLY with a ruby element in scope — outside
    // one, "<rp property=…>a<rt>b" keeps the rt INSIDE the rp literal
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<span><rp property="ex:q">a<rt>b</rt></rp></span>
        |</div>""".stripMargin)
    val lit = got.find(_._2 == "http://ex.org/q").map(_._3)
    assert(lit.exists(v => v.contains("a") && v.contains("b")),
      s"rt outside ruby must nest, got $lit")
  }

  test("rt with a ruby in scope closes the open rp (implied end tags)") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<ruby><rp property="ex:q">a<rt>b</rt></ruby>
        |</div>""".stripMargin)
    val lit = got.find(_._2 == "http://ex.org/q").map(_._3)
    assert(lit.exists(v => v.contains("a") && !v.contains("b")),
      s"rt inside ruby must close the rp, got $lit")
  }

  test("template contents are invisible to the processor (separate DOM fragment)") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<span property="ex:real">yes</span>
        |<template><span property="ex:ghost">no</span></template>
        |</div>""".stripMargin)
    assert(got.exists(_._2 == "http://ex.org/real"))
    assert(!got.exists(_._2 == "http://ex.org/ghost"),
      "RDFa inside <template> must not extract (jsdom keeps it in a fragment)")
    // and template text contributes nothing to an enclosing literal
    val lit = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<span property="ex:p">a<template>GHOST</template>c</span>
        |</div>""".stripMargin)
    assert(lit.exists(t => t._2 == "http://ex.org/p" && t._3 == "ac"),
      s"template text leaked into the literal: ${lit.map(_._3)}")
  }

  test("template element's OWN RDFa attributes process (only its children are fragment-side)") {
    // jsdom walks the template NODE itself — only the contents live in a
    // separate fragment — so @property/@content on the template emits
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<template property="ex:t" content="v"><span property="ex:ghost">no</span></template>
        |</div>""".stripMargin)
    assert(got.contains(("https://example.org/page#d", "http://ex.org/t",
      "v", Vocab.xsdString, "-")),
      s"template's own @property/@content must extract, got $got")
    assert(!got.exists(_._2 == "http://ex.org/ghost"))
    // @property WITHOUT @content: textContent of a template is "" (the
    // fragment contributes nothing) → empty-string literal
    val got2 = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<template property="ex:t">GHOST</template>
        |</div>""".stripMargin)
    assert(got2.contains(("https://example.org/page#d", "http://ex.org/t",
      "", Vocab.xsdString, "-")),
      s"template @property without @content must be an empty literal, got $got2")
    // @about/@typeof on the template node itself also process
    val got3 = triples(
      """<div prefix="ex: http://ex.org/">
        |<template about="#t" typeof="ex:T"></template>
        |</div>""".stripMargin)
    assert(got3.contains(("https://example.org/page#t", Vocab.rdfType,
      "http://ex.org/T", "-", "-")))
  }

  test("inline SVG in a property subtree keeps its case in the rdf:HTML literal") {
    // jsdom preserves SVG tag/attribute casing (foreignObject, viewBox)
    // and namespace, so the externalized rdf:HTML innerHTML literal must
    // carry the case-adjusted serialization with explicit end tags
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/ prov: http://www.w3.org/ns/prov#">
        |<div property="ex:content" datatype="rdf:HTML">before<svg viewbox="0 0 4 4"><path d="M0 0"/><foreignobject><p>inside</p></foreignobject></svg>after</div>
        |</div>""".stripMargin)
    val lit = got.find(_._2 == "http://ex.org/content").map(_._3)
    assert(lit.exists(_.contains(
      """<svg viewBox="0 0 4 4"><path d="M0 0"></path><foreignObject><p>inside</p></foreignObject></svg>""")),
      s"innerHTML literal lost SVG casing: $lit")
    // and the SVG text still contributes to an ordinary text literal
    val got2 = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<span property="ex:p">a<svg><text>b</text></svg>c</span>
        |</div>""".stripMargin)
    assert(got2.exists(t => t._2 == "http://ex.org/p" && t._3 == "abc"),
      s"got $got2")
  }

  test("optgroup does not close an open optgroup in body (only a current option pops)") {
    val got = triples(
      """<div about="#d" prefix="ex: http://ex.org/">
        |<optgroup property="ex:o">x<optgroup>y</optgroup></optgroup>
        |</div>""".stripMargin)
    val lit = got.find(_._2 == "http://ex.org/o").map(_._3)
    assert(lit.exists(v => v.contains("x") && v.contains("y")),
      s"in-body optgroup must nest, got $lit")
  }
}
