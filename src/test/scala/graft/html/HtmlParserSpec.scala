package graft.html

import org.scalatest.funsuite.AnyFunSuite

class HtmlParserSpec extends AnyFunSuite {
  import HtmlParser._

  test("basic nesting and attributes") {
    val root = parse("""<div class="a" id=x><span data-v='1'>hi</span> there</div>""")
    val div = root.children.head.asInstanceOf[Element]
    assert(div.tag == "div")
    assert(div.attrs == Map("class" -> "a", "id" -> "x"))
    val span = div.children.head.asInstanceOf[Element]
    assert(span.attrs == Map("data-v" -> "1"))
    assert(div.text == "hi there")
  }

  test("void and self-closing elements don't swallow siblings") {
    val root = parse("""<p>a<br>b<img src="x"/>c</p>""")
    val p = root.children.head.asInstanceOf[Element]
    assert(p.text == "abc")
    assert(p.children.count(_.isInstanceOf[Element]) == 2)
  }

  test("comments, doctype and processing instructions are dropped") {
    val root = parse("<!DOCTYPE html><!-- x --><html><?pi?><b>t</b></html>")
    assert(root.text == "t")
  }

  test("entities decode in text and attributes") {
    val root = parse("""<a title="a&amp;b &#233; &#x20AC;">x &lt;tag&gt; &eacute;</a>""")
    val a = root.children.head.asInstanceOf[Element]
    assert(a.attrs("title") == "a&b é €")
    assert(a.text == "x <tag> é")
  }

  test("C1 numeric references take the windows-1252 remap (WHATWG)") {
    // scraped CMS text is full of &#145;-&#151; smart punctuation
    val root = parse("<p>it&#146;s &#147;q&#148; &#150; &#133;</p>")
    assert(root.text == "it’s “q” – …")
  }

  test("NUL, surrogate and beyond-Unicode numeric references decode to U+FFFD") {
    val root = parse("<p>&#0;|&#xD800;|&#x110000;|&#9999999;|&#99999999999999999999;</p>")
    assert(root.text == "�|�|�|�|�")
  }

  test("named references beyond the local subset resolve via the HTML4 table") {
    val root = parse("<p>ge&euml;xtraheerd &iuml; &alpha;&hearts; &bogus;</p>")
    // &bogus; stays literal (unknown name, and no legacy prefix)
    assert(root.text == "geëxtraheerd ï α♥ &bogus;")
  }

  test("semicolon-less references: numerics always decode, legacy names decode in text") {
    // WHATWG missing-semicolon rules: "&#65x" is "Ax"; "&copy 2023" is
    // "© 2023"; "&notit;" takes the longest legacy prefix ("¬it;");
    // non-legacy names need the semicolon ("&alpha" stays)
    val root = parse("<p>&#x41&#66x &copy 2023 &notit; &alpha &ampx</p>")
    assert(root.text == "ABx © 2023 ¬it; &alpha &x")
  }

  test("attribute suppression: a legacy name followed by = or alphanumeric stays literal") {
    val root = parse("""<a href="?a=1&copy=2&copyx&copy." title="&#65x">x</a>""")
    val a = root.children.head.asInstanceOf[Element]
    // &copy= and &copyx suppressed (URL params survive); &copy. decodes;
    // numerics decode in attributes regardless
    assert(a.attrs("href") == "?a=1&copy=2&copyx©.")
    assert(a.attrs("title") == "Ax")
  }

  test("abrupt and incorrectly-closed comments end where WHATWG ends them") {
    // "<!-->" / "<!--->" are complete empty comments (not a scan to the
    // next "-->", which would swallow the document); "--!>" terminates
    assert(parse("<p>a<!-->b</p>").text == "ab")
    assert(parse("<p>a<!--->b</p>").text == "ab")
    assert(parse("<p>a<!--x--!>b</p>").text == "ab")
    assert(parse("<p>a<!--x--!>b-->c</p>").text == "ab-->c")
    assert(parse("<p>a<!--never closed").text == "a")
  }

  test("raw NULs vanish from body text but map to U+FFFD in raw text") {
    assert(parse("<p>a\u0000b</p>").text == "ab")
    val root = parse("<body><script>x\u0000y</script></body>")
    var scriptText = ""
    HtmlParser.walk(root) { e => if (e.tag == "script") scriptText = e.text }
    assert(scriptText == "x\ufffdy")
  }

  test("CRLF and lone CR normalize to LF before tokenization (input preprocessing)") {
    val root = parse("<p>a\r\nb\rc</p>")
    assert(root.text == "a\nb\nc")
    val a = parse("<a title=\"x\r\ny\">t</a>").children.head.asInstanceOf[Element]
    assert(a.attrs("title") == "x\ny")
  }

  test("tag names run to whitespace, '/' or '>' — not just letters (WHATWG tag-name state)") {
    // legacy Word exports are full of namespaced <o:p> tags; jsdom keeps
    // the whole name — a letters-only scan would split <foo_bar> into
    // an element "foo" with a junk attribute and change innerHTML bytes
    assert(flat("<o:p>x</o:p>") == "<o:p>x</o:p>")
    assert(flat("<foo_bar a=1>x</foo_bar>") == "<foo_bar a=\"1\">x</foo_bar>")
    assert(flat("<x.y>x</x.y>") == "<x.y>x</x.y>")
    assert(flat("<b{c}>x</b{c}>") == "<b{c}>x</b{c}>")
    // the fold is ASCII-only: A-Z lowercases, non-ASCII stays verbatim
    // (Locale.ROOT would map É to é and change the name)
    assert(flat("<xÉY>t</xÉy>") == "<xÉy>t</xÉy>")
    assert(flat("<DIV CLASS=a>x</DIV>") == "<div class=\"a\">x</div>")
    // U+000B is NOT tokenizer whitespace: it joins the tag name
    assert(flat("<a\u000bb>x") == "<a\u000bb>x</a\u000bb>")
  }

  test("a '<' before a non-letter is literal text, not a tag") {
    assert(parse("<p>i <3 u < 5></p>").text == "i <3 u < 5>")
  }

  test("end-tag names run to whitespace or '/'; non-letter end tags are bogus comments") {
    // "</div foo>" still closes the div (attr junk ignored); "</ div>"
    // and "</3>" are bogus comments and close NOTHING
    val a = parse("<div><b>x</div foo>y")
    assert(a.children.map(_.text) == Vector("x", "y"))
    val b = parse("<div>x</ div>y</div>z")
    assert(b.children.head.text == "xy" && b.text == "xyz")
    assert(parse("<p>a</3>b</p>").text == "ab")
  }

  test("self-closing syntax is ignored on non-void HTML elements (foreign content honors it)") {
    // spec: non-void-html-element-start-tag-with-trailing-solidus is a
    // parse error and the flag is DROPPED — jsdom nests '<o:p/>x' as
    // <o:p>x</o:p> (legacy Word exports write exactly that)
    assert(flat("<o:p/>x") == "<o:p>x</o:p>")
    assert(flat("<div/>x</div>y") == "<div>x</div>y")
    // the text states still engage on a self-closed tag
    assert(flat("<script/>a<b>") == "<script>a<b></script>")
    assert(flat("<title/>a<b>") == "<title>a&lt;b&gt;</title>")
    // in select: a self-closed option still opens and holds its text
    assert(flat("<select><option/>a</select>") ==
      "<select><option>a</option></select>")
    // voids are unchanged; foreign roots and foreign children DO honor
    // the flag (SVG/MathML syntax is real XML-ish self-closing)
    assert(flat("<br/>x") == "<br>x")
    assert(flat("<svg/>x") == "<svg></svg>x")
    assert(flat("<svg><circle/><rect/></svg>") ==
      "<svg><circle></circle><rect></rect></svg>")
  }

  test("in select, ignored text-state tags do not switch the tokenizer") {
    // the in-select mode IGNORES style/title/xmp/plaintext start tags,
    // so the tokenizer must not enter their text states — a <style/>
    // with no end tag would otherwise swallow the options to EOF as
    // raw text (jsdom couples the switch to actual insertion)
    assert(flat("<select><style/>x<option>a</option></select>") ==
      "<select>x<option>a</option></select>")
    assert(flat("<select><title/>x<option>a</select>") ==
      "<select>x<option>a</option></select>")
    assert(flat("<select><plaintext>x<option>a</select>") ==
      "<select>x<option>a</option></select>")
    // script IS processed in select (in-head rules): raw text engages
    assert(flat("<select><script><option></script><option>a</select>") ==
      "<select><script><option></script><option>a</option></select>")
    // textarea POPS the select and reprocesses into body: RCDATA engages
    assert(flat("<select><textarea><option>a</textarea>") ==
      "<select></select><textarea>&lt;option&gt;a</textarea>")
  }

  test("uppercase legacy entity names decode with their semicolons (&AMP; is '&', not '&;')") {
    // the WHATWG table carries with-semicolon uppercase variants for
    // exactly six legacy names; matching only the semicolon-less form
    // would emit the value and leave a stray ';' behind
    assert(parse("<p>&AMP; &GT; &LT; &QUOT; &COPY; &REG;</p>").text ==
      "& > < \" © ®")
    // no other uppercase/mixed-case forms exist in the table
    assert(parse("<p>&TRADE; &CoPy; &Amp;</p>").text == "&TRADE; &CoPy; &Amp;")
  }

  test("end-tag attribute junk is consumed with the attribute states (quoted '>' protected)") {
    // jsdom swallows the whole end tag: a '>' inside a quoted attribute
    // value does not terminate it, and no '">' text leaks
    assert(flat("<div><b>x</div a=\">\">y") == "<div><b>x</b></div><b>y</b>")
    // eof inside the quoted value: the truncated end tag emits nothing
    // and swallows to EOF (WHATWG eof-in-tag)
    assert(flat("<div>x</div a=\"unterminated") == "<div>x</div>")
  }

  test("mismatched and stray end tags are tolerated") {
    val root = parse("<div><b>x</i>y</b>z</div><p>tail")
    assert(root.text == "xyztail")
  }

  test("script/style contents are raw text (no tag parsing inside)") {
    val root = parse("""<script>if (a<b) { x="</div>"; }</script><p>ok</p>""")
    assert(root.text.contains("ok"))
    assert(root.children.length == 2)
  }

  test("innerHtml round-trips structure") {
    val root = parse("<div><p>full <b>decision</b> body</p></div>")
    val div = root.children.head.asInstanceOf[Element]
    assert(div.innerHtml == "<p>full <b>decision</b> body</p>")
  }

  test("attributes re-serialize in source order, duplicates first-wins (jsdom parity)") {
    // >4 attributes: a hash Map would emit these in hash order
    val html = """<div e="5" d="4" c="3" b="2" a="1" f="6">x</div>"""
    val div = parse(html).children.head.asInstanceOf[Element]
    assert(graft.html.HtmlParser.render(div) ==
      """<div e="5" d="4" c="3" b="2" a="1" f="6">x</div>""")
    // duplicate attribute: first occurrence wins (HTML parsing spec)
    val dup = parse("""<p id="first" id="second">y</p>""")
      .children.head.asInstanceOf[Element]
    assert(dup.attr("id").contains("first"))
  }

  test("unclosed elements are finished at EOF") {
    val root = parse("<div><span>a<span>b")
    assert(root.text == "ab")
  }

  test("implied end tags: p/li/td siblings, innermost only") {
    // <p>a<p>b — the second p start tag closes the first (WHATWG)
    val ps = parse("<div><p>a<p>b</div>").children.head.asInstanceOf[Element]
    assert(ps.children.collect { case e: Element => (e.tag, e.text) } ==
      Vector(("p", "a"), ("p", "b")))
    // a block start tag (div/ul/h2) closes an open p; hr is void but closes too
    val blk = parse("<body><p>x<hr><ul><li>1<li>2</ul></body>")
      .children.head.asInstanceOf[Element]
    assert(blk.children.collect { case e: Element => e.tag } ==
      Vector("p", "hr", "ul"))
    val ul = blk.children.collect { case e: Element if e.tag == "ul" => e }.head
    assert(ul.children.collect { case e: Element => (e.tag, e.text) } ==
      Vector(("li", "1"), ("li", "2")))
    // table cells: <tr><td>a<td>b<tr><td>c (rows inside the
    // synthesized tbody since r19, like jsdom)
    val tbl = parse("<table><tr><td>a<td>b<tr><td>c</table>")
      .children.head.asInstanceOf[Element]
    val tb = tbl.children.collect { case e: Element if e.tag == "tbody" => e }.head
    val trs = tb.children.collect { case e: Element if e.tag == "tr" => e }
    assert(trs.map(_.children.collect { case e: Element => e.text }) ==
      Vector(Vector("a", "b"), Vector("c")))
    // well-nested documents are untouched: p inside blockquote inside p-less div
    val ok = parse("<div><blockquote><p>q</p></blockquote></div>")
    assert(ok.text == "q")
    // inline formatting does NOT close p (only the listed block tags do)
    val inline = parse("<div><p>a<b>c</b>d</p></div>").children.head.asInstanceOf[Element]
    assert(inline.children.collect { case e: Element => e.text } == Vector("acd"))
  }

  test("sibling-closing tags also close an innermost open p") {
    // <ul><li><p>a<li>b — WHATWG: the second li closes the p (button
    // scope) AND the first li, so the lis are siblings
    val ul = parse("<ul><li><p>a<li>b</ul>").children.head.asInstanceOf[Element]
    assert(ul.children.collect { case e: Element => (e.tag, e.text) } ==
      Vector(("li", "a"), ("li", "b")))
    // same for dt/dd and table cells/rows
    val dl = parse("<dl><dt><p>t<dd>d</dl>").children.head.asInstanceOf[Element]
    assert(dl.children.collect { case e: Element => (e.tag, e.text) } ==
      Vector(("dt", "t"), ("dd", "d")))
    val tbl = parse("<table><tr><td><p>a<td>b<tr><td>c</table>")
      .children.head.asInstanceOf[Element]
    val tb = tbl.children.collect { case e: Element if e.tag == "tbody" => e }.head
    val trs = tb.children.collect { case e: Element if e.tag == "tr" => e }
    assert(trs.map(_.children.collect { case e: Element => e.text }) ==
      Vector(Vector("a", "b"), Vector("c")))
  }

  test("the complete WHATWG button-scope list closes p: legacy and new members") {
    // center/dir are legacy government markup; dialog/search are the
    // newest members; listing/plaintext/xmp are obsolete but still on
    // the WHATWG "close a p element" path
    for (t <- Seq("center", "dialog", "dir", "search", "listing",
        "plaintext", "xmp")) {
      val d = parse(s"<div><p>a<$t>b</$t></div>").children.head.asInstanceOf[Element]
      // PLAINTEXT consumes to EOF — its end tag and the </div> are text
      val expectedText = if (t == "plaintext") "b</plaintext></div>" else "b"
      assert(d.children.collect { case e: Element => (e.tag, e.text) } ==
        Vector(("p", "a"), (t, expectedText)), s"<$t> must close an open p")
    }
  }

  test("table-structural starts clear back to table context") {
    // thead closes an open caption; tbody closes the open thead row
    // chain (th -> tr -> thead, one frame per tailrec re-check)
    val tbl = parse("<table><caption>cap<thead><tr><th>h1<tbody><tr><td>c1<td>c2</table>")
      .children.head.asInstanceOf[Element]
    val tops = tbl.children.collect { case e: Element => e.tag }
    assert(tops == Vector("caption", "thead", "tbody"), tops.mkString(","))
    val cap = tbl.children.collect { case e: Element if e.tag == "caption" => e }.head
    assert(cap.text == "cap", s"caption swallowed following content: '${cap.text}'")
    val thead = tbl.children.collect { case e: Element if e.tag == "thead" => e }.head
    assert(thead.text == "h1")
    val tbody = tbl.children.collect { case e: Element if e.tag == "tbody" => e }.head
    assert(tbody.children.collect { case e: Element => e.text } == Vector("c1c2"))
    // a sibling tfoot closes tbody; a second caption closes the first
    val t2 = parse("<table><tbody><tr><td>a<tfoot><tr><td>f</table>")
      .children.head.asInstanceOf[Element]
    assert(t2.children.collect { case e: Element => e.tag } ==
      Vector("tbody", "tfoot"))
    // td/th starts also close an open caption ("in caption" mode
    // exit); the sectionless row gets its synthesized tbody
    val t3 = parse("<table><caption>c<tr><td>x</table>")
      .children.head.asInstanceOf[Element]
    assert(t3.children.collect { case e: Element => (e.tag, e.text) } ==
      Vector(("caption", "c"), ("tbody", "x")))
  }

  test("rt/rp close their open sibling inside ruby") {
    val ruby = parse("<ruby>base<rt>read<rp>(<rt>again</ruby>")
      .children.head.asInstanceOf[Element]
    assert(ruby.children.collect { case e: Element => (e.tag, e.text) } ==
      Vector(("rt", "read"), ("rp", "("), ("rt", "again")))
  }

  test("foster parenting: stray text in a table is hoisted before it") {
    // WHATWG: non-whitespace character tokens at a table-structural
    // insertion point go BEFORE the table — so the table's own text
    // (what a <table property=…> literal extracts) excludes them
    val root = parse("<div><table>stray<tr><td>cell</table></div>")
    val div = root.children.head.asInstanceOf[Element]
    val kinds = div.children.map {
      case TextNode(t) => s"text:$t"
      case e: Element => s"el:${e.tag}"
      case other => s"other:$other"
    }
    assert(kinds == Vector("text:stray", "el:table"), kinds.mkString(","))
    val table = div.children.collect { case e: Element => e }.head
    assert(table.text == "cell", s"table text: '${table.text}'")
    // whitespace-only text stays inside the table (spec: "in table text")
    val ws = parse("<div><table> <tr><td>c</table></div>")
      .children.head.asInstanceOf[Element]
    assert(ws.children.collect { case e: Element => e }.head.tag == "table")
    assert(!ws.children.headOption.exists(_.isInstanceOf[Element] == false) ||
      ws.children.head.text.trim.isEmpty)
  }

  test("foster parenting: a non-table element is hoisted before the table") {
    val root = parse("<div><table><span>me</span><tr><td>cell</table></div>")
    val div = root.children.head.asInstanceOf[Element]
    assert(div.children.collect { case e: Element => e.tag } ==
      Vector("span", "table"))
    val table = div.children.collect { case e: Element => e }.last
    assert(table.text == "cell")
    // an UNCLOSED fostered element is closed by the next structural tag
    // and still lands before the table
    val root2 = parse("<div><table><b>x<tr><td>y</table></div>")
    val div2 = root2.children.head.asInstanceOf[Element]
    assert(div2.children.collect { case e: Element => (e.tag, e.text) } ==
      Vector(("b", "x"), ("table", "y")))
    // text inside a CELL is not a foster context
    val cellTable = parse("<table><tr><td>keep</table>")
      .children.head.asInstanceOf[Element]
    assert(cellTable.text == "keep")
  }

  test("a block start closes an open p in button scope, through inline elements") {
    // WHATWG close-a-p walks the stack: the second <p> pops the open <b>
    // and the first <p>, so "three" is NOT part of the first paragraph
    val root = parse("<div><p>one<b>two<p>three</div>")
    val div = root.children.head.asInstanceOf[Element]
    val ps = div.children.collect { case e: Element if e.tag == "p" => e.text }
    assert(ps == Vector("onetwo", "three"), ps.mkString("|"))
    // the walk stops at button-scope barriers: a div inside a <button>
    // must not close the paragraph the button sits in
    val t = parse("<p>a<button><div>x</div></button>b</p>")
      .children.collect { case e: Element if e.tag == "p" => e }.head
    assert(t.text == "axb", s"p closed across a button barrier: '${t.text}'")
    // li sibling walk crosses formatting but stops at special blocks
    val ul = parse("<ul><li>a<b>c<li>d</ul>")
      .children.head.asInstanceOf[Element]
    assert(ul.children.collect { case e: Element => e.text } == Vector("ac", "d"))
    val nested = parse("<ul><li>a<ol><li>b</ol>c</ul>")
      .children.head.asInstanceOf[Element]
    // the inner ol's li must not close the outer li (ol is a barrier)
    assert(nested.children.collect { case e: Element => e.text } == Vector("abc"))
  }

  test("table-structural starts clear back through non-structural tops") {
    // WHATWG "clear the stack back to a table context" pops EVERY
    // element down to the table — <tbody> arriving with a p open inside
    // a cell closes p, td and tr rather than nesting inside the p
    val tbl = parse("<table><tr><td><p>a<tbody><tr><td>b</table>")
      .children.head.asInstanceOf[Element]
    // the sectionless first row got a synthesized tbody; the explicit
    // <tbody> cleared back to the table and opened a SECOND one (jsdom)
    val tops = tbl.children.collect { case e: Element => e.tag }
    assert(tops == Vector("tbody", "tbody"), tops.mkString(","))
    val bodies = tbl.children.collect { case e: Element if e.tag == "tbody" => e }
    assert(bodies.map(_.text) == Vector("a", "b"))
    // a td with a span open deep in the previous cell closes the chain
    val t2 = parse("<table><tr><td><span><b>x<td>y</table>")
      .children.head.asInstanceOf[Element]
    val tr = t2.children.collect { case e: Element => e }.head
      .children.collect { case e: Element => e }.head
    assert(tr.children.collect { case e: Element => e.tag } == Vector("td", "td"))
  }

  private def flat(doc: String): String =
    parse(doc).children.map(render).mkString

  test("adoption agency: formatting element across a block boundary splits (WHATWG <b><p>)") {
    // the spec's motivating example: </b> with a <p> above it on the
    // stack re-nests — one <b> before the paragraph, a CLONE inside it,
    // and the tail text lands outside the clone
    assert(flat("<b>x<p>y</b>z") == "<b>x</b><p><b>y</b>z</p>")
    // the 1<b>2<i>3</b>4</i>5 classic: the inner <i> is split, the <b>
    // keeps the first half, the reconstructed <i> carries "4"
    assert(flat("<p>1<b>2<i>3</b>4</i>5") ==
      "<p>1<b>2<i>3</i></b><i>4</i>5</p>")
  }

  test("adoption agency: furthest-block children move into the clone") {
    // <button> is a special element: </b> clones b INSIDE the button,
    // wrapping the button's existing content; trailing text goes to the
    // button (the clone is closed by the second outer-loop iteration)
    assert(flat("<b><button>x</b>y") == "<b></b><button><b>x</b>y</button>")
    // <div> likewise; the div moves up beside the original b
    assert(flat("<b>1<div>2</b>3</div>") == "<b>1</b><div><b>2</b>3</div>")
  }

  test("active formatting reconstruction: a pending entry re-opens in the next block") {
    // the second <p> closes the first, popping the still-open <b>; the
    // b entry stays in the formatting list and reconstructs around "y"
    assert(flat("<p><b>x<p>y") == "<p><b>x</b></p><p><b>y</b></p>")
    // reconstruction also fires for text after a list-item close
    assert(flat("<ul><li><b>x<li>y") ==
      "<ul><li><b>x</b></li><li><b>y</b></li></ul>")
  }

  test("reconstruction never crosses a cell/caption marker") {
    // a STILL-OPEN b around a table needs no reconstruction — trailing
    // text lands in the original element
    assert(flat("<b><table><tr><td>x</td></tr></table>z") ==
      "<b><table><tbody><tr><td>x</td></tr></tbody></table>z</b>")
    // a PENDING b (popped by the second <p>'s scope walk) must NOT
    // reconstruct inside the cell — td pushes a formatting-list marker —
    // while text after the table reconstructs it again (the td close
    // cleared the list back to the marker, re-exposing the pending b).
    // With a doctype (standards mode) the table start closes the second p
    assert(flat("<!DOCTYPE html><p><b>u<p><table><tr><td>x</td></tr></table>z") ==
      "<p><b>u</b></p><p></p><table><tbody><tr><td>x</td></tr></tbody></table><b>z</b>")
    // doctype-less the page is QUIRKS (jsdom): the table stays INSIDE
    // the second paragraph; the marker rule is unchanged
    assert(flat("<p><b>u<p><table><tr><td>x</td></tr></table>z") ==
      "<p><b>u</b></p><p><table><tbody><tr><td>x</td></tr></tbody></table><b>z</b></p>")
  }

  test("nested <a> start closes the open one (in-body anchor rule)") {
    assert(flat("""<a href="1">x<a href="2">y""") ==
      """<a href="1">x</a><a href="2">y</a>""")
  }

  test("Noah's Ark: at most three identical formatting entries reconstruct") {
    // four identical pending <b> entries collapse to three clones
    val got = flat("<p><b><b><b><b>x<p>y")
    assert(got.endsWith("<p><b><b><b>y</b></b></b></p>"), got)
  }

  test("fostered formatting element stays usable after the table") {
    // the <b> opened at a table insertion point fosters BEFORE the
    // table; its text goes inside it, and the table parses on
    assert(flat("<table><b>x</table>") == "<b>x</b><table></table>")
  }

  test("SVG foreign content preserves case-adjusted names and explicit end tags") {
    // viewBox/foreignObject casing is restored from the adjust tables
    // (the tokenizer still lowercases — source casing is irrelevant),
    // self-closing works in foreign content, and serialization writes
    // explicit end tags, never the void form
    assert(flat("""<svg VIEWBOX="0 0 10 10"><path d="M0 0"/><ForeignObject><p>x</p></ForeignObject></svg>""") ==
      """<svg viewBox="0 0 10 10"><path d="M0 0"></path><foreignObject><p>x</p></foreignObject></svg>""")
    // clipPath + gradient names round-trip through render→reparse
    val doc = """<svg><clipPath clipPathUnits="userSpaceOnUse"><lineargradient gradientUnits="objectBoundingBox"></lineargradient></clipPath></svg>"""
    val once = flat(doc)
    assert(once.contains("<clipPath clipPathUnits=") &&
      once.contains("<linearGradient gradientUnits="), once)
    assert(flat(once) == once)
  }

  test("HTML breakout tags pop the foreign subtree") {
    // <div> is a breakout start tag: it closes the SVG content and
    // re-enters HTML mode as a sibling
    assert(flat("<svg><circle>a</circle><div>x</div></svg>") ==
      "<svg><circle>a</circle></svg><div>x</div>")
    // <font> breaks out only when it carries color/face/size
    assert(flat("<svg><font>y</font></svg>") == "<svg><font>y</font></svg>")
    assert(flat("""<svg><font color=red>y</font>""") ==
      """<svg></svg><font color="red">y</font>""")
  }

  test("foreignObject is an HTML integration point (HTML rules inside)") {
    // a table inside foreignObject is a real HTML table with its
    // structural recovery (tbody rules etc.), and a p closes normally
    val got = flat("<svg><foreignObject><p>a<p>b</foreignObject></svg>")
    assert(got == "<svg><foreignObject><p>a</p><p>b</p></foreignObject></svg>", got)
  }

  test("CDATA sections are character data in foreign content only") {
    // in SVG: raw text to ]]>, no entity decoding (the & re-escapes on
    // serialization); in HTML: a cdata-in-html-content BOGUS COMMENT —
    // browsers serialize '<![CDATA[x]]>' back as '<!--[CDATA[x]]-->'
    assert(flat("<svg><text><![CDATA[a & b <i>]]></text></svg>") ==
      "<svg><text>a &amp; b &lt;i&gt;</text></svg>")
    assert(flat("<p><![CDATA[gone]]>x</p>") == "<p><!--[CDATA[gone]]-->x</p>")
  }

  test("script inside SVG is not raw text (element children parse)") {
    assert(flat("<svg><script><circle/></script></svg>") ==
      "<svg><script><circle></circle></script></svg>")
    // while an HTML script stays raw
    assert(flat("<script><circle/></script>") == "<script><circle/></script>")
  }

  test("MathML text integration points and mglyph exception") {
    // inside <mi>, HTML rules apply (a span is an HTML element) except
    // mglyph/malignmark which stay MathML
    assert(flat("<math><mi><span>x</span><mglyph/></mi></math>") ==
      "<math><mi><span>x</span><mglyph></mglyph></mi></math>")
    // annotation-xml with encoding=text/html hosts HTML content
    assert(flat("""<math><annotation-xml encoding="text/html"><p>a<p>b</annotation-xml></math>""") ==
      """<math><annotation-xml encoding="text/html"><p>a</p><p>b</p></annotation-xml></math>""")
    // MathML's one attribute adjustment
    assert(flat("""<math><mrow definitionurl="u"></mrow></math>""") ==
      """<math><mrow definitionURL="u"></mrow></math>""")
  }

  test("title and textarea are RCDATA: text-only, entities decode, markup stays text") {
    val root = parse("<title>a &amp; <b> c</title><p>x</p>")
    val title = root.children.head.asInstanceOf[Element]
    assert(title.tag == "title" && title.children == Vector(TextNode("a & <b> c")))
    // serialization re-escapes (round-trips to the same text)
    assert(flat("<title>a &amp; <b> c</title>") == "<title>a &amp; &lt;b&gt; c</title>")
    // textarea likewise, and a leading newline is dropped per the spec
    assert(flat("<textarea>\nfoo <i>bar</textarea>") ==
      "<textarea>foo &lt;i&gt;bar</textarea>")
    // but an SVG <title> is an integration point and parses children
    val svg = parse("<svg><title><b>x</b></title></svg>")
      .children.head.asInstanceOf[Element]
    val st = svg.children.head.asInstanceOf[Element]
    assert(st.children.head.isInstanceOf[Element])
  }

  test("iframe/xmp/noembed/noframes are raw text like script/style") {
    assert(flat("<iframe><p>x</p></iframe>y") == "<iframe><p>x</p></iframe>y")
    assert(flat("<xmp>a <b> c</xmp>") == "<xmp>a <b> c</xmp>")
    val el = parse("<noembed><span>q</span></noembed>").children.head.asInstanceOf[Element]
    assert(el.children == Vector(TextNode("<span>q</span>")))
  }

  test("a leading newline after <pre>/<listing> is dropped; serialization compensates") {
    // the parser drops ONE leading LF; DOM text proves it
    def preText(doc: String) =
      parse(doc).children.head.asInstanceOf[Element].text
    assert(preText("<pre>\nkeep\nthis</pre>") == "keep\nthis")
    assert(preText("<pre>\n\nx</pre>") == "\nx")
    assert(preText("<pre>a\nb</pre>") == "a\nb")
    // the serializer re-adds an LF when the content STARTS with one
    // (spec rule — parse(render(x)) is then stable), so flat() shows
    // the compensated form
    assert(flat("<pre>\nkeep</pre>") == "<pre>keep</pre>")
    assert(flat("<pre>\n\nx</pre>") == "<pre>\n\nx</pre>")
    assert(flat(flat("<pre>\n\nx</pre>")) == "<pre>\n\nx</pre>")
  }

  test("stray </p> synthesizes an empty paragraph (in-body spec rule)") {
    assert(flat("a</p>b") == "a<p></p>b")
    // with a p actually open it closes normally, not doubly
    assert(flat("<p>a</p>b") == "<p>a</p>b")
    // inside a button (scope barrier) the outer p is out of reach
    assert(flat("<p><button>x</p>y") == "<p><button>x<p></p>y</button></p>")
  }

  test("</br> acts as a <br> start tag; <image> maps to img") {
    assert(flat("a</br>b") == "a<br>b")
    assert(flat("""<image src="x">""") == """<img src="x">""")
  }

  test("a heading end tag closes the nearest open heading of any rank") {
    assert(flat("<h1>x</h2>y") == "<h1>x</h1>y")
    assert(flat("<h3>a<span>b</h1>c") == "<h3>a<span>b</span></h3>c")
  }

  test("block end tags are scope-checked: a </div> inside a cell cannot reach outside") {
    // the td is a default-scope barrier — the stray </div> is IGNORED,
    // the table survives, and trailing text stays in the cell
    assert(flat("<div><table><tr><td>a</div>b</table></div>") ==
      "<div><table><tbody><tr><td>ab</td></tr></tbody></table></div>")
    // in-scope closes keep working, popping intervening elements
    assert(flat("<div><span>x</div>y") == "<div><span>x</span></div>y")
  }

  test("'any other' end tags are ignored past a special element (<span><div></span>)") {
    // node walk: div is special → the </span> token is ignored, the div
    // stays open and the tail lands INSIDE it (jsdom's tree)
    assert(flat("<span><div>x</span>y</div>") == "<span><div>xy</div></span>")
    // but a plain misnested inline close still pops through phrasing
    assert(flat("<span><x-widget>a</span>b") ==
      "<span><x-widget>a</x-widget></span>b")
  }

  test("</body> and </html> do not pop: trailing content stays inside the body") {
    val root = parse("<html><body><p>x</p></body><span>y</span></html>")
    val html = root.children.head.asInstanceOf[Element]
    val body = html.children.head.asInstanceOf[Element]
    assert(body.tag == "body" &&
      body.children.collect { case e: Element => e.tag } == Vector("p", "span"))
  }

  test("in-select mode: non-option start tags are ignored, closers close") {
    // a <div> inside a select is IGNORED (its text still inserts)
    assert(flat("<select><div>x</div><option>a</select>") ==
      "<select>x<option>a</option></select>")
    // option/optgroup pop their current siblings; hr is structural
    assert(flat("<select><option>a<option>b<optgroup label=g><option>c</select>") ==
      """<select><option>a</option><option>b</option><optgroup label="g"><option>c</option></optgroup></select>""")
    // a nested <select> start acts as </select>
    assert(flat("<select><option>a<select>z") ==
      "<select><option>a</option></select>z")
    // input closes the select and reprocesses as a normal void
    assert(flat("<select><option>a<input>") ==
      "<select><option>a</option></select><input>")
    // formatting does not reconstruct inside a select
    assert(flat("<p><b>x<p><select><option>y</select>") ==
      "<p><b>x</b></p><p><b><select><option>y</option></select></b></p>")
  }

  test("buttons never nest: a <button> start closes the open one") {
    assert(flat("<button>a<button>b</button>") ==
      "<button>a</button><button>b</button>")
  }

  test("form pointer: nested <form> ignored; </form> removes only the form node") {
    // the second <form> start is ignored outright while one is open
    assert(flat("""<form action="1">a<form action="2">b</form>""") ==
      """<form action="1">ab</form>""")
    // </form> removes exactly the form from the open stack — the div
    // stays OPEN and attached, trailing text lands inside it
    assert(flat("<form><div>a</form>b</div>") == "<form><div>ab</div></form>")
    // after a close, a new form may open again
    assert(flat("<form>a</form><form>b</form>") ==
      "<form>a</form><form>b</form>")
    // in-table <form> inserts WITHOUT pushing: the row keeps parsing at
    // the table context and the form sits empty in the structure
    assert(flat("<table><form><tr><td>x</table>") ==
      "<table><form></form><tbody><tr><td>x</td></tr></tbody></table>")
  }

  test("foreign end tags match foreign elements; namespaces recorded on the tree") {
    val root = parse("""<svg><g><rect/></g></svg><p>x</p>""")
    val svg = root.children.head.asInstanceOf[Element]
    assert(svg.ns == "svg")
    val g = svg.children.head.asInstanceOf[Element]
    assert(g.ns == "svg" &&
      g.children.head.asInstanceOf[Element].ns == "svg")
    val p = root.children(1).asInstanceOf[Element]
    assert(p.ns == "html")
  }

  test("</li> runs in LIST ITEM scope: a nested ul is a barrier") {
    // jsdom ignores the </li> (the ul blocks the walk), so "c" stays
    // inside the nested list — not hoisted past the li
    assert(flat("<ul><li>a<ul>b</li>c</ul></ul>") ==
      "<ul><li>a<ul>bc</ul></li></ul>")
    // ol is a barrier too
    assert(flat("<ol><li>a<ol>b</li>c</ol></ol>") ==
      "<ol><li>a<ol>bc</ol></li></ol>")
    // without an intervening list the close still works through
    // phrasing (and the popped <b> reconstructs around "c", spec)
    assert(flat("<ul><li>a<b>x</li>c</ul>") ==
      "<ul><li>a<b>x</b></li><b>c</b></ul>")
    // dd/dt stay on DEFAULT scope: a nested ul is NOT a barrier for them
    assert(flat("<dl><dd>a<ul>b</dd>c</dl>") ==
      "<dl><dd>a<ul>b</ul></dd>c</dl>")
  }

  test("form pointer persists after an implicit pop: later <form> still ignored") {
    // '<div><form></div>' pops the form implicitly WITHOUT clearing the
    // pointer (only </form> does) — jsdom ignores the next <form>
    assert(flat("""<div><form></div><form action="2">x""") ==
      "<div><form></form></div>x")
    // an explicit </form> clears the pointer even when the form was
    // already off the stack, so a third form opens normally
    assert(flat("<div><form></div></form><form>x</form>") ==
      "<div><form></form></div><form>x</form>")
  }

  test("in select in table: structural tags pop the select and reprocess") {
    // a <td> start inside '<table><tr><td><select>' closes the select
    // and opens the next cell (jsdom) instead of being dropped
    assert(flat("<table><tr><td><select><option>a<td>b</table>") ==
      "<table><tbody><tr><td><select><option>a</option></select></td><td>b</td></tr></tbody></table>")
    // <tr> likewise starts a new row
    assert(flat("<table><tr><td><select><tr><td>b</table>") ==
      "<table><tbody><tr><td><select></select></td></tr><tr><td>b</td></tr></tbody></table>")
    // </table> whose table is open below the select closes both
    assert(flat("<table><tr><td><select><option>a</table>z") ==
      "<table><tbody><tr><td><select><option>a</option></select></td></tr></tbody></table>z")
    // a select NOT inside a table keeps plain in-select behavior:
    // the structural tag is ignored
    assert(flat("<select><option>a<td>b</select>") ==
      "<select><option>ab</option></select>")
  }

  test("doctype classification: no-quirks / limited-quirks / quirks (WHATWG initial mode)") {
    import HtmlParser.classifyDoctype
    // the modern doctype and legacy-compat are standards mode
    assert(classifyDoctype("html", None, None, forceQuirks = false) == "no-quirks")
    assert(classifyDoctype("html", None, Some("about:legacy-compat"), false) == "no-quirks")
    // HTML 4.01 Strict / XHTML 1.0 Strict are standards mode
    assert(classifyDoctype("html", Some("-//W3C//DTD HTML 4.01//EN"),
      Some("http://www.w3.org/TR/html4/strict.dtd"), false) == "no-quirks")
    assert(classifyDoctype("html", Some("-//W3C//DTD XHTML 1.0 Strict//EN"),
      Some("http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd"), false) == "no-quirks")
    // force-quirks flag, wrong name, bare "HTML" public id
    assert(classifyDoctype("", None, None, forceQuirks = true) == "quirks")
    assert(classifyDoctype("math", None, None, false) == "quirks")
    assert(classifyDoctype("html", Some("HTML"), None, false) == "quirks")
    // the legacy prefix list, matched case-insensitively
    assert(classifyDoctype("html",
      Some("-//W3C//DTD HTML 3.2//EN"), None, false) == "quirks")
    assert(classifyDoctype("html",
      Some("-//IETF//DTD HTML 2.0//EN"), None, false) == "quirks")
    assert(classifyDoctype("html",
      Some("-//netscape comm. corp.//dtd html//en"), None, false) == "quirks")
    assert(classifyDoctype("html",
      Some("-//W3C//DTD HTML 4.0 Transitional//EN"), None, false) == "quirks")
    // the IBM system id
    assert(classifyDoctype("html", None,
      Some("http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd"),
      false) == "quirks")
    // HTML 4.01 Transitional/Frameset: quirks WITHOUT a system id,
    // limited-quirks WITH one
    assert(classifyDoctype("html",
      Some("-//W3C//DTD HTML 4.01 Transitional//EN"), None, false) == "quirks")
    assert(classifyDoctype("html",
      Some("-//W3C//DTD HTML 4.01 Transitional//EN"),
      Some("http://www.w3.org/TR/html4/loose.dtd"), false) == "limited-quirks")
    assert(classifyDoctype("html",
      Some("-//W3C//DTD HTML 4.01 Frameset//EN"), None, false) == "quirks")
    // XHTML 1.0 Transitional/Frameset are limited-quirks
    assert(classifyDoctype("html",
      Some("-//W3C//DTD XHTML 1.0 Transitional//EN"),
      Some("http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd"),
      false) == "limited-quirks")
  }

  test("quirks mode: <table> does not close an open p (doctype-gated)") {
    // NO doctype → quirks: the table nests INSIDE the annotated p
    assert(flat("<p>a<table><tbody><tr><td>x</td></tr></tbody></table>b</p>") ==
      "<p>a<table><tbody><tr><td>x</td></tr></tbody></table>b</p>")
    // modern doctype → standards: the table is hoisted past the p (and
    // the now-stray </p> synthesizes an empty paragraph, in-body rule)
    assert(flat("<!DOCTYPE html><p>a<table><tr><td>x</td></tr></table>b</p>") ==
      "<p>a</p><table><tbody><tr><td>x</td></tr></tbody></table>b<p></p>")
    // an ANCIENT doctype (HTML 3.2) → quirks again
    assert(flat("""<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 3.2//EN"><p>a<table><tr><td>x</td></tr></table>b""") ==
      "<p>a<table><tbody><tr><td>x</td></tr></tbody></table>b</p>")
    // limited-quirks parses like standards (the gate is FULL quirks only)
    assert(flat("""<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN" "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd"><p>a<table><tr><td>x</td></tr></table>b""") ==
      "<p>a</p><table><tbody><tr><td>x</td></tr></tbody></table>b")
    // only the FIRST doctype counts, and only before content: a late
    // ancient doctype cannot flip an already-standards document
    assert(flat("""<!DOCTYPE html><!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 3.2//EN"><p>a<table></table>b""") ==
      "<p>a</p><table></table>b")
    assert(flat("""x<!DOCTYPE html><p>a<table></table>b""") ==
      "x<p>a<table></table>b</p>")
    // whitespace and comments before the doctype do NOT lock in quirks
    // (the whitespace text itself stays at root — no before-html mode;
    // the comment is a real node now, like jsdom's pre-doctype comments)
    assert(flat("  <!-- c --> <!DOCTYPE html><p>a<table></table>b") ==
      "  <!-- c --> <p>a</p><table></table>b")
    // every other p-closing start tag is mode-independent: a quirks
    // <div> still closes the p
    assert(flat("<p>a<div>b</div>") == "<p>a</p><div>b</div>")
  }

  test("malformed doctypes force quirks; quoted ids survive embedded '>'") {
    // missing name
    assert(flat("<!DOCTYPE><p>a<table></table>b") ==
      "<p>a<table></table>b</p>")
    // junk keyword after the name
    assert(flat("<!DOCTYPE html BOGUS><p>a<table></table>b") ==
      "<p>a<table></table>b</p>")
    // PUBLIC with an unquoted id
    assert(flat("<!DOCTYPE html PUBLIC foo><p>a<table></table>b") ==
      "<p>a<table></table>b</p>")
    // a '>' INSIDE a quoted id ends the doctype per the tokenizer's
    // abrupt-system-identifier rule (force-quirks; the rest is text)
    assert(flat("""<!DOCTYPE html SYSTEM "about:legacy>compat"><p>a<table></table>b""") ==
      """compat"&gt;<p>a<table></table>b</p>""")
    // abrupt public id (closed by '>' instead of the quote) → quirks,
    // and the tag ends at that '>' so the content still parses
    assert(flat("""<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01//EN><p>a<table></table>b""") ==
      "<p>a<table></table>b</p>")
  }

  test("table section synthesis: sectionless rows get tbody, bare cells get tr, col gets colgroup") {
    // jsdom's innerHTML carries the synthesized sections — rdf:HTML
    // table literals must match byte-for-byte
    assert(flat("<table><tr><td>x</table>") ==
      "<table><tbody><tr><td>x</td></tr></tbody></table>")
    assert(flat("<table><td>x</table>") ==
      "<table><tbody><tr><td>x</td></tr></tbody></table>")
    assert(flat("<table><col><tr><td>x</table>") ==
      "<table><colgroup><col></colgroup><tbody><tr><td>x</td></tr></tbody></table>")
    // a bare td inside an explicit section synthesizes only the row
    assert(flat("<table><thead><td>h</table>") ==
      "<table><thead><tr><td>h</td></tr></thead></table>")
    // explicit sections are never doubled
    assert(flat("<table><tbody><tr><td>x</table>") ==
      "<table><tbody><tr><td>x</td></tr></tbody></table>")
  }

  test("keygen/basefont/bgsound are void; frame is void inside frameset, ignored outside") {
    // jsdom/parse5 serialize these with no end tag and no children
    assert(flat("<p><keygen>x") == "<p><keygen>x</p>")
    assert(flat("<p><basefont>x<bgsound>y") == "<p><basefont>x<bgsound>y</p>")
    // frame survives only inside an open frameset (in-frameset mode)
    assert(flat("""<frameset><frame src="a"><frame src="b"></frameset>""") ==
      """<frameset><frame src="a"><frame src="b"></frameset>""")
    assert(flat("<div><frame>x</div>") == "<div>x</div>")
  }

  test("script data escape states: a double-escaped </script> is literal text") {
    // the document.write('<script>…</script>') legacy pattern: after
    // <!-- a nested <script> enters DOUBLE-escaped state where
    // </script> is text; --> exits; only then does </script> close
    assert(flat("""<script><!-- document.write('<script src="x"></script>') --></script>after""") ==
      """<script><!-- document.write('<script src="x"></script>') --></script>after""")
    // singly-escaped (no nested <script>): </script> still closes
    assert(flat("""<script><!-- x --></script>t""") ==
      """<script><!-- x --></script>t""")
    assert(flat("""<script><!-- x = 1; </script>t""") ==
      """<script><!-- x = 1; </script>t""")
    // --> inside a string still exits the escaped state (the tokenizer
    // does not understand JS)
    assert(flat("""<script><!-- x = "-->"; </script>t""") ==
      """<script><!-- x = "-->"; </script>t""")
  }

  test("EOF-unclosed raw-text and RCDATA elements capture everything to EOF") {
    // the RAWTEXT/RCDATA states run to EOF when the end tag never
    // comes (spec/jsdom); previously the tail re-entered markup
    // parsing, nesting elements inside script/style that the raw
    // serializer then silently dropped
    assert(flat("<script>if (a<b) x") == "<script>if (a<b) x</script>")
    assert(flat("<style>.a{} <p>q") == "<style>.a{} <p>q</style>")
    // RCDATA decodes on parse and re-escapes on serialization
    assert(flat("<title>abc <b>x") == "<title>abc &lt;b&gt;x</title>")
    assert(flat("<textarea>t &amp; <i>y") ==
      "<textarea>t &amp; &lt;i&gt;y</textarea>")
  }

  test("in-table: style/script/template and hidden inputs stay inside the table") {
    // the in-table mode processes these via in-head rules (no foster);
    // jsdom's innerHTML shows them inside the table
    assert(flat("<table><style>.a{}</style><tr><td>c</table>") ==
      "<table><style>.a{}</style><tbody><tr><td>c</td></tr></tbody></table>")
    assert(flat("""<table><input type="hidden" name="n"><tr><td>c</table>""") ==
      """<table><input type="hidden" name="n"><tbody><tr><td>c</td></tr></tbody></table>""")
    // a NON-hidden input is anything-else content and still fosters
    assert(flat("""<table><input type="text"><tr><td>c</table>""") ==
      """<input type="text"><table><tbody><tr><td>c</td></tr></tbody></table>""")
  }

  test("stray table-structural tags outside a table are ignored (in-body rule)") {
    // jsdom: '<div><td>x' keeps only the text; same for tr/tbody/caption
    assert(flat("<div><td>x</td></div>") == "<div>x</div>")
    assert(flat("<div><tr>x</tr>y</div>") == "<div>xy</div>")
    assert(flat("<p>a<tbody>b") == "<p>ab</p>")
    assert(flat("<span><caption>c</caption>d</span>") == "<span>cd</span>")
    assert(flat("<div><col>x</div>") == "<div>x</div>")
    // inside a template the structural tags survive (template content
    // may legally hold table fragments)
    assert(flat("<template><tr><td>x</td></tr></template>") ==
      "<template><tr><td>x</td></tr></template>")
  }

  test("PLAINTEXT state: everything after <plaintext> is character data to EOF") {
    // no end tag exists — '</plaintext>' is literal text (jsdom)
    val root = parse("<p>a<plaintext>rest <of> file</plaintext>x")
    val kids = root.children.collect { case e: Element => e }
    assert(kids.map(_.tag) == Vector("p", "plaintext"))
    // the plaintext start closes the open p first (closesP family)
    assert(kids(0).text == "a")
    assert(kids(1).text == "rest <of> file</plaintext>x")
    // entities do NOT decode in PLAINTEXT
    assert(parse("<plaintext>&amp;").children.head.asInstanceOf[Element]
      .text == "&amp;")
    // serialization emits the text raw (spec's serialize algorithm;
    // the spec itself notes plaintext output can't always re-parse)
    assert(flat("<plaintext>a<b") == "<plaintext>a<b</plaintext>")
  }

  test("RCDATA/RAWTEXT text never reconstructs formatting (WHATWG text mode)") {
    // the HtmlFuzzSpec fixpoint counterexample: on reparse, <ul> closes
    // the p (and the s inside it) while s stays in the active formatting
    // list; the title's text must not clone s INSIDE the title, which no
    // serialization can express
    val once = flat("<p><s><table><ul><title>>")
    assert(once == "<p><s><ul><title>&gt;</title></ul><table></table></s></p>")
    val twice = flat(once)
    assert(twice ==
      "<p><s></s></p><ul><title>&gt;</title></ul><table></table><p></p>")
    assert(flat(twice) == twice)
    // RAWTEXT keeps its text, RCDATA gets no clone; body text still
    // reconstructs
    assert(flat("<p><s></p><style>x</style><textarea>y</textarea>z") ==
      "<p><s></s></p><style>x</style><textarea>y</textarea><s>z</s>")
  }

  test("<body>/<html> below document level merge-and-ignore (jsdom never nests a body)") {
    // the r19 fixpoint hunt's counterexample: a <body> built inside an
    // SVG integration point never re-converged (</body> is no-pop, the
    // special-rank body blocked </title>/</svg>, and each reparse
    // synthesized another stray <p></p>) — now the token is ignored
    assert(flat("<p><svg><title><body>x") ==
      "<p><svg><title>x</title></svg></p>")
    // same for <html> (its end tag shares the no-pop rule)
    assert(flat("<p><math><mi><html>x") ==
      "<p><math><mi>x</mi></math></p>")
    // a deeper <body> merges NEW attributes into the open wrapper
    val root = parse("""<body class="a"><p>x<body class="b" id="c">y""")
    val body = root.children.head.asInstanceOf[Element]
    assert(body.tag == "body" &&
      body.attrs == Map("class" -> "a", "id" -> "c"))
    // and y continues at the ignored token's insertion point (the p)
    assert(body.children.head.asInstanceOf[Element].text == "xy")
    // document-level wrappers still build normally (typeof-on-body)
    val r2 = parse("""<html><body typeof="x:T"><b>t</b></body></html>""")
    val html = r2.children.head.asInstanceOf[Element]
    assert(html.tag == "html")
    val b2 = html.children.head.asInstanceOf[Element]
    assert(b2.tag == "body" && b2.attrs == Map("typeof" -> "x:T"))
  }

  test("adoption agency no-AFE-entry fallback ignores across special barriers") {
    // Noah's Ark caps identical AFE entries at 3: the fourth <b>
    // evicts the first from the list but it stays on the stack; after
    // a <div>, the fourth </b> finds no AFE entry and must NOT pop
    // through the div (jsdom ignores it)
    val doc = "<b>1<b>2<b>3<b>4<div>x</b></b></b></b>y"
    val r = flat(doc)
    // the div must still be open when "y" arrives: y inside the div
    assert(r.contains("y</div>") || r.matches(".*<div>.*y.*</div>.*"),
      s"div closed early: $r")
  }

  test("serializer escaping matches the replace-chain reference semantics") {
    // the StringBuilder fast paths (escapeTextTo/escapeAttrTo) must be
    // byte-equivalent to the straightforward replace chains they
    // replaced — property-checked over adversarial strings (escapes at
    // ends, runs of escapes, empty, no-escape fast path)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val charGen = Gen.frequency(
      (3, Gen.oneOf('&', '<', '>', '"', '\'', '\u00a0')),
      (3, Gen.alphaNumChar), (1, Gen.oneOf(' ', '\n', 'é')))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val prop = Prop.forAll(strGen) { s =>
      val text = HtmlParser.render(HtmlParser.TextNode(s))
      val textRef = s.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;").replace("\u00a0", "&nbsp;")
      val attr = HtmlParser.render(
        HtmlParser.Element("i", Map("a" -> s), Vector.empty))
      val attrRef = "<i a=\"" +
        s.replace("&", "&amp;").replace("\"", "&quot;")
          .replace("\u00a0", "&nbsp;") + "\"></i>"
      text == textRef && attr == attrRef
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("U+00A0 serializes as &nbsp; in text and attribute values (WHATWG escaping)") {
    // jsdom's innerHTML re-emits every NBSP as &nbsp; — legacy CMS
    // markup is full of them, so rdf:HTML literal bytes depend on it
    assert(flat("<p>a\u00a0b</p>") == "<p>a&nbsp;b</p>")
    assert(flat("<p>a&nbsp;b</p>") == "<p>a&nbsp;b</p>") // round trip
    assert(flat("<p title=\"a\u00a0b\">x</p>") ==
      "<p title=\"a&nbsp;b\">x</p>")
    // textContent still carries the real character, not the entity
    assert(parse("<p>a&nbsp;b</p>").text == "a\u00a0b")
    // raw-text contents stay raw: no entity decoding, no re-escaping
    assert(flat("<style>a\u00a0b</style>") == "<style>a\u00a0b</style>")
  }

  test("comments are real nodes: preserved by innerHTML, invisible to text") {
    // jsdom keeps comments in innerHTML (so rdf:HTML literals carry
    // them) while textContent skips them
    val root = parse("<div>a<!-- c -->b</div>")
    val div = root.children.head.asInstanceOf[Element]
    assert(div.innerHtml == "a<!-- c -->b", div.innerHtml)
    assert(div.text == "ab", div.text)
    // in-table comments are NOT foster-parented (the in-table mode
    // inserts comments at the current node, unlike character tokens)
    assert(flat("<table><!--c--><tr><td>y") ==
      "<table><!--c--><tbody><tr><td>y</td></tr></tbody></table>")
    // a comment between <pre> and the newline spends the leading-LF
    // rule: the LF is no longer "the next token", so it survives
    assert(flat("<pre><!--c-->\nx</pre>") == "<pre><!--c-->\nx</pre>")
    // abrupt and incorrectly-closed endings keep their data extents
    assert(flat("<!-->x") == "<!---->x")
    assert(flat("<!--a--!>b") == "<!--a-->b")
    // eof-in-comment EMITS the comment with the data so far
    assert(flat("x<!-- tail") == "x<!-- tail-->")
  }

  test("bogus comments serialize with the spec's data extents") {
    // "<?" reconsumes the '?' into the data; "<!" starts past the bang;
    // a non-letter end tag reconsumes its first char; "</>" is
    // missing-end-tag-name and vanishes without a comment
    assert(flat("<?php x?>") == "<!--?php x?-->")
    assert(flat("<!foo>") == "<!--foo-->")
    assert(flat("</3>x") == "<!--3-->x")
    assert(flat("</ div>x") == "<!-- div-->x")
    assert(flat("</>x") == "x")
    // cdata-in-html-content is one of these: data keeps the brackets
    assert(flat("<p><![CDATA[q]]>r") == "<p><!--[CDATA[q]]-->r</p>")
    // a comment BEFORE the doctype neither locks quirks nor vanishes
    assert(flat("<!--pre--><!DOCTYPE html><p>a<table></table>") ==
      "<!--pre--><p>a</p><table></table>")
  }

  test("eof-in-tag drops the truncated tag (WHATWG tokenizer)") {
    // a page cut off mid-tag yields NO element — jsdom's tokenizer
    // emits nothing for a tag interrupted by EOF, in any tag state
    assert(flat("a<div") == "a")
    assert(flat("a<div ") == "a")
    assert(flat("a<div foo") == "a")
    assert(flat("a<div foo=\"bar") == "a")
    assert(flat("a<div foo='bar") == "a")
    assert(flat("a<div foo=bar") == "a")
    assert(flat("a<div/") == "a")
    assert(flat("a</div") == "a")
    // eof-before-tag-name: a bare "</" at EOF is TEXT
    assert(flat("a</") == "a&lt;/")
    // and a truncated raw-text START tag never enters raw-text state
    assert(flat("a<script") == "a")
  }

  test("a heading start tag pops a current heading: h1-h6 never nest") {
    assert(flat("<h1>a<h2>b") == "<h1>a</h1><h2>b</h2>")
    assert(flat("<h3>a<h3>b</h3>") == "<h3>a</h3><h3>b</h3>")
    // only the CURRENT node is checked — a heading deeper in the stack
    // does not close (no scope walk on the start-tag side)
    assert(flat("<h1>a<span><h2>b") == "<h1>a<span><h2>b</h2></span></h1>")
  }

  test("a leading '=' joins the attribute name (<div =x> has attr \"=x\")") {
    val root = parse("<div =x>y</div>")
    val div = root.children.head.asInstanceOf[Element]
    assert(div.attrs == Map("=x" -> ""), div.attrs.toString)
  }

  test("raw-text/RCDATA end tags need a name boundary; near-matches are text") {
    // "</titlex>" inside a <title> is literal text (the end-tag-name
    // state only terminates on whitespace, '/' or '>' after the name);
    // same for script/style; a terminator cut off by EOF never closes
    assert(flat("<title>a</titlex>b</title>c") ==
      "<title>a&lt;/titlex&gt;b</title>c")
    assert(flat("<script>a</scriptx>b</script>c") ==
      "<script>a</scriptx>b</script>c")
    assert(flat("<title>a</title") == "<title>a&lt;/title</title>")
    // boundary variants that DO close: "</style/>" and "</title foo>"
    assert(flat("<style>a</style/>x") == "<style>a</style>x")
    assert(flat("<title>t</title foo=1>u") == "<title>t</title>u")
    // "<scripty>" while escaped does not enter double-escaping, so the
    // first real "</script>" still closes
    assert(flat("<script><!--<scripty></script>x") ==
      "<script><!--<scripty></script>x")
    // the textarea leading-LF drop applies to the DECODED token:
    // "&#10;" is a U+000A character token and drops like a literal LF
    assert(flat("<textarea>&#10;x</textarea>") == "<textarea>x</textarea>")
    assert(flat("<textarea>\nx</textarea>") == "<textarea>x</textarea>")
  }

  test("in column group: anything but col/template acts as </colgroup>") {
    // the spec's anything-else branch: the colgroup pops and the token
    // reprocesses in table — text fosters (its whitespace prefix stays
    // inside the colgroup), a later <col> synthesizes a NEW colgroup
    assert(flat("<table><colgroup>x<col>") ==
      "x<table><colgroup></colgroup><colgroup><col></colgroup></table>")
    assert(flat("<table><colgroup><div>y") ==
      "<div>y</div><table><colgroup></colgroup></table>")
    assert(flat("<table><colgroup>  <col>z") ==
      "z<table><colgroup>  <col></colgroup></table>")
    // col and template stay inside (template via the in-head rules)
    assert(flat("<table><colgroup><template><td>t</template><col>") ==
      "<table><colgroup><template><td>t</td></template><col></colgroup></table>")
  }

  test("in table text batches a split character run before deciding to foster") {
    // WHATWG 13.2.6.4.10 collects character tokens until the next
    // NON-character token and fosters the WHOLE batch if any character
    // is non-whitespace. The tokenizer can split one spec-level run
    // into several Text tokens — a stray '<' before a non-letter emits
    // its own "<" token — and a per-token walk would wrongly leave the
    // leading whitespace inside the table. jsdom (parse5) fosters
    // "  <3" wholly before the table:
    assert(flat("<table>  <3<tr><td>c</table>") ==
      "  &lt;3<table><tbody><tr><td>c</td></tr></tbody></table>")
    // an ignored '</>' stub emits NO character token in the spec, so it
    // does not end the batch either — "  x" fosters as one run
    assert(flat("<table>  </>x<tr><td>c</table>") ==
      "  x<table><tbody><tr><td>c</td></tr></tbody></table>")
    // a comment IS a non-character token: it flushes the pending
    // whitespace-only batch IN the table, then "x" starts a new run
    assert(flat("<table> <!--c-->x<tr><td>d</table>") ==
      "x<table> <!--c--><tbody><tr><td>d</td></tr></tbody></table>")
    // HTML whitespace is exactly TAB/LF/FF/CR/SPACE: U+000B (vertical
    // tab) is a NON-whitespace character and forces fostering (a
    // String.trim-based check would wrongly keep it in the table)
    assert(flat("<table>\u000b<tr><td>e</table>") ==
      "\u000b<table><tbody><tr><td>e</td></tr></tbody></table>")
    // end of input flushes the batch too
    assert(flat("<table>  <3") == "  &lt;3<table></table>")
  }

  test("template is a barrier for every table clear-back and for fostering") {
    // a <td> inside a template that sits in an outer table's cell stays
    // INSIDE the template (the clear-back-to-row-context loop stops at
    // template), like jsdom's template.content
    assert(flat("<table><td><template><td>t</template>") ==
      "<table><tbody><tr><td><template><td>t</td></template></td></tr></tbody></table>")
    // a <table> inside template content never acts as </table> for the
    // outer table (template is a table-scope barrier)
    assert(flat("<table><td><template><table><td>x</table></template>z") ==
      "<table><tbody><tr><td><template><table><tbody><tr><td>x</td></tr>" +
        "</tbody></table></template>z</td></tr></tbody></table>")
    // the LAST-TEMPLATE foster rule: content at a table-structural point
    // inside a template appends into the template's contents — it never
    // hoists out past the template to before the outer table
    assert(flat("<table><td>a<template><tr>r</template>b") ==
      "<table><tbody><tr><td>a<template><tr></tr>r</template>b</td></tr></tbody></table>")
  }

  test("adoption agency x foster parenting: the html5lib table classics") {
    // <table><b>: the b fosters before the table; "bbb" reconstructs a
    // SECOND b (the cell marker severed the first); </table> then "ccc"
    // reconstructs a third — three sibling <b>s, exactly one non-empty
    assert(flat("<table><b><tr><td>aaa</td></tr>bbb</table>ccc") ==
      "<b></b><b>bbb</b><table><tbody><tr><td>aaa</td></tr></tbody></table><b>ccc</b>")
    // nested <a> in a table: the second <a> runs the in-body duplicate-a
    // adoption INSIDE the fostered position, and after </table> the
    // still-listed second entry reconstructs around "x"
    assert(flat("""<a href="a">a<table><a href="b">b</table>x""") ==
      """<a href="a">a<a href="b">b</a><table></table></a><a href="b">x</a>""")
    // fostered <a> then fostered <p>: the duplicate-a rule closes the
    // first before the paragraph's clone opens, and "3" follows the
    // clone inside the p
    assert(flat("<table><a>1<p>2</a>3</p>") ==
      "<a>1</a><p><a>2</a>3</p><table></table>")
    // triple-formatting split across an explicit </p>: each element
    // re-nests one level out as the adoption agency unwinds
    assert(flat("""<p>1<s id="A">2<b id="B">3</p>4</s>5</b>6""") ==
      """<p>1<s id="A">2<b id="B">3</b></s></p>""" +
        """<s id="A"><b id="B">4</b></s><b id="B">5</b>6""")
  }

  test("in select: unknown start tags are ignored, their text content stays") {
    // the spec's in-select anything-else branch ignores the <div> tokens
    // entirely; the character tokens between them still insert
    assert(flat("<select>a<div>b</div>c</select>d") == "<select>abc</select>d")
  }

  test("foreign content fosters out of tables like any non-table element") {
    // an <svg> at an in-table insertion point hoists before the table,
    // and its subtree parses in the foreign namespace at the new spot
    assert(flat("<table><svg><circle>y</svg></table>") ==
      "<svg><circle>y</circle></svg><table></table>")
    // same from in-row; <td> is NOT on the breakout list, so it becomes
    // an svg:td inside the fostered island rather than a table cell
    val r = parse("<table><tr><svg><td>z")
    val tops = r.children.collect { case e: Element => (e.ns, e.tag) }
    assert(tops == Vector(("svg", "svg"), ("html", "table")), tops.mkString(","))
    assert(flat("<table><tr><svg><td>z") ==
      "<svg><td>z</td></svg><table><tbody><tr></tr></tbody></table>")
  }

  test("SVG a carries the xlink:href attribute adjustment") {
    val svg = parse("""<svg><a xlink:href="u">t</a></svg>""")
      .children.head.asInstanceOf[Element]
    val a = svg.children.head.asInstanceOf[Element]
    assert(a.ns == "svg" && a.attrs == Map("xlink:href" -> "u"))
    assert(flat("""<svg><a xlink:href="u">t</a></svg>""") ==
      """<svg><a xlink:href="u">t</a></svg>""")
  }

  test("in select: </optgroup> without an optgroup is ignored; a table-fostered select still pops for cells") {
    // the spec's </optgroup> branch pops only when the node above the
    // current option IS an optgroup — above a bare option sits the
    // select, so the end tag is ignored and text continues in the option
    assert(flat("<select><option>a</optgroup>b") ==
      "<select><option>ab</option></select>")
    // a <select> at an in-table insertion point fosters before the
    // table like any non-table element, and the in-select-in-table rule
    // still fires at the NEW location: <td> pops the fostered select
    // and reprocesses as a cell
    assert(flat("<table><select><option>o<td>c") ==
      "<select><option>o</option></select><table><tbody><tr><td>c</td></tr></tbody></table>")
  }

  test("noscript parses its children (scripting-disabled parity with jsdom)") {
    // jsdom runs with scripting off by default — the reference therefore
    // sees noscript CONTENT as elements, and so do we
    assert(flat("<noscript><b>x</b></noscript>") == "<noscript><b>x</b></noscript>")
    val el = parse("<noscript><b>x</b></noscript>").children.head.asInstanceOf[Element]
    assert(el.children.head.isInstanceOf[Element])
  }
}
