package graft.html

import scala.collection.mutable

/** Minimal, tolerant HTML parser — tokenizer + tree builder, no external
  * dependencies (the environment is intentionally offline; the reference
  * leans on jsdom, lib/rdfa-extractor.js:72-74, which we replace with ~200
  * lines sufficient for the RDFa attribute walk).
  *
  * Supported: nested elements, attributes (double/single/unquoted/bare),
  * comments (including WHATWG's abrupt "<!-->" and "--!>" endings),
  * doctype/processing instructions, void elements, self-closing syntax,
  * raw-text elements (script/style, serialized raw), CRLF input
  * normalization, character references per the spec's tokenizer — the
  * HTML4 named table, the legacy semicolon-less set with attribute
  * suppression, and numeric refs with the windows-1252 C1 remap and
  * U+FFFD fallbacks — mismatched end tags (closed by popping to the
  * nearest matching open element, else ignored — the usual lenient
  * behavior), the WHATWG implied-end-tag rules
  * with their real scope walks (a block start tag closes an open `p` in
  * BUTTON SCOPE, popping intervening inline elements: `<p>a<b>c<p>d`
  * ends the first paragraph at "ac"; `li`/`dt`/`dd` close their open
  * siblings through phrasing content, stopping at special-category
  * blocks; a current `option` pops on option/optgroup starts; `rt`/`rp`
  * generate implied end tags only with a `ruby` in scope; a `table`
  * start at a table insertion point acts as `</table>` first) — plus,
  * inside tables, the two WHATWG recovery paths that move RDFa-visible
  * content: "clear the stack back to a table(/body/row) context" for
  * structural start tags, and FOSTER PARENTING (non-whitespace text and
  * non-table elements at a structural insertion point are hoisted before
  * the table, like jsdom — which changes a `<table property=…>`'s
  * extracted literal) — and, since r18, the ACTIVE FORMATTING ELEMENTS
  * machinery: the full adoption agency algorithm (outer loop bounded at
  * 8, the >3-inner-iterations entry drop), reconstruction of pending
  * formatting entries before character and phrasing-start insertion,
  * formatting-list markers at cell/caption/template/applet boundaries,
  * the in-body nested-`<a>`/`<nobr>` start-tag rules, and the Noah's
  * Ark cap — so `<b>x<p>y</b>z` builds jsdom's two-element
  * `<b>x</b><p><b>y</b>z</p>` shape — and SVG/MathML FOREIGN CONTENT:
  * case-adjusted tag/attribute names (`foreignObject`, `viewBox`),
  * namespace-tracked elements, the HTML/MathML-text integration points,
  * the breakout start-tag list, honored self-closing syntax, CDATA
  * sections, and case-preserving serialization with explicit end tags —
  * so an inline SVG inside a property subtree re-serializes into an
  * rdf:HTML literal byte-compatibly with jsdom's innerHTML. r18 also
  * adds RCDATA (title/textarea), the full raw-text set, the pre/listing
  * leading-LF rules with the serializer's compensating LF, the in-body
  * end-tag scope rules (scope-checked block closes, special-barrier
  * "any other" closes, non-popping body/html), the stray-</p> /
  * </br> / any-rank-heading / <image> special cases, and the in-select
  * insertion mode.
  *
  * Since r19 the parser is doctype-aware: the WHATWG initial-mode
  * classification (no-quirks / limited-quirks / quirks, including the
  * legacy public-identifier tables) runs on the first doctype token,
  * a document with no doctype before content is FULL QUIRKS (like
  * jsdom's BackCompat for harvested legacy pages), and the one
  * quirks-gated tree-builder rule is honored: a <table> start does
  * not close an open p in quirks mode, so a table inside an annotated
  * paragraph keeps jsdom's quirks literal extents. r19 also lands:
  * list-item scope for </li>, the spec's form-pointer rule, the
  * "in select in table" recovery, the adoption agency's
  * any-other-end-tag fallback, table SECTION SYNTHESIS (sectionless
  * <tr> gets its tbody, bare cells their row, stray <col> its
  * colgroup — so rdf:HTML table literals carry jsdom's synthesized
  * bytes), the in-body ignore of table-structural tags outside any
  * table, in-table keep (not foster) of script/style/template and
  * hidden inputs, the PLAINTEXT state, RAWTEXT/RCDATA running to EOF
  * on a missing end tag, the script-data escape states (a
  * double-escaped </script> is literal text), and the void set
  * completed with keygen/basefont/bgsound/frame. A second r19 pass
  * (hand-probed against the spec) adds: COMMENT NODES — kept in the
  * tree and in innerHTML like jsdom (bogus comments included, with
  * the spec's data extents: `<?php x?>` re-serializes as
  * `<!--?php x?-->`), invisible to textContent, inserted at the
  * current node (never fostered), and silent in the initial mode —
  * eof-in-tag (a tag truncated by EOF emits nothing), sibling
  * headings (an h1-h6 start pops a current heading), the
  * '='-led-attribute-name tokenizer rule, the in-column-group
  * anything-else branch (acts as </colgroup> and reprocesses),
  * TEMPLATE as a barrier for the table clear-backs/table scope plus
  * the last-template foster rule (fostered content lands in the
  * template's contents), raw-text/RCDATA terminators requiring a
  * name boundary ("</titlex>" is literal text inside a <title>),
  * and the textarea leading-LF drop applying to the DECODED token.
  * A third r19 pass aligns the tokenizer and serializer: IN-TABLE
  * CHARACTER RUNS BATCH until the next non-character token before the
  * foster decision (a tokenizer-split run — stray '<' before a
  * non-letter, ignored '</>' stubs — fosters wholly, leading
  * whitespace included); tag and attribute names run to
  * whitespace/'/'/'>' with an ASCII-only case fold (Word-export
  * <o:p>, underscores, dots and non-ASCII keep their spec names);
  * the six legacy entities decode in their WITH-semicolon uppercase
  * forms (&AMP; is '&', no stray ';'); end-tag attribute junk is
  * consumed with the attribute states (a quoted '>' cannot truncate
  * an end tag); tokenizer whitespace is exactly TAB/LF/FF/SPACE; and
  * the serializer escapes U+00A0 as &nbsp; in text and attribute
  * values per the spec's escaping algorithm (jsdom innerHTML parity
  * on NBSP-riddled legacy markup); and the SELF-CLOSING flag is
  * ignored on non-void HTML elements (a Word-export <o:p/> NESTS its
  * following content; a self-closed <script/> still enters raw
  * text) — only voids and foreign content honor it.
  *
  * Remaining divergences from a full WHATWG tree builder, ledgered:
  * html/head/body wrappers are ordinary elements and are NOT
  * synthesized when absent (the RDFa walk and rdf:HTML literals never
  * include them, so tree shape above the first attributed element is
  * immaterial) — but, like the spec's merge-and-ignore, a <body>/
  * <html> start tag below document level never creates an element
  * (it merges new attributes into the open wrapper, if any); no
  * in-frameset/after-body modes (frameset documents carry no besluit
  * RDFa); input is an already-decoded String (charset sniffing is the
  * ingest layer's concern, sources/PageSource).
  */
object HtmlParser {

  sealed trait Node {
    /** Concatenated descendant text (entity-decoded). */
    def text: String
  }

  final case class TextNode(content: String) extends Node {
    def text: String = content
  }

  /** A comment node. Invisible to textContent (DOM), but SERIALIZED by
    * innerHTML as `<!--data-->` — jsdom preserves comments inside
    * rdf:HTML literals and externalized pages, and legacy harvested
    * markup is full of them. Bogus comments take the spec's data
    * extents: `<?php x?>` → "?php x?" (the `?` is reconsumed into the
    * data), `<!foo>` → "foo", `</3>` → "3". */
  final case class CommentNode(data: String) extends Node {
    def text: String = ""
  }

  final case class Element(
      tag: String,
      attrs: Map[String, String],
      children: Vector[Node],
      /** "html" | "svg" | "math" — foreign elements re-serialize with
        * their case-adjusted names and never take the void/raw-text
        * HTML serialization rules. `tag` stays the lowercase canonical
        * name in every namespace (matching logic is uniform); render
        * restores the SVG DOM casing via the adjust table. */
      ns: String = "html") extends Node {
    def attr(name: String): Option[String] = attrs.get(name)
    /** DOM textContent: a <template>'s contents live in a separate
      * fragment — its childNodes are empty, so its text contributes
      * NOTHING to an ancestor's literal (innerHTML still serializes
      * the contents, like the DOM's template.innerHTML does). */
    def text: String = {
      // accumulator walk, not per-node mkString: textContent runs once
      // per property element over its whole subtree, and intermediate
      // per-child strings dominated the extract profile
      val sb = new java.lang.StringBuilder
      appendTextTo(sb)
      sb.toString
    }
    private[html] def appendTextTo(sb: java.lang.StringBuilder): Unit =
      children.foreach {
        case TextNode(t) => sb.append(t)
        case e: Element => if (e.tag != "template") e.appendTextTo(sb)
        case _ => () // comments contribute nothing to textContent
      }
    /** Re-serialized inner HTML (for rdf:HTML literals, G2). */
    def innerHtml: String = {
      val sb = new java.lang.StringBuilder
      children.foreach(renderTo(_, sb))
      sb.toString
    }
  }

  private val voidElements = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "param", "source", "track", "wbr",
    // insert-and-immediately-pop per the in-body rules (keygen "acts
    // like input"); jsdom/parse5 serialize all four without end tags
    "keygen", "basefont", "bgsound", "frame")
  /** RAWTEXT elements (WHATWG tokenizer states + the serializer's
    * emit-unescaped list): content is a single undecoded text node,
    * serialized raw. Safe to round-trip: the scan stops at the first
    * "</tag", so captured text can never contain its own terminator. */
  private val rawTextElements = Set("script", "style", "iframe", "xmp",
    "noembed", "noframes")

  /** RCDATA elements: text-only content like RAWTEXT, but character
    * references DECODE on parse and the serializer escapes normally —
    * "<title>a <b> c</title>" is the TEXT "a <b> c" (no b element),
    * exactly as jsdom builds it. */
  private val rcdataElements = Set("title", "textarea")

  /** Elements whose content the WHATWG "text" insertion mode builds. */
  private val textModeElements = rawTextElements ++ rcdataElements

  /** Insertion points where character data and non-table elements cannot
    * legally live — WHATWG foster-parents them BEFORE the table. `caption`
    * and the cells are excluded: they hold flow content normally. */
  private val fosterContext = Set("table", "tbody", "thead", "tfoot", "tr")

  /** Start tags that belong to the table structure (inserted in place,
    * never foster-parented). */
  private val tableLegal = Set("caption", "col", "colgroup", "tbody", "td",
    "tfoot", "th", "thead", "tr", "style", "script", "template", "form")

  /** h1-h6 — a heading END tag of any rank closes the nearest open one. */
  private val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** End tags with their own in-body branch: close the nearest match IN
    * DEFAULT SCOPE, ignored when a barrier intervenes — a `</div>` from
    * inside a table cell cannot close a div outside the cell (jsdom).
    * `li` is NOT here: its end tag runs in LIST ITEM scope (default
    * scope plus ol/ul barriers) via its own branch; dd/dt stay on
    * default scope per the spec. */
  private val scopedEndTags = Set("address", "article", "aside",
    "blockquote", "button", "center", "details", "dialog", "dir", "div",
    "dl", "fieldset", "figcaption", "figure", "footer", "header",
    "hgroup", "listing", "main", "menu", "nav", "ol", "pre", "search",
    "section", "summary", "ul", "dd", "dt")

  /** End tags that keep the lenient pop-to-nearest-match close (the
    * table/select families run their own clear-the-stack modes, which
    * the nearest-match pop models). */
  private val nearestEndTags = Set("table", "td", "th", "tr", "tbody",
    "thead", "tfoot", "caption", "colgroup", "select", "option",
    "optgroup", "template", "applet", "object", "marquee", "ruby")

  /** WHATWG "formatting" category: elements the active-formatting list
    * tracks, reconstructed across block boundaries and re-nested by the
    * adoption agency on their end tags. */
  private val formattingTags = Set("a", "b", "big", "code", "em", "font",
    "i", "nobr", "s", "small", "strike", "strong", "tt", "u")

  /** Elements whose open inserts a MARKER into the active formatting
    * list and whose close clears the list back to it — formatting never
    * reconstructs across a cell/caption/template boundary. */
  private val afeMarkerTags = Set("applet", "object", "marquee",
    "template", "caption", "td", "th")

  /** Start tags that do NOT "reconstruct the active formatting elements"
    * before inserting, per the in-body insertion mode: the block starts
    * (closesP), list items, the table-structural family, and the
    * raw-text/metadata elements. Everything else — phrasing content,
    * voids like br/img/input, select/option, formatting tags — does. */
  private lazy val noReconstructStart: Set[String] =
    closesP ++ tableInner ++ tableSection ++ Set("li", "dt", "dd", "col",
      "colgroup", "html", "head", "body", "frameset", "frame", "textarea",
      "title", "script", "style", "template", "noscript", "rt", "rp",
      "iframe", "noembed", "noframes")

  /** The spec's "special" category (furthest-block candidates in the
    * adoption agency): everything non-phrasing. liWalkBarrier is special
    * minus address/div/p; the rest are the void/metadata members. */
  private lazy val specialCategory: Set[String] = liWalkBarrier ++ Set(
    "address", "div", "p", "area", "base", "basefont", "bgsound", "br",
    "embed", "frame", "frameset", "hr", "iframe", "img", "input",
    "keygen", "link", "meta", "noembed", "noframes", "noscript", "param",
    "script", "source", "style", "textarea", "title", "track", "wbr",
    "li", "dd", "dt")

  /** Default ("regular") scope barriers — button scope minus `button`. */
  private lazy val defaultScopeBarrier: Set[String] = buttonScopeBarrier - "button"

  // ------------------------------------------------- foreign content
  // WHATWG "The rules for parsing tokens in foreign content": inside an
  // <svg>/<math> subtree (outside the HTML integration points) tag and
  // attribute names are case-ADJUSTED rather than flattened, CDATA
  // sections are character data, and a list of HTML "breakout" start
  // tags pops the foreign subtree. jsdom preserves exactly this, so an
  // inline SVG logo inside a property subtree serializes into the
  // rdf:HTML literal with its viewBox/foreignObject casing intact.

  /** SVG tag-name adjustments (lowercased input → the SVG DOM name). */
  private val svgTagAdjust: Map[String, String] = Map(
    "altglyph" -> "altGlyph", "altglyphdef" -> "altGlyphDef",
    "altglyphitem" -> "altGlyphItem", "animatecolor" -> "animateColor",
    "animatemotion" -> "animateMotion",
    "animatetransform" -> "animateTransform", "clippath" -> "clipPath",
    "feblend" -> "feBlend", "fecolormatrix" -> "feColorMatrix",
    "fecomponenttransfer" -> "feComponentTransfer",
    "fecomposite" -> "feComposite",
    "feconvolvematrix" -> "feConvolveMatrix",
    "fediffuselighting" -> "feDiffuseLighting",
    "fedisplacementmap" -> "feDisplacementMap",
    "fedistantlight" -> "feDistantLight", "fedropshadow" -> "feDropShadow",
    "feflood" -> "feFlood", "fefunca" -> "feFuncA", "fefuncb" -> "feFuncB",
    "fefuncg" -> "feFuncG", "fefuncr" -> "feFuncR",
    "fegaussianblur" -> "feGaussianBlur", "feimage" -> "feImage",
    "femerge" -> "feMerge", "femergenode" -> "feMergeNode",
    "femorphology" -> "feMorphology", "feoffset" -> "feOffset",
    "fepointlight" -> "fePointLight",
    "fespecularlighting" -> "feSpecularLighting",
    "fespotlight" -> "feSpotLight", "fetile" -> "feTile",
    "feturbulence" -> "feTurbulence", "foreignobject" -> "foreignObject",
    "glyphref" -> "glyphRef", "lineargradient" -> "linearGradient",
    "radialgradient" -> "radialGradient", "textpath" -> "textPath")

  /** SVG attribute-name adjustments (the "adjust SVG attributes" table). */
  private val svgAttrAdjust: Map[String, String] = Map(
    "attributename" -> "attributeName", "attributetype" -> "attributeType",
    "basefrequency" -> "baseFrequency", "baseprofile" -> "baseProfile",
    "calcmode" -> "calcMode", "clippathunits" -> "clipPathUnits",
    "diffuseconstant" -> "diffuseConstant", "edgemode" -> "edgeMode",
    "filterunits" -> "filterUnits", "glyphref" -> "glyphRef",
    "gradienttransform" -> "gradientTransform",
    "gradientunits" -> "gradientUnits", "kernelmatrix" -> "kernelMatrix",
    "kernelunitlength" -> "kernelUnitLength", "keypoints" -> "keyPoints",
    "keysplines" -> "keySplines", "keytimes" -> "keyTimes",
    "lengthadjust" -> "lengthAdjust",
    "limitingconeangle" -> "limitingConeAngle",
    "markerheight" -> "markerHeight", "markerunits" -> "markerUnits",
    "markerwidth" -> "markerWidth",
    "maskcontentunits" -> "maskContentUnits", "maskunits" -> "maskUnits",
    "numoctaves" -> "numOctaves", "pathlength" -> "pathLength",
    "patterncontentunits" -> "patternContentUnits",
    "patterntransform" -> "patternTransform",
    "patternunits" -> "patternUnits", "pointsatx" -> "pointsAtX",
    "pointsaty" -> "pointsAtY", "pointsatz" -> "pointsAtZ",
    "preservealpha" -> "preserveAlpha",
    "preserveaspectratio" -> "preserveAspectRatio",
    "primitiveunits" -> "primitiveUnits", "refx" -> "refX",
    "refy" -> "refY", "repeatcount" -> "repeatCount",
    "repeatdur" -> "repeatDur",
    "requiredextensions" -> "requiredExtensions",
    "requiredfeatures" -> "requiredFeatures",
    "specularconstant" -> "specularConstant",
    "specularexponent" -> "specularExponent",
    "spreadmethod" -> "spreadMethod", "startoffset" -> "startOffset",
    "stddeviation" -> "stdDeviation", "stitchtiles" -> "stitchTiles",
    "surfacescale" -> "surfaceScale", "systemlanguage" -> "systemLanguage",
    "tablevalues" -> "tableValues", "targetx" -> "targetX",
    "targety" -> "targetY", "textlength" -> "textLength",
    "viewbox" -> "viewBox", "viewtarget" -> "viewTarget",
    "xchannelselector" -> "xChannelSelector",
    "ychannelselector" -> "yChannelSelector", "zoomandpan" -> "zoomAndPan")

  /** MathML's single attribute adjustment. */
  private val mathAttrAdjust: Map[String, String] =
    Map("definitionurl" -> "definitionURL")

  /** HTML start tags that break OUT of foreign content (pop the foreign
    * subtree and reprocess in HTML mode); `font` breaks out only when it
    * carries color/face/size. */
  private val foreignBreakout = Set("b", "big", "blockquote", "body", "br",
    "center", "code", "dd", "div", "dl", "dt", "em", "embed", "h1", "h2",
    "h3", "h4", "h5", "h6", "head", "hr", "i", "img", "li", "listing",
    "menu", "meta", "nobr", "ol", "p", "pre", "ruby", "s", "small",
    "span", "strong", "strike", "sub", "sup", "table", "tt", "u", "ul",
    "var")

  /** Case-adjust attribute names in source order (the tokenizer's
    * VectorMap order must survive — a plain `.map` re-buckets to hash
    * order above 4 entries). */
  private def adjustAttrs(attrs: Map[String, String],
      table: Map[String, String]): Map[String, String] =
    if (attrs.isEmpty) attrs
    else {
      var out = scala.collection.immutable.VectorMap.empty[String, String]
      attrs.foreach { case (k, v) => out = out.updated(table.getOrElse(k, k), v) }
      out
    }

  /** Parse a full document; returns a synthetic root element. */
  /** The spec's legacy quirks-mode public-identifier PREFIXES (matched
    * ASCII case-insensitively; stored lowercased). A harvested page
    * carrying any of these ancient DTDs parses in full quirks mode. */
  private val quirkyPublicPrefixes: Array[String] = Array(
    "+//silmaril//dtd html pro v0r11 19970101//",
    "-//as//dtd html 3.0 aswedit + extensions//",
    "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
    "-//ietf//dtd html 2.0 level 1//",
    "-//ietf//dtd html 2.0 level 2//",
    "-//ietf//dtd html 2.0 strict level 1//",
    "-//ietf//dtd html 2.0 strict level 2//",
    "-//ietf//dtd html 2.0 strict//",
    "-//ietf//dtd html 2.0//",
    "-//ietf//dtd html 2.1e//",
    "-//ietf//dtd html 3.0//",
    "-//ietf//dtd html 3.2 final//",
    "-//ietf//dtd html 3.2//",
    "-//ietf//dtd html 3//",
    "-//ietf//dtd html level 0//",
    "-//ietf//dtd html level 1//",
    "-//ietf//dtd html level 2//",
    "-//ietf//dtd html level 3//",
    "-//ietf//dtd html strict level 0//",
    "-//ietf//dtd html strict level 1//",
    "-//ietf//dtd html strict level 2//",
    "-//ietf//dtd html strict level 3//",
    "-//ietf//dtd html strict//",
    "-//ietf//dtd html//",
    "-//metrius//dtd metrius presentational//",
    "-//microsoft//dtd internet explorer 2.0 html strict//",
    "-//microsoft//dtd internet explorer 2.0 html//",
    "-//microsoft//dtd internet explorer 2.0 tables//",
    "-//microsoft//dtd internet explorer 3.0 html strict//",
    "-//microsoft//dtd internet explorer 3.0 html//",
    "-//microsoft//dtd internet explorer 3.0 tables//",
    "-//netscape comm. corp.//dtd html//",
    "-//netscape comm. corp.//dtd strict html//",
    "-//o'reilly and associates//dtd html 2.0//",
    "-//o'reilly and associates//dtd html extended 1.0//",
    "-//o'reilly and associates//dtd html extended relaxed 1.0//",
    "-//sq//dtd html 2.0 hotmetal + extensions//",
    "-//softquad software//dtd hotmetal pro 6.0::19990601::extensions to html 4.0//",
    "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
    "-//spyglass//dtd html 2.0 extended//",
    "-//sun microsystems corp.//dtd hotjava html//",
    "-//sun microsystems corp.//dtd hotjava strict html//",
    "-//w3c//dtd html 3 1995-03-24//",
    "-//w3c//dtd html 3.2 draft//",
    "-//w3c//dtd html 3.2 final//",
    "-//w3c//dtd html 3.2//",
    "-//w3c//dtd html 3.2s draft//",
    "-//w3c//dtd html 4.0 frameset//",
    "-//w3c//dtd html 4.0 transitional//",
    "-//w3c//dtd html experimental 19960712//",
    "-//w3c//dtd html experimental 970421//",
    "-//w3c//dtd w3 html//",
    "-//w3o//dtd w3 html 3.0//",
    "-//webtechs//dtd mozilla html 2.0//",
    "-//webtechs//dtd mozilla html//")

  /** Exact-match quirky public identifiers (lowercased). */
  private val quirkyPublicIds = Set(
    "-//w3o//dtd w3 html strict 3.0//en//",
    "-/w3c/dtd html 4.0 transitional/en",
    "html")

  /** WHATWG doctype classification — the "initial insertion mode"
    * rules jsdom applies (reference: lib/rdfa-extractor.js:72-84
    * parses whatever jsdom builds, quirks included). Returns
    * "quirks", "limited-quirks" or "no-quirks"; a document with NO
    * doctype at all is full quirks (callers handle that case — this
    * classifies a doctype that was present). */
  def classifyDoctype(name: String, publicId: Option[String],
      systemId: Option[String], forceQuirks: Boolean): String = {
    val pid = publicId.getOrElse("").toLowerCase(java.util.Locale.ROOT)
    val sid = systemId.map(_.toLowerCase(java.util.Locale.ROOT))
    val html401FramesetOrTransitional =
      pid.startsWith("-//w3c//dtd html 4.01 frameset//") ||
        pid.startsWith("-//w3c//dtd html 4.01 transitional//")
    if (forceQuirks || name != "html" ||
        quirkyPublicIds(pid) ||
        sid.contains(
          "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd") ||
        quirkyPublicPrefixes.exists(pid.startsWith) ||
        (systemId.isEmpty && html401FramesetOrTransitional))
      "quirks"
    else if (pid.startsWith("-//w3c//dtd xhtml 1.0 frameset//") ||
        pid.startsWith("-//w3c//dtd xhtml 1.0 transitional//") ||
        (systemId.nonEmpty && html401FramesetOrTransitional))
      "limited-quirks"
    else "no-quirks"
  }

  def parse(html: String): Element = {
    // WHATWG input-stream preprocessing: CRLF and lone CR normalize to
    // LF before tokenization — a property literal from a Windows-
    // authored (CRLF) page carries \n exactly as jsdom's does
    val normalized =
      if (html.indexOf('\r') >= 0)
        html.replace("\r\n", "\n").replace('\r', '\n')
      else html
    val tokens = new Tokenizer(normalized)
    val root = new Builder("#root", Map.empty)
    val stack = mutable.Stack[Builder](root)
    // Active formatting elements (WHATWG): Builder entries interleaved
    // with markers, most recent LAST. An entry whose builder is no
    // longer on the open-element stack is "pending" — reconstruction
    // clones it into the current insertion point before the next
    // character or phrasing start tag.
    val afe = mutable.ArrayBuffer[AnyRef]()

    def onStack(b: Builder): Boolean = stack.exists(_ eq b)

    // The document mode, decided by the INITIAL insertion mode: null
    // while still before any content; the first doctype classifies it,
    // and any non-whitespace character or tag arriving first locks in
    // full quirks (no-doctype legacy pages — common in old government
    // harvests). Later doctype tokens are ignored, per the spec. The
    // one tree-builder behavior it gates: in quirks mode a <table>
    // start does NOT close an open p (jsdom nests the table inside).
    var docMode: String = null
    def quirks: Boolean = docMode == "quirks"

    // the form element POINTER (WHATWG): while a form is open, further
    // <form> start tags are ignored outright, and </form> removes
    // exactly the pointed-to node from the stack — leaving any still-
    // open descendants attached and open, as jsdom does
    var formPtr: Builder = null

    // --- tree edits (the lazy builder tree: children hold built Nodes
    // --- and still-open/closed Builders alike; Element conversion is a
    // --- single pass at EOF, so the adoption agency can move and clone
    // --- subtrees freely)
    def detach(b: Builder): Unit = if (b.parent != null) {
      val idx = b.parent.children.indexWhere(_.asInstanceOf[AnyRef] eq b)
      if (idx >= 0) b.parent.children.remove(idx)
      b.parent = null
    }
    def appendTo(parent: Builder, child: AnyRef): Unit = {
      child match { case cb: Builder => detach(cb); cb.parent = parent; case _ => }
      parent.children += child
    }
    // Foster parenting (WHATWG "appropriate place for inserting a node"
    // with foster parenting enabled): while the insertion point is a
    // table-structural element, non-whitespace text and non-table start
    // tags are inserted into the NEAREST open table's parent,
    // immediately before the table — jsdom does this, and it moves
    // stray text OUT of a <table property=…> element's extracted
    // literal. Returns false when no fosterable spot exists (table
    // parentless — cannot happen below #root — or no table open).
    def fosterInsert(node: AnyRef): Boolean = {
      // the spec's LAST-TEMPLATE rule: when a template is MORE RECENT
      // on the stack than the last table, the adjusted insertion
      // location is inside the template's contents (appended) — table
      // fragments in template content never hoist out past the
      // template into the outer table's parent
      val ti = stack.indexWhere(b => b.tag == "table" && b.ns == "html")
      val mi = stack.indexWhere(b => b.tag == "template" && b.ns == "html")
      if (mi >= 0 && (ti < 0 || mi < ti)) {
        appendTo(stack(mi), node)
        return true
      }
      stack.find(_.tag == "table") match {
        case Some(t) if t.parent != null =>
          val owner = t.parent
          val at = owner.children.indexWhere(_.asInstanceOf[AnyRef] eq t)
          node match { case nb: Builder => detach(nb); nb.parent = owner; case _ => }
          if (at >= 0) owner.children.insert(at, node)
          else owner.children += node
          true
        case _ => false
      }
    }
    /** Insert at the appropriate place: fostered when the current node
      * is table-structural (and the caller allows it), else appended. */
    def insertAppropriately(node: AnyRef, allowFoster: Boolean): Unit =
      if (allowFoster && fosterContext(stack.top.tag) && fosterInsert(node)) ()
      else appendTo(stack.top, node)

    // --- active formatting list maintenance
    def pushFormatting(b: Builder): Unit = {
      // Noah's Ark clause: at most 3 entries with identical tag+attrs
      // since the last marker — the cap that keeps "<b><b><b><b>…" from
      // reconstructing unboundedly many clones per character
      var count = 0
      var earliest = -1
      var i = afe.length - 1
      var stop = false
      while (i >= 0 && !stop) {
        afe(i) match {
          case m if m.asInstanceOf[AnyRef] eq AfeMarker => stop = true
          case ob: Builder if ob.tag == b.tag && ob.attrs == b.attrs =>
            count += 1; earliest = i
          case _ =>
        }
        i -= 1
      }
      if (count >= 3 && earliest >= 0) afe.remove(earliest)
      afe += b
    }
    def clearAfeToMarker(): Unit = {
      // lenient guard: a markerless list stays intact rather than being
      // wiped (cannot arise from HTML-mode opens, which always pushed
      // the marker, but costs nothing to keep true by construction)
      if (!afe.exists(_ eq AfeMarker)) return
      var done = false
      while (!done && afe.nonEmpty) {
        val last = afe.remove(afe.length - 1)
        if (last eq AfeMarker) done = true
      }
    }
    def finish(): Unit = {
      val done = stack.pop()
      // closing a cell/caption/template/applet-family element clears the
      // formatting list back to its marker, whatever path popped it —
      // HTML-namespace only: a foreign element named `td` never pushed one
      if (done.ns == "html" && afeMarkerTags(done.tag)) clearAfeToMarker()
    }
    def popThrough(idx: Int): Unit = {
      var i = idx
      while (i >= 0) { finish(); i -= 1 }
    }

    /** Reconstruct the active formatting elements (WHATWG): every
      * trailing pending entry (not on the stack, after the last marker)
      * is re-opened as a CLONE at the current insertion point — this is
      * what makes `<p><b>x<p>y` render "y" inside a fresh `<b>` like
      * jsdom. No-op (the overwhelmingly common case) when the last
      * entry is a marker or still open. */
    def reconstructAfe(): Unit = {
      if (afe.isEmpty) return
      afe.last match {
        case m if m.asInstanceOf[AnyRef] eq AfeMarker => return
        case b: Builder if onStack(b) => return
        case _ =>
      }
      var i = afe.length - 1
      var stop = false
      while (!stop && i > 0) {
        afe(i - 1) match {
          case m if m.asInstanceOf[AnyRef] eq AfeMarker => stop = true
          case b: Builder if onStack(b) => stop = true
          case _ => i -= 1
        }
      }
      while (i < afe.length) {
        val old = afe(i).asInstanceOf[Builder]
        val clone = new Builder(old.tag, old.attrs)
        insertAppropriately(clone, allowFoster = true)
        stack.push(clone)
        afe(i) = clone
        i += 1
      }
    }

    /** Generic in-body end tag (pre-adoption-agency behavior, kept for
      * every non-formatting tag): pop to the nearest matching open
      * element, or ignore a stray end tag. */
    def genericEndTag(tag: String): Unit =
      if (stack.exists(b => b.tag == tag && b.tag != "#root")) {
        while (stack.top.tag != tag) finish()
        finish()
      }

    /** In-body end-tag special cases jsdom shares with the spec:
      * `</p>` with NO p in button scope synthesizes an EMPTY paragraph
      * (so "a</p>b" carries a `<p></p>` into rdf:HTML literals);
      * `</br>` acts as a `<br>` START tag; `</h1>`..`</h6>` close the
      * nearest open heading of ANY rank (`<h1>x</h2>` ends the h1). */
    def htmlEndTag(tag: String): Unit = tag match {
      case "p" =>
        val idx = stack.indexWhere(b => b.tag == "p" ||
          buttonScopeBarrier(b.tag) || foreignScopeBarrier(b))
        if (idx >= 0 && stack(idx).tag == "p") popThrough(idx)
        else insertAppropriately(Element("p", Map.empty, Vector.empty),
          allowFoster = true)
      case "br" =>
        reconstructAfe()
        insertAppropriately(Element("br", Map.empty, Vector.empty),
          allowFoster = true)
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        val idx = stack.indexWhere(b => headingTags(b.tag) ||
          defaultScopeBarrier(b.tag) || foreignScopeBarrier(b))
        if (idx >= 0 && headingTags(stack(idx).tag)) popThrough(idx)
      case t if formattingTags(t) => adoptionAgency(t)
      case "form" =>
        // </form> clears the pointer and removes THAT node from the
        // stack wherever it sits (scope-checked) — still-open
        // descendants stay open and attached
        val node = formPtr
        formPtr = null
        if (node != null) {
          val idx = stack.indexWhere(_ eq node)
          val scopeIdx = stack.indexWhere(b => (b eq node) ||
            defaultScopeBarrier(b.tag) || foreignScopeBarrier(b))
          if (idx >= 0 && scopeIdx >= 0 && (stack(scopeIdx) eq node))
            stack.remove(idx)
        }
      case "li" =>
        // LIST ITEM scope: default scope plus ol/ul as barriers — a
        // `</li>` from inside a nested list cannot close the outer li
        // (`<li>a<ul>b</li>c` keeps "c" inside the nested ul, jsdom)
        val idx = stack.indexWhere(b => b.tag == "li" ||
          b.tag == "ol" || b.tag == "ul" ||
          defaultScopeBarrier(b.tag) || foreignScopeBarrier(b))
        if (idx >= 0 && stack(idx).tag == "li") popThrough(idx)
      case t if scopedEndTags(t) =>
        // scope-checked close: out-of-scope end tags are IGNORED (the
        // generate-implied-end-tags step is subsumed by the pop walk)
        val idx = stack.indexWhere(b => b.tag == t ||
          defaultScopeBarrier(b.tag) || foreignScopeBarrier(b))
        if (idx >= 0 && stack(idx).tag == t) popThrough(idx)
      case t if nearestEndTags(t) => genericEndTag(t)
      case "body" | "html" =>
        // in-body </body>/</html> switch insertion modes without popping:
        // trailing content stays INSIDE the body, as jsdom nests it
        ()
      case t => anyOtherEndTag(t)
    }

    /** The spec's "any other end tag" walk: pop through the nearest
      * matching HTML element, but IGNORE the token once a special
      * element is reached first ("<span><div>x</span>" leaves the div
      * open — jsdom's tree). Also the adoption agency's no-AFE-entry
      * fallback: a formatting element still on the stack after a
      * Noah's Ark eviction must not let its end tag pop through a
      * special barrier (four <b>s, a <div>, four </b>s — jsdom
      * ignores the last </b>). */
    def anyOtherEndTag(t: String): Unit = {
      var i2 = 0
      var done = false
      while (!done) {
        val b = stack(i2)
        if (b.tag == "#root") done = true
        else if (b.tag == t && b.ns == "html") { popThrough(i2); done = true }
        else if ((b.ns == "html" && specialCategory(b.tag)) ||
          foreignScopeBarrier(b)) done = true // ignore the token
        else i2 += 1
      }
    }

    /** The WHATWG adoption agency algorithm (full form, outer loop
      * bounded at 8, inner at the >3-iterations AFE drop): re-nests a
      * formatting element closed across a block boundary the way jsdom
      * does — `<b>x<p>y</b>z` builds `<b>x</b><p><b>y</b>z</p>`, the
      * TWO-element shape the pre-r18 parser documented as its remaining
      * tree-builder divergence. */
    def adoptionAgency(subject: String): Unit = {
      if (stack.top.tag == subject && stack.top.tag != "#root" &&
          !afe.exists(_.asInstanceOf[AnyRef] eq stack.top)) {
        finish()
        return
      }
      var outer = 0
      while (outer < 8) {
        outer += 1
        // the most recent AFE entry for subject, above the last marker
        var fi = afe.length - 1
        while (fi >= 0 && !(afe(fi) eq AfeMarker) &&
          afe(fi).asInstanceOf[Builder].tag != subject) fi -= 1
        if (fi < 0 || (afe(fi) eq AfeMarker)) { anyOtherEndTag(subject); return }
        val fe = afe(fi).asInstanceOf[Builder]
        val feIdx = stack.indexWhere(_ eq fe)
        if (feIdx < 0) { afe.remove(fi); return } // in AFE, not open: drop
        // in (default) scope?
        val scopeIdx = stack.indexWhere(b =>
          (b eq fe) || defaultScopeBarrier(b.tag) || foreignScopeBarrier(b))
        if (scopeIdx < 0 || !(stack(scopeIdx) eq fe)) return // ignore token
        // furthest block: the special element closest above fe's content
        // (scala stack: index 0 = most recent, so the LARGEST index < feIdx)
        var fb = feIdx - 1
        while (fb >= 0 && !{
          val st = stack(fb)
          (st.ns == "html" && specialCategory(st.tag)) || foreignScopeBarrier(st)
        }) fb -= 1
        if (fb < 0) {
          // no furthest block: plain close — pop through fe, drop entry
          popThrough(feIdx)
          val fiNow = afe.indexWhere(_.asInstanceOf[AnyRef] eq fe)
          if (fiNow >= 0) afe.remove(fiNow)
          return
        }
        val furthestBlock = stack(fb)
        val commonAncestor = stack(feIdx + 1)
        var bookmark = fi
        // inner loop over the elements strictly between furthestBlock
        // and fe (bottom-up; the chain is fixed up front — the spec's
        // "element above node BEFORE it was removed")
        val chain = ((fb + 1) until feIdx).map(stack(_)).toVector
        var lastNode: Builder = furthestBlock
        var inner = 0
        for (nd <- chain) {
          inner += 1
          val ndAfe = afe.indexWhere(_.asInstanceOf[AnyRef] eq nd)
          if (inner > 3 && ndAfe >= 0) {
            afe.remove(ndAfe)
            if (ndAfe < bookmark) bookmark -= 1
          }
          val keep = inner <= 3 && ndAfe >= 0
          if (!keep) {
            val si = stack.indexWhere(_ eq nd)
            if (si >= 0) stack.remove(si)
          } else {
            val clone = new Builder(nd.tag, nd.attrs)
            afe(ndAfe) = clone
            val si = stack.indexWhere(_ eq nd)
            if (si >= 0) stack(si) = clone
            if (lastNode eq furthestBlock) bookmark = ndAfe + 1
            appendTo(clone, lastNode)
            lastNode = clone
          }
        }
        // place the chain head under the common ancestor (foster-aware:
        // a table-structural common ancestor hoists it before the table)
        detach(lastNode)
        if (fosterContext(commonAncestor.tag)) {
          if (!fosterInsert(lastNode)) appendTo(commonAncestor, lastNode)
        } else appendTo(commonAncestor, lastNode)
        // clone fe; the furthest block's content moves into the clone,
        // which becomes the furthest block's last child and the new
        // open/AFE entry — the "second <b>" jsdom builds
        val feClone = new Builder(fe.tag, fe.attrs)
        feClone.children ++= furthestBlock.children
        feClone.children.foreach {
          case cb: Builder => cb.parent = feClone
          case _ =>
        }
        furthestBlock.children.clear()
        appendTo(furthestBlock, feClone)
        val fiNow = afe.indexWhere(_.asInstanceOf[AnyRef] eq fe)
        if (fiNow >= 0) {
          afe.remove(fiNow)
          if (fiNow < bookmark) bookmark -= 1
        }
        afe.insert(math.min(bookmark, afe.length), feClone)
        val feStackNow = stack.indexWhere(_ eq fe)
        if (feStackNow >= 0) stack.remove(feStackNow)
        val fbNow = stack.indexWhere(_ eq furthestBlock)
        stack.insert(math.max(fbNow, 0), feClone)
      }
    }

    /** Foreign-content dispatch (WHATWG "tree construction dispatcher"):
      * tokens process under the foreign rules when the current node is a
      * non-HTML element outside the integration points; at a MathML text
      * integration point only mglyph/malignmark starts stay foreign. */
    def foreignMode(startTag: Option[String]): Boolean = {
      val cn = stack.top
      if (cn.ns == "html") false
      else if (isMathTextIntegrationPoint(cn))
        startTag.exists(t => t == "mglyph" || t == "malignmark")
      else if (isHtmlIntegrationPoint(cn)) false
      else true
    }

    /** Index of the open `select` when the insertion point is inside
      * one (select in SELECT SCOPE: only option/optgroup may intervene),
      * else -1 — the gate for the "in select" insertion mode. */
    def openSelectIdx: Int = {
      var i = 0
      while (stack(i).tag == "option" || stack(i).tag == "optgroup") i += 1
      val b = stack(i)
      if (b.tag == "select" && b.ns == "html") i else -1
    }

    /** The in-body start-tag path (also the reprocessing target after a
      * foreign-content breakout). */
    val popFn: () => Unit = () => finish()
    def handleHtmlOpen(tag0: String, attrs: Map[String, String],
        selfClosing: Boolean): Unit = {
      // in-body "<image>" is a parse error handled as "<img>" (spec +
      // jsdom: "Don't ask.")
      val tag = if (tag0 == "image") "img" else tag0
      // <body>/<html> start tags mirror the spec's merge-and-ignore:
      // wrapper ELEMENTS exist only at document level (above any real
      // content element); a deeper token merges its new attributes
      // into the open wrapper if one exists and is otherwise ignored.
      // jsdom never nests a body inside content — and the r19 fixpoint
      // hunt found that a body built inside an SVG integration point
      // ('<p><svg><title><body') never re-converges: </body>'s no-pop
      // rule keeps it open, its special-category rank blocks the
      // foreign end tags, and every reparse synthesizes another stray
      // empty paragraph inside it.
      if (tag == "body" || tag == "html") {
        val docLevel = stack.forall(b =>
          b.tag == "#root" || b.tag == "html" || b.tag == "head")
        if (!docLevel || stack.exists(_.tag == tag)) {
          stack.find(_.tag == tag).foreach { b =>
            b.attrs = b.attrs ++ attrs.filter(kv => !b.attrs.contains(kv._1))
          }
          return
        }
      }
      // in-body rule: table-structural start tags with NO table open
      // are parse-error-IGNORED (jsdom: '<div><td>x' keeps only the
      // text), and <frame> is in-body-ignored unconditionally (no
      // frameset mode). Skipped inside a template, whose contents may
      // legally hold table fragments.
      if (stack.top.ns == "html" && !stack.exists(_.tag == "template") &&
          ((tag == "frame" && !stack.exists(_.tag == "frameset")) ||
            ((tableInner(tag) || tag == "col") &&
              !stack.exists(b => b.tag == "table" && b.ns == "html")))) return
      // "in column group": any start tag other than col/template acts
      // as </colgroup> first and reprocesses (spec's anything-else
      // branch) — '<table><colgroup><div>' pops the colgroup, then the
      // div fosters before the table like any stray table content
      if (stack.top.ns == "html" && stack.top.tag == "colgroup" &&
          tag != "col" && tag != "template") finish()
      impliedEndTags(stack, tag, popFn, quirks)
      // WHATWG in-table section synthesis (after the clear-back): a
      // sectionless <tr> acts as if <tbody> was seen, a bare <td>/<th>
      // synthesizes its row (and section), a stray <col> its
      // <colgroup> — jsdom's innerHTML carries the synthesized
      // elements, so rdf:HTML table literals must too.
      if (stack.top.ns == "html") {
        def synth(t: String): Unit = {
          val b = new Builder(t, Map.empty)
          appendTo(stack.top, b)
          stack.push(b)
        }
        if (stack.top.tag == "table") {
          if (tag == "tr") synth("tbody")
          else if (tag == "td" || tag == "th") { synth("tbody"); synth("tr") }
          else if (tag == "col") synth("colgroup")
        } else if ((tag == "td" || tag == "th") &&
            (stack.top.tag == "tbody" || stack.top.tag == "thead" ||
              stack.top.tag == "tfoot")) synth("tr")
      }
        // nested-anchor rule (in-body <a>): an <a> in the formatting
        // list since the last marker is force-closed by the adoption
        // agency before the new one opens — jsdom never nests anchors
        if (tag == "a") {
          var i = afe.length - 1
          var hit = -1
          while (i >= 0 && hit < 0 && !(afe(i) eq AfeMarker)) {
            if (afe(i).asInstanceOf[Builder].tag == "a") hit = i
            i -= 1
          }
          if (hit >= 0) {
            val old = afe(hit).asInstanceOf[Builder]
            adoptionAgency("a")
            val a2 = afe.indexWhere(_.asInstanceOf[AnyRef] eq old)
            if (a2 >= 0) afe.remove(a2)
            val s2 = stack.indexWhere(_ eq old)
            if (s2 >= 0) stack.remove(s2)
          }
        }
        // in-body <nobr>: a nobr in scope is adoption-agency-closed first
        if (tag == "nobr") {
          val i = stack.indexWhere(b => b.tag == "nobr" || defaultScopeBarrier(b.tag))
          if (i >= 0 && stack(i).tag == "nobr") adoptionAgency("nobr")
        }
      if (!noReconstructStart(tag)) reconstructAfe()
      // a table start never fosters: at a structural point the
      // implied-end step above just closed the outer table (WHATWG's
      // act-as-</table> rule), and inside a CELL a nested table is
      // legal in-body content. The in-table mode also keeps
      // script/style/template (processed via in-head rules) and
      // <input type=hidden> AT the table insertion point instead of
      // fostering them — jsdom's innerHTML shows them inside the
      // table, so rdf:HTML literals must too.
      val allowFoster = !tableLegal(tag) && tag != "table" &&
        tag != "script" && tag != "style" && tag != "template" &&
        !(tag == "input" &&
          attrs.get("type").exists(_.equalsIgnoreCase("hidden")))
      if (tag == "form") {
        // the spec's form-element pointer rule: a <form> start tag is
        // ignored whenever the pointer is non-null — even if the
        // pointed-to form was already popped implicitly (only </form>
        // clears the pointer), so '<div><form></div><form>' drops the
        // second form like jsdom
        if (formPtr != null) ()
        else {
          val b = new Builder(tag, attrs)
          insertAppropriately(b, allowFoster = false)
          if (fosterContext(stack.top.tag)) {
            // in-table <form> is inserted WITHOUT pushing (and without
            // fostering): the empty form sits in the table structure and
            // content continues at the table context (spec)
            formPtr = b
          } else {
            stack.push(b)
            formPtr = b
          }
        }
      } else if (tag == "svg" || tag == "math") {
        // entering foreign content: the element keeps its namespace,
        // attribute names are case-adjusted, and (unlike HTML voids)
        // self-closing syntax is honored for the root itself
        val ns = if (tag == "svg") "svg" else "math"
        val b = new Builder(tag,
          adjustAttrs(attrs, if (ns == "svg") svgAttrAdjust else mathAttrAdjust))
        b.ns = ns
        insertAppropriately(b, allowFoster)
        if (!selfClosing) stack.push(b)
      } else if (voidElements(tag)) {
        // the self-closing flag is IGNORED on non-void HTML elements
        // (spec: non-void-html-element-start-tag-with-trailing-solidus
        // is a parse error and the tag is treated as ordinary) — jsdom
        // nests '<o:p/>x' as <o:p>x</o:p>, and legacy Word exports
        // write exactly that; only voids and FOREIGN content honor it
        insertAppropriately(Element(tag, attrs, Vector.empty), allowFoster)
      } else {
        val b = new Builder(tag, attrs)
        insertAppropriately(b, allowFoster)
        stack.push(b)
        if (formattingTags(tag)) pushFormatting(b)
        else if (afeMarkerTags(tag)) afe += AfeMarker
      }
    }

    // a leading LF right after <pre>/<listing> is dropped (in-body rule)
    var dropLeadingLf = false
    // "in table text" (13.2.6.4.10): character tokens arriving at a
    // table-structural insertion point are BATCHED until the next
    // NON-character token — if any character in the batch is
    // non-whitespace the WHOLE batch is foster-parented (leading
    // whitespace included), otherwise it stays in the table. Per-token
    // handling diverges when the tokenizer splits a run: a stray '<'
    // before a non-letter, or an ignored '</>' stub — in '<table>  <3'
    // jsdom (parse5) fosters "  <3" wholly before the table; a
    // per-token walk would leave the "  " inside it. Empty
    // pseudo-text tokens (bogus end tags) emit no character in the
    // spec, so they do NOT end the batch here either.
    var pendingTableText: java.lang.StringBuilder = null
    // String.trim would also strip U+000B (vertical tab), which the
    // spec (and parse5) treat as a NON-whitespace character that
    // forces fostering — hence the spec class, not trim
    def htmlWsOnly(t: String): Boolean = t.forall(isHtmlWs)
    def flushTableText(): Unit = if (pendingTableText != null) {
      val t = pendingTableText.toString
      pendingTableText = null
      if (t.nonEmpty) {
        if (htmlWsOnly(t)) appendTo(stack.top, TextNode(t))
        else {
          // in-body character handling with fostering: reconstruct
          // first — it may RETARGET the insertion point to a fostered
          // formatting clone (then the text belongs INSIDE the clone,
          // not fostered again beside it); only a still-table-structural
          // insertion point fosters the text itself
          reconstructAfe()
          if (stack.top.ns == "html" && fosterContext(stack.top.tag)) {
            if (!fosterInsert(TextNode(t))) appendTo(stack.top, TextNode(t))
          } else appendTo(stack.top, TextNode(t))
        }
      }
    }
    def leaveInitial(): Unit = if (docMode == null) docMode = "quirks"
    tokens.foreach { tok =>
      tok match {
        case Tok.Doctype(name, pub, sys, force) =>
          flushTableText()
          if (docMode == null)
            docMode = classifyDoctype(name, pub, sys, force)
        case Tok.Comment(d) =>
          flushTableText()
          // "Insert a comment": appended at the CURRENT node — never
          // foster-parented (the in-table mode handles comments on its
          // own branch, so '<table><!--c--><tr>' keeps the comment
          // inside the table), never reconstructing formatting, and
          // never leaving the INITIAL mode (a comment before the
          // doctype must not lock in quirks). It IS a token, though,
          // so it spends the pre/listing leading-LF drop — the LF
          // after '<pre><!--c-->' is no longer "the next token" (spec).
          dropLeadingLf = false
          appendTo(stack.top, CommentNode(d))
        case Tok.Text(t0) =>
          if (docMode == null && t0.exists(c => !isHtmlWs(c)))
            docMode = "quirks"
          // EMPTY pseudo-text tokens (comments, doctypes, bogus end tags
          // emit these) are invisible: they must not consume the
          // leading-LF drop, or "<pre></>\n" would keep a newline that a
          // reparse of the serialization then drops (non-convergent)
          var t =
            if (t0.nonEmpty && dropLeadingLf && t0.startsWith("\n"))
              t0.substring(1)
            else t0
          if (t0.nonEmpty) dropLeadingLf = false
          // "in column group" text: whitespace is inserted in place;
          // the first non-whitespace character acts as </colgroup> and
          // reprocesses (so the rest of the run fosters before the
          // table) — split the run at that boundary, like jsdom
          if (t.nonEmpty && stack.top.ns == "html" &&
              stack.top.tag == "colgroup" && !htmlWsOnly(t) &&
              !foreignMode(None)) {
            val k = t.indexWhere(c => !isHtmlWs(c))
            if (k > 0) appendTo(stack.top, TextNode(t.substring(0, k)))
            finish()
            t = t.substring(k)
          }
          if (t.nonEmpty) {
            if (foreignMode(None)) appendTo(stack.top, TextNode(t))
            else if (stack.top.ns == "html" && textModeElements(stack.top.tag)) {
              // RAWTEXT/RCDATA content: the WHATWG "text" insertion mode
              // inserts characters as-is — no formatting reconstruction
              // (a clone opened inside a title would not survive a
              // render → reparse round trip)
              appendTo(stack.top, TextNode(t))
            } else if (stack.top.ns == "html" && fosterContext(stack.top.tag)) {
              // batch into the in-table-text run; whether it stays in
              // the table (all-whitespace) or fosters wholly is decided
              // at the next non-character token (flushTableText)
              if (pendingTableText == null)
                pendingTableText = new java.lang.StringBuilder
              pendingTableText.append(t)
            } else {
              // in-body character handling: reconstruct, then insert (the
              // reconstruction may retarget the insertion point to a clone)
              reconstructAfe()
              appendTo(stack.top, TextNode(t))
            }
          }
        case Tok.Open(tag, attrs, selfClosing) =>
          flushTableText()
          leaveInitial()
          if (foreignMode(Some(tag))) {
            val breakout = foreignBreakout(tag) || (tag == "font" &&
              (attrs.contains("color") || attrs.contains("face") ||
                attrs.contains("size")))
            if (breakout) {
              // pop the foreign subtree back to HTML content (or an
              // integration point), then reprocess as an HTML start tag
              while ({
                val t = stack.top
                t.ns != "html" && !isHtmlIntegrationPoint(t) &&
                  !isMathTextIntegrationPoint(t)
              }) finish()
              handleHtmlOpen(tag, attrs, selfClosing)
            } else {
              // insert a foreign element in the current (adjusted)
              // namespace; <svg> under a MathML annotation-xml starts an
              // SVG subtree (the spec's one cross-namespace entry point)
              val ns =
                if (tag == "svg" && stack.top.ns == "math" &&
                  stack.top.tag == "annotation-xml") "svg"
                else stack.top.ns
              val b = new Builder(tag, adjustAttrs(attrs,
                if (ns == "svg") svgAttrAdjust else mathAttrAdjust))
              b.ns = ns
              appendTo(stack.top, b)
              if (!selfClosing) stack.push(b)
            }
          } else {
            // "in select" insertion mode (jsdom too): only option/
            // optgroup/hr structure, text, and script/template are
            // honored inside a select; input/keygen/textarea and a
            // nested <select> CLOSE it; any other start tag is IGNORED
            val selIdx = openSelectIdx
            if (selIdx >= 0) tag match {
              case "option" =>
                if (stack.top.tag == "option") finish()
                val b = new Builder(tag, attrs)
                appendTo(stack.top, b)
                stack.push(b) // self-closing ignored on non-void HTML
              case "optgroup" =>
                if (stack.top.tag == "option") finish()
                if (stack.top.tag == "optgroup") finish()
                val b = new Builder(tag, attrs)
                appendTo(stack.top, b)
                stack.push(b)
              case "hr" =>
                if (stack.top.tag == "option") finish()
                if (stack.top.tag == "optgroup") finish()
                appendTo(stack.top, Element("hr", attrs, Vector.empty))
              case "select" => popThrough(openSelectIdx) // acts as </select>
              case "input" | "keygen" | "textarea" =>
                popThrough(openSelectIdx) // close the select, reprocess
                handleHtmlOpen(tag, attrs, selfClosing)
              case "script" | "template" =>
                handleHtmlOpen(tag, attrs, selfClosing)
              case "caption" | "table" | "tbody" | "tfoot" | "thead" |
                  "tr" | "td" | "th"
                  if stack.drop(selIdx + 1)
                    .exists(b => b.ns == "html" && b.tag == "table") =>
                // "in select in table" (select opened inside a table):
                // a structural start tag pops the select and reprocesses
                // — so '<table><tr><td><select><td property=…>' keeps
                // the second cell instead of dropping it (jsdom)
                popThrough(selIdx)
                handleHtmlOpen(tag, attrs, selfClosing)
              case _ => () // ignored in select
            } else handleHtmlOpen(tag, attrs, selfClosing)
          }
          dropLeadingLf = tag == "pre" || tag == "listing"
        case Tok.Close(tag) =>
          flushTableText()
          leaveInitial()
          dropLeadingLf = false
          var handled = false
          if (stack.top.ns == "html" && openSelectIdx >= 0) {
            // in-select end tags: </select> pops it; option/optgroup pop
            // their current element (an option directly under a closing
            // optgroup pops with it); a table-family end tag whose
            // element is open BELOW the select ("in select in table")
            // pops the select and reprocesses; everything else ignored
            val selIdx = openSelectIdx
            handled = true
            tag match {
              case "select" => popThrough(selIdx)
              case "option" =>
                if (stack.top.tag == "option") finish()
              case "optgroup" =>
                if (stack.top.tag == "option" && stack(1).tag == "optgroup")
                  finish()
                if (stack.top.tag == "optgroup") finish()
              case "caption" | "table" | "tbody" | "tfoot" | "thead" |
                  "tr" | "td" | "th"
                  if stack.drop(selIdx + 1)
                    .exists(b => b.ns == "html" && b.tag == tag) =>
                popThrough(selIdx)
                handled = false // reprocess via htmlEndTag below
              case _ => ()
            }
          }
          if (!handled && stack.top.ns != "html") {
            // foreign end tag: pop to the nearest matching FOREIGN
            // element; an HTML element reached first hands the token to
            // the HTML rules below
            val limit = stack.indexWhere(_.ns == "html") // #root is html
            val m = stack.indexWhere(b => b.tag == tag && b.ns != "html")
            if (m >= 0 && m < limit) { popThrough(m); handled = true }
          }
          if (!handled) htmlEndTag(tag)
      }
      // keep the tokenizer's mode in step: raw-text scanning and CDATA
      // depend on whether the NEXT token arrives in foreign content
      tokens.inForeign = {
        val t = stack.top
        t.ns != "html" && !isHtmlIntegrationPoint(t) &&
          !isMathTextIntegrationPoint(t)
      }
      tokens.inSelect = openSelectIdx >= 0
    }
    flushTableText()
    while (stack.top.tag != "#root") finish()
    buildTree(root)
  }

  /** Marker sentinel in the active-formatting list. */
  private object AfeMarker

  /** Builder tree → immutable Element tree, iteratively (post-order with
    * an explicit stack): adversarial nesting depth must not blow the JVM
    * stack during parse itself. */
  private def buildTree(root: Builder): Element = {
    final class Frame(val b: Builder) {
      val it: Iterator[AnyRef] = b.children.iterator
      val acc = Vector.newBuilder[Node] // build the child Vector directly
    }
    val work = mutable.ArrayBuffer(new Frame(root))
    var result: Element = null
    while (work.nonEmpty) {
      val f = work.last
      if (f.it.hasNext) {
        f.it.next() match {
          case cb: Builder => work += new Frame(cb)
          case n: Node => f.acc += n
        }
      } else {
        work.remove(work.length - 1)
        val el = Element(f.b.tag, f.b.attrs, f.acc.result(), f.b.ns)
        if (work.isEmpty) result = el else work.last.acc += el
      }
    }
    result
  }

  /** Start tags whose appearance closes an open `p` element — the
    * COMPLETE WHATWG "close a p element in button scope" list from the
    * in-body insertion mode (including the legacy/obsolete members
    * `center`/`dir`/`listing`/`plaintext`/`xmp` and the newer
    * `dialog`/`search`, so legacy government markup closes paragraphs
    * the way a browser would). `li`/`dt`/`dd` run the same p-closing
    * step on their own branch below. */
  private val closesP = Set("address", "article", "aside", "blockquote",
    "center", "details", "dialog", "dir", "div", "dl", "fieldset",
    "figcaption", "figure", "footer", "form", "h1", "h2", "h3", "h4",
    "h5", "h6", "header", "hgroup", "hr", "listing", "main", "menu",
    "nav", "ol", "p", "plaintext", "pre", "search", "section", "summary",
    "table", "ul", "xmp")

  /** Table-structural start tags and what they clear: WHATWG's "clear
    * the stack back to a table context" pops everything up to the
    * `table` element, so a section/caption/colgroup start closes any
    * open section, caption, colgroup, row or cell. */
  private val tableSection = Set("caption", "colgroup", "thead", "tbody", "tfoot")
  private val tableInner = tableSection ++ Set("tr", "td", "th")

  /** Implied end tags for `<p>a<p>b`-style machine markup: pop the
    * innermost open element when the incoming start tag implies its
    * close. Restricted to the innermost element (no scope walk) so
    * well-nested documents are untouched. The sibling-closing start
    * tags (`li`/`dt`/`dd`/`td`/`th`/`tr`) also close an open `p` —
    * they are all on the WHATWG "closes a p element in button scope"
    * path too (`<ul><li><p>a<li>b`: the second `li` first closes the
    * `p`, then the sibling `li`); the tailrec re-check pops both.
    * Table-structural tags (`thead`/`tbody`/`tfoot`/`caption`/
    * `colgroup`) clear back to table context — an open chain of
    * section→row→cell pops one frame per re-check; `rt`/`rp` and
    * `option`/`optgroup` close their siblings per the spec's implied-
    * end-tag set. */
  /** "Clear the stack back to a table (/body/row) context": with a table
    * open, a structural start tag pops EVERY element down to its context
    * frame — not just tableInner tops — so `<table><tr><td><p>a<tbody>`
    * closes p, td and tr before the tbody opens (WHATWG; a fostered
    * element left open is closed the same way). Outside a table the old
    * innermost-only rules apply: there is no table to clear back to. */
  // every WHATWG "clear the stack back to a … context" loop stops at
  // template too: a table fragment inside a <template> that itself sits
  // in an outer table's cell must never clear through the template into
  // the outer row ('<td><template><td>' keeps the second cell INSIDE
  // the template, like jsdom's template.content)
  private val tableBodyCtx = Set("table", "tbody", "thead", "tfoot",
    "template", "#root")
  private val tableRowCtx = tableBodyCtx + "tr"

  /** WHATWG "has a `p` element in button scope": the search for the open
    * `p` walks DOWN the stack through inline/formatting elements and
    * stops at these barriers — so `<p>a<b>c<p>` closes the first p
    * (popping the b with it) while a p outside a table cell or button
    * is never closed from inside one. */
  private val buttonScopeBarrier = Set("applet", "caption", "html", "table",
    "td", "th", "marquee", "object", "template", "button", "#root")

  /** The spec's "special" category members relevant to the li/dd/dt
    * sibling walk: the walk from the stack top stops at any of these
    * (except address/div/p, which it walks through). */
  private val liWalkBarrier = Set("applet", "article", "aside", "blockquote",
    "body", "button", "caption", "center", "col", "colgroup", "dl",
    "details", "dialog", "dir", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header",
    "hgroup", "html", "listing", "main", "marquee", "menu", "nav",
    "object", "ol", "plaintext", "pre", "search", "section", "select",
    "summary", "table", "tbody", "td", "template", "tfoot", "th", "thead",
    "tr", "ul", "xmp", "#root")

  /** Pop until the builder at stack index `idx` (inclusive) is closed.
    * `pop` is the caller's finish (it also clears formatting-list
    * markers when a cell/caption/template closes). */
  private def popThrough(idx: Int, pop: () => Unit): Unit = {
    var i = idx
    while (i >= 0) { pop(); i -= 1 }
  }

  /** WHATWG "close a p element in button scope", the scope-walking form:
    * pop everything down to and including the nearest open `p`, unless a
    * scope barrier intervenes. `<p>a<b>c<p>d`: the second p start closes
    * the first p AND the b — matching jsdom's literal extents for a
    * `<p property=…>`; the popped b stays in the active formatting list
    * and reconstructs around "d" (see reconstructAfe in parse). */
  private def closePInButtonScope(stack: mutable.Stack[Builder],
      pop: () => Unit): Unit = {
    val idx = stack.indexWhere(b => b.tag == "p" ||
      buttonScopeBarrier(b.tag) || foreignScopeBarrier(b))
    if (idx >= 0 && stack(idx).tag == "p") popThrough(idx, pop)
  }

  /** The li (and dd/dt) sibling walk: from the stack top, close an open
    * sibling through phrasing content (`<li><b>x<li>` pops b and li) but
    * stop at special-category blocks other than address/div/p. */
  private def closeSibling(stack: mutable.Stack[Builder],
      targets: Set[String], pop: () => Unit): Unit = {
    val idx = stack.indexWhere(b => targets(b.tag) ||
      liWalkBarrier(b.tag) || foreignScopeBarrier(b))
    if (idx >= 0 && targets(stack(idx).tag)) popThrough(idx, pop)
  }

  private def impliedEndTags(stack: mutable.Stack[Builder], tag: String,
      pop: () => Unit, quirks: Boolean): Unit = {
    def inTable = stack.exists(_.tag == "table")
    tag match {
      case "table" =>
        // in-body table start closes a p in button scope like the rest
        // of the closesP family — but ONLY outside quirks mode (the
        // spec's single quirks-gated tree-builder rule: a doctype-less
        // legacy page keeps the table INSIDE the paragraph, jsdom) —
        // AND, at a TABLE insertion point,
        // WHATWG in-table acts as </table> first: "<table><table>"
        // builds two sibling tables ("<table><tr><table>" ends the row
        // with its table). Inside a cell or caption the content mode is
        // in-body again, where a nested table is legal and stays nested.
        if (!quirks) closePInButtonScope(stack, pop)
        // template is a TABLE-SCOPE barrier: a <table> inside template
        // content never acts as </table> for an outer table
        val idx = stack.indexWhere(b => b.tag == "table" || b.tag == "td" ||
          b.tag == "th" || b.tag == "caption" || b.tag == "template" ||
          b.tag == "#root")
        if (idx >= 0 && stack(idx).tag == "table") popThrough(idx, pop)
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        closePInButtonScope(stack, pop)
        // in-body heading start: a CURRENT h1-h6 node is popped (parse
        // error) — "<h1>a<h2>b" builds sibling headings, as jsdom does;
        // only the current node is checked, never a scope walk
        if (stack.top.ns == "html" && headingTags(stack.top.tag)) pop()
      case t if closesP(t) => closePInButtonScope(stack, pop)
      case "li" =>
        closeSibling(stack, Set("li"), pop); closePInButtonScope(stack, pop)
      case "dt" | "dd" =>
        closeSibling(stack, Set("dt", "dd"), pop); closePInButtonScope(stack, pop)
      case "tr" =>
        if (inTable) while (!tableBodyCtx(stack.top.tag)) pop()
        else innermostLegacy(stack, tag, pop)
      case "td" | "th" =>
        if (inTable) while (!tableRowCtx(stack.top.tag)) pop()
        else innermostLegacy(stack, tag, pop)
      case t if tableSection(t) =>
        if (inTable)
          while (stack.top.tag != "table" && stack.top.tag != "template" &&
            stack.top.tag != "#root") pop()
        else innermostLegacy(stack, tag, pop)
      case "rt" | "rp" =>
        // in-body rt/rp: ONLY with a ruby element in scope do they
        // generate implied end tags (closing an open rt/rp/rb down to
        // the ruby); without one they are generic starts and nest —
        // "<rp><rt>" outside ruby keeps the rt inside the rp, exactly
        // as jsdom builds it
        val idx = stack.indexWhere(b => b.tag == "ruby" ||
          rubyScopeBarrier(b.tag) || foreignScopeBarrier(b))
        if (idx >= 0 && stack(idx).tag == "ruby")
          while (impliedEndSet(stack.top.tag)) pop()
      case "option" | "optgroup" =>
        // in-body: both starts pop a current OPTION only; optgroup does
        // NOT close an open optgroup outside a select (spec-literal,
        // like jsdom — the in-select rules run in the parse loop)
        if (stack.top.tag == "option") pop()
      case "button" =>
        // in-body: a <button> start with a button in scope closes it
        // first — buttons never nest
        val idx = stack.indexWhere(b => b.tag == "button" ||
          buttonScopeBarrier(b.tag) || foreignScopeBarrier(b))
        if (idx >= 0 && stack(idx).tag == "button") popThrough(idx, pop)
      case _ => ()
    }
  }

  /** Regular-scope barriers for the ruby search (WHATWG "has a ruby
    * element in scope"). */
  private val rubyScopeBarrier = Set("applet", "caption", "html", "table",
    "td", "th", "marquee", "object", "template", "#root")

  /** The spec's "generate implied end tags" set. */
  private val impliedEndSet = Set("dd", "dt", "li", "optgroup", "option",
    "p", "rb", "rp", "rt", "rtc")

  /** The pre-scope-walk innermost-only sibling rules, kept for the
    * table-structural tags OUTSIDE any table (nothing to clear back to)
    * and the option/ruby families. */
  @annotation.tailrec
  private def innermostLegacy(stack: mutable.Stack[Builder], tag: String,
      pop: () => Unit): Unit = {
    val top = stack.top.tag
    val close = tag match {
      case "tr"                => top == "tr" || top == "td" || top == "th" ||
                                  top == "caption" || top == "colgroup" || top == "p"
      case "td" | "th"         => top == "td" || top == "th" ||
                                  top == "caption" || top == "colgroup" || top == "p"
      case t if tableSection(t) => tableInner(top)
      case _                   => false
    }
    if (close) { pop(); innermostLegacy(stack, tag, pop) }
  }

  /** Open-element builder: a mutable tree node. `children` holds built
    * Nodes and child Builders alike (open or closed — closure changes
    * nothing structurally); [[buildTree]] converts once at EOF. The
    * mutable form is what lets the adoption agency move and clone
    * subtrees that earlier eager-build designs could not. */
  private final class Builder(val tag: String, var attrs: Map[String, String]) {
    val children = mutable.ArrayBuffer[AnyRef]() // Node | Builder
    var parent: Builder = null
    /** Element namespace: "html" | "svg" | "math" (foreign content). */
    var ns: String = "html"
  }

  /** WHATWG HTML integration points: content inside them parses with
    * HTML rules again (an <svg><foreignObject><p> paragraph is an HTML
    * paragraph). */
  private def isHtmlIntegrationPoint(b: Builder): Boolean =
    (b.ns == "svg" &&
      (b.tag == "foreignobject" || b.tag == "desc" || b.tag == "title")) ||
    (b.ns == "math" && b.tag == "annotation-xml" && {
      val enc = b.attrs.get("encoding")
        .map(_.toLowerCase(java.util.Locale.ROOT))
      enc.contains("text/html") || enc.contains("application/xhtml+xml")
    })

  /** MathML text integration points: HTML rules for everything except
    * mglyph/malignmark starts. */
  private def isMathTextIntegrationPoint(b: Builder): Boolean =
    b.ns == "math" && (b.tag == "mi" || b.tag == "mo" || b.tag == "mn" ||
      b.tag == "ms" || b.tag == "mtext")

  /** The foreign-content members of every WHATWG scope definition (and
    * of the "special" category): the integration points. Namespace-
    * aware, so an HTML element that happens to be named `desc` or `mi`
    * keeps its ordinary (walk-through) behavior. */
  private def foreignScopeBarrier(b: Builder): Boolean =
    (b.ns == "svg" &&
      (b.tag == "foreignobject" || b.tag == "desc" || b.tag == "title")) ||
    (b.ns == "math" && (b.tag == "mi" || b.tag == "mo" || b.tag == "mn" ||
      b.tag == "ms" || b.tag == "mtext" || b.tag == "annotation-xml"))

  // -------------------------------------------------------------- tokens

  private object Tok {
    sealed trait T
    final case class Text(t: String) extends T
    final case class Open(tag: String, attrs: Map[String, String],
        selfClosing: Boolean) extends T
    final case class Close(tag: String) extends T
    /** A DOCTYPE token with the fields the initial insertion mode
      * classifies on. `name` is lowercased; ids are verbatim. */
    final case class Doctype(name: String, publicId: Option[String],
        systemId: Option[String], forceQuirks: Boolean) extends T
    /** A comment token (real or bogus) — becomes a [[CommentNode]]. */
    final case class Comment(data: String) extends T
  }

  private final class Tokenizer(s: String) extends Iterator[Tok.T] {
    /** Set by the tree builder between tokens: inside SVG/MathML content
      * (outside integration points) raw-text scanning is disabled (an
      * SVG <script> has element children), CDATA sections are character
      * data, and NUL maps to U+FFFD instead of vanishing. Sound because
      * tokens are produced strictly on demand, one per next(). */
    var inForeign: Boolean = false
    /** Set by the tree builder between tokens: the "in select" mode
      * IGNORES most start tags, so the tokenizer must not switch into
      * a text state for an element that will never be inserted — jsdom
      * (parse5) couples the switch to actual insertion the same way. A
      * <style/> inside a select would otherwise swallow the following
      * options to EOF as raw text. script still engages (in-select
      * processes it via the in-head rules) and textarea still engages
      * (it POPS the select and reprocesses into body, where RCDATA is
      * correct). */
    var inSelect: Boolean = false
    private var i = 0
    private var pendingRawText: String = null
    private def isWs(c: Char): Boolean = isHtmlWs(c)
    /** ASCII-only case fold: the tokenizer lowercases ONLY A-Z in tag
      * and attribute names (parse5/jsdom likewise) — a Locale.ROOT
      * toLowerCase would also map non-ASCII (É→é; U+0130 even
      * length-shifts), changing innerHTML bytes on exotic names. */
    private def asciiLower(str: String): String = {
      var k = 0
      while (k < str.length &&
        !(str.charAt(k) >= 'A' && str.charAt(k) <= 'Z')) k += 1
      if (k == str.length) str
      else {
        val b = new java.lang.StringBuilder(str.length)
        var m = 0
        while (m < str.length) {
          val c = str.charAt(m)
          b.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
          m += 1
        }
        b.toString
      }
    }
    /** Set by parseOpenTag when EOF arrived INSIDE the tag (WHATWG
      * eof-in-tag): the partial tag is dropped entirely — a truncated
      * harvested page cut mid-`<div property=…` yields no element and
      * no triple, exactly as jsdom's tokenizer drops it. */
    private var droppedAtEof = false

    def hasNext: Boolean = i < s.length || pendingRawText != null

    def next(): Tok.T = {
      if (pendingRawText != null) {
        val t = Tok.Text(pendingRawText); pendingRawText = null; return t
      }
      if (s(i) != '<') {
        val start = i
        val lt = s.indexOf('<', i)
        i = if (lt < 0) s.length else lt
        // WHATWG: raw NUL character tokens are ignored by the in-body
        // tree builder — they vanish from text (an entity &#0; instead
        // decodes to U+FFFD in decodeEntities, a different rule); in
        // FOREIGN content the NUL becomes U+FFFD instead
        val txt = s.substring(start, i)
        val nulled =
          if (txt.indexOf('\u0000') < 0) txt
          else if (inForeign) txt.replace('\u0000', '\ufffd')
          else txt.replace("\u0000", "")
        return Tok.Text(decodeEntities(nulled, isAttr = false))
      }
      // '<'
      if (inForeign && s.startsWith("<![CDATA[", i)) {
        // CDATA sections exist only in foreign content (in HTML they are
        // bogus comments): raw character data to "]]>", NO entity
        // decoding, NUL to U+FFFD
        val end = s.indexOf("]]>", i + 9)
        val content =
          if (end < 0) s.substring(i + 9) else s.substring(i + 9, end)
        i = if (end < 0) s.length else end + 3
        return Tok.Text(content.replace('\u0000', '\ufffd'))
      }
      if (s.startsWith("<!--", i)) {
        // WHATWG comment endings: "<!-->" and "<!--->" close ABRUPTLY
        // (an empty comment, not a swallow-the-document scan), and
        // "--!>" (incorrectly-closed) ends a comment like "-->" does —
        // whichever terminator comes first; EOF emits the comment with
        // the data so far (eof-in-comment). NUL in data → U+FFFD.
        val after = i + 4
        if (s.startsWith(">", after)) { i = after + 1; return Tok.Comment("") }
        if (s.startsWith("->", after)) { i = after + 2; return Tok.Comment("") }
        val end1 = s.indexOf("-->", after)
        val end2 = s.indexOf("--!>", after)
        val (end, skip) =
          if (end2 >= 0 && (end1 < 0 || end2 < end1)) (end2, end2 + 4)
          else if (end1 >= 0) (end1, end1 + 3)
          else (s.length, s.length)
        i = skip
        return Tok.Comment(s.substring(after, end).replace('\u0000', '\ufffd'))
      }
      if (i + 1 < s.length && s(i + 1) == '!' &&
          s.regionMatches(true, i + 2, "doctype", 0, 7))
        return parseDoctype()
      if (i + 1 < s.length && (s(i + 1) == '!' || s(i + 1) == '?')) {
        // bogus comment (WHATWG): data runs to the first '>' (or EOF);
        // after "<!" the data starts past the bang, after "<?" the '?'
        // is RECONSUMED into the data — jsdom serializes "<?php x?>"
        // back as "<!--?php x?-->"
        val start = if (s(i + 1) == '!') i + 2 else i + 1
        val end = s.indexOf('>', i)
        val data = if (end < 0) s.substring(start) else s.substring(start, end)
        i = if (end < 0) s.length else end + 1
        return Tok.Comment(data.replace('\u0000', '\ufffd'))
      }
      if (i + 1 < s.length && s(i + 1) == '/') {
        // WHATWG end-tag-open: a letter starts an end tag whose NAME is
        // the leading run — trailing junk (attributes on an end tag,
        // "</div foo>") is parse-error noise and the div still closes;
        // "</>" is missing-end-tag-name (ignored outright); a NON-letter
        // makes the whole thing a bogus COMMENT ("</ div>" → " div",
        // "</3>" → "3" — they close nothing but serialize as comments)
        if (i + 2 >= s.length) { i = s.length; return Tok.Text("</") }
        val c2 = s(i + 2)
        val end = s.indexOf('>', i)
        if ((c2 >= 'a' && c2 <= 'z') || (c2 >= 'A' && c2 <= 'Z')) {
          var j = i + 2
          while (j < s.length && !isWs(s(j)) && s(j) != '/' && s(j) != '>')
            j += 1
          val tag = asciiLower(s.substring(i + 2, j))
            .replace('\u0000', '\ufffd')
          // consume (and discard) end-tag attribute junk with the
          // SHARED open-tag attribute states, so a QUOTED '>' does not
          // end the tag: jsdom swallows all of '</div a=">">' — a bare
          // indexOf('>') would close at the quote and leak '">' as text
          val after = scanAttrs(j, null)
          // eof-in-tag: an end tag cut off by EOF is dropped entirely
          if (!scanClosed) { i = s.length; return Tok.Text("") }
          i = after
          return Tok.Close(tag)
        }
        if (c2 == '>') { i = i + 3; return Tok.Text("") }
        val data = if (end < 0) s.substring(i + 2) else s.substring(i + 2, end)
        i = if (end < 0) s.length else end + 1
        return Tok.Comment(data.replace('\u0000', '\ufffd'))
      }
      // open tag
      parseOpenTag() match {
        case Some(open) =>
          if (open.tag == "plaintext" && !inForeign && !inSelect) {
            // PLAINTEXT state: EVERYTHING to EOF is character data —
            // there is no end tag ('</plaintext>' is literal text);
            // NUL maps to U+FFFD like script data
            if (i < s.length) {
              pendingRawText = s.substring(i).replace('\u0000', '\ufffd')
              i = s.length
            }
          } else if (rawTextElements(open.tag) && !inForeign &&
              (!inSelect || open.tag == "script")) {
            // missing end tag: the RAWTEXT state runs to EOF (spec) —
            // falling through to markup parsing here both diverged
            // from jsdom and let elements nest inside a raw-text
            // element, which the raw serializer then silently dropped
            val end0 =
              if (open.tag == "script") scriptEndIndex(s, i)
              else {
                val e = rawEndIndex(s, open.tag, i)
                if (e >= 0) e else s.length
              }
            val end = end0
            if (end < s.length || end > i) {
              // script-data tokenization maps NUL to U+FFFD (unlike
              // body text, where NUL tokens are dropped)
              pendingRawText = s.substring(i, end).replace('\u0000', '\ufffd')
              i = end
            }
          } else if (rcdataElements(open.tag) && !inForeign &&
              (!inSelect || open.tag == "textarea")) {
            val end0 = rawEndIndex(s, open.tag, i)
            val end = if (end0 >= 0) end0 else s.length // RCDATA to EOF too
            if (end0 >= 0 || end > i) {
              val seg0 = s.substring(i, end)
              // RCDATA decodes character references, NUL becomes U+FFFD;
              // the leading-LF drop after <textarea> applies to the
              // DECODED character token (an "&#10;" newline drops too —
              // the tree builder sees only character tokens)
              val decoded =
                decodeEntities(seg0.replace('\u0000', '\ufffd'), isAttr = false)
              pendingRawText =
                if (open.tag == "textarea" && decoded.startsWith("\n"))
                  decoded.substring(1)
                else decoded
              i = end
            }
          }
          open
        case None =>
          if (droppedAtEof) { droppedAtEof = false; Tok.Text("") }
          else {
            // lone '<' that isn't a tag — treat literally
            i += 1
            Tok.Text("<")
          }
      }
    }

    /** The WHATWG DOCTYPE tokenizer states, collapsed: name, optional
      * PUBLIC/SYSTEM keywords with quote-delimited identifiers (a '>'
      * INSIDE a quoted id does not end the tag), force-quirks on the
      * spec's malformed paths — missing name, junk after the name,
      * missing/abrupt (unquoted-terminated) identifiers, EOF. Entered
      * on a case-insensitive "<!doctype" at `i`. */
    private def parseDoctype(): Tok.Doctype = {
      var j = i + 9 // past "<!doctype"
      def skipWs(): Unit = while (j < s.length && isWs(s(j))) j += 1
      var force = false
      skipWs()
      if (j >= s.length) { i = s.length
        return Tok.Doctype("", None, None, forceQuirks = true) }
      if (s(j) == '>') { i = j + 1
        return Tok.Doctype("", None, None, forceQuirks = true) }
      val nameStart = j
      while (j < s.length && !isWs(s(j)) && s(j) != '>') j += 1
      val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
      skipWs()
      var publicId: Option[String] = None
      var systemId: Option[String] = None
      // reads a quote-delimited identifier at j; a missing opening quote
      // or an id ended by '>'/EOF instead of the quote sets force-quirks
      def readQuoted(): Option[String] =
        if (j < s.length && (s(j) == '"' || s(j) == '\'')) {
          val q = s(j); j += 1
          val start = j
          while (j < s.length && s(j) != q && s(j) != '>') j += 1
          val v = s.substring(start, j)
          if (j < s.length && s(j) == q) { j += 1; Some(v) }
          else { force = true; Some(v) }
        } else { force = true; None }
      if (j < s.length && s(j) != '>') {
        if (s.regionMatches(true, j, "public", 0, 6)) {
          j += 6; skipWs()
          publicId = readQuoted()
          skipWs()
          if (j < s.length && s(j) != '>') systemId = readQuoted()
        } else if (s.regionMatches(true, j, "system", 0, 6)) {
          j += 6; skipWs()
          systemId = readQuoted()
        } else force = true // junk after the name: bogus DOCTYPE
      }
      // bogus-DOCTYPE state: consume to '>' (EOF forces quirks)
      while (j < s.length && s(j) != '>') j += 1
      if (j >= s.length) { force = true; i = s.length }
      else i = j + 1
      Tok.Doctype(name, publicId, systemId, force)
    }

    /** The WHATWG attribute states, shared by OPEN and END tags (end
      * tags pass a no-op `put` — their attributes are parse-error junk
      * that must still be consumed so a quoted '>' cannot truncate the
      * tag). Starts just past the tag name; sets `scanSelfClosing` /
      * `scanClosed` and returns the index after the tag (or s.length
      * at EOF-in-tag, with scanClosed=false). */
    private var scanSelfClosing = false
    private var scanClosed = false
    private def scanAttrs(from: Int, put: (String, String) => Unit): Int = {
      val collecting = put != null
      var j = from
      scanSelfClosing = false
      scanClosed = false
      var done = false
      while (!done && j < s.length) {
        while (j < s.length && isWs(s(j))) j += 1
        if (j >= s.length) done = true
        else s(j) match {
          case '>' => j += 1; done = true; scanClosed = true
          case '/' =>
            if (j + 1 < s.length && s(j + 1) == '>') {
              scanSelfClosing = true; j += 2; done = true; scanClosed = true
            } else j += 1
          case _ =>
            val aStart = j
            // unexpected-equals-sign-before-attribute-name: a leading
            // '=' joins the attribute NAME ('<div =x>' has an attribute
            // named "=x"), per the spec's tokenizer
            if (s(j) == '=') j += 1
            while (j < s.length && !isWs(s(j)) && s(j) != '=' &&
              s(j) != '>' && s(j) != '/') j += 1
            // ASCII-only fold (spec): also immune to a Turkish default
            // locale mapping 'I' to dotless ı, which would break
            // PROPERTY/ABOUT lookups
            val name =
              if (collecting) asciiLower(s.substring(aStart, j))
                .replace('\u0000', '\ufffd')
              else null // discarded junk: skip the substring + fold
            while (j < s.length && isWs(s(j))) j += 1
            if (j < s.length && s(j) == '=') {
              j += 1
              while (j < s.length && isWs(s(j))) j += 1
              if (j < s.length && (s(j) == '"' || s(j) == '\'')) {
                val quote = s(j); j += 1
                val vStart = j
                while (j < s.length && s(j) != quote) j += 1
                if (collecting)
                  put(name, decodeEntities(s.substring(vStart, j), isAttr = true)
                    .replace('\u0000', '\ufffd'))
                if (j < s.length) j += 1
              } else {
                val vStart = j
                while (j < s.length && !isWs(s(j)) && s(j) != '>') j += 1
                if (collecting)
                  put(name, decodeEntities(s.substring(vStart, j), isAttr = true)
                    .replace('\u0000', '\ufffd'))
              }
            } else if (collecting && j > aStart) put(name, "")
        }
      }
      j
    }

    private def parseOpenTag(): Option[Tok.Open] = {
      var j = i + 1
      val nameStart = j
      // WHATWG tag-open: only an ASCII LETTER starts a tag — "<3" is
      // literal text, not an element named "3"
      if (j >= s.length ||
          !((s(j) >= 'a' && s(j) <= 'z') || (s(j) >= 'A' && s(j) <= 'Z')))
        return None
      // tag-name state: the name runs to HTML whitespace, '/', or '>' —
      // EVERY other character joins it ("anything else: append"), so
      // namespaced Word-export tags (<o:p>), underscores, dots and
      // non-ASCII survive with their spec names (jsdom keeps <o:p> as
      // an element named "o:p"; a letters-only scan would split it
      // into <o :p=""> and change innerHTML bytes on exactly the
      // legacy-CMS markup this pipeline harvests)
      while (j < s.length && !isWs(s(j)) && s(j) != '/' && s(j) != '>') j += 1
      val tag = asciiLower(s.substring(nameStart, j)).replace('\u0000', '\ufffd')
      // Insertion-ordered: re-serialization (render/innerHtml) must emit
      // attributes in source order like jsdom's innerHTML — a hash Map
      // goes hash-order above 4 entries. First occurrence wins on
      // duplicates (HTML parsing spec; jsdom drops later duplicates).
      var attrs = scala.collection.immutable.VectorMap.empty[String, String]
      def putAttr(name: String, value: String): Unit =
        if (!attrs.contains(name)) attrs = attrs.updated(name, value)
      i = scanAttrs(j, putAttr)
      // WHATWG eof-in-tag: EOF before the closing '>' (in the tag name,
      // an attribute name, or an attribute value) emits NO token — the
      // truncated tag vanishes, like jsdom
      if (!scanClosed) { droppedAtEof = true; return None }
      Some(Tok.Open(tag, attrs, scanSelfClosing))
    }
  }

  /** Locale-independent, allocation-free case-insensitive search (ASCII
    * needle). `String.toLowerCase` over the document is both index-unsafe
    * (length-changing mappings like U+0130 shift offsets) and
    * locale-dependent ('I' under a Turkish default locale never matches
    * "</script") — and it copies the whole document per raw-text tag. */
  /** Index where a `<script>` element's content ends, honoring the
    * WHATWG script-data ESCAPE states: after `<!--` the scanner is
    * escaped (a `</script>` still closes); a nested `<script>` while
    * escaped enters DOUBLE-escaped, where `</script>` is literal text
    * (the document.write('<script>…<\/script>') legacy pattern) and
    * only exits double-escaping; `-->` returns to plain script data
    * from either escaped state. Returns hay.length when the element
    * never closes (RAWTEXT-to-EOF). */
  private def scriptEndIndex(hay: String, from: Int): Int = {
    var i = math.max(from, 0)
    var escaped = false
    var doubled = false
    while (i < hay.length) {
      val c = hay(i)
      if (c == '<') {
        if (!escaped && hay.startsWith("<!--", i)) { escaped = true; i += 4 }
        else if (hay.regionMatches(true, i, "</script", 0, 8) &&
            tagBoundary(hay, i + 8)) {
          if (doubled) { doubled = false; i += 8 } // literal text
          else return i // closes from plain AND singly-escaped states
        } else if (escaped && !doubled &&
            hay.regionMatches(true, i, "<script", 0, 7) &&
            tagBoundary(hay, i + 7)) {
          doubled = true; i += 7
        } else i += 1
      } else if (c == '-' && (escaped || doubled) &&
          hay.startsWith("-->", i)) {
        escaped = false; doubled = false; i += 3
      } else i += 1
    }
    hay.length
  }

  /** WHATWG end-tag-name boundary inside raw-text/RCDATA scanning: the
    * char after "</tag" must be whitespace, '/', or '>' for the tag to
    * count — "</scriptx>" inside a script is literal text, and a
    * "</script" cut by EOF never terminates (the content runs to EOF,
    * the spec's anything-else branch). */
  /** The spec's whitespace class — exactly TAB/LF/FF/CR/SPACE (CR is
    * normalized to LF in preprocessing, so it never matches in
    * practice). Character.isWhitespace is WRONG here: it also matches
    * U+000B and Unicode spaces, which the tokenizer and the in-table
    * foster decision treat as ordinary characters. The ONE definition
    * every ws check in this file routes through. */
  @inline private[html] def isHtmlWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  @inline private def tagBoundary(hay: String, at: Int): Boolean =
    at < hay.length && {
      val c = hay(at)
      isHtmlWs(c) || c == '/' || c == '>'
    }

  /** First index of "</tag" followed by a proper end-tag boundary, or
    * -1 — the raw-text/RCDATA terminator search. */
  private def rawEndIndex(hay: String, tag: String, from: Int): Int = {
    val needle = "</" + tag
    var i = from
    while (i >= 0) {
      val at = indexOfIgnoreCaseAscii(hay, needle, i)
      if (at < 0) return -1
      if (tagBoundary(hay, at + needle.length)) return at
      i = at + 1
    }
    -1
  }

  private def indexOfIgnoreCaseAscii(hay: String, needle: String, from: Int): Int = {
    // ASCII-only fold: HTML mandates ASCII-case-insensitive end-tag
    // matching, and Unicode folding would false-match e.g. U+0130 'İ' or
    // U+212A Kelvin sign against 'i'/'k'.
    @inline def fold(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
    val n = needle.length
    var i = math.max(from, 0)
    val limit = hay.length - n
    while (i <= limit) {
      var j = 0
      while (j < n && fold(hay(i + j)) == fold(needle(j))) j += 1
      if (j == n) return i
      i += 1
    }
    -1
  }

  // ------------------------------------------------------------ entities

  /** The fast local subset (hit on virtually every reference): XML
    * basics (incl. `apos`, which HTML4 lacks) and the accents/dashes
    * besluit pages actually carry. Anything else non-numeric falls
    * through to commons-text's complete HTML4 table (shipped with
    * Spark), so `&euml;`/`&alpha;`/`&hearts;` all decode; HTML5-only
    * long names are the remaining (rare) literals. */
  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "eacute" -> "é", "egrave" -> "è", "agrave" -> "à",
    "ccedil" -> "ç", "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä",
    "euro" -> "€", "mdash" -> "—", "ndash" -> "–",
    "rsquo" -> "’", "lsquo" -> "‘",
    "ldquo" -> "“", "rdquo" -> "”", "hellip" -> "…")

  /** WHATWG numeric-character-reference value mapping: NUL, surrogates
    * and beyond-Unicode turn into U+FFFD, and the C1 block 0x80–0x9F
    * takes the windows-1252 remap — scraped CMS output is full of
    * `&#146;`-style smart quotes that MUST decode as ’, not as a C1
    * control (jsdom, the reference's parser, does the same). */
  private val win1252Remap: Map[Int, Int] = Map(
    0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
    0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
    0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
    0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
    0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)

  private def numericRef(cp0: Long): String = {
    val cp =
      if (cp0 == 0L || cp0 > 0x10FFFFL ||
          (cp0 >= 0xD800L && cp0 <= 0xDFFFL)) 0xFFFD
      else win1252Remap.getOrElse(cp0.toInt, cp0.toInt)
    new String(Character.toChars(cp))
  }

  /** WHATWG legacy (semicolon-less) named references: exactly the
    * HTML4 basic + Latin-1 sets, plus their historical uppercase
    * aliases — "&copy 2023" is "\u00a9 2023" and "&ampx" is "&x" in
    * TEXT; in an ATTRIBUTE a legacy match followed by [a-zA-Z0-9=]
    * does not decode, so query strings like "?a=1&copy=2" stay intact
    * (the spec's attribute suppression rule). */
  private val legacyEntities: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val commons =
      (org.apache.commons.text.translate.EntityArrays.BASIC_UNESCAPE.asScala ++
        org.apache.commons.text.translate.EntityArrays.ISO8859_1_UNESCAPE.asScala)
        .map { case (k, v) =>
          k.toString.stripPrefix("&").stripSuffix(";") -> v.toString }
    commons.toMap ++ Map("AMP" -> "&", "LT" -> "<", "GT" -> ">",
      "QUOT" -> "\"", "COPY" -> "\u00a9", "REG" -> "\u00ae")
  }
  private val legacyMaxLen = legacyEntities.keysIterator.map(_.length).max

  @inline private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  def decodeEntities(t: String, isAttr: Boolean = false): String = {
    if (t.indexOf('&') < 0) return t
    val sb = new StringBuilder(t.length)
    var i = 0
    while (i < t.length) {
      if (t(i) == '&' && i + 1 < t.length) {
        val c1 = t(i + 1)
        if (c1 == '#') {
          // numeric reference: the value is emitted whether or not a
          // semicolon follows ("&#65x" is "Ax" with a parse error) —
          // the spec's missing-semicolon rule; the value accumulator
          // saturates, so arbitrarily long digit runs land on U+FFFD
          val hex = i + 2 < t.length && (t(i + 2) == 'x' || t(i + 2) == 'X')
          var j = i + (if (hex) 3 else 2)
          var v = 0L
          var any = false
          while (j < t.length && {
            val c = t(j)
            if (hex) isHexDigit(c) else c >= '0' && c <= '9'
          }) {
            any = true
            if (v <= 0x10FFFFL)
              v = v * (if (hex) 16 else 10) + Character.digit(t(j), 16)
            j += 1
          }
          if (any) {
            sb.append(numericRef(v))
            i = if (j < t.length && t(j) == ';') j + 1 else j
          } else { sb.append('&'); i += 1 }
        } else if (isNameChar(c1)) {
          var j = i + 1
          while (j < t.length && isNameChar(t(j))) j += 1
          val run = t.substring(i + 1, j)
          val semiDecoded: Option[String] =
            if (j < t.length && t(j) == ';')
              namedEntities.get(run).orElse {
                val ref = "&" + run + ";"
                val un = org.apache.commons.text.StringEscapeUtils.unescapeHtml4(ref)
                if (un != ref) Some(un) else None
              }.orElse(
                // the spec table carries WITH-semicolon uppercase
                // variants for the six legacy names (&AMP; &LT; &GT;
                // &QUOT; &COPY; &REG;) — commons' HTML4 table does not,
                // and falling through to the semicolon-LESS prefix
                // match would leave a stray ';' in the text
                legacyEntities.get(run))
            else None
          semiDecoded match {
            case Some(d) => sb.append(d); i = j + 1
            case None =>
              // legacy fallback: longest semicolon-less prefix of the
              // run ("&notit;" is "\u00acit;", the ; belongs to no one)
              var k = math.min(run.length, legacyMaxLen)
              var hit: Option[(String, Int)] = None
              while (k >= 2 && hit.isEmpty) {
                legacyEntities.get(run.substring(0, k)) match {
                  case Some(v2) => hit = Some((v2, i + 1 + k))
                  case None => k -= 1
                }
              }
              hit match {
                case Some((v2, next))
                    if !(isAttr && next < t.length &&
                      (t(next) == '=' || isNameChar(t(next)))) =>
                  sb.append(v2); i = next
                case _ => sb.append('&'); i += 1
              }
          }
        } else { sb.append('&'); i += 1 }
      } else { sb.append(t(i)); i += 1 }
    }
    sb.toString
  }

  @inline private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')



  /** Re-serialize a node (innerHtml support). Attributes emit in SOURCE
    * order (the tokenizer builds a VectorMap), matching jsdom's
    * order-preserving innerHTML at any attribute count. */
  def render(n: Node): String = {
    val sb = new java.lang.StringBuilder
    renderTo(n, sb)
    sb.toString
  }

  /** Single-StringBuilder serialization core: render is called per
    * rdf:HTML literal and for every externalized page, and the old
    * per-node mkString recursion allocated an intermediate string for
    * every element in the subtree. Output bytes are identical (the
    * render→reparse fixpoint fuzz and every fixture pin them). */
  private def renderTo(n: Node, sb: java.lang.StringBuilder): Unit = n match {
    case TextNode(t) => escapeTextTo(t, sb)
    // comment data emits RAW (jsdom does the same); parsed data can
    // never contain its own terminator, so the round trip is exact
    case CommentNode(d) => sb.append("<!--").append(d).append("-->")
    case e: Element =>
      def appendAttrs(): Unit = e.attrs.foreach { case (k, v) =>
        sb.append(' ').append(k).append('=').append('"')
        escapeAttrTo(v, sb)
        sb.append('"')
      }
      // foreign elements serialize with their case-adjusted SVG DOM name
      // (attr names were adjusted at parse time) and ALWAYS take explicit
      // end tags — the HTML serializer's void/raw-text rules are
      // HTML-namespace-only, so <svg><path/> emits "<path></path>" with
      // viewBox/foreignObject casing intact, like jsdom's innerHTML
      if (e.ns != "html") {
        val name = if (e.ns == "svg") svgTagAdjust.getOrElse(e.tag, e.tag)
          else e.tag
        sb.append('<').append(name); appendAttrs(); sb.append('>')
        e.children.foreach(renderTo(_, sb))
        sb.append('<').append('/').append(name).append('>')
      }
      // HTML serialization writes voids with NO self-closing slash —
      // jsdom's innerHTML emits "<br>", and the G2 externalized literal
      // must match the reference's bytes
      else if (voidElements(e.tag)) {
        sb.append('<').append(e.tag); appendAttrs(); sb.append('>')
      }
      else if (rawTextElements(e.tag) || e.tag == "plaintext") {
        // the HTML serialization of a raw-text element emits its text
        // UNescaped (the parser never entity-decodes it, so escaping
        // here would double-encode on every parse→render round trip —
        // and jsdom's outerHTML, which the reference externalizes,
        // emits raw too). Always re-readable for the rawTextElements:
        // the raw-text scan stops at the first "</tag", so parsed raw
        // text can never contain its own terminator. PLAINTEXT is the
        // spec's own exception — its content runs to EOF, so the spec
        // itself notes its serialization "cannot be parsed back" when
        // anything follows; the fuzz fixpoint property exempts it.
        sb.append('<').append(e.tag); appendAttrs(); sb.append('>')
        e.children.foreach { case TextNode(t) => sb.append(t); case _ => () }
        sb.append('<').append('/').append(e.tag).append('>')
      }
      else {
        sb.append('<').append(e.tag); appendAttrs(); sb.append('>')
        // HTML serialization: pre/textarea/listing whose first child
        // text starts with LF get an EXTRA LF appended after the start
        // tag — the parser drops one there, so serialize→parse is
        // stable (spec rule; jsdom's innerHTML does the same)
        if ((e.tag == "pre" || e.tag == "listing" || e.tag == "textarea") &&
          (e.children.headOption match {
            case Some(TextNode(t)) => t.startsWith("\n")
            case _ => false
          })) sb.append('\n')
        e.children.foreach(renderTo(_, sb))
        sb.append('<').append('/').append(e.tag).append('>')
      }
  }

  /** Text-node escaping (& < > and U+00A0 → &nbsp;, per the WHATWG
    * "escaping a string" algorithm — jsdom's innerHTML re-emits every
    * NBSP as &nbsp;, and legacy harvested markup is full of them),
    * appended directly; the no-escape fast path appends the whole
    * string without a scan-and-copy pass. */
  private def escapeTextTo(t: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    var plainFrom = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '&' || c == '<' || c == '>' || c == '\u00a0') {
        sb.append(t, plainFrom, i)
        sb.append(if (c == '&') "&amp;" else if (c == '<') "&lt;"
          else if (c == '>') "&gt;" else "&nbsp;")
        plainFrom = i + 1
      }
      i += 1
    }
    sb.append(t, plainFrom, t.length)
  }

  /** Attribute-value escaping (& " and U+00A0 → &nbsp;), same shape. */
  private def escapeAttrTo(v: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    var plainFrom = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '&' || c == '"' || c == '\u00a0') {
        sb.append(v, plainFrom, i)
        sb.append(if (c == '&') "&amp;" else if (c == '"') "&quot;"
          else "&nbsp;")
        plainFrom = i + 1
      }
      i += 1
    }
    sb.append(v, plainFrom, v.length)
  }

  /** Depth-first traversal of an element and its descendants. */
  def walk(root: Element)(f: Element => Unit): Unit = {
    f(root)
    root.children.foreach {
      case e: Element => walk(e)(f)
      case _ =>
    }
  }
}
