package graft.rdf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-datatype triple validation.
  *
  * Replicates the reference's closed-world validator
  * (lib/validateTriple.js:33-139) branch by branch, including its quirks —
  * deliberately, since the valid/invalid/corrected partitioning is the
  * service's observable contract:
  *
  *   - `xsd:integer` is validated with JS `Number(value)` + `isNaN`
  *     (validateTriple.js:136-139), which accepts floats, exponents,
  *     hex/octal/binary, `Infinity`, and even the empty string
  *     (`Number("") === 0`). We encode JS `Number` coercion as a regex.
  *   - date/dateTime are regex-shape checks only — `1997-99-99` passes
  *     (validateTriple.js:110-129, reference's own TODO).
  *   - `geosparql:wktLiteral` only requires an embedded `<http…>` CRS URL,
  *     if present, to use the `http:` scheme (validateTriple.js:71-90).
  *
  * The rules run as plain JVM code in [[TermKernel]] (one codegen'd
  * node per call, see [[TermKernelExpr]]); this object holds their
  * regexes and the Column entry points. The URL mirror is
  * [[JsUrlMirror.isParseable]], whose fast-accept regex short-circuits
  * the WHATWG machinery away for every real-world CRS row.
  */
object Validation {

  /** `^-?[0-9]{4,}-[0-9]{2}-[0-9]{2}(([-+][0-9]{2}:[0-9]{2})|Z)?$`
    * (validateTriple.js:110-116). */
  val dateRegex: String =
    "^-?[0-9][0-9][0-9][0-9]+-[0-9][0-9]-[0-9][0-9](([-+][0-9][0-9]:[0-9][0-9])|Z)?$"

  /** validateTriple.js:123-129. */
  val dateTimeRegex: String =
    "^-?[0-9][0-9][0-9][0-9]+-[0-9][0-9]-[0-9][0-9]T[0-9][0-9]:[0-9][0-9]:[0-9][0-9](\\.[0-9]+)?(([-+][0-9][0-9]:[0-9][0-9])|Z)?$"

  /** The exact character class JS trims around numeric strings (ES
    * WhiteSpace + LineTerminator): Java's `\s` plus NBSP, BOM and the
    * Zs spaces — and NOT U+180E, which left the set in Unicode 6.3
    * (node-verified: `Number(" 12")` is 12, `"᠎12"` is NaN).
    * Shared with the parseInt mirror in [[graft.ops.Bindings]]. */
  val jsWhitespace: String =
    "[\\s\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000\\uFEFF]"

  /** Lexical forms accepted by JS `Number(value)` (i.e. `!isNaN(Number(v))`,
    * validateTriple.js:136-139): optional-sign decimal/exponent/Infinity,
    * or unsigned hex/binary/octal, or pure whitespace (coerces to 0).
    * Pinned by the generated corpus in JsNumberMirrorSpec
    * (scripts/probe-jsnumber.js). */
  val jsNumberRegex: String =
    "^" + jsWhitespace + "*([+-]?((\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?|Infinity)|" +
      "0[xX][0-9a-fA-F]+|0[bB][01]+|0[oO][0-7]+)?" + jsWhitespace + "*$"

  /** First `<http(s)://…>` URL embedded in a WKT literal
    * (validateTriple.js:77). */
  val wktCrsRegex: String = "<(https?://[^\\s>]+)>"

  /** JS `new URL(crs)` parseability mirror (validateTriple.js:82-88: a
    * constructor THROW lands in the catch and marks the literal invalid,
    * regardless of scheme). Every rule below is pinned by differential
    * probes against node v20 (`scripts/probe-jsurl.js` regenerates the
    * expectation table; ValidationSpec consumes it). For the special
    * http(s) schemes the throw cases are: a forbidden domain code point
    * in the host (C0 control/space/DEL, `#%/:<>?@[\]^|`), a `%HH` escape
    * DECODING to one of those ("http://a%2Fb" throws while "%41" is
    * fine), a bare `%` that is not a two-hex-digit escape, an empty
    * host, a non-numeric port, or a port whose VALUE exceeds 65535
    * (leading zeros are stripped first: ":000080" parses as port 80).
    * Slash/backslash runs after `//` are skipped ("http:///path" parses
    * with host `path`), userinfo runs to the LAST `@` (greedy, as the
    * URL parser does), the host is either a bracketed IPv6 literal or
    * 1+ allowed chars, and `\` ends the authority like `/`
    * (special-scheme rule). The port is captured in group 1 for the
    * value check in [[isJsParseableUrl]].
    *
    * A host whose LAST dot-label is a number (decimal, `0x` hex — even
    * an empty `0x` — or `0`-octal) is parsed as IPv4 over the WHOLE
    * host after percent-decoding and dropping one trailing dot, per
    * WHATWG: >4 parts, a non-numeric part, an invalid digit for the
    * radix ("1.2.3.08" is octal with an 8), or a value out of range
    * (non-last ≥ 256; last ≥ 256^(5-count), so "http://4294967295"
    * parses and "http://4294967296" throws) all throw; a last label
    * that is NOT a number ("1.2.3.0xg", "1.foo") makes the host a plain
    * domain again. See [[isJsParseableUrl]].
    *
    * A bracketed host runs the WHATWG IPv6 parser (see [[ipv6Ok]]):
    * exactly 8 16-bit pieces, or fewer with exactly ONE `::`, an
    * optional strict dotted-quad tail occupying the final two pieces,
    * and no zone-id.
    *
    * Residual (probe-verified node behavior deliberately not mirrored;
    * harvested CRS URLs are plain opengis.net IRIs that never exercise
    * it — machine-checked in ValidationSpec against the committed probe
    * table): IDNA/Unicode domain mapping ("http://xn--a/" is invalid
    * punycode and throws in node, parses here). Group 1 captures a
    * bracketed host's content, group 2 the non-bracket host, group 3
    * the port. */
  val wktUrlParseRegex: String =
    "^https?://[/\\\\]*(?:[^/?#]*@)?(?:\\[([0-9A-Fa-f:.]+)\\]|" +
      "((?:%(?![01][0-9a-fA-F]|20|23|25|2[fF]|3[aAcCeEfF]|40|5[bBcCdDeE]|7[cCfF])[0-9A-Fa-f]{2}|" +
      "[^\\x00-\\x20#%/:<>?@\\[\\\\\\]^|\\x7F])+))" +
      "(?::([0-9]*))?(?:[/?#\\\\].*)?$"

  /** True iff JS `new URL(url)` would NOT throw, for the http(s) URLs
    * the WKT CRS extraction can produce (see [[wktUrlParseRegex]] for
    * the probe-pinned rules and residuals), as the single codegen'd
    * [[JsUrlParseable]] node. The term validator calls the same mirror,
    * [[JsUrlMirror.isParseable]], directly from [[TermKernel]]. */
  def isJsParseableUrl(url: Column): Column = JsUrlMirror(url)

  /** JS-`Number`-coercible check (see [[jsNumberRegex]]). Null-safe: null → false. */
  def isJsNumber(value: Column): Column =
    coalesce(value.rlike(jsNumberRegex), lit(false))

  /** Characters the N-Triples/Turtle IRIREF production forbids inside
    * `<...>` (n3's lexer enforces exactly this set for unescaped IRIs):
    * C0 controls, space, `<>"{}|^` backtick, backslash. The reference
    * re-parses every serialized triple with an n3 Parser BEFORE
    * validating (validateTriple.js:11-16) and before fixing
    * (fixTriple.js:11-15), so an IRI — term or datatype — carrying a
    * forbidden char is a parse error on both paths: invalid AND
    * unfixable. Literal VALUES never hit this (the serializer
    * ECHAR-escapes them). */
  val iriRefBadCharRegex: String = "[\\x00-\\x20<>\"{}|^`\\\\]"

  /** n3's LANGTAG production: `@[a-zA-Z]+(-[a-zA-Z0-9]+)*`. A literal
    * with a malformed NON-EMPTY tag ("en us", "123") serializes to a
    * line neither the validate nor the fix parse accepts → invalid and
    * unfixable. The EMPTY tag is different: it serializes tagless, so it
    * re-parses fine, fails `validateLangString` on length
    * (validateTriple.js:92-94), and `fixLiteral` re-types it → corrected. */
  val langTagRegex: String = "^[a-zA-Z]+(-[a-zA-Z0-9]+)*$"

  /** Validity of a single term struct column — the §1.2 truth table
    * (validateTriple.js:33-69) plus the n3 re-parse gate above, and the
    * WKT rule (validateTriple.js:71-90): non-empty, and an embedded CRS
    * URL (first match of [[wktCrsRegex]]; none ⇒ the reference's "assume
    * ok" branch) must parse under JS `new URL` ([[isJsParseableUrl]]) and
    * use exactly the `http` scheme. `term` must be a struct
    * `(termType, value, datatype, lang)` of strings. */
  def isValidTerm(term: Column): Column =
    TermKernelExpr.call(TermKernelExpr.IsValidTerm, term)
}
