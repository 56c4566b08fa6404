package graft.rdf

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JS `new URL(url)` parseability as ONE expression node: a `StaticInvoke`
  * of [[JsUrlMirror.isParseable]].
  *
  * The reference validates a WKT literal's CRS URL by constructing
  * `new URL(crs)` and treating a throw as invalid
  * (lib/validateTriple.js:82-88). Mirroring WHATWG's special-scheme
  * parser faithfully (percent-escape set, IPv4 ends-in-number, IPv6
  * brackets, port range — see [[Validation.wktUrlParseRegex]] for the
  * probe-pinned rules and residuals) used to be a ~200-node Column tree
  * (4 anchored-regex matches plus higher-order array functions), which
  * made per-query analysis+codegen measurably slower (a3_verdict_counts
  * 0.50→1.08 s min) without touching per-row cost. This expression
  * collapses the whole mirror to a single static call (the term
  * validator, [[TermKernel]], makes the same call directly), and the
  * semantics stay byte-for-byte pinned by the generated node corpus
  * (`scripts/probe-jsurl.js` → ValidationSpec, including the live
  * differential fuzz).
  *
  * Null-intolerant like the Column tree it replaces: null in → null out
  * (callers wrap in `coalesce(_, false)` exactly as before).
  */
case class JsUrlParseable(child: Expression)
    extends UnaryExpression with RuntimeReplaceable with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "js_url_parseable"

  override lazy val replacement: Expression = StaticInvoke(JsUrlMirror.getClass,
    BooleanType, "isParseable", Seq(child), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): JsUrlParseable =
    copy(child = newChild)
}

/** The mirror itself, as plain JVM code over precompiled patterns.
  *
  * PARITY CONTRACT: this object reproduces, decision-for-decision, the
  * Column tree it replaced (r15 `Validation.isJsParseableUrl` and its
  * `hostIpv4Ok`/`ipv6Ok` helpers) — same regex STRINGS compiled by the
  * same `java.util.regex` engine Spark's `rlike`/`regexp_extract` use,
  * same group numbering, same check order — so the probe corpus and the
  * live node fuzz in ValidationSpec carry over unchanged. Rule
  * provenance lives on [[Validation.wktUrlParseRegex]]. r17 adds the
  * one arm the tree never had: the UTS #46 / punycode host validation
  * ([[domainToAscii]] below), which closed the mirror's residual
  * ledger. For the plain ASCII hosts the parity contract covers, the
  * mapping pass only lowercases — every old decision carries over
  * (row-by-row via the probe corpus) — and the common-case CRS rows
  * never reach it at all (fast path above).
  */
object JsUrlMirror {

  /** Fast-accept shape for the overwhelmingly common CRS URL: plain
    * alphabetic-start dot-labels (so the host can never end in a
    * number, carry an escape, userinfo, bracket, or extra slashes),
    * an optional port of at most 4 digits (≤ 9999 < 65535), and any
    * `/?#` tail. Labels starting `xn--` are excluded (they take the
    * IDNA path below). Matching here GUARANTEES the full mirror would
    * accept too — real-world rows (opengis.net CRS IRIs) pay one
    * anchored regex and never reach the WHATWG machinery. Equivalence
    * is pinned row-by-row by the probe corpus in ValidationSpec (every
    * `ok` row must satisfy fast-or-slow, every `throw` row neither). */
  private val simpleUrl: Pattern = Pattern.compile(
    "^https?://(?![xX][nN]--)[A-Za-z](?:[A-Za-z0-9-]*[A-Za-z0-9])?" +
      "(?:\\.(?![xX][nN]--)[A-Za-z](?:[A-Za-z0-9-]*[A-Za-z0-9])?)*" +
      "(?::[0-9]{1,4})?(?:[/?#].*)?$")

  /** Structural parse — groups: 1 = bracketed IPv6 content, 2 = plain
    * host, 3 = port digits (see [[Validation.wktUrlParseRegex]]). */
  private val fullUrl: Pattern = Pattern.compile(Validation.wktUrlParseRegex)

  private val tabNl: Pattern = Pattern.compile("[\\t\\n\\r]")
  private val trailingDot: Pattern = Pattern.compile("\\.$")
  private val leadingZeros: Pattern = Pattern.compile("^0+")

  /** WHATWG "ends in a number": last dot-label is decimal, `0x` hex
    * (even empty), or `0`-octal. */
  private val endsInNumber: Pattern = Pattern.compile("^([0-9]+|0[xX][0-9a-fA-F]*)$")

  /** Radix-valid IPv4 part with a width cap so the long conversion
    * can't overflow (anything wider is out of range regardless). */
  private val ipv4PartOk: Pattern =
    Pattern.compile("^(0[xX][0-9a-fA-F]{0,8}|0[0-7]{0,11}|[1-9][0-9]{0,9})$")

  private val hexPiece: Pattern = Pattern.compile("^[0-9A-Fa-f]{1,4}$")

  /** Strict dotted-quad: 4 decimal parts, no leading zeros, each ≤ 3
    * digits (values checked ≤ 255 separately, as the Column tree did). */
  private val dottedQuad: Pattern =
    Pattern.compile("^(0|[1-9][0-9]{0,2})(\\.(0|[1-9][0-9]{0,2})){3}$")

  /** True iff JS `new URL(url)` would NOT throw, for the http(s) URLs
    * the WKT CRS extraction can produce. WHATWG trims leading/trailing
    * C0-controls-and-space, then strips ASCII tab/newline everywhere —
    * mirrored here; both are unreachable through
    * [[Validation.wktCrsRegex]] (which can't extract whitespace) but
    * they keep the mirror honest for direct callers. */
  def isParseable(url: UTF8String): Boolean = {
    val raw = url.toString
    var lo = 0
    var hi = raw.length
    while (lo < hi && raw.charAt(lo) <= ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) <= ' ') hi -= 1
    val cleaned = tabNl.matcher(raw.substring(lo, hi)).replaceAll("")
    if (simpleUrl.matcher(cleaned).find()) return true
    val m = fullUrl.matcher(cleaned)
    if (!m.find()) return false
    val ipv6 = Option(m.group(1)).getOrElse("")
    val host = Option(m.group(2)).getOrElse("")
    val port = Option(m.group(3)).getOrElse("")
    // leading zeros are stripped first: ":000080" parses as port 80
    val portVal = leadingZeros.matcher(port).replaceAll("")
    val portOk = portVal.isEmpty ||
      (portVal.length <= 5 && portVal.toLong <= 65535L)
    portOk && (host.isEmpty || domainToAscii(host).exists(hostIpv4Ok)) &&
      (ipv6.isEmpty || ipv6Ok(ipv6))
  }

  // ------------------------------------------------------------------
  // WHATWG domain_to_ascii (UTS #46) over the percent-decoded host —
  // the IDNA arm of `new URL`'s throw behavior, formerly the mirror's
  // only residual ledger entries. The URL Standard runs UTS46 with
  // UseSTD3ASCIIRules=false, CheckHyphens=false, VerifyDnsLength=false,
  // CheckBidi/CheckJoiners=true, nontransitional. The ORDER matters and
  // is probe-pinned: the MAPPING pass runs over the WHOLE host first —
  // ignored code points drop out (soft hyphen around an `xn--` prefix,
  // "xn--tda­" parses as "xn--tda"), separators are minted
  // (U+3002/FF0E/FF61 → '.', so "a。ex。0x10" IPv4-fails like
  // "a.ex.0x10"), fullwidth forms become ASCII ("１２３" parses as IPv4
  // 0.0.0.123, "ＸN--TDA" decodes like "xn--tda") — and only THEN is
  // the result split into labels, ACE labels punycode-decoded
  // (RFC 3492) and each label validity-checked. The ends-in-number /
  // IPv4 re-route runs on the post-IDNA ASCII form, and forbidden host
  // code points minted BY the mapping ("％" → '%', ideographic space →
  // space) reject the whole host afterwards, exactly node's sequence.
  //
  // icu4j (shipped with Spark for collations) provides the mapping
  // table as the "uts46" Normalizer2 instance — one normalize() call
  // does mapping + NFC with deviation characters kept (nontransitional)
  // and disallowed ones turned into U+FFFD. Validity per label is then:
  // mapping-stable text (already lowercase/NFC, nothing ignored/mapped/
  // disallowed — exactly UTS46 §4.1 criteria 1+6 with hyphen rules
  // removed), no leading combining mark (criterion 5), CONTEXTJ for
  // ZWJ/ZWNJ (criterion 7, probe-pinned: ZWJ needs a preceding virama,
  // "ل‍ل" throws; ZWNJ also takes RFC 5892's joining-type bridge,
  // "ل‌ل" parses), and the reconstructed bidi criterion below.
  // Probe-pinned shapes: "xn--a"/"xn---"/"xn--123" throw,
  // "xn--a-"/"xn----"/"xn--caf-dma-"/"xn--xn--a-ecp" parse,
  // "bücher.de" maps, U+0378 and a bare ZWJ throw, a host that maps to
  // EMPTY ("%C2%AD") throws while lone separators ("。") parse.
  // ------------------------------------------------------------------

  /** UTS46 mapping + NFC, nontransitional: the table ICU's own UTS46
    * implementation runs before its per-label checks. */
  private lazy val uts46Map = com.ibm.icu.text.Normalizer2.getInstance(
    null, "uts46", com.ibm.icu.text.Normalizer2.Mode.COMPOSE)

  /** node's mapping table, which is one Unicode revision behind ICU 77's
    * on exactly one probe-reachable row: U+1E9E (capital sharp S) maps
    * to "ss" in Unicode ≤15.0 (node v20) but to U+00DF from 15.1 (ICU).
    * The difference is verdict-visible only inside ACE labels —
    * "xn--tdaẞ" is the all-ASCII "xn--tdass" to node but keeps a
    * non-ASCII ß under ICU's table — so node's row is pre-applied
    * (40-seed sweep: the only divergent code point). */
  private def uts46MapNode(s: String): String =
    uts46Map.normalize(if (s.indexOf('ẞ') >= 0) s.replace("ẞ", "ss") else s)

  /** URL Standard "forbidden domain code point" over the mapped host:
    * C0 controls, space, DEL, and the structural/escape set. The raw
    * host was regex-gated already — this catches characters the UTS46
    * mapping MINTS (fullwidth '％' → '%', U+3000 → space), which node
    * rejects after domainToAscii. */
  private def forbiddenAscii(c: Char): Boolean =
    c <= 0x20 || c == 0x7f || (c < 0x80 && "#%/:<>?@[\\]^|".indexOf(c) >= 0)

  /** WHATWG domain_to_ascii over the percent-decoded host: the post-IDNA
    * ASCII host if node's `new URL` would accept it, None where it
    * throws. Non-ASCII labels that pass validity are stood in by a
    * fixed ACE placeholder — only their non-numeric shape matters to
    * the IPv4 re-route downstream, and a real punycode encoding is
    * never numeric either (it starts "xn--"). */
  private def domainToAscii(rawHost: String): Option[String] = {
    val decoded = java.net.URLDecoder.decode(
      rawHost.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)
    val mapped = uts46MapNode(decoded)
    if (mapped.isEmpty) return None // maps-to-empty host throws
    var i = 0
    while (i < mapped.length) {
      val c = mapped.charAt(i)
      if (c == '�' || forbiddenAscii(c)) return None
      i += 1
    }
    val labels = mapped.split("\\.", -1)
    val ascii = new Array[String](labels.length)
    var li = 0
    while (li < labels.length) {
      val label = labels(li)
      if (label.startsWith("xn--")) {
        if (!label.forall(_ < 0x80)) return None
        punycodeDecode(label.substring(4)) match {
          case Some(dec) if labelValid(dec) => ascii(li) = label
          case _ => return None
        }
      } else if (label.forall(_ < 0x80)) ascii(li) = label
      else if (labelValid(label)) ascii(li) = "xn--x"
      else return None
      li += 1
    }
    Some(ascii.mkString("."))
  }

  /** UTS46 §4.1 validity with the URL Standard's options (hyphen rules
    * off, nontransitional): mapping-stable, no leading combining mark,
    * CONTEXTJ, bidi. Both ACE-decoded text and directly-mapped labels
    * take the same gate — for the latter the stability check is a
    * no-op (normalize is idempotent), for the former it IS criteria
    * 1+6, and doing it here instead of via ICU's nameToUnicode avoids
    * re-ACE-decoding a decoded label that itself starts "xn--"
    * (node parses "xn--xn--a-ecp"; CheckHyphens would reject it). */
  private def labelValid(label: String): Boolean = {
    if (label.isEmpty) return true
    if (uts46MapNode(label) != label) return false
    val cps = label.codePoints().toArray
    val t0 = Character.getType(cps(0))
    if (t0 == Character.NON_SPACING_MARK || t0 == Character.COMBINING_SPACING_MARK ||
        t0 == Character.ENCLOSING_MARK) return false
    contextJOk(cps) && bidiOk(label)
  }

  /** RFC 5892 Appendix A CONTEXTJ, as node enforces it (probe-pinned):
    * ZWJ only after a virama (ccc 9); ZWNJ after a virama OR inside the
    * joining-type bridge (L|D)(T)* ZWNJ (T)*(R|D). */
  private def contextJOk(cps: Array[Int]): Boolean = {
    import com.ibm.icu.lang.{UCharacter, UProperty}
    import com.ibm.icu.lang.UCharacter.JoiningType._
    def jt(cp: Int): Int = UCharacter.getIntPropertyValue(cp, UProperty.JOINING_TYPE)
    var i = 0
    while (i < cps.length) {
      val cp = cps(i)
      if (cp == 0x200C || cp == 0x200D) {
        if (i == 0) return false
        val viramaBefore = UCharacter.getCombiningClass(cps(i - 1)) == 9
        if (cp == 0x200D) {
          if (!viramaBefore) return false
        } else if (!viramaBefore) {
          var a = i - 1
          while (a >= 0 && jt(cps(a)) == TRANSPARENT) a -= 1
          val leftOk = a >= 0 &&
            { val j = jt(cps(a)); j == LEFT_JOINING || j == DUAL_JOINING }
          var b = i + 1
          while (b < cps.length && jt(cps(b)) == TRANSPARENT) b += 1
          val rightOk = b < cps.length &&
            { val j = jt(cps(b)); j == RIGHT_JOINING || j == DUAL_JOINING }
          if (!leftOk || !rightOk) return false
        }
      }
      i += 1
    }
    true
  }

  /** node's Bidi criterion, reconstructed from ~50 differential probes —
    * it is NOT RFC 5893 verbatim (ICU's CheckBidi rejects "123א.com"
    * and accepts "aب.com" the other way around, both against node).
    * Per label containing any R/AL/AN code point, with trailing
    * non-spacing marks stripped for the end test:
    *
    *   - first code point strong-L ("aא", "βא", "a1٠"): R/AL/AN are
    *     legal only as the FINAL core character ("aא", "a٠", "a-א"
    *     parse; "aאb", "aא1", "aاا", "aا1", "a٠b" throw);
    *   - anything else first ("123א", "-٠", "׳"): no strong-L anywhere
    *     ("אa", "١٢٣a" throw), the core must END in R/AL/EN/AN
    *     ("א-", "٠-" throw; "א-1" parses), and EN and AN never mix
    *     ("1א١", "٠1" throw; "ا۱" parses — U+06F1 is EN). */
  private def bidiOk(label: String): Boolean = {
    import java.lang.Character._
    val cps = label.codePoints().toArray
    def cls(cp: Int): Byte = Character.getDirectionality(cp)
    def rtlish(cp: Int): Boolean = {
      val d = cls(cp)
      d == DIRECTIONALITY_RIGHT_TO_LEFT ||
        d == DIRECTIONALITY_RIGHT_TO_LEFT_ARABIC ||
        d == DIRECTIONALITY_ARABIC_NUMBER
    }
    if (cps.isEmpty || !cps.exists(rtlish)) return true
    var end = cps.length
    while (end > 0 && cls(cps(end - 1)) == DIRECTIONALITY_NONSPACING_MARK) end -= 1
    if (cls(cps(0)) == DIRECTIONALITY_LEFT_TO_RIGHT)
      cps.slice(0, math.max(end - 1, 0)).forall(cp => !rtlish(cp))
    else {
      val hasL = cps.exists(cp => cls(cp) == DIRECTIONALITY_LEFT_TO_RIGHT)
      val lastD = if (end > 0) cls(cps(end - 1)) else DIRECTIONALITY_NONSPACING_MARK
      val endOk = lastD == DIRECTIONALITY_RIGHT_TO_LEFT ||
        lastD == DIRECTIONALITY_RIGHT_TO_LEFT_ARABIC ||
        lastD == DIRECTIONALITY_EUROPEAN_NUMBER ||
        lastD == DIRECTIONALITY_ARABIC_NUMBER
      val hasEN = cps.exists(cp => cls(cp) == DIRECTIONALITY_EUROPEAN_NUMBER)
      val hasAN = cps.exists(cp => cls(cp) == DIRECTIONALITY_ARABIC_NUMBER)
      !hasL && endOk && !(hasEN && hasAN)
    }
  }

  /** RFC 3492 §6.2 decode. None on any malformation the spec fails on:
    * a non-digit, an incomplete digit sequence ("xn--ab-c"), overflow
    * ("xn--99999999999"), a code point beyond U+10FFFF or a surrogate.
    * An empty OUTPUT is also None — node throws on "xn--" and "xn---"
    * — while an empty ENCODED part with basic text is fine ("xn--a-"
    * decodes to "a", which node accepts). */
  private def punycodeDecode(in: String): Option[String] = {
    val base = 36; val tmin = 1; val tmax = 26; val skew = 38; val damp = 700
    def adapt(delta0: Int, numPoints: Int, first: Boolean): Int = {
      var delta = if (first) delta0 / damp else delta0 / 2
      delta += delta / numPoints
      var k = 0
      while (delta > ((base - tmin) * tmax) / 2) { delta /= base - tmin; k += base }
      k + (base - tmin + 1) * delta / (delta + skew)
    }
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    val d = in.lastIndexOf('-')
    val basic = if (d >= 0) in.substring(0, d) else ""
    if (basic.exists(_ >= 0x80)) return None
    basic.foreach(c => out += c.toInt)
    var pos = if (d >= 0) d + 1 else 0
    var n = 128; var i = 0; var bias = 72
    while (pos < in.length) {
      val oldi = i
      var w = 1
      var k = base
      var done = false
      while (!done) {
        if (pos >= in.length) return None
        val c = in.charAt(pos); pos += 1
        val digit =
          if (c >= 'a' && c <= 'z') c - 'a'
          else if (c >= 'A' && c <= 'Z') c - 'A'
          else if (c >= '0' && c <= '9') c - '0' + 26
          else return None
        if (w != 0 && digit > (Int.MaxValue - i) / w) return None
        i += digit * w
        val t = if (k <= bias + tmin) tmin else if (k >= bias + tmax) tmax else k - bias
        if (digit < t) done = true
        else {
          if (w > Int.MaxValue / (base - t)) return None
          w *= base - t
          k += base
        }
      }
      val len = out.length + 1
      bias = adapt(i - oldi, len, oldi == 0)
      if (i / len > Int.MaxValue - n) return None
      n += i / len
      i %= len
      if (n > 0x10FFFF || (n >= 0xD800 && n <= 0xDFFF)) return None
      out.insert(i, n)
      i += 1
    }
    if (out.isEmpty) None
    else Some(out.iterator.map(cp => new String(Character.toChars(cp))).mkString)
  }

  /** Hex/octal/decimal part value; caller has already regex-gated the
    * lexical form ([[ipv4PartOk]]), so parsing cannot fail or overflow.
    * Branch order matches the Column tree: `0x` before `0`-octal. */
  private def ipv4PartVal(p: String): Long =
    if (p.length >= 2 && p.charAt(0) == '0' && (p.charAt(1) == 'x' || p.charAt(1) == 'X'))
      java.lang.Long.parseLong("0" + p.substring(2), 16) // "0x" alone → 0
    else if (p.charAt(0) == '0') java.lang.Long.parseLong(p, 8)
    else java.lang.Long.parseLong(p)

  /** WHATWG ends-in-number / IPv4-host rule over the POST-IDNA ASCII
    * host ([[domainToAscii]] — node re-routes to its IPv4 parser after
    * mapping, so "１２３" is IPv4 0.0.0.123 and "a。0x10" fails like
    * "a.0x10"): >4 parts, a non-numeric part, an invalid digit for the
    * radix ("1.2.3.08" is octal with an 8), or a value out of range
    * (non-last ≥ 256; last ≥ 256^(5-count)) all throw; a last label
    * that is NOT a number makes the host a plain domain again. */
  private def hostIpv4Ok(asciiHost: String): Boolean = {
    val trimmed = trailingDot.matcher(asciiHost).replaceAll("") // drop ONE trailing dot
    val parts = trimmed.split("\\.", -1)
    if (!endsInNumber.matcher(parts.last).find()) return true
    if (parts.length > 4) return false
    if (!parts.forall(p => ipv4PartOk.matcher(p).find())) return false
    if (!parts.init.forall(p => ipv4PartVal(p) < 256L)) return false
    val lastMax = math.pow(256.0, (5 - parts.length).toDouble).toLong
    ipv4PartVal(parts.last) < lastMax
  }

  /** WHATWG IPv6 host parser over the bracket content (probe-pinned):
    * pieces are 1-4 hex digits; without `::` exactly 8 pieces are
    * required ("[1:2:3:4:5:6:7]" throws), with one `::` at most 7
    * ("[1:2:3:4:5:6:7::]" parses, a second `::` or a bare `:` edge
    * throws); a strict dotted-quad may occupy the FINAL two pieces
    * (4 decimal parts, 0-255, no leading zeros — "[::1.2.3.04]"
    * throws) and only at the end ("[1.2.3.4::]" throws). */
  private def ipv6Ok(content: String): Boolean = {
    val dc = content.split("::", -1)
    val nParts = dc.length
    if (nParts > 2) return false
    def piecesOf(side: String): Array[String] =
      if (side.isEmpty) Array.empty[String] else side.split(":", -1)
    val left = piecesOf(dc(0))
    val right = if (nParts == 2) piecesOf(dc(1)) else Array.empty[String]
    val all = left ++ right
    if (all.exists(_.isEmpty)) return false
    if (all.length == 0) return nParts == 2 // "::" alone
    val last = all.last
    // the dotted-quad must be the final 32 bits: last piece overall,
    // and not immediately before a trailing "::"
    val v4Allowed = nParts == 1 || right.nonEmpty
    val lastIsV4 = v4Allowed && dottedQuad.matcher(last).find() &&
      last.split("\\.", -1).forall(_.toInt <= 255)
    val headHex = all.init.forall(p => hexPiece.matcher(p).find())
    val lastOk = lastIsV4 || hexPiece.matcher(last).find()
    val total = all.length + (if (lastIsV4) 1 else 0) // v4 counts as 2 pieces
    val countOk = if (nParts == 1) total == 8 else total <= 7
    headHex && lastOk && countOk
  }

  def apply(c: Column): Column =
    ColumnBridge.toColumn(JsUrlParseable(ColumnBridge.toExpr(c)))
}
