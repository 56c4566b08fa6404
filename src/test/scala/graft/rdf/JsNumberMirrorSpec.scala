package graft.rdf

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.sys.process._

import graft.SparkSpec
import graft.ops.Bindings

/** Differential conformance corpus for the two JS numeric mirrors: the
  * `Number(value)` validity gate behind xsd:integer validation/repair
  * (validateTriple.js:136-139 / fixTriple.js) and the `parseInt`
  * coercion behind typed binding projection (lib/utils.js:16). The
  * table at src/test/resources/jsnumber/corpus.tsv is GENERATED by
  * `node scripts/probe-jsnumber.js`. Gates mirror the jsdate/jsurl
  * suites: value rows must match node, the documented precision
  * residuals must still diverge in the recorded direction, and
  * rerunning the script must reproduce the committed bytes.
  */
class JsNumberMirrorSpec extends SparkSpec {
  import spark.implicits._

  /** parseInt returns a DOUBLE, so digits beyond 2^53 round in node
    * while the Bindings mirror keeps exact decimals (the strictly more
    * faithful value — documented in Bindings). Both sides non-null,
    * values differ. */
  private val precisionResiduals: Set[String] = Set(
    "9007199254740993", "99999999999999999999999999",
    "0xffffffffffffffff")

  /** Hex literals wider than 64 bits: ANSI `conv` throws on them, so
    * the mirror guards to NULL (Bindings.scala) where node returns the
    * rounded double — one hostile binding must not kill the query.
    * Mirror null, node non-null, always beyond the 2^53 rounding line. */
  private val hexOverflowResiduals: Set[String] = Set(
    "0x1ffffffffffffffff", "-0x1ffffffffffffffff",
    "0xffffffffffffffffffffffffffffffffffffffff")

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b += '\t'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'u' =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case c => b += c; i += 2
        }
      } else { b += s.charAt(i); i += 1 }
    }
    b.toString
  }

  private val corpusPath = Paths.get("src/test/resources/jsnumber/corpus.tsv")

  private lazy val corpus: Seq[(String, Boolean, String)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(corpusPath, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val cols = line.split("\t", -1)
        (unescape(cols(0)), cols(1) == "ok",
          if (cols(2) == "\\N") null else cols(2))
      }
  }

  test("Number() validity mirror matches node on the corpus") {
    val got = corpus.map(_._1).toDF("v")
      .select($"v", Validation.isJsNumber($"v").as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(corpus.size > 70)
    corpus.foreach { case (in, ok, _) =>
      assert(got(in) == ok, s"Number('$in'): mirror ${got(in)}, node $ok")
    }
  }

  private lazy val parsed: Map[String, String] = {
    val df = corpus.map(_._1).toDF("v").withColumn("orig", $"v")
    Bindings.typed(df, Map("v" -> Vocab.xsdInteger))
      .select($"orig", $"v".cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("parseInt mirror matches node on the corpus") {
    corpus.filterNot(r => precisionResiduals.contains(r._1) ||
        hexOverflowResiduals.contains(r._1))
      .foreach { case (in, _, want) =>
        assert(parsed(in) == want,
          s"parseInt('$in'): mirror ${parsed(in)}, node $want")
      }
  }

  test("each hex-overflow residual still diverges: null here, rounded double in node") {
    hexOverflowResiduals.foreach { in =>
      val row = corpus.find(_._1 == in)
      assert(row.isDefined, s"residual '$in' missing from corpus.tsv")
      assert(row.get._3 != null, s"residual '$in' is NaN in node — not an overflow case")
      assert(BigDecimal(row.get._3).abs >= BigDecimal(2).pow(53),
        s"residual '$in' is inside exact-double range — it should not be ledgered")
      assert(parsed(in) == null,
        s"residual '$in' now parses here (${parsed(in)}) — close the ledger entry")
    }
  }

  test("each precision residual still diverges: exact here, rounded in node") {
    precisionResiduals.foreach { in =>
      val row = corpus.find(_._1 == in)
      assert(row.isDefined, s"residual '$in' missing from corpus.tsv")
      assert(row.get._3 != null, s"residual '$in' is NaN in node — not a precision case")
      assert(parsed(in) != null && parsed(in) != row.get._3,
        s"residual '$in' no longer diverges (${parsed(in)} vs ${row.get._3}) — close the ledger entry")
    }
  }

  test("live differential fuzz: seeded numeric variants agree with node") {
    assume("which node".! == 0, "node not on PATH — live fuzz skipped")
    val rnd = new scala.util.Random(20260817)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val signs = Seq("", "+", "-", "--", "+-")
    val bodies = Seq("12", "0", "00", "007", ".5", "5.", "1.5", "1.2.3",
      "1e3", "1e+3", "1e", "e3", "Infinity", "infinity", "NaN", "abc",
      "12abc", "0x1f", "0X", "0xzz", "0b101", "0b12", "0o17", "0o19",
      "9007199254740991", "1_0", "1 2", "")
    val pads = Seq("", " ", "  ", "\t", "\u000b", "\u00a0", "\ufeff",
      "\u3000", "\u180e")
    val fuzz = (0 until 400).map { _ =>
      s"${pick(pads)}${pick(signs)}${pick(bodies)}${pick(pads)}"
    }.distinct
    def esc(u: String): String = u.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < 0x20 || c > 0x7e => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val js = "const us=JSON.parse(require('fs').readFileSync(0,'utf8'));" +
      "for(const u of us){const n=!isNaN(Number(u))?'ok':'nan';" +
      "const p=parseInt(u);console.log(n+'|'+(Number.isNaN(p)?'N':BigInt(p).toString()))}"
    val in = new java.io.ByteArrayInputStream(
      fuzz.map(u => "\"" + esc(u) + "\"").mkString("[", ",", "]").getBytes("UTF-8"))
    val out = new StringBuilder
    val code = (Process(Seq("node", "-e", js)) #< in)
      .!(ProcessLogger(l => out.append(l).append('\n'), Console.err.println(_)))
    assert(code == 0, "node fuzz oracle failed")
    val nodeOut = out.toString.split("\n")
    assert(nodeOut.length == fuzz.size)
    val numberGot = fuzz.toDF("v")
      .select($"v", Validation.isJsNumber($"v").as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val parseGot = {
      val df = fuzz.toDF("v").withColumn("orig", $"v")
      Bindings.typed(df, Map("v" -> Vocab.xsdInteger))
        .select($"orig", $"v".cast("string"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    fuzz.zip(nodeOut).foreach { case (input, expect) =>
      val Array(nOk, pVal) = expect.split("\\|", -1)
      assert(numberGot(input) == (nOk == "ok"),
        s"live fuzz Number: '${esc(input)}' mirror ${numberGot(input)}, node $nOk")
      val want = if (pVal == "N") null else pVal
      assert(parseGot(input) == want,
        s"live fuzz parseInt: '${esc(input)}' mirror ${parseGot(input)}, node $want")
    }
  }

  test("committed corpus is current against this machine's node") {
    val script = Paths.get("scripts/probe-jsnumber.js")
    assume("which node".! == 0 && Files.exists(script) && Files.exists(corpusPath),
      "node not on PATH — corpus currency check skipped")
    val out = new StringBuilder
    val code = Process(Seq("node", script.toString))
      .!(ProcessLogger(l => out.append(l).append('\n'), Console.err.println(_)))
    assert(code == 0, "probe-jsnumber.js failed")
    val committed = new String(Files.readAllBytes(corpusPath), StandardCharsets.UTF_8)
    assert(out.toString == committed,
      "jsnumber corpus.tsv is stale — regenerate: node scripts/probe-jsnumber.js > src/test/resources/jsnumber/corpus.tsv")
  }
}
