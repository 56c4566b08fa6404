package graft.rdf

import scala.sys.process._

import org.apache.spark.sql.SparkSession

/** Dev harness: multi-seed differential sweep of the `Number` /
  * `parseInt` mirrors against node — `sbt "Test/runMain
  * graft.rdf.JsNumberSoupSweep [nSeeds]"`. Unlike the spec's fixed-seed
  * fuzz (pad+sign+body+pad), this CONCATENATES body fragments
  * ("0x1f.5", "1e3e3", "007 0b1") across many seeds. Comparisons where
  * |parseInt| ≥ 2^53 are skipped: JS returns a rounded double there and
  * the mirror's exact decimal is the documented residual
  * (Bindings.scala). Exit 1 on any mismatch. */
object JsNumberSoupSweep {
  def main(args: Array[String]): Unit = {
    val nSeeds = if (args.nonEmpty) args(0).toInt else 10
    val spark = graft.Sessions.localBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (bad, n) = sweep(1 to nSeeds, spark)
    println(s"$bad mismatches across $nSeeds seeds ($n inputs)")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  /** One sweep over the given seeds; returns (mismatches, inputs swept),
    * each mismatch printed. Callable from main (dev, own session) and
    * SoupSweepSmokeSpec (CI, the suite's session). */
  def sweep(seeds: Seq[Int], spark: SparkSession): (Int, Int) = {
    val signs = Seq("", "+", "-", "--", "+-")
    val bodies = Seq("12", "0", "00", "007", ".5", "5.", "1.5", "1.2.3",
      "1e3", "1e+3", "1e-3", "1e", "e3", "Infinity", "infinity", "NaN",
      "abc", "12abc", "0x1f", "0X", "0xzz", "0b101", "0b12", "0o17",
      "0o19", "9007199254740991", "1_0", "1 2", "", ".", "e", "x",
      "0x", "5e5e5", "123456789012345678901234567890")
    val pads = Seq("", " ", "  ", "\t", "\u000b", "\u00a0", "\ufeff",
      "\u3000", "\u2028", "\u180e", "\n")
    val all = seeds.flatMap { seed =>
      val rnd = new scala.util.Random(610000 + seed)
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
      (0 until 400).map { _ =>
        val n = 1 + rnd.nextInt(3)
        pick(pads) + pick(signs) +
          (0 until n).map(_ => pick(bodies)).mkString(pick(Seq("", pick(pads)))) +
          pick(pads)
      }
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
      all.map(u => "\"" + esc(u) + "\"").mkString("[", ",", "]").getBytes("UTF-8"))
    val out = new StringBuilder
    val code = (Process(Seq("node", "-e", js)) #< in)
      .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    require(code == 0, "node oracle failed")
    val nodeOut = out.toString.split("\n")
    require(nodeOut.length == all.size, s"${nodeOut.length} != ${all.size}")

    import spark.implicits._
    val numberGot = all.toDF("v")
      .select($"v", Validation.isJsNumber($"v").as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val parseGot = {
      val df = all.toDF("v").withColumn("orig", $"v")
      graft.ops.Bindings.typed(df, Map("v" -> graft.rdf.Vocab.xsdInteger))
        .select($"orig", $"v".cast("string"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val twoTo53 = BigDecimal(2).pow(53)
    var bad = 0
    all.zip(nodeOut).foreach { case (input, expect) =>
      val Array(nOk, pVal) = expect.split("\\|", -1)
      if (numberGot(input) != (nOk == "ok")) {
        bad += 1
        println(s"MISMATCH Number '${esc(input)}': mirror ${numberGot(input)}, node $nOk")
      }
      val want = if (pVal == "N") null else pVal
      val got = parseGot(input)
      val beyond53 = (got != null && BigDecimal(got).abs >= twoTo53) ||
        (want != null && BigDecimal(want).abs >= twoTo53)
      if (!beyond53 && got != want) {
        bad += 1
        println(s"MISMATCH parseInt '${esc(input)}': mirror $got, node $want")
      }
    }
    (bad, all.size)
  }
}
