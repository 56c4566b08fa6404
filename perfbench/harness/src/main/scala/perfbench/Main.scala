package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness entry: runs one workload against the program's
  * public API and writes raw measurements (times, counts, spans) as JSON
  * for `run.py`, which checks them and derives the metrics.
  *
  * Usage: Main --workload W --spec spec.json --work DIR --seconds S
  *             --trace 0|1 --cores N --out result.json */
object Main {

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val Now = "2026-01-01T00:00:00Z"

  final case class Args(workload: String, spec: JsonNode, work: String,
      seconds: Double, trace: Boolean, cores: Int)

  def main(argv: Array[String]): Unit = {
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val args = Args(a("workload"), json.readTree(Paths.get(a("spec")).toFile), a("work"),
      a("seconds").toDouble, a("trace") == "1", a("cores").toInt)
    val out = mutable.LinkedHashMap[String, Any]("jvm_boot_s" -> bootS)
    args.workload match {
      case "delta_stream" => Delta.run(args, out)
      case "corpus_ops" => Corpus.run(args, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("peak_rss_mb") = Jvm.peakRssMb
    out("jvm") = Map("gc_s" -> Jvm.gcSeconds, "heap_after_gc_mb" -> Jvm.heapAfterGcMb)
    if (args.trace) out("spans") = Spans.drain().map(s => Map("id" -> s.id,
      "name" -> s.name, "trace" -> s.trace, "parent" -> s.parent,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))
    json.writeValue(Paths.get(a("out")).toFile, out)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ------------------------------------------------------------ helpers

  def session(cores: Int, work: String): SparkSession = {
    val s = graft.Sessions.localBuilder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-ups per run: several, so the median of set-up time is steady;
    * one in the traced run, which reports no set-up time. */
  def setUpReps(a: Args): Int = if (a.trace) 1 else 3

  /** Run `one` `n` times, tearing down all but the last; returns the last
    * result and each repetition's wall time. */
  def setUp[T](n: Int)(one: Int => T)(teardown: T => Unit): (T, Seq[Double]) = {
    val times = mutable.ArrayBuffer[Double]()
    var last: Option[T] = None
    for (i <- 0 until n) {
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(one(i))
      times += (System.nanoTime() - t0) / 1e9
    }
    (last.get, times.toSeq)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Load generator-written state quads (JSON lines) into a parquet table. */
  def writeStateFromJson(spark: SparkSession, jsonl: String, dir: String): Unit =
    spark.read.schema("subject STRING, predicate STRING, obj STRING, graph STRING")
      .json(jsonl).select("subject", "predicate", "obj", "graph")
      .write.mode("overwrite").parquet(dir)

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filter(f => !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))

  /** What one task wrote: N-Triples lines per verdict partition, HTML
    * side files, and bytes of TTL. */
  def outputCounts(outDir: String): Map[String, Any] = {
    val ttl = Paths.get(outDir, "ttl")
    val parts = dataFiles(ttl).filter(Files.isDirectory(_)).map { d =>
      d.getFileName.toString -> dataFiles(d).map(f => Files.lines(f).count()).sum
    }.toMap
    val ttlBytes = dataFiles(ttl).flatMap(dataFiles).map(Files.size).sum
    Map("ttl_lines" -> parts, "html_files" -> dataFiles(Paths.get(outDir, "html")).size,
      "ttl_mb" -> ttlBytes / 1e6)
  }

  /** Per task: registered result files (distinct `task:hasFile` targets of
    * the task's result containers) and the task's status. */
  def registrations(spark: SparkSession, stateDir: String): Map[String, (Long, String)] = {
    import org.apache.spark.sql.functions._
    import graft.rdf.Vocab
    val q = spark.read.parquet(stateDir)
    val links = q.filter(col("predicate") === Vocab.taskResultsContainer)
      .select(col("subject").as("task"), col("obj").as("c"))
    val files = q.filter(col("predicate") === Vocab.taskHasFile)
      .select(col("subject").as("c"), col("obj").as("f"))
    val reg = links.join(files, "c").groupBy("task").agg(countDistinct("f").as("n"))
    val status = q.filter(col("predicate") === Vocab.admsStatus)
      .select(col("subject").as("task"), col("obj").as("status"))
    status.join(reg, Seq("task"), "left").collect().map { r =>
      r.getString(0) -> (Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L),
        r.getString(1).substring(r.getString(1).lastIndexOf('/') + 1))
    }.toMap
  }

  def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
