package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.pipeline.ImportService
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** delta_stream: the service (`ImportService.start`) fed delta files,
  * each written under a temporary name and renamed into the watched
  * directory. After set-up, untimed warm-up tasks run on the cold JVM,
  * one at a time. Then the trickle: one delta at a time, each due as
  * soon as the service has committed the previous one, so every trickle
  * task meets an idle service (as an open-loop trickle would at any
  * interval longer than the service time), for `--seconds` and at least
  * `min_trickle` tasks. Latency is read back from the stream's
  * checkpoint: the `sources/` log maps each file to its micro-batch, and
  * the batch's `commits/` entry is written after its state swap. */
object Delta {
  import Main._

  private final case class Svc(spark: SparkSession, q: StreamingQuery, root: String)
  private final case class Drop(file: String, task: String, dueMs: Double, dropMs: Double)

  def run(a: Args, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val pagesDir = a.spec.get("pages_dir").asText
    val staged = a.spec.get("staged_dir").asText
    val base = s"${a.work}/state-base"
    def delta(e: JsonNode): (String, String) = (e.get("file").asText, e.get("task").asText)
    val warmup = a.spec.get("warmup").elements().asScala.toSeq.map(delta)
    val pool = a.spec.get("trickle").elements().asScala.toSeq.map(delta)

    def drop(root: String, file: String): Double = {
      val tmp = Paths.get(root, "incoming", file)
      Files.copy(Paths.get(staged, file), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(root, "deltas", file), StandardCopyOption.ATOMIC_MOVE)
      nowMs
    }

    // set-up: session, the pre-populated state, and the service's start
    // (startup recovery fails the stale busy task, then the state swap)
    def setUpOnce(i: Int): Svc = {
      val spark = session(a.cores, a.work)
      if (i == 0) writeStateFromJson(spark, s"${a.work}/state.jsonl", base)
      val root = s"${a.work}/svc-$i"
      copyDir(base, s"$root/state")
      Seq("deltas", "incoming").foreach(d => Files.createDirectories(Paths.get(root, d)))
      val q = ImportService.start(spark, s"$root/deltas", s"$root/ckpt", s"$root/state",
        pagesDir, s"$root/out", clock = () => Now)
      Svc(spark, q, root)
    }
    val (svc, setupTimes) = setUp(setUpReps(a))(setUpOnce) { s =>
      s.q.stop(); stop(s.spark)
    }
    out("setup_reps_s") = setupTimes
    val spark = svc.spark

    out("warmup_s") = warmup.map { case (file, _) =>
      val t0 = drop(svc.root, file)
      svc.q.processAllAvailable()
      (nowMs - t0) / 1000
    }

    val probe = new Probe(Some(pagesDir))
    if (a.trace) probe.register(spark)

    val drops = mutable.ArrayBuffer[Drop]()
    val minTrickle = a.spec.get("min_trickle").asInt
    val start = nowMs
    var k = 0
    while (k < pool.size && (k < minTrickle || nowMs - start < a.seconds * 1000)) {
      val (file, task) = pool(k)
      val due = nowMs
      drops += Drop(file, task, due, drop(svc.root, file))
      svc.q.processAllAvailable()
      k += 1
    }
    val end = nowMs
    val (batchOf, commitMs) = checkpointLog(s"${svc.root}/ckpt")
    val dropped = drops.toSeq
    out("deltas") = dropped.map { d =>
      Map("file" -> d.file, "task" -> d.task, "due_ms" -> d.dueMs,
        "drop_ms" -> d.dropMs, "batch" -> batchOf.getOrElse(d.file, -1L),
        "commit_ms" -> batchOf.get(d.file).flatMap(commitMs.get).getOrElse(-1.0))
    }
    if (a.trace) {
      out("engine_total") = probe.window(start, end)
      out("stream_batches") = probe.batches.asScala.toSeq.filter(_.startMs >= start - 1000)
        .map(b => Map("batch" -> b.id, "start_ms" -> b.startMs, "trigger_ms" -> b.triggerMs))
      out("cached_rdds_end") = spark.sparkContext.getPersistentRDDs.size
      out("cached_mb_end") = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6
      probe.unregister(spark)
    }
    svc.q.stop()

    val reg = registrations(spark, s"${svc.root}/state")
    val tasks = warmup.map(_._2) ++ dropped.map(_.task)
    out("checks") = tasks.map { task =>
      outputCounts(s"${svc.root}/out/${sha1Hex(task)}") ++ Map("task" -> task,
        "registered_files" -> reg.get(task).map(_._1).getOrElse(0L),
        "state_status" -> reg.get(task).map(_._2).getOrElse("missing"))
    }
    out("stale_status") = reg.get(a.spec.get("stale_task").asText).map(_._2).getOrElse("missing")
    if (a.trace) {
      out("state_rows") = ImportService.readState(spark, s"${svc.root}/state").count()
      traced(a, spark, base, pagesDir, tasks, probe, out)
    }
  }

  /** Traced-run extras: the tracing overhead, and the bulk task — run
    * whole with tracing on (engine counters per task), composed layer by
    * layer with spans, and again on one core. */
  private def traced(a: Args, spark0: SparkSession, base: String, pagesDir: String,
      tasks: Seq[String], probe: Probe, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val bulk = a.spec.get("bulk_task").asText
    val state = spark0.read.parquet(base)
    // overhead: a one-job task lookup with tracing off and on, alternately
    val lookups = (0 until 8).map { i =>
      val on = i % 2 == 1
      if (on) { probe.register(spark0); Spans.enabled = true }
      val (_, w) = timed {
        Spans.span("overhead.lookup", s"overhead-$i") {
          graft.pipeline.TaskStore.loadExtractionTask(state, bulk).collect()
        }
      }
      if (on) { probe.unregister(spark0); Spans.enabled = false }
      (on, w)
    }
    out("trace_overhead_ratio") = median(lookups.filter(_._1).map(_._2)) /
      median(lookups.filterNot(_._1).map(_._2))
    probe.register(spark0)
    Spans.enabled = true
    val t0 = nowMs
    val (wall, check) = Spans.span("task.blackbox", "bulk") {
      Bulk.once(spark0, state, bulk, pagesDir, s"${a.work}/bulk-on")
    }
    out("bulk_wall_s") = wall
    out("bulk_checks") = Seq(check)
    out("decomposed") = Decomposed.run(spark0, state, bulk, pagesDir,
      s"${a.work}/bulk-dec/task", s"${a.work}/bulk-dec/state", debug = true)
    // read after the decomposed run, so the listener bus has long
    // delivered the black-box task's stage events
    out("bulk_engine") = probe.window(t0, t0 + wall * 1000)
    out("ttl_mb") = outputCounts(s"${a.work}/bulk-dec/task")("ttl_mb")
    Spans.enabled = false
    probe.unregister(spark0)
    out("html_direct") = Bulk.htmlDirect(pagesDir, spark0, state, bulk +: tasks)

    // single-core repetition of the bulk task: the stream-processing
    // baseline, and whether the sinks scale with cores
    stop(spark0)
    val one = session(1, a.work)
    out("bulk_wall_1core_s") = Bulk.once(one, one.read.parquet(base), bulk, pagesDir,
      s"${a.work}/bulk-1")._1
  }

  /** (file name → micro-batch id, batch id → commit time in epoch ms). */
  private def checkpointLog(ckpt: String): (Map[String, Long], Map[Long, Double]) = {
    val entry = """"path":"([^"]*)".*"batchId":(\d+)""".r.unanchored
    val batchOf = Files.list(Paths.get(ckpt, "sources", "0")).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong }
      .toMap
    val commits = Files.list(Paths.get(ckpt, "commits")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong ->
        Files.getLastModifiedTime(f).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0)
      .toMap
    (batchOf, commits)
  }
}
