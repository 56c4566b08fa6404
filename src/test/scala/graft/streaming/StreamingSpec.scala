package graft.streaming

import graft.SparkSpec
import graft.pipeline.TaskStore
import graft.rdf.Vocab
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Streaming front-end (T1/T2) + task lifecycle (S4-S7, K5-K7) specs. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val deltaBody =
    """[{"inserts":[
      |{"subject":{"type":"uri","value":"http://redpencil.data.gift/id/task/T1"},
      | "predicate":{"type":"uri","value":"http://www.w3.org/ns/adms#status"},
      | "object":{"type":"uri","value":"http://redpencil.data.gift/id/concept/JobStatus/scheduled"}},
      |{"subject":{"type":"uri","value":"http://x/other"},
      | "predicate":{"type":"uri","value":"http://x/p"},
      | "object":{"type":"uri","value":"http://x/o"}}],
      |"deletes":[]},
      |{"inserts":[
      |{"subject":{"type":"uri","value":"http://redpencil.data.gift/id/task/T2"},
      | "predicate":{"type":"uri","value":"http://www.w3.org/ns/adms#status"},
      | "object":{"type":"uri","value":"http://redpencil.data.gift/id/concept/JobStatus/scheduled"}}],
      |"deletes":[]}]""".stripMargin.replace("\n", "")

  test("P1 batch: flatten changesets, filter scheduled, project subjects") {
    val tasks = DeltaSource.scheduledTasks(Seq(deltaBody).toDF("body"))
      .as[String].collect().sorted
    assert(tasks.toSeq == Seq(
      "http://redpencil.data.gift/id/task/T1",
      "http://redpencil.data.gift/id/task/T2"))
  }

  test("P1: non-matching deltas yield nothing (app.js:31-34)") {
    val none = """[{"inserts":[{"subject":{"type":"uri","value":"http://t"},
      |"predicate":{"type":"uri","value":"http://other"},
      |"object":{"type":"uri","value":"http://o"}}],"deletes":[]}]"""
      .stripMargin.replace("\n", "")
    assert(DeltaSource.scheduledTasks(Seq(none).toDF("body")).count() == 0)
    assert(DeltaSource.scheduledTasks(Seq("[]").toDF("body")).count() == 0)
  }

  test("P8 content-type guard + malformed bodies (app.js:18-22)") {
    // only ^application/json bodies are parsed
    val typed = Seq(
      (deltaBody, "application/json"),
      (deltaBody, "application/json; charset=utf-8"),
      (deltaBody, "text/turtle"),
      (deltaBody, null: String)).toDF("body", "content_type")
    val tasks = DeltaSource.scheduledTasks(typed).as[String].collect()
    assert(tasks.length == 4) // 2 tasks × 2 json-typed rows; turtle+null dropped
    // malformed JSON yields zero tasks, no error (from_json → null → no rows)
    val bad = Seq("this is not json", "{\"inserts\": 7}", "").toDF("body")
    assert(DeltaSource.scheduledTasks(bad).count() == 0)
  }

  test("S9 nie:url lookup collapses cross-graph duplicates (file-helpers.js:40-63)") {
    val quads = Seq(
      ("http://remote/1", Vocab.nieUrl, "http://source/page1", "g:a"),
      ("http://remote/1", Vocab.nieUrl, "http://source/page1", "g:b"),
      ("http://remote/2", Vocab.nieUrl, "http://source/page2", "g:a"))
      .toDF("subject", "predicate", "obj", "graph")
    assert(TaskStore.fileUrl(quads, "http://remote/1").as[String].collect().toSeq
      == Seq("http://source/page1"))
    // zero rows ⇔ reference returns null
    assert(TaskStore.fileUrl(quads, "http://remote/404").count() == 0)
  }

  /** The task lists `DeltaSource.run` dispatches for `bodies`, one
    * delta file each, each processed before the next is written. */
  private def dispatched(bodies: String*): Seq[Seq[String]] = {
    val in = Files.createTempDirectory("delta-in").toString
    val ckpt = Files.createTempDirectory("delta-ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val q = DeltaSource.run(spark, in, ckpt) { tasks => seen.add(tasks) }
    try bodies.zipWithIndex.foreach { case (b, i) =>
      Files.writeString(java.nio.file.Paths.get(s"$in/d$i.json"), b)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.filter(_.nonEmpty)
  }

  test("streaming delta source dispatches distinct scheduled tasks (T1)") {
    assert(dispatched(deltaBody) == Seq(Seq(
      "http://redpencil.data.gift/id/task/T1",
      "http://redpencil.data.gift/id/task/T2")))
  }

  test("a delta naming one task twice dispatches it once") {
    // T1 scheduled twice: in two changesets of the body, and in two lines
    // of the delta file, one micro-batch
    val twice = deltaBody.replace("task/T2", "task/T1")
    assert(dispatched(twice + "\n" + twice) ==
      Seq(Seq("http://redpencil.data.gift/id/task/T1")))
  }

  test("watermarked windowed aggregation over an event stream") {
    val in = Files.createTempDirectory("ev-in").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/events.csv"),
      Seq("2024-01-01T00:10:00,1,click,1.0", "2024-01-01T00:40:00,1,click,2.0",
        "2024-01-01T01:10:00,2,view,3.0").mkString("\n"))
    val schema = "ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    val stream = spark.readStream.schema(schema).csv(in)
    val query = EventStream.hourlyCounts(stream).writeStream
      .format("memory").queryName("hourly").outputMode("append").start()
    query.processAllAvailable(); query.stop()
    // append mode only emits closed windows; with a single batch the
    // watermark advances to max(ts) - 2h, so assert via the state-free
    // batch path instead: same pipeline, batch input.
    val batch = EventStream.hourlyCounts(
      spark.read.schema(schema).csv(in))
    val rows = batch.orderBy("window_start", "event_type")
      .select(col("event_type"), col("n")).as[(String, Long)].collect()
    assert(rows.toSeq == Seq(("click", 2L), ("view", 1L)))
  }

  test("streaming sliding windows drain to exactly the batch sliding result") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamDrive.slidingFromFiles(spark, sf).collect().toSeq
    // the drive must have crossed real micro-batch boundaries — the
    // equivalence below then pins the state-store merge path, not just
    // a single-batch batch-in-disguise run
    assert(StreamDrive.lastDriveBatches.length >= 3,
      s"expected >=3 non-empty micro-batches, got ${StreamDrive.lastDriveBatches}")
    // the per-batch trigger durations Bench ships as drive_trigger_ms
    // must track the same batches — one positive duration per non-empty
    // micro-batch, or the steady-state metric silently reports nothing
    assert(StreamDrive.lastDriveTriggerMs.length == StreamDrive.lastDriveBatches.length,
      s"trigger durations ${StreamDrive.lastDriveTriggerMs} out of step with " +
        s"batches ${StreamDrive.lastDriveBatches}")
    assert(StreamDrive.lastDriveTriggerMs.forall(_ > 0))
    val batch = graft.ops.Sessionize.slidingWindows(spark, sf).collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming sessions drain to exactly the batch sessions across batches") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamDrive.sessionsFromFiles(spark, sf).collect().toSeq
    // 3 time-range event files + 1 sentinel file, one per trigger: open
    // sessions must survive in the state store across batches and merge
    // with later events for the rows to match the batch twin
    assert(StreamDrive.lastDriveBatches.length >= 4,
      s"expected >=4 non-empty micro-batches, got ${StreamDrive.lastDriveBatches}")
    // null user_ids are excluded on the streaming side (primitive long
    // key) — pin the same exclusion here, as the oracle SQL does
    val batch = graft.ops.Sessionize.sessions(spark, sf)
      .filter(col("user_id").isNotNull).collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming exact dedup drains to exactly the batch digest grouping") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamDrive.dedupFromFiles(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(StreamDrive.lastDriveBatches.length >= 3,
      s"expected >=3 non-empty micro-batches, got ${StreamDrive.lastDriveBatches}")
    val batch = graft.ops.Tables.documents(spark, sf)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("digest"))
      .as[(String, Long, Long)].collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  // ------------------------------------------------------ task lifecycle

  private def taskQuads = Seq(
    ("http://t/1", Vocab.rdfType, Vocab.taskType),
    ("http://t/1", Vocab.dctIsPartOf, "http://job/1"),
    ("http://t/1", Vocab.muUuid, "uuid-1"),
    ("http://t/1", Vocab.dctCreated, "2026-01-01T00:00:00Z"),
    ("http://t/1", Vocab.dctModified, "2026-01-01T00:00:00Z"),
    ("http://t/1", Vocab.admsStatus, Vocab.statusBusy),
    ("http://t/1", Vocab.taskIndex, "0"),
    ("http://t/1", Vocab.taskOperation, Vocab.opExtracting),
    ("http://t/1", Vocab.taskInputContainer, "http://c/1"),
    ("http://c/1", Vocab.taskHasFile, "http://f/1"),
    ("http://c/1", Vocab.taskHasFile, "http://f/2"),
    ("http://t/2", Vocab.rdfType, Vocab.taskType),
    ("http://t/2", Vocab.admsStatus, Vocab.statusBusy),
    ("http://t/2", Vocab.taskOperation, "http://other/op"),
    ("http://t/3", Vocab.rdfType, "http://not/a/task"))
    .toDF("subject", "predicate", "obj")
    .withColumn("graph", lit(null).cast("string"))

  test("star-pivot task load with operation guard (S4/J2/P7)") {
    val t = TaskStore.loadExtractionTask(taskQuads, "http://t/1").collect()
    assert(t.length == 1)
    val row = t.head
    assert(row.getAs[String]("uuid") == "uuid-1")
    assert(row.getAs[String]("status") == Vocab.statusBusy)
    assert(row.getAs[String]("error") == null) // OPTIONAL → null
    // wrong-operation and non-task subjects load nothing
    assert(TaskStore.loadExtractionTask(taskQuads, "http://t/2").count() == 0)
    assert(TaskStore.loadExtractionTask(taskQuads, "http://t/3").count() == 0)
  }

  test("2-hop input pages (J1/D1)") {
    assert(TaskStore.inputPages(taskQuads, "http://t/1").as[String].collect().toSet
      == Set("http://f/1", "http://f/2"))
  }

  test("status transition rewrites exactly the status+modified triples (K6)") {
    val updated = TaskStore.transitionStatus(taskQuads, "http://t/1",
      Vocab.statusSuccess, "2026-02-01T00:00:00Z")
    val t1 = updated.filter(col("subject") === "http://t/1")
      .select("predicate", "obj").as[(String, String)].collect().toMap
    assert(t1(Vocab.admsStatus) == Vocab.statusSuccess)
    assert(t1(Vocab.dctModified) == "2026-02-01T00:00:00Z")
    assert(t1(Vocab.muUuid) == "uuid-1") // untouched
    assert(updated.count() == taskQuads.count())
  }

  test("startup recovery fails only busy watched-operation tasks (K7/J5)") {
    val recovered = TaskStore.failBusyTasks(taskQuads, "2026-02-01T00:00:00Z")
    val statuses = recovered.filter(col("predicate") === Vocab.admsStatus)
      .select("subject", "obj").as[(String, String)].collect().toMap
    assert(statuses("http://t/1") == Vocab.statusFailed)
    assert(statuses("http://t/2") == Vocab.statusBusy) // unwatched operation
  }

  test("startup recovery leaves a busy subject that is not a task untouched") {
    val quads = taskQuads.union(Seq(
        ("http://t/3", Vocab.admsStatus, Vocab.statusBusy),
        ("http://t/3", Vocab.taskOperation, Vocab.opExtracting))
      .toDF("subject", "predicate", "obj").withColumn("graph", lit(null).cast("string")))
    val recovered = TaskStore.failBusyTasks(quads, "2026-02-01T00:00:00Z")
    val statuses = recovered.filter(col("predicate") === Vocab.admsStatus)
      .select("subject", "obj").as[(String, String)].collect().toMap
    assert(statuses("http://t/1") == Vocab.statusFailed)
    assert(statuses("http://t/3") == Vocab.statusBusy) // rdf:type is not a task
    assert(recovered.filter(col("subject") === "http://t/3").count() == 3)
  }

  test("error record minting (K5)") {
    val withErr = TaskStore.transitionStatus(taskQuads, "http://t/1", Vocab.statusFailed,
      "2026-02-01T00:00:00Z", insert = TaskStore.errorRecord("http://t/1", "boom", null))
    val err = withErr.filter(col("predicate") === Vocab.oslcMessage).collect()
    assert(err.length == 1 && err.head.getAs[String]("obj") == "boom")
    val link = withErr.filter(col("subject") === "http://t/1" &&
      col("predicate") === Vocab.taskError)
    assert(link.count() == 1)
  }

  test("every drive-backed bench query records a usable trigger vector") {
    // Bench ships drive_trigger_ms as the cross-round comparison metric
    // for drives (wall time tracks the machine's IO band): the median of
    // the non-empty batches AFTER dropping the first. A drive collapsing
    // to <2 non-empty micro-batches would silently thin that metric to
    // nothing — pin >=2 positive trigger durations for each of the five
    // bench drives.
    val sf = "/root/testdata/sf0.001"
    val drives: Seq[(String, () => Unit)] = Seq(
      "x_stream_hourly" -> (() => StreamDrive.hourlyFromFiles(spark, sf).count()),
      "x_stream_sliding" -> (() => StreamDrive.slidingFromFiles(spark, sf).count()),
      "x_stream_sessionize" -> (() => StreamDrive.sessionsFromFiles(spark, sf).count()),
      "x_stream_dedup" -> (() => StreamDrive.dedupFromFiles(spark, sf).count()),
      "x_stream_late" -> (() => StreamDrive.hourlyLateFromFiles(spark, sf).count()))
    for ((name, run) <- drives) {
      run()
      val trig = StreamDrive.lastDriveTriggerMs
      assert(trig.length >= 2,
        s"$name recorded ${trig.length} trigger durations ($trig) — the " +
          "steady-state median (first batch dropped) would be empty/thin")
      assert(trig.forall(_ > 0), s"$name trigger vector $trig has non-positive entries")
    }
  }

  test("calling a drive twice on one corpus runs two streaming queries") {
    // no drive result is kept between calls: each call replays the stream
    val sf = "/root/testdata/sf0.001"
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == "graft_stream_dedup") started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val (first, second) =
      try (StreamDrive.dedupFromFiles(spark, sf).collect().toSeq,
        StreamDrive.dedupFromFiles(spark, sf).collect().toSeq)
      finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.streams.removeListener(listener)
      }
    assert(started.get == 2, s"${started.get} drive queries started for two calls")
    assert(first.nonEmpty && first == second)
  }

  test("staging a drive leaves no temp directory behind but its staged split") {
    // a fresh copy of the events: its fingerprint misses the staged-split
    // cache, so both drives stage (and write their extra files) here
    val dir = graft.Scaffold.cleanupOnExit(
      Files.createTempDirectory("stage-leak").toString)
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.parquet(s"$dir/events.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs = tmp.list().filter(_.startsWith("graft-")).toSet
    val before = graftDirs
    StreamDrive.sessionsFromFiles(spark, dir).count()
    StreamDrive.hourlyLateFromFiles(spark, dir).count()
    val added = graftDirs -- before
    assert(added.size == 2 && added.forall(_.startsWith("graft-stream-split")),
      s"a staging left more than its split behind: $added")
  }

  test("a held drive result keeps its rows after the drive runs on another corpus") {
    // the drive re-registers its memory-sink view for every corpus; a
    // frame returned earlier keeps its own sink's rows
    val small = "/root/testdata/sf0.001"
    val held = StreamDrive.hourlyFromFiles(spark, small)
    val larger = StreamDrive.hourlyFromFiles(spark, "/root/testdata/sf0.01")
      .collect().toSeq
    val rows = held.collect().toSeq
    assert(rows == graft.ops.Sessionize.hourlyWindows(spark, small).collect().toSeq)
    assert(rows.size < larger.size, s"${rows.size} vs ${larger.size} windows")
  }
}
