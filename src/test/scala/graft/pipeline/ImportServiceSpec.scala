package graft.pipeline

import graft.SparkSpec
import graft.rdf.Vocab
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Whole-service composition (app.js parity): startup recovery + the
  * streaming delta loop driving the import pipeline, with state living
  * in a parquet quad table. */
class ImportServiceSpec extends SparkSpec {
  import spark.implicits._

  private val T1 = "http://t/1"
  private val T2 = "http://t/2"
  private val T3 = "http://t/3"

  private val page =
    """<html prefix="eli: http://data.europa.eu/eli/ontology#"><body>
      |<div about="http://example.org/besluit/1">
      |<span property="eli:title">Besluit een</span>
      |</div></body></html>""".stripMargin

  private def initialState = Seq(
    (T1, Vocab.rdfType, Vocab.taskType),
    (T1, Vocab.muUuid, "uuid-1"),
    (T1, Vocab.admsStatus, Vocab.statusScheduled),
    (T1, Vocab.taskOperation, Vocab.opExtracting),
    (T1, Vocab.taskInputContainer, "http://c/in"),
    ("http://c/in", Vocab.taskHasFile, "share://page-1.html"),
    // a stale busy task: startup recovery must fail it
    (T2, Vocab.rdfType, Vocab.taskType),
    (T2, Vocab.admsStatus, Vocab.statusBusy),
    (T2, Vocab.taskOperation, Vocab.opExtracting))
    .toDF("subject", "predicate", "obj")
    .withColumn("graph", lit("http://g/tasks"))

  /** One delta body scheduling `tasks` — one micro-batch of them. */
  private def deltaBody(tasks: String*) = tasks.map(task =>
    s"""{"subject":{"type":"uri","value":"$task"},
       |"predicate":{"type":"uri","value":"http://www.w3.org/ns/adms#status"},
       |"object":{"type":"uri","value":"http://redpencil.data.gift/id/concept/JobStatus/scheduled"}}"""
      .stripMargin.replace("\n", ""))
    .mkString("""[{"inserts":[""", ",", """],"deletes":[]}]""")

  test("recoverState restores a mid-swap crash and sweeps stranded temps") {
    val root = Files.createTempDirectory("svc-rec").toString
    val stateDir = s"$root/state"
    initialState.write.parquet(stateDir)
    val n = ImportService.readState(spark, stateDir).count()
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate: crash after rename(target → backup), before rename(tmp → target)
    fs.rename(new org.apache.hadoop.fs.Path(stateDir),
      new org.apache.hadoop.fs.Path(stateDir + "-prev"))
    initialState.limit(1).write.parquet(stateDir + "-tmp-123")
    ImportService.recoverState(spark, stateDir)
    assert(ImportService.readState(spark, stateDir).count() == n)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stateDir + "-tmp-123")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stateDir + "-prev")))
    // idempotent when state is intact
    ImportService.recoverState(spark, stateDir)
    assert(ImportService.readState(spark, stateDir).count() == n)
  }

  test("readState with the quad schema reads what schema inference reads") {
    val stateDir = Files.createTempDirectory("svc-schema").toString + "/state"
    // written in another column order: the schema binds columns by name
    ImportService.writeState(initialState.select("graph", "obj", "subject", "predicate"),
      stateDir)
    val withSchema = ImportService.readState(spark, stateDir)
    val inferred = spark.read.parquet(stateDir)
    assert(withSchema.schema == ImportService.stateSchema)
    val cols = ImportService.stateSchema.fieldNames.map(col).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))
    assert(rows(withSchema) == rows(inferred))
    assert(rows(withSchema).size == initialState.count())
  }

  test("service loop: recovery, delta dispatch, pipeline, state swap") {
    val root = Files.createTempDirectory("svc").toString
    val stateDir = s"$root/state"
    val deltaDir = s"$root/deltas"; Files.createDirectories(Paths.get(deltaDir))
    val pagesDir = s"$root/pages"; Files.createDirectories(Paths.get(pagesDir))
    initialState.write.parquet(stateDir)
    Files.writeString(Paths.get(s"$pagesDir/page-1.html"), page)

    val q = ImportService.start(spark, deltaDir, s"$root/ckpt", stateDir,
      pagesDir, s"$root/out", clock = () => "2026-03-01T00:00:00Z")
    try {
      // recovery ran synchronously before the stream started
      val afterRecovery = ImportService.readState(spark, stateDir)
      assert(afterRecovery.filter(col("subject") === T2 &&
        col("predicate") === Vocab.admsStatus).select("obj")
        .as[String].head() == Vocab.statusFailed)

      Files.writeString(Paths.get(s"$deltaDir/d1.json"), deltaBody(T1))
      q.processAllAvailable()

      val state = ImportService.readState(spark, stateDir).cache()
      assert(state.filter(col("subject") === T1 &&
        col("predicate") === Vocab.admsStatus).select("obj")
        .as[String].head() == Vocab.statusSuccess)
      // registered result file metadata made it into the swapped state
      assert(state.filter(col("predicate") === Vocab.nfoFileName &&
        col("obj") === "page-1-valid.ttl").count() == 1)
      assert(state.filter(col("subject") === T1 &&
        col("predicate") === Vocab.taskResultsContainer).count() == 3)
      state.unpersist()

      // a delta for a non-task subject is a silent no-op
      val before = ImportService.readState(spark, stateDir).count()
      Files.writeString(Paths.get(s"$deltaDir/d2.json"),
        deltaBody("http://not/a/task"))
      q.processAllAvailable()
      assert(ImportService.readState(spark, stateDir).count() == before)

      // two tasks in ONE batch run one after the other, each with its own
      // swap: T1 re-runs idempotently, T2 (no input container) succeeds empty
      Files.writeString(Paths.get(s"$deltaDir/d3.json"), deltaBody(T1, T2))
      q.processAllAvailable()
      val after = ImportService.readState(spark, stateDir)
      val statuses = after.filter(col("predicate") === Vocab.admsStatus)
        .select("subject", "obj").as[(String, String)].collect().toMap
      assert(statuses(T1) == Vocab.statusSuccess)
      assert(statuses(T2) == Vocab.statusSuccess)
      // idempotent re-run of T1: metadata not duplicated
      assert(after.filter(col("predicate") === Vocab.nfoFileName &&
        col("obj") === "page-1-valid.ttl").count() == 1)
    } finally q.stop()
  }

  test("service memory stays flat: no batch leaves a state checkpoint") {
    val root = Files.createTempDirectory("svc-mem").toString
    val stateDir = s"$root/state"
    val deltaDir = s"$root/deltas"; Files.createDirectories(Paths.get(deltaDir))
    val pagesDir = s"$root/pages"; Files.createDirectories(Paths.get(pagesDir))
    initialState.write.parquet(stateDir)
    Files.writeString(Paths.get(s"$pagesDir/page-1.html"), page)
    // RDD ids only grow: count the persisted RDDs this test created, so
    // a stale frame of another suite released meanwhile cannot interfere
    val firstId = spark.sparkContext.emptyRDD[Int].id
    def persisted = spark.sparkContext.getPersistentRDDs.keys.count(_ > firstId)

    val q = ImportService.start(spark, deltaDir, s"$root/ckpt", stateDir,
      pagesDir, s"$root/out", clock = () => "2026-03-01T00:00:00Z")
    try {
      // one single-task batch per delta: T1 (re-)runs each time
      val after = (1 to 6).map { i =>
        Files.writeString(Paths.get(s"$deltaDir/d$i.json"), deltaBody(T1))
        q.processAllAvailable()
        persisted
      }
      // flat from the first batch on, and at zero: a task's new state goes
      // from its plan straight into the swap, with no persisted snapshot
      // left for GC to drop (the ContextCleaner drops unreachable ones
      // eventually, which would keep the count flat but not bounded by
      // design)
      assert(after == Seq.fill(6)(0), after)
      assert(ImportService.readState(spark, stateDir).filter(col("subject") === T1 &&
        col("predicate") === Vocab.admsStatus).select("obj")
        .as[String].head() == Vocab.statusSuccess)
    } finally q.stop()
  }

  /** A fresh root holding `initialState` plus a second scheduled task T3
    * with its own page, and both pages: (root, stateDir, deltaDir,
    * pagesDir). */
  private def twoTaskRoot(name: String): (String, String, String, String) = {
    val root = Files.createTempDirectory(name).toString
    val deltaDir = s"$root/deltas"; Files.createDirectories(Paths.get(deltaDir))
    val pagesDir = s"$root/pages"; Files.createDirectories(Paths.get(pagesDir))
    initialState.union(Seq(
        (T3, Vocab.rdfType, Vocab.taskType),
        (T3, Vocab.muUuid, "uuid-3"),
        (T3, Vocab.admsStatus, Vocab.statusScheduled),
        (T3, Vocab.taskOperation, Vocab.opExtracting),
        (T3, Vocab.taskInputContainer, "http://c/in3"),
        ("http://c/in3", Vocab.taskHasFile, "share://page-3.html"))
      .toDF("subject", "predicate", "obj")
      .withColumn("graph", lit("http://g/tasks")))
      .write.parquet(s"$root/state")
    Files.writeString(Paths.get(s"$pagesDir/page-1.html"), page)
    Files.writeString(Paths.get(s"$pagesDir/page-3.html"), page)
    (root, s"$root/state", deltaDir, pagesDir)
  }

  test("a second identical service task compiles no classes") {
    // a task of the same shape as the one before it reuses every
    // generated class from the JVM-wide codegen cache, which
    // graft.Sessions sizes to hold every plan the suite runs, so what
    // earlier suites compiled cannot evict it (CodegenMetrics counts
    // compilations)
    val (root, stateDir, deltaDir, pagesDir) = twoTaskRoot("svc-codegen")
    def compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val q = ImportService.start(spark, deltaDir, s"$root/ckpt", stateDir,
      pagesDir, s"$root/out", clock = () => "2026-03-01T00:00:00Z")
    try {
      Files.writeString(Paths.get(s"$deltaDir/d1.json"), deltaBody(T1))
      q.processAllAvailable()
      val before = compiled
      Files.writeString(Paths.get(s"$deltaDir/d2.json"), deltaBody(T3))
      q.processAllAvailable()
      assert(compiled - before == 0L)
    } finally q.stop()
    val statuses = ImportService.readState(spark, stateDir)
      .filter(col("predicate") === Vocab.admsStatus)
      .select("subject", "obj").as[(String, String)].collect().toMap
    assert(statuses(T1) == Vocab.statusSuccess)
    assert(statuses(T3) == Vocab.statusSuccess)
  }

  test("a two-task micro-batch leaves the state two one-task batches leave") {
    // RDD ids only grow: count the persisted RDDs created from here on
    val firstId = spark.sparkContext.emptyRDD[Int].id
    def persisted = spark.sparkContext.getPersistentRDDs.keys.count(_ > firstId)
    /** Serve one micro-batch per entry of `batches`; the sorted state rows. */
    def serve(batches: Seq[String]*): Seq[String] = {
      val root = Files.createTempDirectory("svc-batch").toString
      val stateDir = s"$root/state"
      val deltaDir = s"$root/deltas"; Files.createDirectories(Paths.get(deltaDir))
      val pagesDir = s"$root/pages"; Files.createDirectories(Paths.get(pagesDir))
      initialState.write.parquet(stateDir)
      Files.writeString(Paths.get(s"$pagesDir/page-1.html"), page)
      val q = ImportService.start(spark, deltaDir, s"$root/ckpt", stateDir,
        pagesDir, s"$root/out", clock = () => "2026-03-01T00:00:00Z")
      try batches.zipWithIndex.foreach { case (tasks, i) =>
        Files.writeString(Paths.get(s"$deltaDir/d$i.json"), deltaBody(tasks: _*))
        q.processAllAvailable()
      } finally q.stop()
      ImportService.readState(spark, stateDir).collect()
        .map(_.mkString("\u0001")).toSeq.sorted
    }
    val together = serve(Seq(T1, T2))
    val apart = serve(Seq(T1), Seq(T2))
    assert(together == apart)
    assert(together.distinct == together)
    assert(together.count(_.startsWith(T2 + "\u0001" + Vocab.admsStatus)) == 1)
    assert(persisted == 0)
  }

  test("a warm service task writes no shuffle bytes") {
    // every job of a task is narrow: the two point reads, the extraction
    // and its sinks, the manifest, the state write; the delta's task list
    // is de-duplicated on the driver
    val (root, stateDir, deltaDir, pagesDir) = twoTaskRoot("svc-shuffle")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead))
    }
    val q = ImportService.start(spark, deltaDir, s"$root/ckpt", stateDir,
      pagesDir, s"$root/out", clock = () => "2026-03-01T00:00:00Z")
    try {
      Files.writeString(Paths.get(s"$deltaDir/d1.json"), deltaBody(T1))
      q.processAllAvailable()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        Files.writeString(Paths.get(s"$deltaDir/d2.json"), deltaBody(T3))
        q.processAllAvailable()
      } finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    } finally q.stop()
    assert(jobs.get > 0)
    assert(shuffled.get == 0L, s"${shuffled.get} shuffle bytes over ${jobs.get} jobs")
    assert(ImportService.readState(spark, stateDir).filter(col("subject") === T3 &&
      col("predicate") === Vocab.admsStatus).select("obj").as[String].collect().toSeq ==
      Seq(Vocab.statusSuccess))
  }

  test("the state's file count stays bounded over one-task batches") {
    // each swap rewrites the state coalesced to one file per
    // maxPartitionBytes of it, so the task count adds no files. A plain
    // union writes one file per partition of its inputs: the state scan's
    // (Spark packs small files into about one partition per core) and the
    // inserts' (a local frame: one per row, up to one per core)
    val (root, stateDir, deltaDir, pagesDir) = twoTaskRoot("svc-files")
    def parts = new java.io.File(stateDir).listFiles().filter(_.getName.startsWith("part-"))
    val q = ImportService.start(spark, deltaDir, s"$root/ckpt", stateDir,
      pagesDir, s"$root/out", clock = () => "2026-03-01T00:00:00Z")
    val counts = try (1 to 10).map { i =>
      Files.writeString(Paths.get(s"$deltaDir/d$i.json"),
        deltaBody(if (i % 2 == 0) T1 else T3))
      q.processAllAvailable()
      parts.length
    } finally q.stop()
    assert(counts.forall(_ <= counts.head), counts)
    val perFile = spark.sessionState.conf.filesMaxPartitionBytes
    assert(counts.last <= math.max(1L, (parts.map(_.length).sum + perFile - 1) / perFile), counts)
    val state = ImportService.readState(spark, stateDir)
    assert(state.distinct().count() == state.count())
  }

  test("every crash point of a task's state write recovers and replays") {
    // the state behind the fault-injecting filesystem: for every k, the
    // k-th create/rename/delete of one task's run + swap fails — alone,
    // or with every mutation after it (a crash). Recovery must leave the
    // old or the new state, with no temp dir; replaying the task must
    // reach the clean run's state
    spark.sparkContext.hadoopConfiguration
      .set("fs.ffs.impl", classOf[graft.ops.FaultFileSystem].getName)
    val root = Files.createTempDirectory("svc-faults").toString
    val pagesDir = s"$root/pages"; Files.createDirectories(Paths.get(pagesDir))
    Files.writeString(Paths.get(s"$pagesDir/page-1.html"), page)
    val base = initialState.collect().toSeq
    var run = 0
    /** A fresh state dir holding `initialState`, behind the faults. */
    def freshState(): String = {
      run += 1
      spark.createDataFrame(java.util.List.of(base: _*), initialState.schema)
        .coalesce(1).write.parquet(s"$root/r$run/state")
      s"ffs:$root/r$run/state"
    }
    def task(stateDir: String): Unit = {
      val r = ImportPipeline.runImportPipeline(spark,
        ImportService.readState(spark, stateDir), T1, pagesDir,
        s"$root/r$run/out-${System.nanoTime()}", "2026-03-01T00:00:00Z")
      assert(r.status == "success", r)
      ImportService.writeState(r.quads, stateDir)
    }
    def rows(stateDir: String) = ImportService.readState(spark, stateDir).collect()
      .map(_.mkString("\u0001")).toSeq.sorted
    val before = base.map(_.mkString("\u0001")).sorted
    val clean = { val d = freshState(); task(d); rows(d) }
    assert(clean.distinct == clean && clean != before)
    for (crash <- Seq(true, false)) {
      var k = 0L
      var fired = true
      while (fired) {
        k += 1
        val stateDir = freshState()
        graft.ops.FaultFs.arm(k, crash)
        val outcome = scala.util.Try(task(stateDir))
        fired = graft.ops.FaultFs.disarm() >= k
        assert(outcome.isFailure == fired || !crash, s"k=$k crash=$crash: $outcome")
        ImportService.recoverState(spark, stateDir)
        val recovered = rows(stateDir)
        assert(recovered == before || recovered == clean, s"k=$k crash=$crash")
        val parent = new java.io.File(s"$root/r$run")
        def temps = parent.list().filter(_.contains("-tmp-")).toSeq
        assert(temps.isEmpty, s"k=$k crash=$crash: $temps")
        task(stateDir)
        assert(rows(stateDir) == clean, s"k=$k crash=$crash")
        assert(temps.isEmpty, s"k=$k crash=$crash: $temps")
      }
      // the write's mutations: Spark's commit protocol and the swap
      assert(k > 5, s"only ${k - 1} mutations (crash=$crash)")
    }
  }
}
