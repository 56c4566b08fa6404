package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch≡stream equivalence drives for the CORRECTNESS gate: each entry
  * runs the PRODUCTION streaming pipeline ([[EventStream]] /
  * [[SessionStateOps]]) over a file source reading the driver's events
  * parquet, drains it into a memory sink, and returns the sink contents
  * as a batch DataFrame in the same shape as the batch twin — so the
  * DuckDB oracle that checks `Sessionize.hourlyWindows` / `.sessions`
  * also pins the streaming path.
  *
  * Every call runs its drive: no result is kept between calls. The
  * returned frame reads that call's own memory sink, so it keeps its rows
  * after a later drive re-registers the sink view. Only the staged input
  * splits are reused.
  *
  * Every drive replays its input as MULTIPLE micro-batches
  * (`maxFilesPerTrigger=1` over ≥3 staged files in event-time order), so
  * the state-store merge path — the thing that distinguishes streaming
  * aggregation / `flatMapGroupsWithState` from a batch group pass — is
  * exercised by the oracle, not just argued: per-window partial
  * aggregates and per-user open sessions must survive and merge across
  * batch boundaries for the rows to hash-match the batch twin.
  *
  * Determinism: the drive processes the whole input before returning
  * (`processAllAvailable`), uses complete output mode for the windowed
  * aggregation (every window emitted regardless of watermark progress),
  * and closes sessions with per-user post-corpus sentinel events (below),
  * so the drained result is a pure function of the input corpus.
  */
object StreamDrive {

  /** Staged split directories, one sorted write per (input, shape) and
    * input content per JVM ([[graft.Scaffold.Derived]]) — Verify runs each
    * drive once but Bench replays them per pass. */
  private val staged = new graft.Scaffold.Derived[String, String]

  /** Time-range files the drive input is split into. */
  private val nFiles = 3

  /** Give the staged part files strictly increasing modification times in
    * lexicographic name order (range order for `repartitionByRange`
    * output, sentinels-last for the session drive). The file stream
    * source processes oldest-first (`latestFirst=false`), so this pins
    * the batch arrival order deterministically; a fixed epoch base keeps
    * the staging itself reproducible. The ~seconds spread keeps every
    * file inside the source's `maxFileAge` window (relative to the
    * newest file, not wall clock). */
  private def stampAscending(dir: String): Unit = {
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = 1700000000000L
    parts.zipWithIndex.foreach { case (f, i) =>
      // setLastModified returning false (some overlay/container mounts)
      // must be LOUD: with tied mtimes the source's oldest-first order is
      // undefined, the in-order-arrival contract silently breaks, and the
      // session oracle mismatches with no hint as to why
      require(f.setLastModified(base + (i + 1) * 1000L),
        s"setLastModified failed on $f; staged batch order would be undefined")
    }
  }

  /** Stage `input` as [[nFiles]] parquet files holding ascending
    * `orderCol` ranges, mod-times increasing with the ranges. Replayed
    * with `maxFilesPerTrigger=1` this is a faithful in-order stream: each
    * micro-batch's rows are at-or-after everything already processed, so
    * no row ever falls behind the watermark of a previous batch and the
    * per-user event order the session fold assumes (a stream delivers a
    * user's events in time order) holds across batches. Splitting by
    * time range — not round-robin — is what makes the multi-batch drive
    * semantically equivalent to the single-batch one; it is drive
    * scaffolding (one bounded sorted write of the drive input), not a
    * production operator. `extras` are a drive's own files (name, frame),
    * written after the split and BEFORE the mod-time stamping, so they
    * arrive last, in name order. */
  private def stage(src: String, shape: String, input: => DataFrame,
      orderCol: String)(extras: => Seq[(String, DataFrame)]): String =
    staged(src, shape) {
      val dir = graft.Scaffold.tempDir("graft-stream-split")
      input.repartitionByRange(nFiles, col(orderCol))
        .write.mode("overwrite").parquet(dir)
      extras.foreach { case (name, frame) => writeExtra(frame, dir, name) }
      stampAscending(dir)
      dir
    }

  /** Write `frame` as the single file `name` in `dir`. Only the part file
    * moves in; its write directory (with the `_SUCCESS` marker) is
    * deleted at once, so a staging leaves nothing behind but its split —
    * exit cleanup is the exception path. */
  private def writeExtra(frame: DataFrame, dir: String, name: String): Unit = {
    val tmp = graft.Scaffold.tempDir("graft-stream-extra")
    frame.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    Files.move(part.toPath, Paths.get(dir, name))
    graft.Scaffold.deleteRecursively(new java.io.File(tmp))
  }

  /** Replay a staged directory one file per micro-batch. */
  private def replay(s: SparkSession, dir: String,
      schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** Per-batch input-row counts (non-empty micro-batches only) of the
    * most recent drive, set by every drive call — the spec hook proving
    * the drives really cross batch boundaries (StreamingSpec asserts
    * ≥3). */
  @volatile var lastDriveBatches: Seq[Long] = Nil

  /** Per-batch `triggerExecution` durations (ms, non-empty micro-batches
    * only, batch order) of the most recent drive, set by every drive
    * call. [[graft.Bench]] reads this after each drive sample and reports
    * the steady-state median (first batch dropped — it carries source
    * listing + plan compile) in bench_detail as `drive_trigger_ms`: the
    * wall time of a drive is dominated by checkpoint/WAL/state-commit
    * latency, which tracks the MACHINE's IO band rather than the code
    * (two cross-round A/Bs, see Bench.scala), so per-batch
    * triggerExecution is the cross-round comparison metric for
    * drive-backed queries. */
  @volatile var lastDriveTriggerMs: Seq[Long] = Nil

  /** The events parquet staged under `shape` with the drive's `extras`
    * and replayed, `ts` as a timestamp. `ts` arrives as long nanoseconds
    * OR a timestamp column (the source owns its schema —
    * [[graft.ops.Tables.timestampOf]]); the streaming operators take real
    * timestamps — one stateless projection upstream of the watermark.
    * `extras` receives the events table. */
  private def eventStream(s: SparkSession, d: String, shape: String = "events")(
      extras: DataFrame => Seq[(String, DataFrame)] = _ => Nil): DataFrame = {
    val events = graft.ops.Tables.table(s, d, "events") // schema-cached
    val schema = events.schema
    val dir = stage(s"$d/events.parquet", shape, events, "ts")(extras(events))
    replay(s, dir, schema)
      .select(graft.ops.Tables.timestampOf(s, schema("ts").dataType).as("ts"),
        col("user_id"), col("event_type"), col("value"))
  }

  /** Hourly windows in the integer-bucket schema of the batch twin
    * (`Sessionize.hourlyWindows`). */
  private def hourBuckets(windows: DataFrame): DataFrame =
    windows.select(expr("unix_micros(window_start) div 3600000000").as("hour_bucket"),
        col("event_type"), col("n"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))

  /** Run `df` into a memory sink until the staged input is drained,
    * record the drive's progress, and return `shape` of the drained rows. */
  private def drain(s: SparkSession, df: DataFrame, name: String,
      mode: String)(shape: DataFrame => DataFrame): DataFrame = {
    // a previous drive in this session may have registered the sink view
    s.catalog.dropTempView(name)
    // Drive-internal shuffle/state partitioning: the session default
    // (sized for the batch operators' corpus-scale shuffles) is waste
    // here — every micro-batch pays numShufflePartitions state-store
    // tasks for kilobytes of aggregate state, and the drives replay ≥4
    // batches each. 4 partitions keeps the state path genuinely
    // partitioned (merge order still crosses partitions) at an 8× lower
    // per-batch task count. Restored after the drain: only the drive's
    // own streaming query starts under the clamp.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val q =
      try df.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      finally s.conf.set("spark.sql.shuffle.partitions", prev)
    try q.processAllAvailable() finally {
      val nonEmpty = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val counts = nonEmpty.map(_.numInputRows)
      val triggers = nonEmpty.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      lastDriveBatches = counts
      lastDriveTriggerMs = triggers
      q.stop()
    }
    shape(s.table(name))
  }

  /** Streaming [[EventStream.hourlyCounts]] over the events parquet,
    * reshaped to the integer-bucket schema of the batch twin
    * (`Sessionize.hourlyWindows`) — verified by the SAME oracle SQL.
    * Complete mode: every window is emitted when the stream drains, so
    * the watermark (a state-size bound on unbounded streams) cannot
    * withhold the final windows of a finite drive. Multi-batch replay
    * makes the oracle pin the state-store merge: most windows receive
    * rows from more than one micro-batch. */
  def hourlyFromFiles(s: SparkSession, d: String): DataFrame =
    drain(s, EventStream.hourlyCounts(eventStream(s, d)()),
      "graft_stream_hourly", "complete")(hourBuckets)

  /** Streaming [[EventStream.slidingCounts]] over the events parquet,
    * reshaped to the integer-bucket schema of the batch twin
    * (`Sessionize.slidingWindows`) — verified by the SAME oracle SQL.
    * The `window_start_us >= 0` filter mirrors the batch op's pre-epoch
    * guard: `window()` emits a negative-start window for events inside
    * the first slide after the epoch, which the batch formulation (and
    * the oracle) exclude. */
  def slidingFromFiles(s: SparkSession, d: String): DataFrame =
    drain(s, EventStream.slidingCounts(eventStream(s, d)()),
        "graft_stream_sliding", "complete") {
      _.select(expr("unix_micros(window_start)").as("window_start_us"),
          col("event_type"), col("n"), round(col("sum_value"), 2).as("sum_value"))
        .filter(col("window_start_us") >= 0)
        .orderBy(col("window_start_us"), col("event_type"))
    }

  /** Streaming [[SessionStateOps.sessionize]] (flatMapGroupsWithState,
    * append mode, NoTimeout) over the events parquet, compared against
    * the batch `Sessionize.sessions` oracle.
    *
    * Append mode only emits CLOSED sessions — a finite drive would
    * otherwise withhold every user's last session forever (and a
    * processing-time timeout makes `processAllAvailable` never quiesce,
    * see [[SessionStateOps.sessionize]]). So the drive appends a sentinel
    * file: one post-corpus event per user at `max(us) + gap + 1`, which
    * closes the user's real last session; the sentinel's own session
    * stays open and is never emitted. Output = exactly the batch
    * sessions of the real events.
    *
    * The staged directory holds the real events as 3 ascending
    * time-range files plus the sentinel file LAST (mod-time order), one
    * file per micro-batch — so open sessions genuinely persist in the
    * state store across batches and the cross-batch merge (an event in
    * batch N+1 extending a session opened in batch N) is what the oracle
    * verifies. In-order arrival is load-bearing: the session fold
    * assumes a user's events arrive in time order, exactly the contract
    * a real in-order stream (or a watermark-reordered one) provides.
    *
    * Null user_ids are excluded on both sides (the typed `Ev` key is a
    * primitive long); `sess_id` is re-derived as the per-user time rank —
    * identical to the batch running-sum numbering, which is also
    * 1-based in time order. */
  def sessionsFromFiles(s: SparkSession, d: String,
      gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val raw = graft.ops.Tables.table(s, d, "events") // schema-cached
    val batch = raw.filter(col("user_id").isNotNull)
      .select(col("user_id"), graft.ops.Tables.eventMicros(raw).as("us"))
    // sentinels are data-derived (one tiny aggregate of the batch table),
    // staged as the LAST file so every user's real events are already in
    // state before the closer arrives
    val dir = stage(s"$d/events.parquet", s"sessions-$gapUs", batch, "us")(Seq(
      "part-zz-sentinels.parquet" -> batch.groupBy(col("user_id"))
        .agg((max(col("us")) + gapUs + 1L).as("us"))))
    val evs = replay(s, dir, StructType.fromDDL("user_id LONG, us LONG"))
      .as[SessionStateOps.Ev]
    val sessions = SessionStateOps.sessionize(s, evs)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    drain(s, sessions.toDF(), "graft_stream_sessions", "append") {
      _.withColumn("sess_id", row_number().over(byUser).cast("long"))
        .select(col("user_id"), col("sess_id"), col("n_events"),
          col("start_us"), col("end_us"),
          (col("end_us") - col("start_us")).as("duration_us"))
        .orderBy(col("user_id"), col("sess_id"))
    }
  }

  /** Watermark EVICTION drive — the one streaming-semantics corner the
    * in-order batch≡stream drives cannot see by construction (their
    * staging guarantees no row ever falls behind the watermark). This
    * drive runs [[EventStream.hourlyCounts]] in APPEND mode (the mode in
    * which the watermark actually drops late data and evicts state;
    * complete mode retains everything) over a staged sequence that
    * genuinely exercises both sides of the lateness boundary:
    *
    *   1. the real events as 3 ascending time-range files — after them
    *      the watermark sits at max(ts) − 2 h;
    *   2. a LATE batch holding (a) stale rows (copies of the first corpus
    *      hour — hours below the watermark, must be DROPPED) and
    *      (b) allowed-late rows (copies of the last corpus hour — inside
    *      the 2 h horizon, must be KEPT and merged into their still-open
    *      windows);
    *   3. two flush sentinels (3 h and 6 h past the corpus, 1 µs skew to
    *      break end==watermark ties): the first advances the watermark
    *      past every real window END, the second is the data batch in
    *      whose processing those windows are finally emitted — so the
    *      drive never depends on a no-data flush batch racing
    *      `processAllAvailable` (though when a no-data flush batch does
    *      run, it may additionally emit the first sentinel's own window —
    *      sentinels are drive scaffolding with a reserved event type, and
    *      are filtered out of the drive result below).
    *
    * The DuckDB oracle encodes the same rule arithmetically: hourly
    * counts over events ∪ (events of the last corpus hour, duplicated).
    * If the engine kept a stale row, early-hour counts inflate; if it
    * dropped an allowed-late row, last-hour counts deflate — either way
    * the hash gate fails, so the boundary is pinned from both sides.
    * Lateness filters compare in MICROSECONDS on both sides (the
    * operators' own resolution — a nanosecond-remainder edge row would
    * otherwise sit on different sides of the cut). */
  def hourlyLateFromFiles(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val events = eventStream(s, d, "late-hourly") { raw =>
      val schema = raw.schema
      val us = graft.ops.Tables.eventMicros(raw)
      val r = raw.agg(min(us), max(us)).head()
      val (minUs, maxUs) = (r.getLong(0), r.getLong(1))
      // The oracle derives "stale" from the FIRST corpus hour and
      // "allowed-late" from the LAST; both are only meaningful against
      // the 2h watermark cut when the corpus spans enough hours that
      // the two filters cannot overlap and every first-hour window end
      // falls below max(ts) − 2h. A regenerated smaller corpus must
      // fail fast here, not as an undiagnosable hash mismatch.
      require(maxUs - minUs >= 4 * hourUs,
        s"x_stream_late needs an events corpus spanning >= 4h " +
          s"(got ${(maxUs - minUs) / 3600e6} h); the first-hour 'stale' " +
          "batch and last-hour 'late' batch would otherwise overlap the " +
          "watermark cut and the batch oracle no longer models eviction")
      // the sentinel row must carry `ts` in the SOURCE's own encoding —
      // it is appended to the staged corpus and read back under the
      // corpus schema
      def sentinel(sentUs: Long): DataFrame = raw.limit(1).select(
        schema.fieldNames.toSeq.map {
          case "ts" => graft.ops.Tables
            .tsLiteralOf(s, sentUs, schema("ts").dataType).as("ts")
          case "event_type" => lit("graft_sentinel").as("event_type")
          case c => col(c)
        }: _*)
      Seq(
        "part-zz-a-late.parquet" ->
          raw.filter(us < minUs + hourUs).unionAll(raw.filter(us >= maxUs - hourUs)),
        "part-zz-b-flush1.parquet" -> sentinel(maxUs + 3 * hourUs + 1),
        "part-zz-c-flush2.parquet" -> sentinel(maxUs + 6 * hourUs + 1))
    }
    drain(s, EventStream.hourlyCounts(events), "graft_stream_hourly_late", "append") {
      df => hourBuckets(df.filter(col("event_type") =!= "graft_sentinel"))
    }
  }

  /** Streaming exact dedup over the documents parquet: the corpus-side
    * twin of [[graft.ops.Dedup.exact]]'s digest grouping, run as a
    * streaming aggregation — per-digest state is the constant-size
    * mergeable pair (min doc_id, count), the streaming-ingestion dedup
    * story (an unbounded corpus feed keeps exactly one row of state per
    * distinct document text). Complete mode drains the final state table,
    * which equals the batch GROUP BY — min/count are order-insensitive,
    * so batch boundaries cannot perturb the result, and the multi-batch
    * replay (3 doc_id-range files, one per trigger) makes that a tested
    * property rather than an argued one: duplicate groups spanning files
    * must merge in the state store. Only the digest shuffles; text never
    * leaves the stateless pre-projection. */
  def dedupFromFiles(s: SparkSession, d: String): DataFrame = {
    val docsRaw = graft.ops.Tables.table(s, d, "documents") // schema-cached
    val schema = docsRaw.schema
    val dir = stage(s"$d/documents.parquet", "docs", docsRaw, "doc_id")(Nil)
    val docs = replay(s, dir, schema)
      .select(md5(col("text")).as("digest"), col("doc_id"))
    drain(s, docs.groupBy(col("digest"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      "graft_stream_dedup", "complete")(_.orderBy(col("digest")))
  }
}
