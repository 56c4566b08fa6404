package graft.pipeline

import graft.streaming.DeltaSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The service composition — the reference process's whole lifetime
  * (app.js) as one callable:
  *
  *   1. startup recovery: every busy task of a watched operation →
  *      failed (T2, app.js:12-16, lib/task.js:24-63);
  *   2. the delta loop: a checkpointed stream of delta JSON bodies,
  *      each micro-batch dispatching [[ImportPipeline.runImportPipeline]]
  *      per scheduled task URI (T1, app.js:28-45).
  *
  * Task/metadata state lives as a plain parquet quad table at `stateDir`,
  * read-modify-replaced per task via a temp-dir + rename swap (the moral
  * equivalent of the reference's DELETE/INSERT round-trips to Virtuoso):
  * one swap per task, so no state copy outlives the task that made it.
  * This is the task-STATE table — metadata-sized; the extracted triples
  * go to the TTL sinks, never through here. A task reads it with two
  * point reads and rewrites it in one narrow pass (a set union with the
  * task's inserts, [[ImportPipeline]]), so none of a task's jobs
  * shuffles; [[writeState]] keeps its file count bounded by its size.
  * Tasks within a batch run sequentially like the reference's event
  * loop; each task's pages extract in parallel inside the pipeline.
  */
object ImportService {

  /** Read the state table with its known schema ([[stateSchema]]), so no
    * job infers it from the parquet footers. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.schema(stateSchema).parquet(stateDir)

  /** Crash recovery for the swap protocol: if a crash landed between the
    * two renames (state moved aside, new state not yet in place), the
    * backup IS the state — restore it. Also sweeps temp dirs stranded by
    * writes that crashed mid-write. Called by `start` before anything
    * reads the state. Like [[writeState]], it assumes an atomic
    * directory rename (`file:`, `hdfs:`); object stores such as `s3a:`
    * are not supported as `stateDir`. */
  def recoverState(spark: SparkSession, stateDir: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(stateDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(stateDir + "-prev")
    if (!fs.exists(target) && fs.exists(backup))
      if (!fs.rename(backup, target))
        throw new java.io.IOException(s"state restore failed: $backup -> $target")
    val parent = target.getParent
    val prefix = target.getName + "-tmp-"
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent).foreach { st =>
        if (st.getPath.getName.startsWith(prefix)) fs.delete(st.getPath, true)
      }
  }

  /** The state table's columns: one quad per row, four strings. */
  val stateSchema: StructType = StructType(
    Seq("subject", "predicate", "obj", "graph").map(StructField(_, StringType)))

  /** Replace the state table: write to a sibling temp dir, then swap by
    * two renames. Never overwrite-in-place — Spark plans are lazy, and
    * overwriting the directory a plan still reads from loses the state
    * (the classic read-modify-overwrite self-clobber). Some copy of the
    * state survives a crash at ANY point: the old state is RENAMED aside
    * before the new one takes its place, never deleted while it is the
    * only copy, and [[recoverState]] (run by `start`) restores the
    * backup if a crash landed between the renames and sweeps stranded
    * temp dirs. A rename into place that fails or throws puts the backup
    * back before the error propagates, so the running service keeps a
    * table at `stateDir`.
    *
    * The protocol needs an atomic directory rename, which `file:` and
    * `hdfs:` provide. Object stores such as `s3a:` rename a directory by
    * copying and deleting its files one by one, so a crash mid-rename
    * can leave a partial table under either name: they are not supported
    * as `stateDir`.
    *
    * The write is narrow: `newState` is coalesced to one file per
    * `spark.sql.files.maxPartitionBytes` of its estimated size (at least
    * one), so the file count follows the state's size, not the number of
    * tasks that wrote it. */
  def writeState(newState: DataFrame, stateDir: String): Unit = {
    val spark = newState.sparkSession
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(stateDir)
    val tmp = new org.apache.hadoop.fs.Path(stateDir + "-tmp-" + System.nanoTime())
    val backup = new org.apache.hadoop.fs.Path(stateDir + "-prev")
    val bytes = newState.queryExecution.optimizedPlan.stats.sizeInBytes
    val perFile = spark.sessionState.conf.filesMaxPartitionBytes
    val files = ((bytes + perFile - 1) / perFile).max(1).min(Int.MaxValue).toInt
    newState.coalesce(files).write.parquet(tmp.toString)
    fs.delete(backup, true) // drop the previous generation's backup
    if (fs.exists(target) && !fs.rename(target, backup))
      throw new java.io.IOException(s"state swap failed: $target -> $backup")
    // restore the old state rather than leaving no table at all, whether
    // the rename reports failure or throws
    def restore(e: Throwable): Nothing = { fs.rename(backup, target); throw e }
    val swapped =
      try fs.rename(tmp, target) catch { case scala.util.control.NonFatal(e) => restore(e) }
    if (!swapped) restore(new java.io.IOException(s"state swap failed: $tmp -> $target"))
    fs.delete(backup, true)
  }

  private def defaultClock(): String =
    java.time.Instant.now().toString

  /** Collision-free per-task output directory name. */
  private def taskDirName(taskUri: String): String =
    graft.rdf.sha1Hex(taskUri)

  /** Run startup recovery, then start the streaming delta loop. The
    * returned query runs until stopped; `clock` is injectable for
    * deterministic tests (F12). */
  def start(spark: SparkSession, deltaDir: String, checkpointDir: String,
      stateDir: String, pagesDir: String, outDir: String,
      clock: () => String = defaultClock _,
      writeDebug: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    // restore a mid-swap crash, then T2: fail stale busy tasks before
    // accepting traffic (app.js:12-16)
    recoverState(spark, stateDir)
    writeState(TaskStore.failBusyTasks(
      readState(spark, stateDir), clock()), stateDir)
    DeltaSource.run(spark, deltaDir, checkpointDir) { tasks =>
      // the batch's task list is delta-sized, on the driver (the
      // reference holds it in an array, app.js:30); tasks run sequentially
      // like its event loop, each one read → pipeline → swap, so every task
      // starts from the swapped state of the one before. A crash after task
      // k's swap replays the whole batch (checkpointed foreachBatch),
      // re-running tasks 1..k against state that already holds their
      // results: each registers as a set union, so under a fixed clock it
      // appends nothing.
      tasks.foreach { taskUri =>
        val result = ImportPipeline.runImportPipeline(
          spark, readState(spark, stateDir), taskUri, pagesDir,
          s"$outDir/${taskDirName(taskUri)}", clock(), writeDebug)
        if (result.status != "not_a_task") writeState(result.quads, stateDir)
      }
    }
  }
}
