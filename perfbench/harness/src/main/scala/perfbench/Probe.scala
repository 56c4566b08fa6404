package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Engine-side counters the traced run registers from outside the
  * program: a SparkListener (jobs, stages, shuffle, spill), a
  * QueryExecutionListener (planning phases of `QueryExecution.tracker`,
  * rows the page scans produced), a StreamingQueryListener (micro-batch
  * progress) and JMX. Events are kept with their own timestamps and
  * aggregated over wall-clock windows after the run, so the asynchronous
  * listener bus never has to be drained mid-measurement. */
object Probe {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, shuffleBytes: Long, spillBytes: Long,
      htmlSink: Boolean)
  final case class Query(end: Long, planMs: Double, pageRows: Long)
  final case class Batch(id: Long, startMs: Long, triggerMs: Long)
}

final class Probe(pagesDir: Option[String]) {
  import Probe._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val queries = new ConcurrentLinkedQueue[Query]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      openJobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { j => j.end = e.time; jobs.add(j) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Stage(i.stageId, i.numTasks,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        // the stage's call site names the program method that ran it
        i.details.contains("ExtractPipeline$.writeHtmlFiles")))
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val rows = pagesDir.map { dir =>
        collect(qe.executedPlan) {
          case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[TextFileFormat] &&
              s.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
            s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum
      }.getOrElse(0L)
      queries.add(Query(System.currentTimeMillis(), planMs, rows))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        batches.add(Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Engine totals over the wall-clock window [t0, t1] (epoch ms). */
  def window(t0: Double, t1: Double): Map[String, Double] = {
    val js = jobs.asScala.filter(j => j.start >= t0 && j.start <= t1).toSeq
    val ids = js.flatMap(_.stages).toSet
    val ss = stages.asScala.filter(s => ids.contains(s.id)).toSeq
    val qs = queries.asScala.filter(q => q.end >= t0 && q.end <= t1 + 50).toSeq
    // union of job intervals clipped to the window: time the engine had
    // work in flight; the rest of the window is driver-side gaps
    var busy = 0.0
    var reach = t0
    js.map(j => (math.max(j.start.toDouble, t0), math.min(j.end.toDouble, t1)))
      .sortBy(_._1).foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) { busy += e - from; reach = e }
      }
    Map("jobs" -> js.size.toDouble, "stages" -> ss.size.toDouble,
      "busy_s" -> busy / 1000, "gap_s" -> ((t1 - t0) - busy) / 1000,
      "shuffle_mb" -> ss.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> ss.map(_.spillBytes).sum / 1e6,
      "plan_ms" -> qs.map(_.planMs).sum,
      // parallelism of the HTML side-file sink: Spark tasks of its widest stage
      "html_write_tasks" -> ss.filter(_.htmlSink).map(_.tasks).maxOption.getOrElse(0).toDouble,
      "page_rows" -> qs.map(_.pageRows).sum.toDouble)
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap in use right after the last collection, summed over heap pools. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  /** Peak resident set size of this process (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) -1.0
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
  }
}
