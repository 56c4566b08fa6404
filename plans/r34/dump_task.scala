// Plan dumps of one extraction task's state I/O, for a before/after
// comparison: the task read and the page read (the first two plans a
// QueryExecutionListener sees during `runImportPipeline`), and the
// plans of the three state changes: the success state, the failure
// state and the startup state (`failBusyTasks`). PlanDump reaches only
// registered driver queries; these are not. Run with the packaged jar of
// each side:
//
//   PLAN_OUT=plans/r34 PLAN_TAG=after spark-shell --master 'local[4]' \
//     --jars target/scala-2.13/harvestingextracttottlservicespark_2.13-0.1.0.jar \
//     --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 \
//     -I plans/r34/dump_task.scala
//
// then `python3 scripts/plandiff.py plans/r34`. The fixture (a two-page
// scheduled task and a busy one) is written once as parquet under
// /tmp/plans-r34 and shared by both sides.
object Dump {
  import graft.pipeline._
  import graft.rdf.Vocab
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
  def run(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val out = sys.env("PLAN_OUT"); val tag = sys.env("PLAN_TAG")
    val root = "/tmp/plans-r34"
    val T = "http://t/1"; val Now = "2026-03-01T00:00:00Z"
    def page(id: Int, date: String) = s"""<html prefix="eli: http://data.europa.eu/eli/ontology#"><body><div about="http://example.org/besluit/$id"><span property="eli:title">Besluit $id</span><span property="eli:date_publication" datatype="xsd:date" content="$date"></span></div></body></html>"""
    if (!new java.io.File(s"$root/state").exists) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/pages"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/pages/page-1.html"), page(1, "2023-05-04"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/pages/page-2.html"), page(2, "May 4, 2023"))
      Seq((T, Vocab.rdfType, Vocab.taskType), (T, Vocab.muUuid, "uuid-1"),
        (T, Vocab.admsStatus, Vocab.statusScheduled), (T, Vocab.taskOperation, Vocab.opExtracting),
        (T, Vocab.taskInputContainer, "http://c/in"),
        ("http://c/in", Vocab.taskHasFile, "share://page-1.html"),
        ("http://c/in", Vocab.taskHasFile, "share://page-2.html"),
        ("http://t/9", Vocab.rdfType, Vocab.taskType), ("http://t/9", Vocab.admsStatus, Vocab.statusBusy),
        ("http://t/9", Vocab.taskOperation, Vocab.opImporting))
        .toDF("subject", "predicate", "obj").withColumn("graph", lit("http://g/tasks"))
        .coalesce(1).write.parquet(s"$root/state")
    }
    val state = ImportService.readState(spark, s"$root/state")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val ok = ImportPipeline.runImportPipeline(spark, state, T, s"$root/pages", s"$root/out-$tag", Now)
    Thread.sleep(3000)
    spark.listenerManager.unregister(l)
    def dump(name: String, plan: String): Unit = {
      val w = new java.io.PrintWriter(s"$out/${name}_$tag.txt")
      try w.println(plan) finally w.close()
      println(s"MARKER dumped $name")
    }
    import scala.jdk.CollectionConverters._
    val qes = seen.asScala.toSeq
    // the task's first two jobs: the task read, then its pages
    dump("task_read", qes(0).explainString(FormattedMode))
    dump("pages_read", qes(1).explainString(FormattedMode))
    println("MARKER status " + ok.status + " jobs-with-plans " + qes.size)
    dump("success_state", ok.quads.queryExecution.explainString(FormattedMode))
    val failed = ImportPipeline.runImportPipeline(spark, state, T, s"$root/nonexistent", s"$root/out-f-$tag", Now)
    println("MARKER status " + failed.status)
    dump("failure_state", failed.quads.queryExecution.explainString(FormattedMode))
    dump("startup_state", TaskStore.failBusyTasks(state, Now).queryExecution.explainString(FormattedMode))
  }
}
Dump.run(spark)
sys.exit(0)
