package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a Spark job to the engine module that submitted it. */
object Attribution {

  /** Local property the benchmark sets around each call into a layer;
    * it names the module for jobs whose call site holds no engine frame
    * (an action the benchmark itself takes on a frame the layer built). */
  val LayerProperty = "perfbench.layer"

  /** Modules reported on their own; jobs of any other module (or of
    * none) are counted under `other`, so the module totals add up. */
  val Modules: Seq[String] = Seq("streaming", "cdc", "gold", "warehouse",
    "sources", "ops", "pipeline")

  def bucket(module: String): String =
    if (Modules.contains(module)) module else "other"

  /** Lake directories a pipeline pass writes, each reported on its own. */
  val LakeDirs: Seq[String] = Seq("bronze", "silver", "gold", "warehouse")

  private val PassDir = s"/pass_\\d+/(${LakeDirs.mkString("|")})/".r
  private val WriteTarget = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r

  /** The lake directory under a pipeline pass's output that a path lies
    * in (`.../pass_3/gold/daily_sales_summary/v=1` -> `gold`). */
  def lakeDirOf(path: String): Option[String] =
    PassDir.findFirstMatchIn(path).map(_.group(1))

  /** The output path of a write command, from a plan node's one-line
    * description (`Execute InsertIntoHadoopFsRelationCommand file:/p, ...`). */
  def writeTarget(planLine: String): Option[String] =
    WriteTarget.findFirstMatchIn(planLine).map(_.group(1))

  /** The module of the innermost `graft.<module>` frame of a call site
    * (Spark's long form: one frame per line, innermost first). Frames of
    * a top-level object (`graft.Pipeline$.run`) name the object. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft.")).map { frame =>
        val parts = frame.takeWhile(_ != '(').split('.')
        if (parts.length >= 4) parts(1)
        else parts(1).takeWhile(_ != '$').toLowerCase
      }
}

/** One Spark job as the trace saw it: wall interval (ms since epoch),
  * owning module, and the task metrics summed over its stages. */
final class JobRec(val id: Int, val start: Long, val module: String,
                   val lakeDir: Option[String]) {
  @volatile var end: Long = -1L
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val inBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val outBytes = new AtomicLong
}

/** A span the benchmark records around one call into a layer. */
final case class Span(name: String, start: Long, end: Long)

/** Spans and Spark events of a traced run, kept in memory. Registered as
  * a SparkListener (jobs, tasks) and a QueryExecutionListener (planning
  * phases) only while a traced operation runs. */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** (planning-phase start ms, optimisation + planning ms) per query. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** Output path of each SQL execution that writes files. */
  private val writes = new ConcurrentHashMap[Long, String]()
  @volatile private var lastEvent = System.currentTimeMillis()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      def nodes(p: org.apache.spark.sql.execution.SparkPlanInfo)
          : Iterator[org.apache.spark.sql.execution.SparkPlanInfo] =
        Iterator(p) ++ p.children.iterator.flatMap(nodes)
      nodes(s.sparkPlanInfo).flatMap(n => Attribution.writeTarget(n.simpleString))
        .nextOption().foreach(path => writes.put(s.executionId, path))
    case _ =>
  }

  /** The lake directory the job's SQL execution (or its root) writes. */
  private def lakeDirOf(props: java.util.Properties): Option[String] =
    Option(props).toSeq.flatMap(p => Seq(
      "spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(k => Option(p.getProperty(k))))
      .flatMap(id => Option(writes.get(id.toLong)))
      .flatMap(Attribution.lakeDirOf).headOption

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.currentTimeMillis()
    // the result stage is created last, so it carries this job's site
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
      .getOrElse("")
    val fallback = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Attribution.LayerProperty)))
      .getOrElse("unattributed")
    val rec = new JobRec(e.jobId, e.time,
      Attribution.moduleOf(site).getOrElse(fallback), lakeDirOf(e.properties))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.currentTimeMillis()
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) {
      rec.tasks.incrementAndGet()
      rec.runMs.addAndGet(m.executorRunTime)
      rec.inBytes.addAndGet(m.inputMetrics.bytesRead)
      rec.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      rec.outBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEvent = System.currentTimeMillis()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    lastEvent = System.currentTimeMillis()
    val ph = qe.tracker.phases
    val parts = Seq("optimization", "planning").flatMap(ph.get)
    if (parts.nonEmpty)
      plans.add((parts.map(_.startTimeMs).min, parts.map(_.durationMs).sum))
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until every job started since `from` has ended and the bus
    * has been quiet for a moment, so an operation's events are in. */
  def settle(from: Long): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def busy = jobs.values.asScala.exists(j => j.start >= from && j.end < 0)
    Thread.sleep(100)
    while (System.currentTimeMillis() < deadline &&
        (busy || System.currentTimeMillis() - lastEvent < 60))
      Thread.sleep(10)
  }

  /** Codegen compile count and the reservoir's mean compile time (ms). */
  def codegenMark(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Per-operation layer metrics for the operation [start, end] (ms),
    * with its spans; `cg0` is the codegen mark taken at its start. */
  def summarize(start: Long, end: Long, spans: Seq[Span],
                cg0: (Long, Double), cores: Int): Map[String, Double] = {
    val inOp = jobs.values.asScala.filter(j =>
      j.start >= start && j.start <= end).toSeq
    val wall = math.max(1L, end - start).toDouble
    val busy = Trace.covered(inOp.map(j => (j.start, math.max(j.start, j.end))),
      start, end).toDouble
    val cg1 = codegenMark()
    val out = mutable.LinkedHashMap[String, Double](
      "wall_ms" -> wall,
      "jobs" -> inOp.size.toDouble,
      "tasks" -> inOp.map(_.tasks.get).sum.toDouble,
      "exec_ms" -> busy,
      "task_run_ms" -> inOp.map(_.runMs.get).sum.toDouble,
      "scan_bytes" -> inOp.map(_.inBytes.get).sum.toDouble,
      "shuffle_bytes" -> inOp.map(_.shuffleBytes.get).sum.toDouble,
      "written_bytes" -> inOp.map(_.outBytes.get).sum.toDouble,
      "plan_ms" -> plans.asScala.filter { case (t, _) =>
        t >= start && t <= end }.map(_._2).sum.toDouble,
      "codegen_ms" -> (cg1._1 - cg0._1) * cg1._2,
      "codegen_compiles" -> (cg1._1 - cg0._1).toDouble,
      "slot_util" -> inOp.map(_.runMs.get).sum / (busy.max(1.0) * cores),
      "driver_gap_ms" -> (wall - busy))
    def group(prefix: String, js: Seq[JobRec]): Unit = {
      out(s"$prefix.busy_ms") = Trace.covered(
        js.map(j => (j.start, math.max(j.start, j.end))), start, end).toDouble
      out(s"$prefix.jobs") = js.size.toDouble
      out(s"$prefix.shuffle_bytes") = js.map(_.shuffleBytes.get).sum.toDouble
      out(s"$prefix.written_bytes") = js.map(_.outBytes.get).sum.toDouble
    }
    inOp.groupBy(j => Attribution.bucket(j.module)).foreach { case (m, js) =>
      group(m, js) }
    inOp.filter(_.lakeDir.nonEmpty).groupBy(_.lakeDir.get).foreach {
      case (d, js) => group(s"lake.$d", js) }
    spans.foreach { s =>
      val within = inOp.filter(j => j.start >= s.start && j.start <= s.end)
      out(s"span.${s.name}.ms") = (s.end - s.start).toDouble
      out(s"span.${s.name}.busy_ms") = Trace.covered(
        within.map(j => (j.start, math.max(j.start, j.end))),
        s.start, s.end).toDouble
    }
    out.toMap
  }
}

object Trace {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
