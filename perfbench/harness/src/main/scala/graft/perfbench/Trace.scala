package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into a layer, timed from outside it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Any])

/** Spans for the traced run. With tracing off `span` only runs the body,
  * so the untraced run times the same code with nothing recorded. */
final class Spans(val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = { next += 1; next }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime(), attrs)
        stack = stack.tail
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** Per-job record built from listener events. `frame` is the first
  * program frame (graft.*, outside the benchmark) of the job's call site;
  * `layer` is the graft.nvd layer the job serves, if any. */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long,
    callSite: String, frame: String, layer: String, readsFeedsOnly: Boolean, stages: Seq[Int])

final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var output = 0L
}

/** The benchmark's SparkListener and QueryExecutionListener. Counters are
  * kept per job and per stage; `window` sums them over a time interval,
  * so a caller reads the work done between two layer boundaries. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val execInfo = new ConcurrentHashMap[Long, (String, String)]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, String, String, Seq[Int])]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val stageAggs = new ConcurrentHashMap[Int, StageAgg]()
  val stageTasks = new ConcurrentHashMap[Int, Int]()
  /** (endMs, catalyst ms) per finished action. */
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execInfo.put(e.executionId, (e.details, e.physicalPlanDescription))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val last = e.stageInfos.maxBy(_.stageId)
    jobStart.put(e.jobId, (e.time, execId, last.name, last.details, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) {
      val (t0, execId, name, details, stages) = s
      val (stack, plan) = Option(execInfo.get(execId)).getOrElse((details, ""))
      val fullStack = if (stack.contains("graft.")) stack else details
      jobs.add(JobRec(e.jobId, t0, e.time, name, Tracer.programFrame(fullStack),
        Tracer.nvdLayer(fullStack, plan), Tracer.scansFeedsOnly(plan), stages))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAggs.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.view.filterKeys(Set("analysis", "optimization", "planning"))
      .values.map(_.durationMs).sum
    actions.add((System.currentTimeMillis(), plan))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.startMs >= t0 && j.startMs <= t1).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[Int] = js.flatMap(_.stages).distinct
      .filter(stageTasks.containsKey)

  def agg(js: Seq[JobRec]): StageAgg = {
    val out = new StageAgg
    stagesOf(js).foreach { s =>
      val a = stageAggs.get(s)
      if (a != null) a.synchronized {
        out.tasks += a.tasks; out.runMs += a.runMs; out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
        out.shuffleWrite += a.shuffleWrite; out.shuffleRead += a.shuffleRead
        out.spill += a.spill; out.input += a.input; out.output += a.output
      }
    }
    out
  }

  /** Busy time of jobs (union of their intervals), in ms. */
  def busyMs(js: Seq[JobRec]): Long = {
    var total = 0L; var end = Long.MinValue
    js.sortBy(_.startMs).foreach { j =>
      val s = math.max(j.startMs, end)
      if (j.endMs > s) total += j.endMs - s
      end = math.max(end, j.endMs)
    }
    total
  }

  def actionsIn(t0: Long, t1: Long): Seq[(Long, Long)] =
    actions.asScala.filter(a => a._1 >= t0 && a._1 <= t1 + 50).toSeq
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** A physical plan that scans JSON files (the NVD feeds) and no
    * parquet (the store): its task input bytes are feed bytes. */
  def scansFeedsOnly(plan: String): Boolean =
    plan.contains("Scan json") && !plan.contains("Scan parquet")

  private val frameRe = """(?m)^\s*(graft\.(?!perfbench)[\w$.]+)\(([^)]*)\)""".r

  /** First program frame of a call-site stack: "graft.nvd.NvdStore$.upsert(NvdStore.scala:120)". */
  def programFrame(stack: String): String =
    frameRe.findFirstMatchIn(stack).map(m => s"${m.group(1)}(${m.group(2)})").getOrElse("")

  /** Program module of a frame: the package, e.g. "graft.dedup". */
  def module(frame: String): String = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
    val pkg = cls.takeWhile(p => p.nonEmpty && p.head.isLower)
    if (pkg.isEmpty) "" else pkg.mkString(".")
  }

  /** The graft.nvd layer a job serves, from its call-site stack and its
    * physical plan: the freshness gate (FeedCatalog.staleFeeds, a
    * max_by over update_history), the parse audit (CveFlatten.feedAudit,
    * a _corrupt_record scan), the store upsert and the tally. */
  def nvdLayer(stack: String, plan: String): String =
    if (stack.contains("graft.nvd.NvdStore$.cveTally")) "tally"
    else if (stack.contains("graft.nvd.NvdStore$.upsert")) "upsert"
    else if (!stack.contains("graft.nvd.")) ""
    else if (plan.contains("max_by(")) "gate"
    else if (plan.contains("_corrupt_record") && plan.contains("input_file_name")) "audit"
    else "other"

  /** File scans of an executed plan, through adaptive and cached nodes. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}
