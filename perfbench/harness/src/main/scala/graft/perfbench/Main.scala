package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload in one JVM with one closed-loop client and writes
  * `<work>/result.json`: the timed operations, the outputs the checker
  * compares, and (traced run) the per-layer counters and spans.
  *
  * Usage: Main --workload W --work DIR --seconds S --trace 0|1 --cores N
  *             [--sf DIR --queries FILE]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val spark = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val run = new Run(spark, work, opt("seconds").toDouble, opt("trace") == "1", cores)
    run.log("session ready")
    try {
      opt("workload") match {
        case "nvd_bulk_load" => NvdWorkloads.bulkLoad(run)
        case "nvd_refresh_serve" => NvdWorkloads.refreshServe(run)
        case "query_suite" => Suite.run(run, opt("sf"), opt("queries"))
        case w => sys.error(s"unknown workload $w")
      }
      run.finish()
    } finally spark.stop()
  }
}

/** State shared by a workload's set-up, its timed loop and its report. */
final class Run(val spark: SparkSession, val work: String, val seconds: Double,
    val traced: Boolean, val cores: Int) {
  val spans = new Spans(traced)
  val tracer: Option[Tracer] = if (traced) Some(Tracer.install(spark)) else None
  val out = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  private var measureStartMs = 0L
  private var measureStartNs = 0L
  private var measureEndMs = 0L

  /** Set-up progress on stderr, in seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[harness] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $msg")

  /** Ends set-up: the timed window starts now. */
  def startMeasure(): Unit = {
    log("set-up done")
    out("setup_end_ms") = System.currentTimeMillis()
    measureStartMs = System.currentTimeMillis()
    measureStartNs = System.nanoTime()
  }

  def elapsedS: Double = (System.nanoTime() - measureStartNs) / 1e9

  def endMeasure(): Unit = measureEndMs = System.currentTimeMillis()

  /** Runs one counted operation; a throw is a failed operation. */
  def op[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (Option[T], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Some(spans.span(name, attrs)(body)) catch {
      case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
        None
    }
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def window: (Long, Long) = (measureStartMs, measureEndMs)

  /** Layer counters common to every workload, over the timed window. */
  private def engineLayers(t: Tracer): Unit = {
    val (t0, t1) = window
    val js = t.jobsIn(t0, t1)
    val stages = t.stagesOf(js)
    val a = t.agg(js)
    layers("spark.jobs") = js.size
    layers("spark.stages") = stages.size
    layers("spark.tasks") = a.tasks
    layers("spark.single_task_stages") = stages.count(s => t.stageTasks.get(s) == 1)
    layers("executor.run_ms") = a.runMs
    layers("executor.cpu_ms") = a.cpuNs / 1e6
    layers("executor.gc_ms") = a.gcMs
    layers("executor.busy_share") = a.runMs.toDouble / math.max(1L, (t1 - t0) * cores)
    layers("shuffle.write_bytes") = a.shuffleWrite
    layers("shuffle.read_bytes") = a.shuffleRead
    layers("shuffle.spill_bytes") = a.spill
    layers("io.input_bytes") = a.input
    layers("io.output_bytes") = a.output
    layers("catalyst.plan_ms") = t.actionsIn(t0, t1).map(_._2).sum
  }

  def finish(): Unit = {
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.toSeq
    tracer.foreach { t =>
      t.drain()
      engineLayers(t)
      out("layers") = layers
      writeTrace(t)
    }
    Files.writeString(Paths.get(work, "result.json"), Json.write(out))
  }

  /** Spans and jobs of the timed window; each job's parent is the
    * innermost span open when it started. */
  private def writeTrace(t: Tracer): Unit = {
    val (t0, t1) = window
    val base = measureStartNs
    val wallOf = (ns: Long) => measureStartMs + (ns - base) / 1000000L
    val sp = spans.all
    val spanJson = sp.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> (s.startNs - base) / 1e6, "end_ms" -> (s.endNs - base) / 1e6,
      "attrs" -> s.attrs))
    val jobJson = t.jobsIn(t0, t1).sortBy(_.jobId).map { j =>
      val parent = sp.filter(s => wallOf(s.startNs) <= j.startMs && j.startMs <= wallOf(s.endNs))
        .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(0)
      val a = t.agg(Seq(j))
      Map("job" -> j.jobId, "parent" -> parent, "start_ms" -> (j.startMs - t0),
        "end_ms" -> (j.endMs - t0), "call_site" -> j.callSite, "frame" -> j.frame,
        "module" -> Tracer.module(j.frame), "nvd_layer" -> j.layer, "tasks" -> a.tasks,
        "run_ms" -> a.runMs, "shuffle_write_bytes" -> a.shuffleWrite,
        "input_bytes" -> a.input)
    }
    Files.writeString(Paths.get(work, "trace.json"),
      Json.write(Map("spans" -> spanJson, "jobs" -> jobJson, "layers" -> layers)))
  }
}

/** File listings of a store directory (data files only). */
object Listing {
  /** relative path -> (bytes, mtime) of every data file under `root`. */
  def apply(root: String): Map[String, (Long, Long)] = {
    val r = new File(root)
    if (!r.exists()) Map.empty
    else {
      val base = r.toPath
      Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filterNot(p => { val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") })
        .map(p => base.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
    }
  }

  def bytes(l: Map[String, (Long, Long)]): Long = l.values.map(_._1).sum

  def json(l: Map[String, (Long, Long)]): Seq[Seq[Any]] =
    l.toSeq.sortBy(_._1).map { case (k, (b, m)) => Seq(k, b, m) }

  /** publish_year partitions whose file set changed between listings. */
  def partitionsChanged(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Int = {
    def byPart(l: Map[String, (Long, Long)]) = l.toSeq.groupBy(_._1.takeWhile(_ != '/'))
      .map { case (k, v) => k -> v.toSet }
    val (b, a) = (byPart(before), byPart(after))
    (b.keySet ++ a.keySet).count(k => b.get(k) != a.get(k))
  }

  /** Bytes of files present after but not before (new or rewritten). */
  def bytesWritten(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (k, v) if !before.get(k).contains(v) => v._1 }.sum
}
