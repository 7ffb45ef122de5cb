package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.queries._

/** The query_suite workload: a fixed list of registered queries over a
  * testdata directory, each built and materialized in full (a parquet
  * write of every row, never `.count()`), in the order the list file
  * gives (query_suite.txt: the first word of each line that is not a
  * `#` comment). Each round runs with an empty java.io.tmpdir, where the
  * registry keeps its content-keyed persisted stores, so every round
  * pays the same store builds. */
object Suite {

  val modules: Seq[(String, Seq[Q])] = Seq(
    "CoreQueries" -> CoreQueries.all, "SqlQueries" -> SqlQueries.all,
    "TextQueries" -> TextQueries.all, "EventQueries" -> EventQueries.all,
    "NvdQueries" -> NvdQueries.all, "SearchQueries" -> SearchQueries.all,
    "MlQueries" -> MlQueries.all)

  def run(run: Run, sf: String, listFile: String): Unit = {
    val byName = modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m, q)) }.toMap
    val names = Files.readAllLines(Paths.get(listFile)).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+")(0))
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(",")}")
    Files.writeString(Paths.get(run.work, "oracle.json"), Json.write(
      names.flatMap(n => byName(n)._2.oracle.map(n -> _)).toMap))

    run.log("query list ready")
    // untimed warm-up: a parquet scan and an aggregation, so JVM class
    // loading and code generation do not all land on the first query
    run.spark.read.parquet(s"$sf/region.parquet").groupBy("r_regionkey").count().collect()

    val rounds = mutable.ArrayBuffer.empty[Double]
    val opsMs = mutable.ArrayBuffer.empty[Double]
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    val buildMs = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val perModule = mutable.LinkedHashMap.empty[String, Double]
    var actionMs = 0.0
    var storeBytes = 0L
    run.startMeasure()
    var r = 0
    while (run.elapsedS < run.seconds) {
      val tmp = Files.createDirectories(Paths.get(run.work, s"round$r", "tmp")).toString
      System.setProperty("java.io.tmpdir", tmp)
      var roundMs = 0.0
      names.foreach { name =>
        val (module, q) = byName(name)
        val out = s"${run.work}/round$r/out/$name"
        var build = 0.0
        val (_, ms) = run.op("query", Map("query" -> name, "module" -> module)) {
          val b0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val df = run.spans.span("build")(q.fn(run.spark, sf))
          build = (System.nanoTime() - t0) / 1e6
          buildMs += ((b0, System.currentTimeMillis(), build))
          run.spans.span("materialize")(df.write.mode("overwrite").parquet(out))
        }
        run.spark.catalog.clearCache()
        roundMs += ms
        opsMs += ms
        actionMs += ms - build
        perModule(module) = perModule.getOrElse(module, 0.0) + ms / 1000
        results += Map("round" -> r, "query" -> name, "module" -> module, "ms" -> ms,
          "out" -> out, "oracle" -> q.oracle.isDefined)
      }
      rounds += roundMs / 1000
      storeBytes = Listing.bytes(Listing(tmp))
      r += 1
    }
    run.endMeasure()
    run.out("rounds_s") = rounds.toSeq
    run.out("ops_ms") = opsMs.toSeq
    run.out("disk_bytes") = storeBytes
    run.out("queries") = results.toSeq
    run.tracer.foreach { t =>
      t.drain()
      val n = rounds.size.toDouble
      val buildJobs = buildMs.toSeq.flatMap { case (b0, b1, _) => t.jobsIn(b0, b1) }.distinctBy(_.jobId)
      run.layers("driver.build_ms") = buildMs.map(_._3).sum / n
      run.layers("driver.build_jobs") = buildJobs.size / n
      val byModule = buildJobs.groupBy(j => Tracer.module(j.frame))
      for (m <- Suite.programModules)
        run.layers(s"driver.build_jobs.$m") = byModule.get(m).map(_.size).getOrElse(0) / n
      for ((m, _) <- modules) run.layers(s"queries.${m}_s") = perModule.getOrElse(m, 0.0) / n
      run.layers("action.ms") = actionMs / n
    }
  }

  /** Program modules a construction-time job can be attributed to. */
  val programModules: Seq[String] = Seq("graft", "graft.ann", "graft.dedup", "graft.functions",
    "graft.ml", "graft.multimodal", "graft.nvd", "graft.operators", "graft.pipeline",
    "graft.plans", "graft.queries", "graft.sources", "graft.streaming")
}
