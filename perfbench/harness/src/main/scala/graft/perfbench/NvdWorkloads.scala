package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.nvd.{FeedCatalog, NvdStore, Pipeline}

/** The two NVD workloads. Every load and refresh goes through the
  * loader's public entry point, `Pipeline.run`, over feed files written
  * by gen_nvd.py; reads go through `NvdStore.read`. */
object NvdWorkloads {

  private def feeds(manifestPart: com.fasterxml.jackson.databind.JsonNode): Seq[FeedCatalog.Feed] =
    Json.elems(manifestPart.get("feeds")).map(f => FeedCatalog.Feed(f.get(0).asText, f.get(1).asInt))

  private def feedBytes(manifestPart: com.fasterxml.jackson.databind.JsonNode): Long =
    Json.elems(manifestPart.get("feeds")).map(_.get(2).asLong).sum

  private def report(r: Pipeline.LoadReport): Map[String, Any] = Map(
    "feeds_considered" -> r.feedsConsidered, "feeds_loaded" -> r.feedsLoaded,
    "before" -> r.cvesBefore, "after" -> r.cvesAfter, "added" -> r.added,
    "corrupt" -> r.corruptFeeds.map(_.modifier))

  /** The generator's manifest, once the generator has finished (it is
    * written last; the JVM starts while the inputs are generated). */
  private def manifest(run: Run): com.fasterxml.jackson.databind.JsonNode = {
    val path = Paths.get(run.work, "inputs", "manifest.json")
    val deadline = System.nanoTime() + 150L * 1000000000L
    while (!Files.exists(path)) {
      require(System.nanoTime() < deadline, s"no inputs at $path")
      Thread.sleep(50)
    }
    run.log("inputs read")
    Json.read(path.toString)
  }

  /** One Pipeline.run into `store`, with its own staging directory. */
  private def load(run: Run, fs: Seq[FeedCatalog.Feed], feedDir: String, store: String,
      history: String): Pipeline.LoadReport = {
    val staging = Files.createDirectories(Paths.get(store + ".fetch"))
    Pipeline.run(run.spark, fs, new Pipeline.LocalFetcher(Paths.get(feedDir)), store, history,
      staging)
  }

  /** Loads the small warm-up feed set once, untimed, so class loading
    * and code generation do not land on the first timed operation. */
  private def warmUp(run: Run, inputs: String, manifest: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val w = manifest.get("warmup")
    load(run, feeds(w), s"$inputs/${w.get("dir").asText}", s"${run.work}/warmup/store",
      s"${run.work}/warmup/history")
    NvdStore.read(run.spark, s"${run.work}/warmup/store").filter(col("cve_id") === "CVE-0000-0")
      .collect()
  }

  /** Full loads of the same feed set, each into an empty store, until
    * the run's time is up. One operation = one full load. */
  def bulkLoad(run: Run): Unit = {
    val inputs = s"${run.work}/inputs"
    val m = manifest(run)
    warmUp(run, inputs, m)
    val bulk = m.get("bulk")
    val fs = feeds(bulk)
    val bytes = feedBytes(bulk)
    val loads = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rewritten = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Double]
    run.startMeasure()
    var i = 0
    while (run.elapsedS < run.seconds) {
      val store = s"${run.work}/bulk/$i/store"
      val history = s"${run.work}/bulk/$i/history"
      val (r, ms) = run.op("load", Map("round" -> i)) {
        load(run, fs, s"$inputs/bulk", store, history)
      }
      val after = Listing(store)
      rewritten += Listing.partitionsChanged(Map.empty, after)
      written += Listing.bytesWritten(Map.empty, after).toDouble / bytes
      loads += Map("store" -> store, "history" -> history, "ms" -> ms,
        "store_bytes" -> Listing.bytes(after), "report" -> r.map(report))
      i += 1
    }
    run.endMeasure()
    val last = loads.last("store").toString
    run.out("rounds_s") = loads.map(_("ms").asInstanceOf[Double] / 1000)
    run.out("ops_ms") = loads.map(_("ms"))
    run.out("disk_bytes") = loads.last("store_bytes")
    run.out("loads") = loads.toSeq
    run.tracer.foreach { t =>
      t.drain()
      nvdLayers(run, t, loads.size, bytes * loads.size, rewritten.toSeq, written.toSeq)
      run.layers("store.files") = Listing(last).size
    }
  }

  /** Refresh cycles over a store loaded in set-up, each followed by the
    * fixed read mix. One round = the three cycle kinds (updates spread
    * over many years; publish-year moves plus new CVEs; nothing stale)
    * with their reads. */
  def refreshServe(run: Run): Unit = {
    val inputs = s"${run.work}/inputs"
    val m = manifest(run)
    val store = s"${run.work}/serve/store"
    val history = s"${run.work}/serve/history"
    val initial = load(run, feeds(m.get("bulk")), s"$inputs/bulk", store, history)
    run.out("initial") = report(initial)
    val cycles = Json.elems(m.get("cycles"))
    // untimed: the first cycle's reads once, so the read path's class
    // loading and code generation do not land on the timed reads
    Json.elems(cycles.head.get("reads")).foreach { rd =>
      query(run, store, rd.get("kind").asText, rd.get("key")).collect()
    }
    val perRound = 3
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rounds = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    val rewritten = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Double]
    val lookupScans = mutable.ArrayBuffer.empty[(Long, Long)]
    var examined, resultRows = 0L
    var staleBytes = 0L
    run.startMeasure()
    var c = 0
    while (run.elapsedS < run.seconds && c + perRound <= cycles.size) {
      var roundMs = 0.0
      for (_ <- 0 until perRound) {
        val cy = cycles(c)
        val before = Listing(store)
        val (r, refreshMs) = run.op("refresh", Map("cycle" -> c, "kind" -> cy.get("kind").asText)) {
          load(run, FeedCatalog.incremental, s"$inputs/${cy.get("dir").asText}", store, history)
        }
        roundMs += refreshMs
        val after = Listing(store)
        val feedBytes = cy.get("feed_bytes").asLong
        staleBytes += feedBytes
        rewritten += Listing.partitionsChanged(before, after)
        if (feedBytes > 0) written += Listing.bytesWritten(before, after).toDouble / feedBytes
        val readOut = Json.elems(cy.get("reads")).map { rd =>
          val kind = rd.get("kind").asText
          val (res, ms) = run.op(kind) {
            val df = query(run, store, kind, rd.get("key"))
            (df, df.collect())
          }
          roundMs += ms
          reads += ms
          res.foreach { case (df, rows) =>
            if (run.traced) {
              val ss = Tracer.scans(df.queryExecution.executedPlan)
              def metric(n: String) = ss.flatMap(_.metrics.get(n)).map(_.value).sum
              examined += metric("numOutputRows")
              resultRows += rows.length
              if (kind == "lookup") lookupScans += ((metric("numFiles"), metric("filesSize")))
            }
          }
          Map("kind" -> kind, "ms" -> ms, "result" -> res.map { case (_, rows) => answer(kind, rows) })
        }
        out += Map("cycle" -> c, "kind" -> cy.get("kind").asText, "refresh_ms" -> refreshMs,
          "report" -> r.map(report), "listing_before" -> Listing.json(before),
          "listing_after" -> Listing.json(after), "reads" -> readOut)
        c += 1
      }
      rounds += roundMs / 1000
    }
    run.endMeasure()
    run.out("rounds_s") = rounds.toSeq
    run.out("ops_ms") = reads.toSeq
    run.out("refresh_ms") = out.map(_("refresh_ms"))
    run.out("disk_bytes") = Listing.bytes(Listing(store))
    run.out("store") = store
    run.out("history") = history
    run.out("cycles") = out.toSeq
    run.tracer.foreach { t =>
      t.drain()
      nvdLayers(run, t, out.size, staleBytes, rewritten.toSeq, written.toSeq)
      val n = math.max(1, lookupScans.size)
      run.layers("serve.files_per_lookup") = lookupScans.map(_._1).sum.toDouble / n
      run.layers("serve.bytes_per_lookup") = lookupScans.map(_._2).sum.toDouble / n
      run.layers("serve.rows_examined_per_result") = examined.toDouble / math.max(1L, resultRows)
      run.layers("store.files") = Listing(store).size
    }
  }

  /** The serve loop's three read kinds, as a user of the store writes
    * them: cve_id point lookup, published-date range scan (pruned to
    * the publish_year partition), vendor:product CPE search. */
  private def query(run: Run, store: String, kind: String,
      key: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
    val t = NvdStore.read(run.spark, store)
    kind match {
      case "lookup" =>
        t.filter(col("cve_id") === key.asText).select("cve_id", "summary",
          "last_modified_datetime", "published_datetime", "score", "urls")
      case "range" =>
        val (lo, hi) = (key.get(0).asText, key.get(1).asText)
        t.filter(col(NvdStore.yearCol) === lo.take(4).toInt &&
            col("published_datetime") >= lo && col("published_datetime") < hi)
          .select("cve_id")
      case "cpe" =>
        t.filter(col("vulnerable_software_list").contains(
            s":${key.get(0).asText}:${key.get(1).asText}:"))
          .select("cve_id")
    }
  }

  private def answer(kind: String, rows: Array[Row]): Any = kind match {
    case "lookup" => rows.toSeq.map(r => (0 until r.length).map(r.get))
    case _ => rows.map(_.getString(0)).sorted.toSeq
  }

  /** graft.nvd layer counters, per Pipeline.run call. */
  private def nvdLayers(run: Run, t: Tracer, calls: Int, feedBytes: Long,
      rewritten: Seq[Double], written: Seq[Double]): Unit = {
    val (t0, t1) = run.window
    val js = t.jobsIn(t0, t1)
    val n = math.max(1, calls).toDouble
    for (l <- Seq("gate", "audit", "upsert", "tally"))
      run.layers(s"nvd.${l}_ms") = t.busyMs(js.filter(_.layer == l)) / n
    // physical reads of the feed files: task input bytes of the jobs that
    // scan only feeds (a job that also scans the store is left out, so on
    // refresh cycles this is a lower bound)
    run.layers("nvd.json_read_ratio") =
      t.agg(js.filter(_.readsFeedsOnly)).input.toDouble / math.max(1L, feedBytes)
    run.layers("nvd.partitions_rewritten") = rewritten.sum / n
    run.layers("nvd.write_amplification") =
      if (written.isEmpty) 0.0 else written.sum / written.size
  }
}
