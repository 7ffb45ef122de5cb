package graft.nvd

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{Path => HPath}

/** End-to-end orchestration of the ingest dataflow (reference `main()`
  * paths, SURVEY §3.1/§3.2):
  *
  *   enumerate feeds -> fetch .meta -> freshness gate -> fetch + unzip
  *   -> spark.read.json(all stale feeds at once) -> explode + feed_rank
  *   from each row's source file -> flatten -> last-write-wins dedup
  *   -> store upsert + history append -> tally report.
  *
  * The network side is abstracted behind `Fetcher` so tests inject
  * local files; the default implementation uses java.net — the
  * control-plane (a handful of ~2 MB zips) stays on the driver, and
  * the data-plane starts at one multi-file JSON scan (Spark packs the
  * small whole-file feed documents into about `defaultParallelism`
  * tasks, so feeds the reference looped over parse concurrently).
  */
object Pipeline {

  trait Fetcher {
    /** Fetch the .meta sidecar content for a feed modifier. */
    def meta(modifier: String): String
    /** Fetch + decompress the feed, returning a local JSON path. */
    def feedJson(modifier: String, stagingDir: Path): Path
  }

  /** HTTP fetcher for the real NVD endpoints (template contains the
    * literal token "year", reference :151,163). */
  final class HttpFetcher(urlTemplate: String) extends Fetcher {
    def meta(modifier: String): String = {
      val url = FeedCatalog.expand(urlTemplate, modifier) + ".meta"
      val src = scala.io.Source.fromURL(url, "UTF-8")
      try src.mkString finally src.close()
    }
    def feedJson(modifier: String, stagingDir: Path): Path = {
      val url = FeedCatalog.expand(urlTemplate, modifier) + ".zip"
      val zipPath = stagingDir.resolve(s"nvdcve-1.1-$modifier.json.zip")
      val in = new java.net.URL(url).openStream()
      try Files.copy(in, zipPath, StandardCopyOption.REPLACE_EXISTING) finally in.close()
      val json = unzipSingle(zipPath, stagingDir)
      Files.delete(zipPath)
      json
    }
  }

  /** Local-directory fetcher for tests: expects `<dir>/<modifier>.meta`
    * and `<dir>/<modifier>.json` (or `.json.zip`). */
  final class LocalFetcher(dir: Path) extends Fetcher {
    def meta(modifier: String): String =
      Files.readString(dir.resolve(s"$modifier.meta"))
    def feedJson(modifier: String, stagingDir: Path): Path = {
      val zip = dir.resolve(s"$modifier.json.zip")
      val json = dir.resolve(s"$modifier.json")
      if (Files.exists(zip)) unzipSingle(zip, stagingDir)
      else if (Files.exists(json)) json
      // match HttpFetcher semantics: a missing feed FAILS the fetch
      else throw new java.nio.file.NoSuchFileException(json.toString)
    }
  }

  /** Extract the single entry of a feed zip (reference `unzip`, :113-123). */
  def unzipSingle(zipPath: Path, destDir: Path): Path = {
    val zf = new java.util.zip.ZipFile(zipPath.toFile)
    try {
      val e = zf.entries().nextElement()
      val out = destDir.resolve(Paths.get(e.getName).getFileName.toString)
      val in = zf.getInputStream(e)
      try Files.copy(in, out, StandardCopyOption.REPLACE_EXISTING) finally in.close()
      out
    } finally zf.close()
  }

  /** One quarantined feed: the document fetched but failed to parse.
    * `sample` is the head of the raw text (the `_corrupt_record`
    * content) — enough to eyeball truncation vs garbage. */
  final case class CorruptFeed(modifier: String, file: String, sample: String)

  final case class LoadReport(
      feedsConsidered: Int,
      feedsLoaded: Int,
      cvesBefore: Long,
      cvesAfter: Long,
      corruptFeeds: Seq[CorruptFeed] = Nil) {
    def added: Long = cvesAfter - cvesBefore
  }

  /** Run one load cycle.
    *
    * @param feeds      feed list with explicit ranks (FeedCatalog.fullLoad / incremental)
    * @param fetcher    network or local fetcher
    * @param storePath  parquet store root
    * @param historyPath parquet dir for update_history (append-only)
    * @param failFast   true = abort on any meta-fetch failure (the
    *                   reference's behavior — an HTTP error kills the
    *                   run); false (default) = log and skip that feed,
    *                   so one unreachable feed doesn't sink a 27-feed
    *                   full load
    */
  def run(
      spark: SparkSession,
      feeds: Seq[FeedCatalog.Feed],
      fetcher: Fetcher,
      storePath: String,
      historyPath: String,
      stagingDir: Path,
      strictReferenceSemantics: Boolean = true,
      failFast: Boolean = false,
      jdbcMirror: Option[MySqlSink.Conf] = None): LoadReport = {

    def tally(): Long = if (!NvdStore.pathExists(spark, storePath)) 0L
      else NvdStore.cveTally(NvdStore.read(spark, storePath))
    val before = tally()

    // Control plane: metas + freshness gate (J2), set-based.
    val metas = feeds.flatMap { f =>
      try Some(FeedCatalog.toFeedMeta(f.modifier, fetcher.meta(f.modifier)))
      catch {
        case e: Exception if !failFast =>
          System.err.println(s"[pipeline] skipping feed '${f.modifier}': meta fetch failed: ${e.getMessage}")
          None
      }
    }
    val metaDf = FeedCatalog.historyRows(spark, metas, now())
      .withColumnRenamed("downloadedDate", "metaFetchedDate")
    val history =
      if (NvdStore.pathExists(spark, historyPath)) spark.read.parquet(historyPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        FeedCatalog.historyRows(spark, Nil, "").schema)
    val staleNames = FeedCatalog.staleFeeds(metaDf, history)
      .select("download_name").collect().map(_.getString(0)).toSet
    val stale = feeds.filter(f => staleNames.contains(f.modifier))

    // Data plane: fetch+unzip stale feeds (driver). A download failure
    // is subject to the same failFast contract as a meta failure —
    // the feed is skipped (and NOT recorded in history, so the next
    // cycle retries it) instead of sinking the whole load.
    // (Spark gets Hadoop path strings: it would read a URI string's `%20` literally)
    val fetched = stale.flatMap { f =>
      try Some(f -> new HPath(fetcher.feedJson(f.modifier, stagingDir).toUri).toString)
      catch {
        case e: Exception if !failFast =>
          System.err.println(s"[pipeline] skipping feed '${f.modifier}': fetch failed: ${e.getMessage}")
          None
      }
    }

    // Parse audit BEFORE the flatten (SURVEY §1.3 PERMISSIVE +
    // _corrupt_record): a feed that fetched but does not parse is
    // QUARANTINED — excluded from the load and from history (so the
    // next cycle retries it) and surfaced in the report — instead of
    // silently contributing zero rows. One Spark job over all fetched
    // files; the frame is one row per feed, so the collect is
    // control-plane bounded like the meta loop above.
    val corrupt: Seq[CorruptFeed] =
      if (fetched.isEmpty) Nil
      else {
        // `file` is a URL-encoded URI (`file:///`): compare as paths, not strings
        val modifierOf = fetched.map { case (f, p) => new HPath(p) -> f.modifier }.toMap
        CveFlatten.feedAudit(spark, fetched.map(_._2))
          .filter(col("corrupt")).collect().toSeq
          .map { r =>
            val file = r.getAs[String]("file")
            CorruptFeed(modifierOf.getOrElse(new HPath(new java.net.URI(file)), "?"),
              file, r.getAs[String]("corrupt_sample"))
          }
      }
    corrupt.foreach(cf => System.err.println(
      s"[pipeline] quarantining feed '${cf.modifier}': document does not parse; head: ${cf.sample.take(80)}"))
    val corruptModifiers = corrupt.map(_.modifier).toSet
    val loadable = fetched.filterNot { case (f, _) => corruptModifiers.contains(f.modifier) }

    if (loadable.nonEmpty) {
      val batch = loadBatch(spark, loadable, strictReferenceSemantics)
      NvdStore.upsert(spark, batch, storePath)

      // Optional JDBC mirror (reference parity: the reference's only
      // sink IS MySQL). Upserts THIS run's loaded rows — the keyed
      // REPLACE semantics match NvdStore.upsert, so store and mirror
      // converge on the same content per cve_id.
      jdbcMirror.foreach(conf => MySqlSink.upsert(batch, conf))

      // history records only feeds that actually LOADED — a
      // quarantined feed stays stale and is re-fetched next cycle
      val fetchedNames = loadable.map(_._1.modifier).toSet
      val loadedMetas = metas.filter(m => fetchedNames.contains(m.downloadName))
      val historyRows = FeedCatalog.historyRows(spark, loadedMetas, now())
      historyRows.write.mode("append").parquet(historyPath)
      jdbcMirror.foreach(conf => MySqlSink.appendHistory(historyRows, conf))
    }

    // nothing loaded: the store was not written, so the tally is unchanged
    val after = if (loadable.isEmpty) before else tally()
    val report = LoadReport(feeds.size, loadable.size, before, after, corrupt)
    audit(report)
    report
  }

  /** The deduplicated load batch: ONE JSON scan, one flatten, one
    * last-write-wins window, whatever the number of feeds. Paths are as
    * `run` fetches them, absolute with a scheme; a scanned file with no
    * rank fails the job rather than lose its precedence. */
  private[nvd] def loadBatch(spark: SparkSession, loadable: Seq[(FeedCatalog.Feed, String)],
      strictReferenceSemantics: Boolean): DataFrame = {
    // keyed in `_metadata.file_path`'s form: URL-encoded, a space is `%20`
    val rankOf =
      typedLit(loadable.map { case (f, p) => new HPath(p).toUri.toString -> f.rank }.toMap)
    val file = col("_metadata.file_path")
    val items = CveFlatten.readFeed(spark, loadable.map(_._2),
      coalesce(element_at(rankOf, file), raise_error(concat(lit("no feed rank for "), file)))
        .as("feed_rank"))
    NvdDedup.lastWriteWins(CveFlatten.flattenItems(items, strictReferenceSemantics))
      .drop("feed_rank")
  }

  /** Audit lines mirroring the reference's syslog notices
    * (nvd2mysqlloader.py:562-563,569-573: started / no-new-CVEs /
    * N-loaded), emitted through slf4j — the cluster-era counterpart
    * of syslogd (log4j routes to the operator's aggregation; a
    * SyslogAppender is a config choice, not code). */
  private def audit(r: LoadReport): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    log.info("nvd load: started")
    if (r.feedsLoaded == 0)
      log.info("nvd load: There were no new CVEs added since last update.")
    else
      log.info(s"nvd load: There were ${r.feedsLoaded} feeds loaded or updated with ${r.added} CVEs added.")
    r.corruptFeeds.foreach(cf =>
      log.warn(s"nvd load: feed '${cf.modifier}' quarantined (document does not parse)"))
  }

  private def now(): String = java.time.LocalDateTime.now().toString
}
