package graft.nvd

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end NVD ingest: fixture feeds (FIXTURES.md §1 cases a-e)
  * through flatten, dedup, freshness gate, store upsert, tally.
  * Edge semantics cited to /root/reference/nvd2mysqlloader.py. */
class NvdPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fixtures = Paths.get("src/test/resources/nvdfeed")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def flat2002 =
    CveFlatten.flattenFeed(spark, Seq(fixtures.resolve("2002.json").toUri.toString))

  test("flatten extracts all 15 columns for a fully-populated item") {
    val r = flat2002.filter(col("cve_id") === "CVE-2002-0001").first()
    // descriptions concatenated with NO separator (reference :220-221)
    assert(r.getAs[String]("summary") ===
      "Buffer overflow in example server allows remote attackers to run code.")
    assert(r.getAs[Double]("score") === 7.5)
    assert(r.getAs[String]("access_vector") === "NETWORK")
    assert(r.getAs[String]("authorize") === "NONE")
    assert(r.getAs[String]("urls") === "http://example.com/a,http://example.com/b")
    // vulnerable-only CPEs, comma-joined (reference :184-190)
    assert(r.getAs[String]("vulnerable_software_list") ===
      "cpe:2.3:o:bsdi:bsd_os:3.1:*:*:*:*:*:*:*,cpe:2.3:a:acme:widget:1.0:*:*:*:*:*:*:*")
    assert(r.getAs[String]("published_datetime") === "2002-03-08T05:00:00-05:00")
    // config JSON round-trips (compare parsed, not bytes — SURVEY F3)
    assert(r.getAs[String]("config").contains("bsd_os"))
  }

  test("missing optional subtrees default to ''/0.0 (reference :222-268)") {
    val r = flat2002.filter(col("cve_id") === "CVE-2002-0002").first()
    assert(r.getAs[String]("summary") === "")
    assert(r.getAs[Double]("score") === 0.0)
    assert(r.getAs[String]("access_vector") === "")
    assert(r.getAs[String]("urls") === "")
    assert(r.getAs[String]("vulnerable_software_list") === "")
    assert(r.getAs[String]("config") === "")
  }

  test("child-node CPEs are dropped in strict mode, kept in corrected mode (reference :186-188)") {
    val strict = flat2002.filter(col("cve_id") === "CVE-2002-0003").first()
    assert(strict.getAs[String]("vulnerable_software_list") === "")
    val corrected = CveFlatten.flattenFeed(spark,
        Seq(fixtures.resolve("2002.json").toUri.toString), strictReferenceSemantics = false)
      .filter(col("cve_id") === "CVE-2002-0003").first()
    assert(corrected.getAs[String]("vulnerable_software_list") ===
      "cpe:2.3:a:child:only:1.0:*:*:*:*:*:*:*,cpe:2.3:a:grandchild:deep:2.0:*:*:*:*:*:*:*")
  }

  test("unicode summary survives (utf8mb4 path, reference :77,467)") {
    val r = flat2002.filter(col("cve_id") === "CVE-2002-0003").first()
    assert(r.getAs[String]("summary") === "Vulnérabilité — テスト 漏洞")
  }

  test("meta parser does not corrupt sha256 (reference lstrip bug, :56-63)") {
    val meta = FeedCatalog.toFeedMeta("2002",
      Files.readString(fixtures.resolve("2002.meta")))
    // the reference's own docstring sample loses its leading '6' — ours must not
    assert(meta.sha256 ===
      "64310FE691D08F3BCACAA566249195447543A0AA5F3E61CB5FB6F29DC2C9A06F")
    assert(meta.lastModifiedDate === "2019-10-12T20:07:56-04:00")
    assert(meta.size === 32169411L)
  }

  test("cve_item sidecar is a parse-equal archive of the original item (reference :305-313,414-417)") {
    // The reference stores the COMPLETE original JSON per CVE "to learn
    // more about the format". Our sidecar re-serializes through
    // NvdSchema, so this asserts the schema covers every subtree the
    // fixtures carry — CVSS v3, problemtype/CWE, cpe_match version
    // ranges — by deep-comparing parsed trees (key order and
    // whitespace legitimately differ from Python's json.dumps).
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    for (feed <- Seq("2002", "2021")) {
      val root = mapper.readTree(Files.readString(fixtures.resolve(s"$feed.json")))
      val items = root.get("CVE_Items")
      val archivedById = CveFlatten.flattenFeed(spark,
          Seq(fixtures.resolve(s"$feed.json").toUri.toString))
        .select(col("cve_id"), col("cve_item")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      (0 until items.size()).foreach { i =>
        val orig = items.get(i)
        val id = orig.at("/cve/CVE_data_meta/ID").asText()
        val archived = mapper.readTree(archivedById(id))
        assert(archived === orig, s"sidecar for $id diverges from the original item")
      }
    }
  }

  test("CVSS v3 + CWE + version ranges surface from the widened schema") {
    val flat = CveFlatten.flattenFeed(spark,
      Seq(fixtures.resolve("2021.json").toUri.toString))
    val r1 = flat.filter(col("cve_id") === "CVE-2021-0001").first()
    assert(r1.getAs[Double]("score_v3") === 7.8)
    assert(r1.getAs[String]("severity_v3") === "HIGH")
    assert(r1.getAs[Seq[String]]("cwes") === Seq("CWE-787", "CWE-120"))
    assert(r1.getAs[Double]("score") === 4.6) // v2 columns unaffected
    assert(r1.getAs[String]("cve_item").contains("versionEndExcluding"))
    // v3-only item: v2 defaults to 0.0/'' exactly like pre-2016 items
    val r2 = flat.filter(col("cve_id") === "CVE-2021-0002").first()
    assert(r2.getAs[Double]("score") === 0.0)
    assert(r2.getAs[String]("access_vector") === "")
    assert(r2.getAs[Double]("score_v3") === 9.8)
    assert(r2.getAs[String]("severity_v3") === "CRITICAL")
    // bare item: every v3 addition defaults
    val r3 = flat.filter(col("cve_id") === "CVE-2021-0003").first()
    assert(r3.getAs[Double]("score_v3") === 0.0)
    assert(r3.getAs[String]("severity_v3") === "")
    assert(r3.getAs[Seq[String]]("cwes") === Seq.empty)
  }

  test("variant sidecar (flag-gated): native VARIANT column, path-extractable, parquet-stable") {
    val feed = Seq(fixtures.resolve("2021.json").toUri.toString)
    // default off: no second copy of the document unless asked for
    assert(!CveFlatten.flattenFeed(spark, feed).columns.contains("cve_item_v"))

    spark.conf.set(CveFlatten.VariantSidecarConf, "true")
    try {
      val flat = CveFlatten.flattenFeed(spark, feed)
      assert(flat.schema("cve_item_v").dataType ===
        org.apache.spark.sql.types.VariantType)
      // variant path extraction agrees with the flattened columns
      val checked = flat.select(
        col("cve_id"),
        variant_get(col("cve_item_v"), "$.cve.CVE_data_meta.ID", "string").as("vid"),
        variant_get(col("cve_item_v"), "$.impact.baseMetricV3.cvssV3.baseScore", "double").as("vs3"),
        col("score_v3"))
      assert(checked.filter(col("cve_id") =!= col("vid")).count() === 0)
      assert(checked.filter(coalesce(col("vs3"), lit(0.0)) =!= col("score_v3")).count() === 0)
      // survives a parquet round trip (shredded storage path)
      val dir = java.nio.file.Files.createTempDirectory("variant").toString
      flat.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      assert(back.schema("cve_item_v").dataType ===
        org.apache.spark.sql.types.VariantType)
      assert(back.filter(
        variant_get(col("cve_item_v"), "$.cve.CVE_data_meta.ID", "string")
          =!= col("cve_id")).count() === 0)
    } finally spark.conf.unset(CveFlatten.VariantSidecarConf)
  }

  test("last-write-wins dedup: later feed rank replaces earlier (reference REPLACE, :449-464)") {
    val f1 = flat2002.withColumn("feed_rank", lit(0))
    val f2 = CveFlatten.flattenFeed(spark, Seq(fixtures.resolve("modified.json").toUri.toString))
      .withColumn("feed_rank", lit(1))
    val deduped = NvdDedup.lastWriteWins(f1.unionByName(f2))
    assert(deduped.count() === 4) // 3 from 2002 + 1 new, overlap collapsed
    val winner = deduped.filter(col("cve_id") === "CVE-2002-0001").first()
    assert(winner.getAs[String]("summary") === "UPDATED summary.")
    assert(winner.getAs[Double]("score") === 10.0)
  }

  test("pipeline end-to-end: load, incremental no-op, re-load on fresher meta") {
    val tmp = Files.createTempDirectory("nvdpipe")
    val store = tmp.resolve("store").toString
    val hist = tmp.resolve("history").toString
    val staging = Files.createDirectory(tmp.resolve("staging"))
    val feeds = Seq(FeedCatalog.Feed("2002", 0), FeedCatalog.Feed("modified", 1))
    val fetcher = new Pipeline.LocalFetcher(fixtures)

    val r1 = Pipeline.run(spark, feeds, fetcher, store, hist, staging)
    assert(r1.feedsLoaded === 2)
    assert(r1.cvesAfter === 4)
    // winner row came from the higher-ranked modified feed
    val row = NvdStore.read(spark, store).filter(col("cve_id") === "CVE-2002-0001").first()
    assert(row.getAs[Double]("score") === 10.0)

    // second run: upstream metas unchanged => freshness gate skips everything
    val r2 = Pipeline.run(spark, feeds, fetcher, store, hist, staging)
    assert(r2.feedsLoaded === 0)
    assert(r2.cvesAfter === 4)
  }

  test("corrupt feed: audited via _corrupt_record, quarantined from load AND history, retried next cycle") {
    // the audit frame itself: malformed document -> corrupt=true with
    // the raw-text head; healthy document -> item count
    val audit = CveFlatten.feedAudit(spark, Seq(
        fixtures.resolve("2002.json").toUri.toString,
        fixtures.resolve("corrupt.json").toUri.toString))
      .collect().map(r => r.getAs[String]("file").split('/').last ->
        ((r.getAs[Boolean]("corrupt"), r.getAs[Long]("n_items"),
          r.getAs[String]("corrupt_sample")))).toMap
    assert(audit("2002.json") === ((false, 3L, "")))
    val (corrupt, nItems, sample) = audit("corrupt.json")
    assert(corrupt, "malformed document must surface corrupt=true")
    assert(nItems === 0L)
    assert(sample.contains("CVE_data_type"),
      s"sample must carry the raw text head, got: $sample")

    // end-to-end: the broken feed is excluded from the load and from
    // history (so the freshness gate re-fetches it next cycle), and
    // the report names it — never a silent zero-item year
    val tmp = Files.createTempDirectory("nvdcorrupt")
    val store = tmp.resolve("store").toString
    val hist = tmp.resolve("hist").toString
    val staging = Files.createDirectory(tmp.resolve("staging"))
    val feeds = Seq(FeedCatalog.Feed("2002", 0), FeedCatalog.Feed("corrupt", 1))
    val fetcher = new Pipeline.LocalFetcher(fixtures)

    val r1 = Pipeline.run(spark, feeds, fetcher, store, hist, staging)
    assert(r1.feedsLoaded === 1)
    assert(r1.corruptFeeds.map(_.modifier) === Seq("corrupt"))
    assert(r1.corruptFeeds.head.sample.nonEmpty)
    assert(r1.cvesAfter === 3) // only 2002's CVEs

    // next cycle: 2002 is fresh (history) but the quarantined feed is
    // still stale -> re-fetched, still broken, quarantined again
    val r2 = Pipeline.run(spark, feeds, fetcher, store, hist, staging)
    assert(r2.feedsLoaded === 0)
    assert(r2.corruptFeeds.map(_.modifier) === Seq("corrupt"))
    assert(r2.cvesAfter === 3)
  }

  /** Three ranked feeds in a directory whose name holds a space, as
    * does the top feed's file name. The shared CVE-2020-0001's
    * lastModifiedDate goes DOWN as rank goes up, and the names sort
    * against rank, so only a rank taken from each row's file path picks
    * the rank-2 row. `corrupt` names a feed written truncated. */
  private def rankedFeeds(corrupt: Option[String] = None)
      : (java.nio.file.Path, Seq[FeedCatalog.Feed]) = {
    val dir = Files.createDirectory(Files.createTempDirectory("nvdrank").resolve("feed dir"))
    val feeds = Seq(FeedCatalog.Feed("zulu", 0), FeedCatalog.Feed("mike", 1),
      FeedCatalog.Feed("alpha one", 2))
    feeds.foreach { f =>
      def item(id: String) =
        s"""{"cve": {"CVE_data_meta": {"ID": "$id"}, "description": {"description_data":
           |[{"lang": "en", "value": "from ${f.modifier}"}]}},
           |"publishedDate": "2020-01-01T00:00Z",
           |"lastModifiedDate": "2020-0${9 - f.rank}-01T00:00Z"}""".stripMargin
      val doc = s"""{"CVE_data_type": "CVE", "CVE_Items": [
        |${item("CVE-2020-0001")}, ${item(s"CVE-2020-100${f.rank}")}]}""".stripMargin
      Files.writeString(dir.resolve(s"${f.modifier}.json"),
        if (corrupt.contains(f.modifier)) doc.take(doc.length / 2) else doc)
      Files.writeString(dir.resolve(s"${f.modifier}.meta"),
        "lastModifiedDate:2020-09-01T00:00:00-04:00\r\nsize:1\r\n")
    }
    (dir, feeds)
  }

  private def loadRanked(corrupt: Option[String]): (Pipeline.LoadReport, Map[String, String], Set[String]) = {
    val sp = spark; import sp.implicits._
    val (dir, feeds) = rankedFeeds(corrupt)
    val tmp = dir.getParent
    val r = Pipeline.run(spark, feeds, new Pipeline.LocalFetcher(dir),
      tmp.resolve("store").toString, tmp.resolve("hist").toString,
      Files.createDirectory(tmp.resolve("staging")))
    val summaries = NvdStore.read(spark, tmp.resolve("store").toString)
      .select("cve_id", "summary").as[(String, String)].collect().toMap
    val history = spark.read.parquet(tmp.resolve("hist").toString)
      .select("download_name").as[String].collect().toSet
    (r, summaries, history)
  }

  test("one-scan load: feed_rank comes from each row's file path, not dates or scan order") {
    val (r, summaries, history) = loadRanked(corrupt = None)
    assert(r.feedsLoaded === 3)
    assert(summaries === Map(
      "CVE-2020-0001" -> "from alpha one", // rank 2 wins despite the oldest date
      "CVE-2020-1000" -> "from zulu", "CVE-2020-1001" -> "from mike",
      "CVE-2020-1002" -> "from alpha one"))
    assert(history === Set("zulu", "mike", "alpha one"))
    assert(r.cvesAfter === 4)
  }

  test("one-scan load: a corrupt feed's rows are absent and it is left out of update_history") {
    val (r, summaries, history) = loadRanked(corrupt = Some("alpha one"))
    assert(r.feedsLoaded === 2)
    assert(r.corruptFeeds.map(_.modifier) === Seq("alpha one"))
    assert(summaries === Map(
      "CVE-2020-0001" -> "from mike", // next rank down wins
      "CVE-2020-1000" -> "from zulu", "CVE-2020-1001" -> "from mike"))
    assert(history === Set("zulu", "mike"))
  }

  test("the load batch's optimized plan holds ONE JSON file relation for three feeds") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
    val (dir, feeds) = rankedFeeds()
    val loadable = feeds.map(f =>
      f -> new org.apache.hadoop.fs.Path(dir.resolve(s"${f.modifier}.json").toUri).toString)
    val batch = Pipeline.loadBatch(spark, loadable, strictReferenceSemantics = true)
    val jsonScans = batch.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation if h.fileFormat.isInstanceOf[JsonFileFormat] => h }
    assert(jsonScans.size === 1)
    assert(jsonScans.head.location.inputFiles.length === 3)
  }

  test("a feed with an unreachable .meta is skipped, not fatal (failFast=false default)") {
    val tmp = Files.createTempDirectory("nvdskip")
    val feeds = Seq(FeedCatalog.Feed("2002", 0), FeedCatalog.Feed("nonexistent", 1))
    val r = Pipeline.run(spark, feeds,
      new Pipeline.LocalFetcher(fixtures),
      tmp.resolve("store").toString, tmp.resolve("hist").toString,
      Files.createDirectory(tmp.resolve("staging")))
    assert(r.feedsLoaded === 1)
    assert(r.cvesAfter === 3)
    // failFast=true reproduces the reference's abort
    intercept[java.nio.file.NoSuchFileException] {
      Pipeline.run(spark, Seq(FeedCatalog.Feed("alsomissing", 0)),
        new Pipeline.LocalFetcher(fixtures),
        tmp.resolve("store2").toString, tmp.resolve("hist2").toString,
        tmp.resolve("staging"), failFast = true)
    }
  }

  test("upsert merge branch: batch wins per cve_id, untouched years kept intact") {
    val sp = spark; import sp.implicits._
    val store = Files.createTempDirectory("nvdupsert").resolve("store").toString
    val b1 = Seq(
      ("CVE-2002-0001", "2002-01-01T00:00:00", "old"),
      ("CVE-2002-0002", "2002-02-01T00:00:00", "stays"),
      ("CVE-2003-0001", "2003-01-01T00:00:00", "keep"))
      .toDF("cve_id", "published_datetime", "summary")
    NvdStore.upsert(spark, b1, store)
    // second batch touches only 2002: replaces 0001, adds 0999
    val b2 = Seq(
      ("CVE-2002-0001", "2002-01-01T00:00:00", "new"),
      ("CVE-2002-0999", "2002-06-01T00:00:00", "added"))
      .toDF("cve_id", "published_datetime", "summary")
    NvdStore.upsert(spark, b2, store)
    val out = NvdStore.read(spark, store)
      .select("cve_id", "summary").as[(String, String)].collect().toMap
    assert(out === Map(
      "CVE-2002-0001" -> "new", "CVE-2002-0002" -> "stays",
      "CVE-2002-0999" -> "added", "CVE-2003-0001" -> "keep"))
    // no staging leftovers
    val parent = new java.io.File(store).getParentFile.listFiles().map(_.getName)
    assert(parent.count(_.startsWith("store")) === 1)
  }

  test("a feed whose DOWNLOAD fails (meta ok) is skipped, not recorded, and retried next run") {
    val tmp = Files.createTempDirectory("nvddlfail")
    val store = tmp.resolve("store").toString
    val hist = tmp.resolve("hist").toString
    val staging = Files.createDirectory(tmp.resolve("staging"))
    // meta resolves (copied), but the json/zip is absent => download fails
    Files.copy(fixtures.resolve("2002.meta"), fixtures.getParent.resolve("nvdfeed/brokenfeed.meta"))
    try {
      val feeds = Seq(FeedCatalog.Feed("2002", 0), FeedCatalog.Feed("brokenfeed", 1))
      val r = Pipeline.run(spark, feeds, new Pipeline.LocalFetcher(fixtures),
        store, hist, staging)
      assert(r.feedsLoaded === 1) // 2002 only
      assert(r.cvesAfter === 3)
      // brokenfeed not in history => still stale on the next cycle
      val r2 = Pipeline.run(spark, feeds, new Pipeline.LocalFetcher(fixtures),
        store, hist, staging)
      assert(r2.feedsLoaded === 0) // still failing, still skipped; 2002 fresh
      assert(r2.cvesAfter === 3)
    } finally Files.deleteIfExists(fixtures.resolve("brokenfeed.meta"))
  }

  test("a run where every feed is skipped on a fresh store reports zero, not a crash") {
    val tmp = Files.createTempDirectory("nvdallskip")
    val r = Pipeline.run(spark, Seq(FeedCatalog.Feed("nonexistent", 0)),
      new Pipeline.LocalFetcher(fixtures),
      tmp.resolve("store").toString, tmp.resolve("hist").toString,
      Files.createDirectory(tmp.resolve("staging")))
    assert(r.feedsLoaded === 0)
    assert(r.cvesAfter === 0)
  }

  test("upsert rewrites the OLD year when a CVE's publish date moves (keyed REPLACE semantics)") {
    val sp = spark; import sp.implicits._
    val store = Files.createTempDirectory("nvdmove").resolve("store").toString
    NvdStore.upsert(spark, Seq(
      ("CVE-2020-0001", "2020-05-01T00:00:00", "orig"),
      ("CVE-2020-0002", "2020-06-01T00:00:00", "stays"))
      .toDF("cve_id", "published_datetime", "summary"), store)
    // upstream corrects 0001's publish date into 2019
    NvdStore.upsert(spark, Seq(
      ("CVE-2020-0001", "2019-12-31T00:00:00", "moved"))
      .toDF("cve_id", "published_datetime", "summary"), store)
    val rows = NvdStore.read(spark, store)
      .select("cve_id", "summary", NvdStore.yearCol).collect()
      .map(r => (r.getString(0), r.getString(1), r.get(2).toString)).toSet
    assert(rows === Set(
      ("CVE-2020-0001", "moved", "2019"),
      ("CVE-2020-0002", "stays", "2020")))
    // empty published date buckets to year 1900, not a hive default dir
    NvdStore.upsert(spark, Seq(("CVE-1999-0001", "", "nodate"))
      .toDF("cve_id", "published_datetime", "summary"), store)
    val yearDirs = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(yearDirs.contains(s"${NvdStore.yearCol}=1900"))
    assert(!yearDirs.exists(_.contains("HIVE_DEFAULT")))
    assert(NvdStore.cveTally(NvdStore.read(spark, store)) === 3)
  }

  test("cveTally = COUNT(DISTINCT cve_id) (reference :494)") {
    assert(NvdStore.cveTally(flat2002) === 3)
  }

  test("typed Dataset[NvdRow] surface round-trips the flattened frame") {
    val sp = spark; import sp.implicits._
    val ds = NvdRow.from(spark, flat2002)
    val r = ds.filter(_.cve_id == "CVE-2002-0001").head()
    assert(r.score === 7.5)
    assert(r.vulnerable_cpes.length === 2)
    // typed aggregation compiles + runs
    val maxScore = ds.map(_.score).reduce((a, b) => math.max(a, b))
    assert(maxScore === 7.5)
  }

  test("NvdDdl statements are well-formed (parse-level sanity)") {
    NvdDdl.all.foreach { sql =>
      assert(sql.toUpperCase.startsWith("CREATE"))
      assert(sql.count(_ == '(') === sql.count(_ == ')'))
    }
  }
}
