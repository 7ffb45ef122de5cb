package graft.nvd

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The wide flatten projection: one exploded CVE item -> the 15-column
  * relational row of the reference's `nvd` table plus the raw-document
  * sidecar column (reference `get_data`, nvd2mysqlloader.py:193-269,
  * DDL :282-300).
  *
  * Everything is built-in Catalyst: nested paths, higher-order
  * functions, `coalesce` defaulting. No UDFs, so the whole projection
  * stays inside one whole-stage-codegen span over the vectorized JSON
  * scan.
  *
  * @param strictReferenceSemantics when true (default) reproduces the
  *   verified reference behavior of collecting vulnerable CPE URIs from
  *   TOP-LEVEL `cpe_match` entries only — child nodes are dropped
  *   (nvd2mysqlloader.py:186-188 swallows the KeyError). When false,
  *   `children[*]` and `children[*].children[*]` cpe_match entries are
  *   included too (the corrected semantics).
  */
object CveFlatten {

  /** Vulnerable cpe23Uris as an array column (query-friendly form). */
  def vulnerableCpeArray(configurations: Column, strictReferenceSemantics: Boolean = true): Column = {
    def vulnUris(matches: Column): Column =
      transform(
        filter(coalesce(matches, array()), m => coalesce(m.getField("vulnerable"), lit(false))),
        m => m.getField("cpe23Uri"))
    val top = flatten(transform(
      coalesce(configurations.getField("nodes"), array()),
      n => vulnUris(n.getField("cpe_match"))))
    if (strictReferenceSemantics) top
    else {
      val kids = flatten(transform(
        coalesce(configurations.getField("nodes"), array()),
        n => flatten(transform(
          coalesce(n.getField("children"), array()),
          c => concat(
            vulnUris(c.getField("cpe_match")),
            flatten(transform(
              coalesce(c.getField("children"), array()),
              g => vulnUris(g.getField("cpe_match")))))))))
      concat(top, kids)
    }
  }

  /** Conf flag: when true, `flattenItems` appends `cve_item_v`, the
    * document sidecar as a native Spark 4 VARIANT (`parse_json` of the
    * same re-serialized item the string sidecar carries). Variant
    * keeps the document queryable with `variant_get` path extraction —
    * typed, shreddable in parquet, no per-query JSON re-parse — while
    * the string `cve_item` stays the exchange form the reference's
    * nvd_json table defines. Default off: a second encoded copy of
    * every document is a storage decision the operator should make. */
  val VariantSidecarConf = "spark.graft.nvd.variantSidecar"

  /** items: a DataFrame with one column `item` of NvdSchema.cveItem
    * (i.e. after `explode(CVE_Items)`), plus any passthrough columns
    * (e.g. feed_rank). Returns the flattened 15-column frame with
    * passthroughs retained.
    */
  def flattenItems(items: DataFrame, strictReferenceSemantics: Boolean = true): DataFrame = {
    val it = col("item")
    val passthrough = items.columns.filter(_ != "item").map(col).toSeq
    val variantSidecar =
      if (items.sparkSession.conf.get(VariantSidecarConf, "false").toBoolean)
        Seq(parse_json(to_json(it)).as("cve_item_v"))
      else Seq.empty
    items.select(passthrough ++ Seq(
      it.getField("cve").getField("CVE_data_meta").getField("ID").as("cve_id"),
      // descriptions concatenated with NO separator (reference :220-221)
      coalesce(
        array_join(transform(
          coalesce(it.getField("cve").getField("description").getField("description_data"), array()),
          d => coalesce(d.getField("value"), lit(""))), ""),
        lit("")).as("summary"),
      // configurations subtree re-serialized to JSON (reference :223).
      // to_json key order/whitespace differs from Python json.dumps —
      // compare parsed, not byte-wise (SURVEY F3).
      coalesce(to_json(it.getField("configurations")), lit("")).as("config"),
      coalesce(it.getField("impact").getField("baseMetricV2").getField("cvssV2").getField("baseScore"),
        lit(0.0)).as("score"),
      cvss(it, "accessVector").as("access_vector"),
      cvss(it, "accessComplexity").as("access_complexity"),
      cvss(it, "authentication").as("authorize"),
      cvss(it, "availabilityImpact").as("availability_impact"),
      cvss(it, "confidentialityImpact").as("confidentiality_impact"),
      cvss(it, "integrityImpact").as("integrity_impact"),
      coalesce(it.getField("lastModifiedDate"), lit("")).as("last_modified_datetime"),
      coalesce(it.getField("publishedDate"), lit("")).as("published_datetime"),
      // reference comma-joins reference URLs (:238-244)
      coalesce(array_join(transform(
        coalesce(it.getField("cve").getField("references").getField("reference_data"), array()),
        r => coalesce(r.getField("url"), lit(""))), ","), lit("")).as("urls"),
      // comma-joined vulnerable CPE list (the FULLTEXT-searched column)
      array_join(vulnerableCpeArray(it.getField("configurations"), strictReferenceSemantics), ",")
        .as("vulnerable_software_list"),
      // typed array twin of the above — the form queries should use
      vulnerableCpeArray(it.getField("configurations"), strictReferenceSemantics)
        .as("vulnerable_cpes"),
      // CVSS v3 surface — additive beyond the reference's 15 columns.
      // The reference never extracts v3 (its DDL laments the gap,
      // nvd.sql:34-38); absent subtrees default 0.0/'' like v2 (:236).
      coalesce(it.getField("impact").getField("baseMetricV3").getField("cvssV3")
        .getField("baseScore"), lit(0.0)).as("score_v3"),
      coalesce(it.getField("impact").getField("baseMetricV3").getField("cvssV3")
        .getField("baseSeverity"), lit("")).as("severity_v3"),
      // CWE assignments from problemtype (array; empty when unassigned)
      coalesce(flatten(transform(
        coalesce(it.getField("cve").getField("problemtype").getField("problemtype_data"),
          array()),
        p => transform(coalesce(p.getField("description"), array()),
          d => coalesce(d.getField("value"), lit(""))))),
        array().cast("array<string>")).as("cwes"),
      // Document sidecar (reference nvd_json table, :305-313). The
      // re-serialization goes through NvdSchema, which now covers the
      // full NVD 1.1 item surface (CVSS v3, problemtype/CWE, cpe_match
      // version ranges + cpe_name, v2 obtain*/acInsufInfo flags), so a
      // parse of cve_item equals a parse of the original item text —
      // asserted field-for-field in NvdPipelineSpec. (Key order and
      // whitespace still differ from Python json.dumps; compare
      // parsed, not byte-wise — SURVEY F3.)
      to_json(it).as("cve_item")) ++ variantSidecar: _*)
  }

  private def cvss(item: Column, field: String): Column =
    coalesce(item.getField("impact").getField("baseMetricV2").getField("cvssV2").getField(field),
      lit(""))

  /** The one reader of NVD 1.1 feed files: a single multi-line JSON
    * document per file, PERMISSIVE so a malformed one lands in `_corrupt_record`. */
  private def scanFeeds(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(NvdSchema.feed)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .json(paths: _*)

  /** Read one-or-more feed files and explode to items, beside any
    * per-document `passthrough` columns (e.g. of `_metadata`). */
  def readFeed(spark: SparkSession, paths: Seq[String], passthrough: Column*): DataFrame =
    scanFeeds(spark, paths).select(explode(col("CVE_Items")).as("item") +: passthrough: _*)

  /** Full flatten pipeline for a set of feed files. */
  def flattenFeed(spark: SparkSession, paths: Seq[String],
      strictReferenceSemantics: Boolean = true): DataFrame =
    flattenItems(readFeed(spark, paths), strictReferenceSemantics)

  /** Per-document parse audit over feed files: (file, corrupt,
    * corrupt_sample, n_items). A malformed document surfaces as
    * corrupt=true with the head of its raw text (PERMISSIVE +
    * `_corrupt_record`, SURVEY §1.3) — without this, a broken feed
    * reads as a zero-item feed and the load silently drops a year.
    * One row per feed FILE (a feed is a single multiLine document),
    * so the frame is control-plane sized: `Pipeline.run` collects it
    * to quarantine broken feeds before the flatten. */
  def feedAudit(spark: SparkSession, paths: Seq[String]): DataFrame =
    scanFeeds(spark, paths).select(
      input_file_name().as("file"),
      col(NvdSchema.corruptRecordCol).isNotNull.as("corrupt"),
      substring(coalesce(col(NvdSchema.corruptRecordCol), lit("")), 1, 200)
        .as("corrupt_sample"),
      coalesce(size(col("CVE_Items")), lit(0)).cast("long").as("n_items"))

  /** Read feed ZIPS directly — decompression happens in the scan
    * tasks (graft.sources.ZipTextSource), not on the driver like the
    * reference's `unzip` (nvd2mysqlloader.py:113-123). `path` is a
    * file, directory (scans `*.zip`) or glob. Parsing goes through
    * the same explicit `NvdSchema.feed` contract as `readFeed`;
    * `from_json` is PERMISSIVE like the file reader (a malformed
    * document yields null fields, not a failed job).
    */
  def readFeedZips(spark: SparkSession, path: String): DataFrame =
    spark.read.format("ziptext").load(path)
      .select(
        from_json(col("content"), NvdSchema.feed).as("feed"),
        col("file"), col("entry"))
      .select(explode(col("feed.CVE_Items")).as("item"), col("file"), col("entry"))

  /** Zip-direct twin of [[feedAudit]]: (file, entry, corrupt,
    * corrupt_sample, n_items) per archive entry. `from_json` fills the
    * schema's `_corrupt_record` field with the raw input when the
    * document does not parse (PERMISSIVE), so the detection is the
    * same column the file reader uses. */
  def feedAuditZips(spark: SparkSession, path: String): DataFrame =
    spark.read.format("ziptext").load(path)
      .select(
        from_json(col("content"), NvdSchema.feed).as("feed"),
        col("file"), col("entry"))
      .select(
        col("file"), col("entry"),
        col("feed").getField(NvdSchema.corruptRecordCol).isNotNull.as("corrupt"),
        substring(coalesce(col("feed").getField(NvdSchema.corruptRecordCol), lit("")), 1, 200)
          .as("corrupt_sample"),
        coalesce(size(col("feed.CVE_Items")), lit(0)).cast("long").as("n_items"))

  /** Zip-direct variant of `flattenFeed`; keeps (file, entry)
    * provenance columns alongside the 15-column flatten.
    */
  def flattenFeedZips(spark: SparkSession, path: String,
      strictReferenceSemantics: Boolean = true): DataFrame =
    flattenItems(readFeedZips(spark, path), strictReferenceSemantics)
}
