package graft.nvd

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's primary store for the flattened CVE table: Parquet,
  * partitioned by publish year (SURVEY §4 — the layout equivalent of
  * the reference's `dates` index on `published_datetime`:
  * date-range queries prune whole partition directories, and point
  * lookups on `cve_id` are served by parquet min/max + dictionary
  * filters within each year file).
  *
  * Every write leaves each year it touches as ONE parquet file sorted
  * by `cve_id`, so a point lookup opens one file per year and parquet
  * min/max on `cve_id` stays tight per row group. The price is write
  * parallelism: at most one task per touched year (~25 years at real
  * NVD scale, the largest ~40k CVEs). The upsert path rewrites only
  * the years present in the incoming batch, never the whole table —
  * the Spark-native equivalent of keyed REPLACE (reference K1).
  */
object NvdStore {

  val yearCol = "publish_year"

  /** Filesystem-agnostic existence check (local, HDFS, S3A...) — a
    * bare java.io.File only understands local paths. */
  private[nvd] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // Missing dates flatten to "" (not null), and an empty partition
  // value writes as __HIVE_DEFAULT_PARTITION__ — which the per-year
  // swap loop would never find, silently dropping those rows. Bucket
  // anything that isn't a 4-char year prefix into "1900" (no leading
  // zero: partition values round-trip through Spark's int-typed
  // partition inference, "0000" would come back as "0").
  private def withYear(df: DataFrame): DataFrame =
    df.withColumn(yearCol,
      when(length(coalesce(col("published_datetime"), lit(""))) >= 4,
        substring(col("published_datetime"), 1, 4))
        .otherwise(lit("1900")))

  // Each year in one task, sorted by (year, cve_id): the writer's required
  // ordering on the partition column is a prefix, so Spark adds no sort.
  private def writeByYear(df: DataFrame, path: String): Unit =
    df.repartition(col(yearCol)).sortWithinPartitions(col(yearCol), col("cve_id"))
      .write.mode(SaveMode.Overwrite).partitionBy(yearCol).parquet(path)

  /** Upsert a deduped batch: merge with existing rows for the touched
    * years only, last write (the batch) wins, rewrite just those
    * partitions.
    *
    * The merged frame READS the store, so it is never written over the
    * store directly (Spark stages dynamic-overwrite output, but a failure
    * between partition delete and rename — or a stage retry re-scanning
    * the source after commit started — would corrupt or double-read the
    * table). Instead: write touched years to a staging dir (the only
    * data pass), then swap each `publish_year=Y` directory in with
    * filesystem renames — metadata-only, no second copy, works the same
    * on HDFS/S3A-with-committer as on local disk.
    */
  def upsert(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val withY = withYear(batch).cache()
    try {
      val batchYears = withY.select(yearCol).distinct().collect().map(_.getString(0))
      // an empty batch (no years) must not CREATE the store: partitionBy
      // of zero rows writes a _SUCCESS-only dir that every later read of
      // the "existing" store fails on (no parquet schema to infer)
      if (batchYears.isEmpty) return
      if (!pathExists(spark, path)) writeByYear(withY, path) else {
        // one listing + schema inference shared by both uses below
        val stored = spark.read.parquet(path)
        // A CVE can MOVE years (publish date corrected upstream): its
        // old row lives in a partition the batch doesn't touch. Find
        // those via a column-pruned (cve_id, year) scan and include
        // their years in the rewrite set, or the store would keep two
        // rows per corrected cve_id — the reference's keyed REPLACE
        // never does.
        val movedYears = stored
          .select(col("cve_id"), col(yearCol).cast("string").as(yearCol))
          .join(withY.select("cve_id"), Seq("cve_id"), "left_semi")
          .select(yearCol).distinct().collect().map(_.getString(0))
        val years = (batchYears ++ movedYears).distinct
        val existing = stored
          .filter(col(yearCol).isin(years.toIndexedSeq: _*))
          // incoming batch wins over stored rows for the same cve_id
          .join(withY.select("cve_id"), Seq("cve_id"), "left_anti")
        val merged = existing.unionByName(withY)

        val hPath = new org.apache.hadoop.fs.Path(path)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val staging = new org.apache.hadoop.fs.Path(
          path + ".staging-" + java.util.UUID.randomUUID())
        writeByYear(merged, staging.toString)
        try {
          years.foreach { y =>
            val src = new org.apache.hadoop.fs.Path(staging, s"$yearCol=$y")
            val dst = new org.apache.hadoop.fs.Path(hPath, s"$yearCol=$y")
            if (fs.exists(src)) {
              // crash-safe swap: the old partition is moved aside, not
              // deleted, until the new one is in place
              graft.operators.SwapDir.swap(fs, src, dst)
            } else if (fs.exists(dst)) {
              // the rewrite of this year produced no rows (e.g. its
              // only CVEs moved to another year) — the stale dir goes
              fs.delete(dst, true)
            }
          }
        } finally fs.delete(staging, true)
      }
    } finally withY.unpersist()
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    // restore any partition whose swap was interrupted mid-rename
    val hPath = new org.apache.hadoop.fs.Path(path)
    graft.operators.SwapDir.healAll(
      hPath.getFileSystem(spark.sparkContext.hadoopConfiguration), hPath, maxDepth = 1)
    spark.read.parquet(path)
  }

  /** The reference's one read query (A1): COUNT(DISTINCT cve_id). */
  def cveTally(df: DataFrame): Long =
    df.agg(countDistinct(col("cve_id"))).first().getLong(0)
}
