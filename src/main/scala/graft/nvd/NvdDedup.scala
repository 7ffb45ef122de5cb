package graft.nvd

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-write-wins dedup (SURVEY W1) — the set-based replacement for
  * the reference's row-at-a-time REPLACE INTO: for each `cve_id`, keep
  * the row from the latest-ranked feed, tie-broken by
  * `last_modified_datetime` (nvd2mysqlloader.py:449-464 + feed order
  * :154-158).
  *
  * One shuffle on `cve_id`; the window is rank-1-only so Spark plans a
  * `WindowGroupLimit` (running top-1 per key, no full partition
  * buffering) before the final filter.
  */
object NvdDedup {

  /** df must carry `cve_id` and `feed_rank`; later rank wins; one row per `cve_id`. */
  def lastWriteWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cve_id"))
      .orderBy(col("feed_rank").desc, col("last_modified_datetime").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
