package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Run-plan window splitting (reference: Config::get_needed_runs,
 * src/config.rs:29-56): split an `hoursToCollect` look-back (hard max 168 h,
 * enforced by panic in the reference) into <=24 h (start, end] windows per
 * content type, newest window last. The plan is a tiny driver-built
 * DataFrame — in the full pipeline it prunes the input scan by a window
 * column (partition pruning at the 10^12 scale).
 */
object Windows {

  val MaxHours = 168

  /** Pure Scala plan (driver side, like the reference). */
  def plan(endEpochSec: Long, hoursToCollect: Int): Seq[(Long, Long)] = {
    require(hoursToCollect >= 1 && hoursToCollect <= MaxHours,
      s"hoursToCollect must be in [1, $MaxHours] (reference panics beyond 168h)")
    val start = endEpochSec - hoursToCollect * 3600L
    // windows of <=24h: [start, start+24h), ..., last ends exactly at end
    Iterator.iterate(start)(_ + 24 * 3600L)
      .takeWhile(_ < endEpochSec)
      .map(s => (s, math.min(s + 24 * 3600L, endEpochSec)))
      .toSeq
  }

  /** Same plan as a DataFrame of (content_type, window_start, window_end) —
    * built with explode(sequence(...)) so it is expressible as a query. */
  def planDf(spark: SparkSession, contentTypes: Seq[String],
             endEpochSec: Long, hoursToCollect: Int): DataFrame = {
    require(hoursToCollect >= 1 && hoursToCollect <= MaxHours)
    val start = endEpochSec - hoursToCollect * 3600L
    import spark.implicits._
    contentTypes.toDF("content_type")
      .withColumn("window_start",
        explode(sequence(lit(start), lit(endEpochSec - 1), lit(24 * 3600L))))
      .withColumn("window_end",
        least(col("window_start") + lit(24 * 3600L), lit(endEpochSec)))
      .select(col("content_type"),
        timestamp_seconds(col("window_start")).as("window_start"),
        timestamp_seconds(col("window_end")).as("window_end"))
  }

  /** Write a table partitioned by its 24h window date — the layout that
    * makes run-plan scans prune at the source (SURVEY.md §4.2: partition
    * pruning replaces the reference's per-window URL construction). */
  def writePartitionedByWindow(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("window_date",
      date_format(to_timestamp(col(tsCol), "yyyy-MM-dd'T'HH:mm:ss"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("window_date").parquet(path)

  /** Read back only the records in [startEpochSec, endEpochSec). Two-level
    * filter: a DAY-granular partition filter prunes non-matching window
    * directories at planning time (asserted in PlanSpec), then a
    * record-level filter on `tsCol` enforces the exact bounds — without it,
    * a non-midnight start leaked earlier same-day rows and a non-midnight
    * end dropped the final partial day entirely. The partition filter's end
    * date is INCLUSIVE so that partial last day survives pruning. */
  def readWindow(spark: SparkSession, path: String,
                 startEpochSec: Long, endEpochSec: Long,
                 tsCol: String = "CreationTime"): DataFrame = {
    val ts = to_timestamp(col(tsCol), "yyyy-MM-dd'T'HH:mm:ss")
    spark.read.parquet(path)
      .filter(col("window_date") >=
        date_format(timestamp_seconds(lit(startEpochSec)), "yyyy-MM-dd") &&
        col("window_date") <=
        date_format(timestamp_seconds(lit(endEpochSec - 1)), "yyyy-MM-dd"))
      .filter(ts >= timestamp_seconds(lit(startEpochSec)) &&
              ts < timestamp_seconds(lit(endEpochSec)))
  }
}
