package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Monitoring / interactive-mode computations (SURVEY.md §2 A5-A7, O1-O2,
 * P8). The reference renders these in its TUI
 * (src/interactive_mode/interactive.rs); here they are plain DataFrame
 * transforms so any front-end (or test) can consume them.
 */
object Monitor {

  /** P8 — secret masking: last `keep` chars visible, '*' padding
    * (reference: src/interactive_mode/interactive.rs:446-452). */
  def maskSecret(c: Column, keep: Int = 5): Column =
    when(length(c) <= keep, c).otherwise(
      concat(repeat(lit("*"), 8), c.substr(length(c) - lit(keep - 1), lit(keep))))

  /** A6 — progress percent: successful / found, rounded. The reference's
    * formula (:862-867) int-divides first and computes *remaining*, not
    * progress; its verbatim form is the oracle in MonitorSpec. */
  def progressPct(found: Column, successful: Column): Column =
    round(successful * 100.0 / found).cast("int")

  /** A7 — chart scale: max across the stat counters (:623-626). */
  def chartScale(found: Column, successful: Column, retried: Column, error: Column): Column =
    greatest(found, successful, retried, error)

  /** A5 — rolling throughput series: rows/sec per content type over the
    * trailing `windowRows` events ordered by event time (the reference
    * appends (t, logs/sec) samples each second, :883-891). */
  def speedSeries(df: DataFrame, tsCol: String, windowRows: Int = 100): DataFrame = {
    // frame = current row + the windowRows preceding it (windowRows+1 rows
    // when fully warmed — a "trailing window of windowRows events" plus
    // the row being stamped)
    val w = Window.partitionBy("content_type").orderBy(col(tsCol))
      .rowsBetween(-windowRows, 0)
    val ts = to_timestamp(col(tsCol), "yyyy-MM-dd'T'HH:mm:ss")
    df.withColumn("window_rows", count(lit(1)).over(w))
      .withColumn("window_span_sec",
        (ts.cast("long") - min(ts.cast("long")).over(w)))
      .withColumn("rows_per_sec",
        when(col("window_span_sec") > 0,
          round(col("window_rows") / col("window_span_sec"), 2)))
  }

  /** O1 — bounded "last N" view, newest first (ring buffer analog,
    * :132-143). */
  def lastN(df: DataFrame, tsCol: String, n: Int = 1000): DataFrame =
    df.orderBy(col(tsCol).desc).limit(n)

  /** O2 — column window slice for the results table (:729-741). */
  def columnSlice(df: DataFrame, start: Int, width: Int = 10): DataFrame = {
    val cols = df.columns.slice(start, start + width)
    if (cols.isEmpty) df.select() else df.select(cols.map(col): _*)
  }
}
