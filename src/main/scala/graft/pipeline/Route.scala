package graft.pipeline

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/**
 * Routing stage: validate content_type against the five known domains and
 * enrich with OriginFeed. The reference routes into five fixed cache buckets
 * and warns-and-drops unknown types (src/data_structures.rs:40-49, :47);
 * we keep drop-but-observable semantics by splitting into (routed, dropped)
 * instead of silently filtering.
 */
object Route {

  val isKnown: Column = col("content_type").isin(Schemas.ContentTypes: _*)

  /** Enrich: OriginFeed = content type of the source feed
    * (reference: src/collector.rs:185-186). */
  def withOriginFeed(df: DataFrame): DataFrame =
    df.withColumn("OriginFeed", col("content_type"))

  /** Rows routed to a known bucket. */
  def routed(df: DataFrame): DataFrame = withOriginFeed(df.filter(isKnown))

  /** Unknown OR NULL content type. The isNull arm matters: `!isKnown`
    * alone evaluates to NULL for a NULL content_type (e.g. a malformed doc
    * id whose audit fields null-gated), and a NULL predicate excludes the
    * row from BOTH routed() and quarantined() — silent data loss where the
    * contract promises quarantine. */
  val isQuarantined: Column = col("content_type").isNull || !isKnown

  /** Quarantine: rows with unknown OR NULL content types (the reference's
    * warn-and-drop, made observable as a DataFrame). */
  def quarantined(df: DataFrame): DataFrame = df.filter(isQuarantined)

  /**
   * Skew-aware repartition for the write fan-out. content_type is highly
   * skewed (the dominant type is ~50% of rows — FIXTURES.md §2), so
   * repartitioning on content_type alone would put half the data in one
   * task. Salting with pmod(xxhash64(doc_id), saltBuckets) spreads each
   * type over `saltBuckets` tasks while keeping `partitionBy("content_type")`
   * output layout intact (SURVEY.md §2.3 J7 / §4.2 — AQE fixes join skew,
   * not partitionBy write skew; the salt must be explicit).
   */
  def saltedForWrite(df: DataFrame, saltBuckets: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(col("doc_id")), lit(saltBuckets)).cast("int"))
      .repartition(col("content_type"), col("__salt"))
      .drop("__salt")
}
