package graft.pipeline

import org.apache.spark.sql.types._

/**
 * Schemas for the Spark-native rebuild of the reference log pipeline
 * (ddbnl/office365-audit-log-collector — see /root/repo/SURVEY.md).
 *
 * The primary input is a table of pre-tokenized training sequences
 * (BASELINE.json `input_hint`):
 *   sequences(doc_id string, tokens array<int>, n_tok int, source string)
 *
 * The parse stage derives the audit-record fields the reference routes and
 * filters on (reference: src/collector.rs:174-192, src/data_structures.rs:40-49).
 */
object Schemas {

  /** The five content-type domains — the engine's only "table catalog".
    * Reference: src/data_structures.rs:40-49, src/config.rs:149-182. */
  val ContentTypes: Seq[String] = Seq(
    "Audit.General",
    "Audit.AzureActiveDirectory",
    "Audit.Exchange",
    "Audit.SharePoint",
    "DLP.All")

  /** Workload vocabulary for the derived `workload` field. */
  val Workloads: Seq[String] = Seq(
    "Exchange", "SharePoint", "OneDrive", "AzureActiveDirectory",
    "MicrosoftTeams", "SecurityComplianceCenter")

  /** Operation vocabulary — includes UserLoginFailed / FileDeleted so the
    * reference's filter.yaml-shaped rules select non-empty, non-total
    * subsets (reference: Release/ConfigExamples/filter.yaml). */
  val Operations: Seq[String] = Seq(
    "UserLoginFailed", "FileDeleted", "FileAccessed", "FileModified",
    "UserLoggedIn", "MailItemsAccessed", "SendAs", "FileUploaded",
    "PageViewed", "SharingSet", "AddUser", "RemoveUser")

  /** Raw input schema (BASELINE.json input_hint). */
  val sequences: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Routing/filter rules lookup — mirrors FilterSubConfig
    * (reference: src/config.rs:184-218). */
  val routingRules: StructType = StructType(Seq(
    StructField("content_type", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Known-content dedup state — mirrors the known_blobs line file
    * (reference: src/config.rs:58-119). Extended with commit lineage per
    * the north rule (per-partition progress + lineage metadata). */
  val knownContent: StructType = StructType(Seq(
    StructField("content_id", StringType, nullable = false),
    StructField("expiration", TimestampType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false),
    StructField("snapshot_id", IntegerType, nullable = false)))

  /** Per-partition run metrics — mirrors RunStatistics
    * (reference: src/data_structures.rs:144-150). */
  val metrics: StructType = StructType(Seq(
    StructField("stage", StringType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false)))
}

/** One routing/filter rule: for records of `content_type`, a record that HAS
  * key `key` must have value `value` to pass; records missing the key pass
  * (reference: src/collector.rs:176-184 — the absent-key-passes rule). */
case class RoutingRule(content_type: String, key: String, value: String)
