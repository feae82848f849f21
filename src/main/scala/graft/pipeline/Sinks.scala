package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The six sink shapes (SURVEY.md §2.1 S4-S9, FIXTURES.md §5), each a pure
 * DataFrame → DataFrame transform plus a partitioned Parquet writer. In the
 * reference every sink re-encodes the same routed batch (src/collector.rs:
 * 215-226); here each transform reuses one persisted routed DataFrame and the
 * fan-out is N cheap write actions.
 *
 * The byte-level transports (TCP socket per record, HMAC-signed POST) are
 * out of scope for a table-to-table engine; what is preserved exactly is the
 * per-sink row selection, enrichment and schema — the things the golden
 * counts and routed-row checksums assert.
 */
object Sinks {

  /**
   * CSV file sink, union-schema semantics (reference:
   * src/interfaces/file_interface.rs:123-148): output columns are the union
   * of all record keys, missing values padded with "". The reference's
   * column order is first-seen (nondeterministic); we fix deterministic
   * sorted order (SURVEY.md §2.6 O3) so goldens are stable.
   * Token arrays are serialized to a JSON string column (CSV cannot carry
   * arrays; the JSON round-trips losslessly for the token-equality check).
   */
  def fileCsvShape(df: DataFrame): DataFrame = CsvSink.flatten(df)

  /**
   * Graylog sink shape (reference: src/interfaces/graylog_interface.rs:
   * 82-112): add `timestamp` = CreationTime parsed as `%Y-%m-%dT%H:%M:%S`,
   * re-formatted `%Y-%m-%d %H:%M:%S.%f` truncated to milliseconds; records
   * with missing/unparsable CreationTime are skipped (we drop them; the
   * drop count is observable via Metrics).
   */
  def graylogShape(df: DataFrame): DataFrame = {
    val ts = to_timestamp(col("CreationTime"), "yyyy-MM-dd'T'HH:mm:ss")
    df.withColumn("timestamp", date_format(ts, "yyyy-MM-dd HH:mm:ss.SSS"))
      .filter(col("timestamp").isNotNull)
  }

  /**
   * Fluentd sink shape (reference: src/interfaces/fluentd_interface.rs:
   * 45-64): (tag = tenant, event_time from CreationTime, record payload).
   */
  def fluentdShape(df: DataFrame, tenant: String = "MyTenant"): DataFrame =
    df.select(
      lit(tenant).as("tag"),
      to_timestamp(col("CreationTime"), "yyyy-MM-dd'T'HH:mm:ss").as("event_time"),
      struct(df.columns.map(col): _*).as("record"))

  /**
   * Azure Log Analytics (OMS) sink shape (reference:
   * src/interfaces/azure_oms_interface.rs:56-72): table name =
   * content_type with '.' → '_'; body = the record as one JSON string;
   * records missing CreationTime are skipped (:69-72).
   */
  def logAnalyticsShape(df: DataFrame): DataFrame = {
    // row_json ≡ to_json byte-for-byte on the supported types but codegen'd
    // (to_json is CodegenFallback); fall back for exotic schemas
    val record = struct(df.columns.map(col): _*)
    val body =
      if (graft.functions.RowJsonExpr.supports(
        org.apache.spark.sql.types.StructType(df.schema.fields)))
        graft.functions.GraftFunctions.row_json(record)
      else to_json(record)
    df.filter(col("CreationTime").isNotNull)
      .select(
        translate(col("content_type"), ".", "_").as("log_type"),
        body.as("body"))
  }

  /**
   * PRTG-sensor-shaped aggregate (SURVEY.md §2.4 A8): per-channel counts.
   */
  def prtgShape(df: DataFrame): DataFrame =
    df.groupBy("content_type", "operation").agg(count(lit(1)).as("cnt"))

  /** Interactive sink (reference: src/interfaces/interactive_interface.rs:
    * 24-39): bounded 1000-row view, newest first. */
  def interactiveShape(df: DataFrame): DataFrame =
    df.orderBy(col("CreationTime").desc, col("doc_id")).limit(1000)

  /**
   * Order-insensitive routed-row checksum per sink bucket (SURVEY.md §2.4
   * A9): bit_xor of xxhash64(doc_id, tokens) — commutative, so invariant
   * under partitioning/ordering; covers the token-array-equality invariant
   * because any token mutation changes the hash.
   */
  def routedChecksum(df: DataFrame): DataFrame =
    df.groupBy("content_type")
      .agg(
        count(lit(1)).as("rows"),
        expr("bit_xor(xxhash64(doc_id, tokens))").as("checksum"))

  /** Write one sink as partitioned parquet (salted upstream via
    * Route.saltedForWrite when the partition column is skewed).
    *
    * Page write-checksums are off for sink files only (3 interleaved
    * full-pipeline rounds, off won all three, best 6.70 vs 6.98 s —
    * OPTIMIZATION_r06.md): pure CPU on the write path, and the format
    * treats page CRCs as optional so every reader is unaffected. State
    * commits keep them: every later run reads the dedup state back, so
    * page-level corruption detection is kept where it guards the resume
    * contract. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .option("parquet.page.write-checksum.enabled", "false")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /**
   * Runs the sink writes as CONCURRENT jobs — the reference's interfaces
   * all consume the same batch in parallel (src/collector.rs:215-226);
   * Spark's scheduler interleaves the jobs over the shared cache,
   * overlapping I/O and compute. Returns only once EVERY write has
   * finished, so no sink job is still reading the caller's cached blocks
   * when it releases them. If any write failed, the first failure (in
   * completion order) is rethrown as the original exception, with later
   * failures attached as suppressed.
   */
  def fanOut(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val settled = writes.map(w => Future(try w() catch { case e: Throwable => failures.add(e); () }))
    Await.result(Future.sequence(settled), Duration.Inf)
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
  }
}
