package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * JSON-payload ingest with corrupt-row quarantine (SURVEY.md §2.7 F1,
 * §2.8 ST6).
 *
 * The reference parses each fetched blob as JSON and WARNS-AND-SKIPS
 * unparsable payloads instead of failing the run
 * (src/collector.rs:162-171: `warn!("Skipping unparsable blob {}")`), and
 * bounds retries per URL before giving up (src/collector.rs:469-515). In a
 * deterministic table engine the transport-retry half is Spark task retry
 * (`spark.task.maxFailures`); the POISON-ROW half — a row whose payload can
 * never parse, which must not kill the job and must stay observable — is
 * this split:
 *
 *   `from_json` in PERMISSIVE mode never throws; with a
 *   `columnNameOfCorruptRecord` field in the schema it deposits the raw
 *   payload there for unparsable rows (Spark 4 returns a struct of nulls,
 *   NOT a null struct, for malformed input — `isNull` alone is not a
 *   corrupt detector; only the empty string yields a null struct). One
 *   codegen'd projection thus splits the batch into (parsed, quarantined)
 *   with no UDF and no extra scan. Quarantined rows keep their raw payload
 *   for offline inspection — strictly more observable than the reference's
 *   log line.
 */
object JsonIngest {

  private val CorruptCol = "__corrupt_record"

  private def record(payload: Column, schema: StructType): Column =
    from_json(payload,
      schema.add(CorruptCol, org.apache.spark.sql.types.StringType),
      Map("columnNameOfCorruptRecord" -> CorruptCol))

  /** True iff the payload parses as a JSON object of `schema`. */
  def isParsable(payload: Column, schema: StructType): Column = {
    val rec = record(payload, schema)
    rec.isNotNull && rec.getField(CorruptCol).isNull
  }

  /**
   * Split `df` on payload parsability: parsed rows gain the schema's fields
   * (top-level), quarantined rows keep the original columns + raw payload.
   * Both branches are narrow projections over the same scan; at 100 TB each
   * is its own column-pruned pass (persist upstream if both are consumed).
   */
  def parse(df: DataFrame, payloadCol: String, schema: StructType)
      : (DataFrame, DataFrame) = {
    // ONE from_json per row per branch: the corrupt-record field rides the
    // same struct used for the field projection (parsing twice — once to
    // gate, once to extract — would double the JSON cost of the good path).
    val withRec = df.withColumn("__rec", record(col(payloadCol), schema))
    val ok = col("__rec").isNotNull && col("__rec").getField(CorruptCol).isNull
    val parsed = withRec.filter(ok)
      .select(df.columns.map(col) :+ col("__rec.*"): _*)
      .drop(CorruptCol)
    val quarantined = withRec.filter(!ok).drop("__rec")
    (parsed, quarantined)
  }
}
