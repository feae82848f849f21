package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthetic generator for the tokenized-sequence input table
 * (FIXTURES.md §1). Pure column functions of a seeded id — no wall clock,
 * no RNG state — so golden counts/checksums are stable across runs, JVMs
 * and parallelism levels.
 *
 * At 100 TB scale this generator is a stand-in for an Iceberg table scan:
 * `spark.range(n, numPartitions)` produces a splittable, evenly-partitioned
 * source with no shuffle, exactly like a well-laid-out table scan.
 */
object DataGen {

  val Vocab = 50257 // GPT-2-ish vocab size for token ids

  /** Rows per scale factor, mirroring /root/testdata conventions:
    * sf0.001 → 1e4, sf0.01 → 1e5, sf0.1 → 1e6 (CI stand-in for 1e12). */
  def rowsForSf(sfDir: String): Long = {
    val sf = sfDir.replaceAll(".*sf", "").replaceAll("/+$", "")
    sf match {
      case "0.001" => 10000L
      case "0.01"  => 100000L
      case "0.1"   => 1000000L
      case other   =>
        try math.max(1000L, (other.toDouble * 1e7).toLong)
        catch { case _: NumberFormatException => 100000L }
    }
  }

  /**
   * The `sequences` table: (doc_id string, tokens array<int>, n_tok int,
   * source string). Token arrays are 16..256 elements, values in [0, 50257).
   *
   * numPartitions defaults to spark's default parallelism so the generate
   * stage is embarrassingly parallel (one narrow stage, no shuffle).
   */
  def sequences(spark: SparkSession, n: Long, numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts)
      .withColumn("tokens", graft.functions.GraftFunctions.gen_tokens(col("id"), Vocab))
      .withColumn("doc_id", format_string("doc-%012d", col("id")))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("source",
        element_at(array(lit("wal"), lit("api"), lit("export")),
          (pmod(xxhash64(col("id"), lit(7)), lit(3)) + lit(1)).cast("int")))
      .select("doc_id", "tokens", "n_tok", "source")
  }

  /** HOF reference formulation of the token generator — semantic spec for
    * gen_tokens (DataGenSpec pins bit-equality). */
  def sequencesHof(spark: SparkSession, n: Long, numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    val ids = spark.range(0, n, 1, parts)
    val len = (lit(16) + pmod(xxhash64(col("id")), lit(241))).cast("int")
    ids
      .withColumn("doc_id", format_string("doc-%012d", col("id")))
      .withColumn("tokens",
        transform(sequence(lit(0), len - lit(1)),
          j => pmod(xxhash64(col("id"), j), lit(Vocab)).cast("int")))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("source",
        element_at(array(lit("wal"), lit("api"), lit("export")),
          (pmod(xxhash64(col("id"), lit(7)), lit(3)) + lit(1)).cast("int")))
      .select("doc_id", "tokens", "n_tok", "source")
  }

  /** The routing-rules lookup table (FIXTURES.md §3), mirroring the
    * reference's Release/ConfigExamples/filter.yaml. Tiny (3 rows) —
    * always broadcast. */
  def routingRules: Seq[RoutingRule] = Seq(
    RoutingRule("Audit.General", "Policy", "Spoof"),
    RoutingRule("Audit.AzureActiveDirectory", "operation", "UserLoginFailed"),
    RoutingRule("Audit.SharePoint", "operation", "FileDeleted"))
}
