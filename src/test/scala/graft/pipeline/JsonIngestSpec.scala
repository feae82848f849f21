package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class JsonIngestSpec extends SparkSuite {
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("plan", StringType),
    StructField("n", IntegerType)))

  val rows = Seq(
    (1L, """{"plan":"premium","n":3}"""),
    (2L, """{"plan":"free"}"""),        // valid, key absent → parses, n null
    (3L, """{"plan":"pr"""),            // truncated → poison
    (4L, """not json at all"""),        // poison
    (5L, """{}"""),                     // valid empty object
    (6L, """"""))                       // empty string → poison

  test("parse splits parsed vs quarantined; poison rows never throw (F1)") {
    val df = rows.toDF("id", "payload")
    val (parsed, quarantined) = JsonIngest.parse(df, "payload", schema)
    assert(parsed.select("id").as[Long].collect().sorted === Array(1L, 2L, 5L))
    assert(quarantined.select("id").as[Long].collect().sorted === Array(3L, 4L, 6L))
    // parsed rows expose the schema fields; absent keys are null, not corrupt
    val got = parsed.select("id", "plan", "n").as[(Long, Option[String], Option[Int])]
      .collect().sortBy(_._1)
    assert(got === Array((1L, Some("premium"), Some(3)),
                         (2L, Some("free"), None),
                         (5L, None, None)))
    // quarantine keeps the raw payload for inspection
    assert(quarantined.columns.contains("payload"))
  }

  test("good + quarantined partition the input exactly") {
    val df = rows.toDF("id", "payload")
    val (parsed, quarantined) = JsonIngest.parse(df, "payload", schema)
    assert(parsed.count() + quarantined.count() === df.count())
    val ids = (parsed.select("id").as[Long].collect() ++
      quarantined.select("id").as[Long].collect()).sorted
    assert(ids === (1L to 6L).toArray)
  }

  test("JSON front door composes with the full pipeline: parse -> quarantine -> route") {
    // textual-log deployment shape: each sequence row arrives as a JSON
    // payload line; JsonIngest parses it back in front of the pipeline and
    // poison lines flow to quarantine instead of failing the run
    val n = 2000L
    val seqs = DataGen.sequences(spark, n, 4)
    val payloads = seqs.select(
      to_json(struct(col("doc_id"), col("tokens"), col("n_tok"), col("source")))
        .as("payload"))
      // deterministically corrupt ~5% of lines (truncate)
      .withColumn("payload",
        when(pmod(xxhash64(col("payload")), lit(20)) === 0,
          substring(col("payload"), 1, 10)).otherwise(col("payload")))
    val (parsed, quarantined) = JsonIngest.parse(payloads, "payload", Schemas.sequences)
    val nQuarantined = quarantined.count()
    assert(nQuarantined > 0 && nQuarantined < n / 10)
    assert(parsed.count() + nQuarantined === n)
    // the parsed branch drives the normal pipeline
    val routed = Pipeline.routedRecords(
      parsed.select("doc_id", "tokens", "n_tok", "source"), DataGen.routingRules)
    val expected = Pipeline.routedRecords(seqs, DataGen.routingRules)
      .join(parsed.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(routed.count() === expected.count())
    // token arrays survive the JSON round trip bit-for-bit
    val back = parsed.select("doc_id", "tokens")
    val orig = seqs.join(parsed.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "tokens")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("bounded-retry analog: a poison row fails parse deterministically, not the job") {
    // re-running the parse N times (the reference's 3 retries per URL,
    // src/collector.rs:469-515) yields the identical quarantine set — the
    // row is poison, and the job keeps succeeding around it
    val df = rows.toDF("id", "payload")
    val attempts = (1 to 3).map { _ =>
      JsonIngest.parse(df, "payload", schema)._2.select("id").as[Long].collect().sorted.toSeq
    }
    assert(attempts.distinct.size === 1)
    assert(attempts.head === Seq(3L, 4L, 6L))
  }
}
