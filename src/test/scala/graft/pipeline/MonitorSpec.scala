package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class MonitorSpec extends SparkSuite {
  import spark.implicits._

  /** The reference's progress formula `((found - successful) / found) * 100`
    * verbatim (src/interactive_mode/interactive.rs:862-867): it INT-divides
    * first (usize division truncates: 0 whenever successful > 0, 100 only
    * at successful = 0) and computes *remaining*, not progress. */
  private def progressPctReference(found: Column, successful: Column): Column =
    (floor((found - successful) / found) * 100).cast("int")

  test("secret masking keeps last 5 chars behind stars") {
    val got = Seq("supersecretvalue", "tiny").toDF("s")
      .select(Monitor.maskSecret(col("s"))).as[String].collect()
    assert(got(0) === "********value")
    assert(got(1) === "tiny")
  }

  test("progress: reference formula int-divides first (bug preserved); corrected computes progress") {
    val df = Seq((200L, 50L), (200L, 0L), (200L, 200L)).toDF("found", "successful")
    val rows = df.select(
      progressPctReference(col("found"), col("successful")),
      Monitor.progressPct(col("found"), col("successful")))
      .as[(Int, Int)].collect()
    // reference: ((found-successful)/found)*100 with usize division —
    // truncates to 0 for any successful > 0, 100 only when successful = 0
    assert(rows(0) === ((0, 25)))
    assert(rows(1) === ((100, 0)))
    assert(rows(2) === ((0, 100)))
  }

  test("chart scale picks the max counter") {
    val got = Seq((10L, 8L, 3L, 99L)).toDF("f", "s", "r", "e")
      .select(Monitor.chartScale(col("f"), col("s"), col("r"), col("e")))
      .as[Long].head()
    assert(got === 99L)
  }

  test("speed series yields positive rolling rates on parsed records") {
    val parsed = Parse.deriveFields(DataGen.sequences(spark, 2000L, 4))
    val speed = Monitor.speedSeries(parsed, "CreationTime", windowRows = 50)
    assert(speed.filter(col("rows_per_sec") < 0).count() === 0)
    assert(speed.filter(col("rows_per_sec").isNotNull).count() > 0)
  }

  test("lastN and columnSlice bound the interactive view") {
    val parsed = Parse.deriveFields(DataGen.sequences(spark, 500L, 2))
    assert(Monitor.lastN(parsed, "CreationTime", 100).count() === 100)
    val sliced = Monitor.columnSlice(parsed, 1, 3)
    assert(sliced.columns.length === 3)
  }
}
