package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** HLL estimate sanity (SURVEY §2.4 A8) — no cross-engine oracle exists for
  * sketches, so pin the estimate against the exact count. */
class ApproxSpec extends SparkSuite {
  import spark.implicits._

  test("approx_count_distinct within 5% of exact per group") {
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    val both = ev.groupBy("event_type").agg(
      count_distinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx"))
      .as[(String, Long, Long)].collect()
    assert(both.nonEmpty)
    for ((et, exact, approx) <- both) {
      val err = math.abs(approx - exact).toDouble / exact
      assert(err < 0.05, s"$et: approx $approx vs exact $exact (err $err)")
    }
  }
}
