package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Physical-plan hygiene: the properties that make the pipeline survive a
  * 100x scale-up — pushdown into the scan, column pruning, broadcast of
  * dimension tables, no unnecessary shuffles. */
class PlanSpec extends SparkSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  val sf = "/root/testdata/sf0.01"

  test("filters are pushed down into the parquet scan") {
    val plan = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40.0)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)"),
      s"plan:\n$plan")
  }

  test("column pruning reaches the scan (ReadSchema only has used columns)") {
    val plan = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_returnflag:string>"), s"plan:\n$plan")
  }

  test("rules-style small join broadcasts; big sides never shuffle for it") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val n = spark.read.parquet(s"$sf/nation.parquet")
    val plan = c.join(n, c("c_nationkey") === n("n_nationkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
  }

  test("pipeline compute plan: static filter folds into scan stage, no shuffle before agg") {
    val routed = Pipeline.routedRecords(
      DataGen.sequences(spark, 1000L, 4), DataGen.routingRules)
    val agg = routed.groupBy("content_type").count()
    val plan = agg.queryExecution.executedPlan.toString
    // exactly one exchange: the final aggregation shuffle (partial agg first)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"map-side partial aggregation expected:\n$plan")
    // no join anywhere — rules are constant-folded into the filter
    assert(!plan.contains("Join"), s"plan:\n$plan")
  }

  test("dedup anti-join uses broadcast while state is small") {
    val out = tmpDir("plan_state")
    val st = new StateStore(s"$out/state")
    import spark.implicits._
    st.commit(spark, Seq("doc-1", "doc-2").toDF("doc_id"), "doc_id",
      Parse.BaseEpoch + 9999, Parse.BaseEpoch)
    val fresh = StateStore.dedup(DataGen.sequences(spark, 1000L, 4),
      st.load(spark, Parse.BaseEpoch))
    val plan = fresh.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"plan:\n$plan")
  }

  test("dedup build side: no Exchange and no HashAggregate under the BroadcastExchange") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val out = tmpDir("plan_state_build")
    val st = new StateStore(s"$out/state")
    import spark.implicits._
    st.commit(spark, Seq("doc-1", "doc-2").toDF("doc_id"), "doc_id",
      Parse.BaseEpoch + 9999, Parse.BaseEpoch)
    st.commit(spark, Seq("doc-2", "doc-3").toDF("doc_id"), "doc_id",
      Parse.BaseEpoch + 9999, Parse.BaseEpoch)
    val plan = StateStore.dedup(DataGen.sequences(spark, 1000L, 4), st.load(spark, Parse.BaseEpoch))
      .queryExecution.executedPlan
    val builds = collect(plan) { case b: BroadcastExchangeLike => b }
    assert(builds.nonEmpty, s"no broadcast build side:\n$plan")
    val under = builds.flatMap(_.collect {
      case e: ShuffleExchangeLike => e
      case a: BaseAggregateExec => a
    })
    assert(under.isEmpty, s"build side aggregates or shuffles:\n$plan")
  }

  test("minhash LSH: signatures computed before the band-bucket exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ops.DedupOps.minhashNearDups(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the candidate join is keyed on (band, band_hash) — never on raw text;
    // Catalyst may broadcast at this tiny size (shuffled join at scale)
    assert(plan.matches("(?s).*Join \\[band#\\d+, band_hash#\\d+L?\\].*"),
      s"plan:\n$plan")
  }

  /** Collect the shuffle exchanges whose payload includes `keyName`, with
    * the shuffled-join path forced (what a 100 TB corpus would take) so the
    * exchange payload is observable at tiny test sizes; AQE off so
    * executedPlan is the concrete plan (AdaptiveSparkPlanExec hides its
    * inner tree from TreeNode.collect; the plan is forced INSIDE the try —
    * it is lazy). */
  private def exchangesCarrying(df: => org.apache.spark.sql.DataFrame,
                                keyName: String) = {
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.child.output.exists(_.name == keyName) => e
      }
    finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      // restore, don't hard-set: a suite-level AQE choice must survive
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None    => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }

  /** Every exchange carrying `keyName` must ship a row of scalars — the
    * shingle/signature/embedding arrays may only cross the per-surviving-
    * pair fetch joins, never ride the (much larger) bucket exchange. */
  private def assertArrayFree(
      exchanges: Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike],
      what: String): Unit = {
    assert(exchanges.nonEmpty, s"expected a shuffled $what exchange")
    val offenders = exchanges.flatMap(_.child.output.filter(a =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"$what exchange ships arrays: ${offenders.map(_.name).mkString(", ")}")
  }

  test("minhash LSH band exchange carries no array column (ids-only candidate join)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bandExchanges = exchangesCarrying(
      graft.ops.DedupOps.minhashNearDups(docs, "doc_id", "text"), "band_hash")
    assertArrayFree(bandExchanges, "band-bucket")
    // and the banding scan itself must not compute shingles (column pruned)
    val bandSideHasShingles = bandExchanges.exists(
      _.child.toString.contains("shingle_hashes"))
    assert(!bandSideHasShingles, "banding branch must not materialize shingles")
  }

  test("ANN lshTopK (tbl,sig) exchange carries no embedding arrays") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val sigExchanges = exchangesCarrying(
      graft.ops.SimilarityOps.lshTopK(emb, "vec_id", "embedding",
        k = 1, bits = 6, tables = 4), "sig")
    assertArrayFree(sigExchanges, "LSH table-signature")
    // the signature branch must not re-read the embedding column
    assert(!sigExchanges.exists(_.child.toString.contains("qv")),
      "signature branch must not carry vectors")
    // the rank tail is the map-side-combining topk_ids aggregate (round 6):
    // scored pairs never ride an exchange at all — each map task collapses
    // its groups to ≤ k ids before the shuffle — and the per-partition
    // window sort is gone
    val plan = graft.ops.SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      k = 1, bits = 6, tables = 4).queryExecution.executedPlan.toString
    assert(plan.contains("topk_ids"),
      s"rank tail must be the topk_ids aggregate:\n$plan")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window ["),
      s"rank window leaked back into the plan:\n$plan")
  }

  test("embeddingNearDups bucket exchange carries no embedding arrays") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val sigExchanges = exchangesCarrying(
      graft.ops.SimilarityOps.embeddingNearDups(emb, "vec_id", "embedding",
        minCosine = 0.99, bits = 8), "sig")
    assertArrayFree(sigExchanges, "near-dup bucket")
  }
}
