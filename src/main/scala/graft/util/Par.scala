package graft.util

import org.apache.spark.sql.DataFrame

/**
 * Scan-parallelism floor (guide §2.5 "input skew" / §6 input splits).
 *
 * The similarity/dedup operators do their heavy per-row work (signature
 * kernels, BNLJ cosine scoring) in the SCAN stage of their input — before
 * any exchange restores parallelism. A small input that arrives as one or
 * two unsplittable parquet row groups therefore runs that stage on one
 * core, whatever the cluster size: at sf0.1 the 2 000-row embeddings table
 * is a single file, and the brute-force scorer measured 2.99 s single-task
 * vs 0.27 s repartitioned at local[32] (OPTIMIZATION_r06.md).
 *
 * `ensure` floors a *scan-shaped* input's partitioning at the session
 * default parallelism. It is deliberately conservative so it can never
 * hurt at scale:
 *
 *  - only fires when the OPTIMIZED LOGICAL plan is scan-shaped (a
 *    whitelist of narrow operators over leaf relations — inspecting it
 *    runs zero jobs). Plans containing joins/aggregates/windows/explicit
 *    repartitions get their parallelism from their own exchanges, and —
 *    decisive here — merely forcing such a plan's RDD under AQE would
 *    synchronously EXECUTE its shuffle stages at operator-construction
 *    time (AdaptiveSparkPlanExec materializes stages in toRdd), then
 *    recompute them in the real job. A physical-plan Exchange check is
 *    NOT enough: EnsureRequirements inserts the implicit exchanges after
 *    `sparkPlan`, so a groupBy/join input would pass it;
 *  - only fires when the planned partition count is below the session
 *    default parallelism — at 100 TB a corpus scan has orders of magnitude
 *    more splits than cores, so this is a no-op and no repartition
 *    exchange is ever added;
 *  - the added exchange, when it does fire, is a round-robin repartition
 *    of an input that is by construction small (fewer splits than cores).
 */
object Par {

  def ensure(df: DataFrame): DataFrame = ensure(df, Int.MaxValue)

  /** `cap` bounds the floored parallelism — for inputs KNOWN to be tiny
    * (k-means training samples) where full-width repartitioning would buy
    * a few hundred rows per task and pay exchange + scheduling overhead
    * on every downstream pass instead. */
  def ensure(df: DataFrame, cap: Int): DataFrame = {
    val target = math.min(cap.toLong,
      df.sparkSession.sparkContext.defaultParallelism.toLong).toInt
    if (target <= 1) return df
    if (!scanShaped(df.queryExecution.optimizedPlan)) df
    else if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Narrow-operators-over-leaves whitelist: exactly the plans whose RDD
    * can be forced without executing anything (no shuffle stages exist)
    * and whose scan-stage parallelism the floor is meant to fix. */
  private def scanShaped(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias =>
        p.children.forall(scanShaped)
      case _ => false
    }
  }
}
