package graft.pipeline

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's recommended configuration — one place
 * for the scale-sensitive knobs, used by the harness mains and documented
 * for cluster deployment (spark-submit --conf equivalents).
 */
object GraftSession {

  def builder(master: String, cores: Int, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // engine optimizer rules (e.g. FuseJaccardCounts) — the
      // SparkSessionExtensions seam; equivalent spark-submit conf:
      // --conf spark.sql.extensions=graft.plans.GraftExtensions
      .withExtensions(graft.plans.GraftExtensions)
      // shuffle partitions sized to cores in local mode; on a real cluster
      // start at 2-3x total executor cores and let AQE coalesce
      .config("spark.sql.shuffle.partitions", cores)
      // AQE: runtime re-planning — join strategy switches, partition
      // coalescing, and skew-join splitting (north rule)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // ObjectHashAggregate (the topk_ids probe tails) falls back to
      // SORT-based aggregation after this many distinct keys per partition;
      // the default 128 makes every ANN probe (thousands of query groups
      // per partition) sort its scored candidates — including the embedding
      // arrays the cosine/ADC key reads — which is exactly the all-rows
      // sort the aggregate replaces. A top-k buffer holds k entries of
      // 18 B and SimilarityOps caps the aggregate at k ≤ 64, so 4096
      // in-memory groups is ≤ 4096 × 64 × 18 B ≈ 4.7 MB per task;
      // beyond it the graceful sort fallback still applies. NOTE this is
      // session-global, so collect_list aggregates (span-dedup reassembly)
      // also hold up to 4096 in-flight groups — ~4096 × one document of
      // chunk strings per task. Fine at ordinary document sizes (round-6
      // interleaved bisect measured 128 vs 4096 within noise on the
      // collect_list-heaviest op); for corpora of very large documents
      // (≫100 KB) lower it back toward the default.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // Sink-write I/O (interleaved best-of-3 at 10^6 rows, BASELINE.md
      // round-4 flagship-pipeline row): committer v2 renames task files in
      // the tasks instead of serially on the driver at job commit
      // (9.4 → 8.2 s headline), and lz4_raw trades
      // a few % of parquet compression ratio for a faster encode than snappy
      // (→ 7.6 s combined; lz4_raw is the spec-standard LZ4 block encoding —
      // plain "lz4" writes deprecated Hadoop-framed LZ4 that external
      // readers such as older Arrow/DuckDB/Presto cannot decode, so sink
      // files would only be readable by Spark). v2's caveat — a job failed
      // MID-COMMIT can leave
      // partial files visible — is covered here by the engine's idempotent
      // write protocol: every sink writes mode("overwrite") into per-run
      // (or per-batch, with completion markers) directories, so a re-run
      // replaces partial output wholesale. Flip codec to zstd when sink
      // storage cost outweighs write CPU.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.parquet.compression.codec", "lz4_raw")
      // Dictionary encoding OFF (3 interleaved rounds, BASELINE.md round-5
      // dictionary A/B row: dict_on best 7.48 s vs dict_off 6.33 s on the
      // full pipeline, off won every round): the record sinks write
      // near-unique string columns (per-row JSON bodies, token-array JSON)
      // where the page dictionary fills, falls back to plain, and the build
      // work is discarded. Flip back on for workloads writing
      // low-cardinality string columns at volume.
      .config("spark.hadoop.parquet.enable.dictionary", "false")
      // Columnar-cache compression OFF (6 interleaved full-pipeline rounds
      // over a columnar routed cache across two contention epochs: raw won
      // 4/6, best 6.21 s vs 7.39 s): the dominant column of the routed
      // records is the near-random token array, where the columnar
      // encoders spend their time to save almost nothing. No pipeline path
      // persists columnar data any more (batch runs and micro-batches
      // materialise with a localCheckpoint); the setting now serves the
      // operator persists: the IVF `homed` sets, the DedupOps pairs and
      // Bench. Trade-off: a larger in-memory cache — flip back on when
      // cache memory (not build CPU) is the constraint.
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // oracle parity + deterministic goldens
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = builder(s"local[$cores]", cores, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
