package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.pipeline.GraftSession
import graft.util.Scratch

/**
 * The collection-run benchmark.
 *
 * {{{
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 * }}}
 *
 * One process, one `local[nproc/2]` session. Set-up writes the seeded input
 * and the state template, computes the expected outputs, and warms the JIT
 * with full-size operations. The run then repeats operations for `seconds`,
 * each in a fresh directory holding a fresh copy of the template, and checks
 * every operation's outputs. `--trace 0` reports the end-to-end metrics;
 * `--trace 1` alternates a listener-observed operation with a serial replay
 * of its layers and reports the per-layer metrics. The last line of standard
 * output is one JSON object; the exit code is 1 when an operation failed.
 */
object Main {
  val setupReps = 3

  final case class Args(workload: Workload, seed: BigInt, seconds: Int, trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload.byName(need("workload")).getOrElse(throw new IllegalArgumentException(
      s"unknown workload ${need("workload")}; known: ${Workload.all.map(_.name).mkString(", ")}"))
    val seed = BigInt(need("seed"))
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Args(w, seed, seconds, trace, Paths.get(need("work")).toAbsolutePath)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  final case class Metric(name: String, value: Double, unit: String, samples: Int)

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: Exception => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val code = try run(a) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: failed: $e"); e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    Scratch.deleteRecursively(a.work)
    Files.createDirectories(a.work)
    // input, one set-up copy per repetition and one operation's outputs,
    // with room to spare
    Scratch.requireFreeSpace(2L << 30, a.work.toString)
    // Half the cores run tasks; the rest stay free for the JIT compiler, the
    // GC and the driver thread. With every core running tasks, the compiler
    // threads competed with them while a JVM warmed up, and whole runs
    // settled 30-50% apart (see README.md, "Measured spread").
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores, "perfbench")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try measure(spark, a, cores, sessionS)
    finally { spark.stop(); Scratch.deleteRecursively(a.work) }
  }

  private def measure(spark: SparkSession, a: Args, cores: Int, sessionS: Double): Int = {
    val w = a.workload
    val tag = s"${w.name} seed=${a.seed}"
    val probe = new Probe(spark.sparkContext)
    val batches = new BatchProbe
    spark.streams.addListener(batches)
    println(s"perfbench $tag trace=${if (a.trace) 1 else 0} rows=${w.rows} files=${w.files} " +
      s"known=${w.knownTenths}/10 maxFilesPerTrigger=${w.maxFilesPerTrigger} cores=$cores")

    // set-up, repeated: input generation and the state template
    val setupTimes = (0 until setupReps).map { r =>
      val dir = a.work.resolve(s"setup-$r")
      val t = System.nanoTime()
      Collection.prepare(spark, w, a.seed, dir)
      val s = (System.nanoTime() - t) / 1e9
      if (r < setupReps - 1) Scratch.deleteRecursively(dir)
      s
    }
    val prep = Prepared(a.work.resolve(s"setup-${setupReps - 1}"))
    val te = System.nanoTime()
    val exp = Collection.expected(spark, w, prep)
    println(f"perfbench $tag expected ${exp.stats} (${(System.nanoTime() - te) / 1e9}%.2f s)")

    var ops = 0
    var failed = 0
    var n = 0
    def nextDir(): Path = { n += 1; a.work.resolve(s"op-$n") }
    def checked(ok: Boolean, detail: => String): Unit = {
      ops += 1
      if (!ok) { failed += 1; println(s"perfbench $tag op $n FAILED: $detail") }
    }
    def untraced(): Option[OpResult] = {
      val dir = nextDir()
      Collection.stage(prep, dir)
      try {
        val r = Collection.run(spark, w, prep, exp, dir, probe)
        checked(r.ok, r.detail)
        println(f"perfbench $tag op $n ${r.wallS}%.3f s")
        Some(r)
      } catch { case e: Exception => checked(ok = false, e.toString); None }
      finally Scratch.deleteRecursively(dir)
    }

    val tw = System.nanoTime()
    (0 until w.warmups).foreach(_ => untraced())
    val warmupS = (System.nanoTime() - tw) / 1e9

    val metrics =
      if (!a.trace) endToEnd(a, exp, setupTimes, untraced)
      else perLayer(spark, a, prep, exp, probe, batches, untraced, nextDir, checked)

    println(f"perfbench $tag setup.session_s = $sessionS%.4f s (once)")
    println(f"perfbench $tag setup.warmup_s = $warmupS%.4f s (${w.warmups} operations)")
    metrics.foreach(m =>
      println(s"perfbench $tag metric ${m.name} = ${m.value} ${m.unit} (samples=${m.samples})"))
    println(s"perfbench $tag ops_failed = $failed of $ops attempted")
    val body = metrics.map(m =>
      s""""${m.name}": {"value": ${json(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $ops, "failed": $failed, "metrics": {$body}}""")
    if (failed == 0) 0 else 1
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def endToEnd(a: Args, exp: Expected, setupTimes: Seq[Double],
                       untraced: () => Option[OpResult]): Seq[Metric] = {
    val w = a.workload
    val results = mutable.ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    while (results.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds)
      untraced() match {
        case Some(r) => results += r
        case None if (System.nanoTime() - t0) / 1e9 >= a.seconds =>
          throw new IllegalStateException("no operation succeeded")
        case None => ()
      }
    val k = results.size
    val p50 = median(results.map(_.wallS).toSeq)
    val routed = exp.stats.rowsRouted.toDouble
    Seq(
      Metric("setup_s", median(setupTimes), "s", setupTimes.size),
      Metric("run_s.p50", p50, "s", k),
      Metric("input_rows_per_s", w.rows / p50, "1/s", k),
      Metric("routed_rows_per_s", routed / p50, "1/s", k),
      Metric("sink_bytes_per_routed_row", median(results.map(_.sinkBytes / routed).toSeq), "B", k),
      Metric("state_bytes_per_committed_row",
        median(results.map(_.stateBytes.toDouble / exp.freshRows).toSeq), "B", k),
      Metric("cache_peak_mb", median(results.map(_.cachePeakMb).toSeq), "MB", k))
  }

  /** Per-layer metric names and units, in the order they are printed: the
    * layers every workload runs, then those only a streaming drain runs. */
  val recordSinks = Seq("file_csv", "graylog", "fluentd", "log_analytics", "prtg",
    "checksums", "quarantine", "metrics")
  private def sinkMetrics(s: String) =
    Seq(s"sink.$s.s" -> "s", s"sink.$s.mb" -> "MB", s"sink.$s.files" -> "count")
  val layerMetrics: Seq[(String, String)] =
    Seq("scan.s" -> "s", "scan.rows" -> "count", "scan.mb" -> "MB",
      "dedup.s" -> "s", "dedup.state_rows" -> "count", "dedup.rows_out" -> "count",
      "dedup.keep_ratio" -> "ratio", "dedup.shuffle_mb" -> "MB", "dedup.jobs" -> "count",
      "transform.s" -> "s", "transform.rows_in" -> "count",
      "transform.rows_routed" -> "count", "transform.route_ratio" -> "ratio",
      "cache.s" -> "s", "cache.mb" -> "MB") ++
    recordSinks.flatMap(sinkMetrics) ++
    Seq("commit.s" -> "s", "commit.rows" -> "count", "commit.mb" -> "MB",
      "commit.files" -> "count", "stats.s" -> "s", "stats.jobs" -> "count",
      "run.jobs" -> "count", "run.tasks" -> "count", "run.task_s" -> "s",
      "run.shuffle_mb" -> "MB", "run.spill_mb" -> "MB", "run.gc_s" -> "s",
      "trace.total_s" -> "s", "trace.untraced_s" -> "s", "trace.gap_s" -> "s")
  val streamLayerMetrics: Seq[(String, String)] =
    sinkMetrics("routed_batches") ++
    Seq("batch.count" -> "count", "batch.s.p50" -> "s", "batch.add_s" -> "s",
      "batch.wal_s" -> "s", "batch.rows" -> "count")

  private def perLayer(spark: SparkSession, a: Args, prep: Prepared, exp: Expected,
                       probe: Probe, batches: BatchProbe,
                       untraced: () => Option[OpResult], nextDir: () => Path,
                       checked: (Boolean, => String) => Unit): Seq[Metric] = {
    val w = a.workload
    /** Replays one operation in a fresh directory; returns its values. */
    def replayOnce(): mutable.Map[String, Double] = {
      val dir = nextDir()
      Collection.stage(prep, dir)
      val replay = new Replay(spark, probe)
      try {
        probe.beginOp()
        val (ok, detail) =
          if (w.streaming) {
            val routed = replay.streamRun(prep.input, w.maxFilesPerTrigger, dir)
            (routed == exp.stats.rowsRouted, s"replay routed $routed, expected ${exp.stats.rowsRouted}")
          } else {
            val sums = replay.batchRun(prep.input, dir)
            (sums == exp.checksums, s"replay checksums $sums, expected ${exp.checksums}")
          }
        checked(ok, detail)
      } finally Scratch.deleteRecursively(dir)
      replay.values
    }

    // the replay's drains are plans no operation runs: warm them up too
    replayOnce()
    val iters = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    while (iters.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      batches.take()
      val real = untraced().getOrElse(throw new IllegalStateException("operation failed"))
      val progress = batches.take().filter(_.numInputRows > 0)
      def ms(key: String) = progress.map(p =>
        Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L) / 1000.0)

      val v = replayOnce()
      val c = real.counters
      v("dedup.keep_ratio") = v("dedup.rows_out") / math.max(1.0, v("scan.rows"))
      v("transform.route_ratio") = v("transform.rows_routed") / math.max(1.0, v("transform.rows_in"))
      v("batch.count") = progress.size.toDouble
      v("batch.s.p50") = if (progress.isEmpty) 0.0 else median(ms("triggerExecution"))
      v("batch.add_s") = ms("addBatch").sum
      v("batch.wal_s") = ms("walCommit").sum
      v("batch.rows") = progress.map(_.numInputRows.toDouble).sum
      v("run.jobs") = c.jobs.toDouble
      v("run.tasks") = c.tasks.toDouble
      v("run.task_s") = c.taskMs / 1000.0
      v("run.shuffle_mb") = c.shuffleBytes / Probe.MB
      v("run.spill_mb") = c.spillBytes / Probe.MB
      v("run.gc_s") = c.gcMs / 1000.0
      v("trace.untraced_s") = real.wallS
      v("trace.gap_s") = v("trace.total_s") - real.wallS
      iters += v.toMap
    }
    (layerMetrics ++ (if (w.streaming) streamLayerMetrics else Nil)).map { case (name, unit) =>
      Metric(name, median(iters.map(_.getOrElse(name, 0.0)).toSeq), unit, iters.size)
    }
  }
}
