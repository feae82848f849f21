package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline._

/** Dev tool: per-stage wall times of the flagship pipeline at a given row
  * count — identifies which sink dominates. Not part of the harness. */
object PipelineProfile {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // GraftSession: profile under the SAME session configuration the bench
    // runs (codec, dictionary, committer, AQE) — a raw session profiles a
    // different write path
    val spark = GraftSession.builder(s"local[$cpus]", cpus, "pipeline-profile")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // output dirs live only for the run — profiling litter filled the disk
    // in round 3 (see graft.util.Scratch)
    try graft.util.Scratch.withTempDir("prof")(profile(spark, n, cpus, _))
    finally spark.stop()
  }

  private def profile(spark: SparkSession, n: Long, cpus: Int, outDir: String): Unit = {
    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    val seqs = DataGen.sequences(spark, n, cpus * 2)
    // localCheckpoint — the one materialization Pipeline.run uses
    val filtered = FilterStage.applyStatic(Parse.deriveFields(seqs), DataGen.routingRules)
      .localCheckpoint(eager = false)
    time("materialize cache")(filtered.count())
    val routed = Route.routed(filtered)
    val salted = time("salt shuffle plan")(Route.saltedForWrite(routed, 8))
    time("csv shape write")(Sinks.write(Sinks.fileCsvShape(salted), s"$outDir/file_csv", Seq("content_type")))
    time("graylog write")(Sinks.write(Sinks.graylogShape(routed), s"$outDir/graylog"))
    time("fluentd write")(Sinks.write(Sinks.fluentdShape(routed), s"$outDir/fluentd"))
    time("log_analytics write")(Sinks.write(Sinks.logAnalyticsShape(routed), s"$outDir/log_analytics", Seq("log_type")))
    time("prtg write")(Sinks.write(Sinks.prtgShape(routed), s"$outDir/prtg"))
    time("checksum write")(Sinks.write(Sinks.routedChecksum(routed), s"$outDir/checksums"))
    time("quarantine write")(Sinks.write(Route.quarantined(filtered), s"$outDir/quarantine"))
    val st = new StateStore(s"$outDir/state")
    time("state commit")(st.commit(spark, seqs.select("doc_id"), "doc_id", 1L << 40, 1L << 30))
    filtered.unpersist()
    graft.util.Scratch.withTempDir("prof2") { outDir2 =>
      time("Pipeline.run e2e")(Pipeline.run(spark, DataGen.sequences(spark, n, cpus * 2), outDir2))
    }
    ()
  }
}
