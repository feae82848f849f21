package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

class StateStoreSpec extends SparkSuite {
  import spark.implicits._

  val now = Parse.BaseEpoch
  val future = now + 3600
  val past = now - 3600

  test("empty store loads an empty state with the right schema") {
    val st = new StateStore(tmpDir("st"))
    val df = st.load(spark, now)
    assert(df.count() === 0)
    assert(df.schema === Schemas.knownContent)
  }

  test("commit + load round-trips; expired entries dropped at load (S10)") {
    val st = new StateStore(tmpDir("st"))
    val ids = Seq("a", "b", "c").toDF("doc_id")
    st.commit(spark, ids, "doc_id", expirationEpochSec = future, commitEpochSec = now)
    assert(st.load(spark, now).count() === 3)
    // as of a time past expiration, all entries are expired → dropped
    assert(st.load(spark, future + 1).count() === 0)
  }

  test("snapshots are append-only deltas; pointer advances atomically") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a").toDF("doc_id"), "doc_id", future, now)
    st.commit(spark, Seq("b", "c").toDF("doc_id"), "doc_id", future, now)
    assert(st.currentSnapshot === Some(1))
    assert(st.load(spark, now).select("content_id").as[String].collect().sorted
      === Array("a", "b", "c"))
  }

  test("compact folds deltas into one snapshot, preserving content") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a").toDF("doc_id"), "doc_id", future, now)
    st.commit(spark, Seq("b").toDF("doc_id"), "doc_id", future, now)
    st.compact(spark)
    assert(st.currentSnapshot === Some(2))
    assert(st.load(spark, now).select("content_id").as[String].collect().sorted
      === Array("a", "b"))
    // old delta dirs are gone
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(st.dir, "snapshot-0")))
  }

  test("dedup is a left-anti join on the id") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a", "b").toDF("doc_id"), "doc_id", future, now)
    val incoming = Seq("a", "b", "c", "d").toDF("doc_id")
    val fresh = StateStore.dedup(incoming, st.load(spark, now))
    assert(fresh.as[String].collect().sorted === Array("c", "d"))
  }

  test("dedup: an id committed by two deltas removes exactly its incoming rows") {
    val st = new StateStore(tmpDir("st_twice"))
    st.commit(spark, Seq("a", "b").toDF("doc_id"), "doc_id", future, now)
    st.commit(spark, Seq("a").toDF("doc_id"), "doc_id", future + 60, now + 60)
    val known = st.load(spark, now)
    assert(known.filter(col("content_id") === "a").count() === 2)
    val incoming = Seq("a", "a", "c", "c", "d").toDF("doc_id")
    val fresh = StateStore.dedup(incoming, known).as[String].collect().sorted
    assert(fresh === Array("c", "c", "d"))
    val reference = incoming.join(known.select(col("content_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").as[String].collect().sorted
    assert(fresh === reference)
  }

  test("expired known ids are re-admitted (expiry-reload path)") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a").toDF("doc_id"), "doc_id", expirationEpochSec = past,
      commitEpochSec = past - 10)
    val fresh = StateStore.dedup(Seq("a", "b").toDF("doc_id"), st.load(spark, now))
    assert(fresh.as[String].collect().sorted === Array("a", "b"))
  }

  test("lineage columns recorded per commit") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a", "b").toDF("doc_id"), "doc_id", future, now)
    val state = st.load(spark, now)
    assert(state.filter(col("partition_id").isNull || col("committed_at").isNull).count() === 0)
  }

  // The name dates from the in-run dedup option dedup once had; the test
  // now pins the divergence from the reference: repeats pass through.
  test("dedup withinBatch=true collapses in-run repeats (reference contains_key+insert)") {
    val st = new StateStore(tmpDir("st"))
    val incoming = Seq("a", "a", "b", "b", "b", "c").toDF("doc_id")
    val loose = StateStore.dedup(incoming, st.load(spark, now))
    assert(loose.count() === 6)
  }

  // The next four names date from the Bloom pre-prune that dedup once had;
  // each now checks the plain anti-join the prune was compared against.
  test("bloom-pruned dedup ≡ plain anti-join (prune is lossless by construction)") {
    val st = new StateStore(tmpDir("st_bloom"))
    val knownIds = (0 until 500).map(i => f"doc-$i%012d")
    st.commit(spark, knownIds.toDF("doc_id"), "doc_id", future, now)
    val incoming = (0 until 1000).map(i => f"doc-$i%012d").toDF("doc_id")
    val plain = StateStore.dedup(incoming, st.load(spark, now)).as[String].collect().toSet
    assert(plain === (500 until 1000).map(i => f"doc-$i%012d").toSet)
  }

  test("bloom-pruned dedup ≡ plain anti-join for LONG ids (builder/probe hash domains match)") {
    val st = new StateStore(tmpDir("st_bloom_long"))
    val known = spark.range(0, 500).select(col("id").as("content_id"))
    val incoming = spark.range(0, 1000).select(col("id").as("doc_id"))
    assert(StateStore.dedup(incoming, known).as[Long].collect().toSet === (500L until 1000L).toSet)
    val knownInt = known.select(col("content_id").cast("int"))
    val incomingInt = incoming.select(col("doc_id").cast("int"))
    assert(StateStore.dedup(incomingInt, knownInt).as[Int].collect().toSet === (500 until 1000).toSet)
  }

  test("MIXED-type ids (string state, long incoming) fall back to the plain join under bloom settings") {
    // the store persists content_id as STRING (commit casts), so long
    // incoming ids mix types: join-time coercion must still match them
    val st = new StateStore(tmpDir("st_bloom_mixed"))
    st.commit(spark, spark.range(0, 500).select(col("id").as("doc_id")),
      "doc_id", future, now)
    val incoming = spark.range(0, 1000).select(col("id").as("doc_id"))
    val known = st.load(spark, now)
    assert(known.schema("content_id").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(StateStore.dedup(incoming, known).as[Long].collect().toSet === (500L until 1000L).toSet,
      "join-time coercion must dedup long incoming against string state")
  }

  test("bloom path keeps NULL-id rows (plain anti-join semantics) and tolerates null state ids") {
    // a null key never matches, so null-id rows are kept, also against
    // null state ids
    val st = new StateStore(tmpDir("st_bloom_null"))
    val known = Seq(Some("a"), Some("b"), None).toDF("content_id")
    val incoming = Seq(Some("a"), Some("c"), None, None).toDF("doc_id")
    assert(StateStore.dedup(incoming, known).as[Option[String]].collect()
      .sortBy(_.getOrElse("")).toSeq === Seq(None, None, Some("c")))
  }

  test("liveRowCount: memoized per snapshot, incremental across commits, survives compact") {
    val st = new StateStore(tmpDir("st_count"))
    assert(st.liveRowCount(spark) === 0)
    st.commit(spark, Seq("a", "b", "c").toDF("doc_id"), "doc_id", future, now)
    assert(st.liveRowCount(spark) === 3)
    assert(st.liveRowCount(spark) === 3)
    st.commit(spark, Seq("d", "e").toDF("doc_id"), "doc_id", future, now)
    assert(st.liveRowCount(spark) === 5)
    st.compact(spark)
    assert(st.liveRowCount(spark) === 5)
  }

  test("merge: re-arrival updates expiration via last-writer-wins (MERGE upsert)") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a", "b").toDF("doc_id"), "doc_id",
      expirationEpochSec = now + 100, commitEpochSec = now)
    // 'a' re-arrives with a LONGER expiration (the reference overwrites
    // known_blobs[id]); 'b' keeps the short one
    st.commit(spark, Seq("a").toDF("doc_id"), "doc_id",
      expirationEpochSec = now + 10000, commitEpochSec = now + 1)
    // at now+200: b's only version expired; a's LATEST version is alive
    val live = st.load(spark, now + 200)
    assert(live.select("content_id").as[String].collect() === Array("a"))
  }

  test("merge then compact drops shadowed versions, preserving resolution") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a", "b").toDF("doc_id"), "doc_id", now + 100, now)
    st.commit(spark, Seq("a").toDF("doc_id"), "doc_id", now + 10000, now + 1)
    st.compact(spark)
    // compaction keeps one row per id — the last writer's
    val all = spark.read.parquet(s"${st.dir}/snapshot-${st.currentSnapshot.get}")
    assert(all.count() === 2)
    assert(all.filter(col("content_id") === "a")
      .select(col("expiration").cast("long")).as[Long].head() === now + 10000)
    assert(st.load(spark, now + 200)
      .select("content_id").as[String].collect() === Array("a"))
  }

  test("loadAsOf never reads orphan snapshot dirs beyond the committed pointer") {
    val st = new StateStore(tmpDir("st"))
    st.commit(spark, Seq("a").toDF("doc_id"), "doc_id", future, now)
    // simulate a crashed commit: snapshot dir written, pointer never swapped
    StateStore.rows(Seq("zombie").toDF("doc_id"), "doc_id", future, now, snapshotId = 1)
      .write.parquet(s"${st.dir}/snapshot-1")
    assert(st.load(spark, now).select("content_id").as[String].collect()
      === Array("a"))
  }
}
