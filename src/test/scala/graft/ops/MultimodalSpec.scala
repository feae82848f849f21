package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  lazy val media = Multimodal.syntheticMedia(spark, 300L, 4).cache()

  test("synthetic media is deterministic across parallelism levels") {
    val a = Multimodal.syntheticMedia(spark, 50L, 2).toDF()
      .select(col("media_id"), xxhash64(col("content")).as("h"))
    val b = Multimodal.syntheticMedia(spark, 50L, 4).toDF()
      .select(col("media_id"), xxhash64(col("content")).as("h"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("decode: typed output, deterministic, content column pruned away") {
    val decoded = Multimodal.decode(media)
    assert(decoded.columns.toSeq ===
      Seq("media_id", "media_type", "ok", "width", "height", "n_frames", "features"))
    assert(decoded.count() === 300L)
    // determinism
    val again = Multimodal.decode(Multimodal.syntheticMedia(spark, 300L, 8)).toDF()
    assert(decoded.toDF().exceptAll(again).isEmpty)
  }

  test("PGM images decode for real: exact planted dimensions + pixel stats") {
    // plant a known 4x2 gradient image and decode it
    val px = Array[Int](0, 10, 20, 30, 40, 50, 60, 70)
    val bytes = Multimodal.pgmBytes(4, 2, (x, y) => px(y * 4 + x))
    val Some((w, h, pixels)) = Multimodal.parsePgm(bytes)
    assert(w === 4 && h === 2)
    assert(pixels.map(_ & 0xff).toSeq === px.toSeq)
    val one = Multimodal.decode(
      Seq(MediaRow(1L, "image", bytes, Map.empty)).toDS()).head()
    assert(one.ok && one.width === 4 && one.height === 2)
    assert(math.abs(one.features(0) - 35.0f) < 1e-5) // mean of 0..70 by 10
    assert(one.features(2) === 0.0f && one.features(3) === 70.0f) // min, max
    // quadrant means: q0 = mean(0,10)=5, q1 = mean(20,30)=25,
    //                 q2 = mean(40,50)=45, q3 = mean(60,70)=65
    assert(one.features.slice(4, 8).toSeq === Seq(5.0f, 25.0f, 45.0f, 65.0f))
  }

  test("WAV audio decodes for real: exact sample count, rate, RMS, crossings") {
    val samples = Array[Short](100, -100, 200, -200, 0, 300)
    val bytes = Multimodal.wavBytes(8000, samples)
    val Some((rate, back)) = Multimodal.parseWav(bytes)
    assert(rate === 8000 && back.toSeq === samples.toSeq)
    val one = Multimodal.decode(
      Seq(MediaRow(2L, "audio", bytes, Map.empty)).toDS()).head()
    assert(one.ok && one.width === 8000 && one.n_frames === 6)
    assert(one.features(2) === 300.0f) // peak
    assert(one.features(3) === 4.0f)   // sign changes: +,-,+,-,0(neg? no),+
  }

  test("Y4M video decodes for real: exact planted dims, frames, luma stats, motion") {
    // 2 frames, 4x2, frame 0 all 10s, frame 1 all 30s → mean 20, motion 20
    val bytes = Multimodal.y4mBytes(4, 2, 2, (f, _, _) => if (f == 0) 10 else 30)
    val Some((w, h, planes)) = Multimodal.parseY4m(bytes)
    assert(w === 4 && h === 2 && planes.length === 2)
    assert(planes(0).map(_ & 0xff).toSeq === Seq.fill(8)(10))
    assert(planes(1).map(_ & 0xff).toSeq === Seq.fill(8)(30))
    val one = Multimodal.decode(
      Seq(MediaRow(3L, "video", bytes, Map.empty)).toDS()).head()
    assert(one.ok && one.width === 4 && one.height === 2 && one.n_frames === 2)
    assert(one.features(0) === 20.0f) // mean luma
    assert(one.features(1) === 10.0f) // std (two flat frames at ±10)
    assert(one.features(2) === 10.0f && one.features(3) === 30.0f) // min, max
    assert(one.features(4) === 10.0f && one.features(5) === 30.0f) // first, last frame mean
    assert(one.features(6) === 20.0f) // motion: |30 - 10|
    // a mono-colorspace stream parses too (luma-only planes)
    val mono = ("YUV4MPEG2 W2 H2 Cmono\nFRAME\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4))
    val Some((mw, mh, mp)) = Multimodal.parseY4m(mono)
    assert(mw === 2 && mh === 2 && mp.head.toSeq === Seq[Byte](1, 2, 3, 4))
    // truncated mid-frame = corruption, not a silent partial decode
    assert(Multimodal.parseY4m(bytes.dropRight(3)).isEmpty)
  }

  test("unparsable payloads become ok=false poison rows, never task failures") {
    val decoded = Multimodal.decode(media).toDF().cache()
    try {
      val poisoned = decoded.filter(!col("ok")).count()
      // syntheticMedia truncates ~2% of payloads across ALL THREE modalities
      assert(poisoned > 0)
      // poison + decoded PARTITION the input: every row lands in exactly one
      assert(poisoned + decoded.filter(col("ok")).count() === 300L)
    } finally { decoded.unpersist(); () }
  }

  test("decode runs partition-parallel (mapPartitions, one pass)") {
    val n = media.rdd.getNumPartitions
    assert(n === 4)
    val decoded = Multimodal.decode(media)
    assert(decoded.rdd.getNumPartitions === n, "decode must not shuffle")
  }
}
