package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

/** One media asset: opaque binary payload + typed metadata. */
case class MediaRow(media_id: Long, media_type: String,
                    content: Array[Byte], meta: Map[String, String])

/** Output of the decode stage. `ok=false` rows are decode poison
  * (unparsable payload) — kept, not dropped, so the caller can quarantine
  * them like JsonIngest does for corrupt JSON. */
case class DecodedMedia(media_id: Long, media_type: String, ok: Boolean,
                        width: Int, height: Int, n_frames: Int,
                        features: Array[Float])

/**
 * Multimodal-column handling for training-data pipelines: image/audio/video
 * as opaque `binary` columns with typed metadata, decoded per partition.
 *
 * ALL THREE modalities are decoded FOR REAL — the container ships no codec
 * libraries, so the synthetic corpus uses the standard formats that need
 * none: binary PGM (P5) for images, RIFF/WAV PCM-16 for audio, and
 * YUV4MPEG2 (Y4M) for video — the uncompressed interchange container
 * (mjpegtools/ffmpeg `-f yuv4mpeg`): a plain-text stream header
 * `YUV4MPEG2 W.. H.. F.. C420\n` followed by `FRAME\n` + raw planar YUV
 * per frame. Each is parsed byte-level here with real per-asset features
 * (pixel/sample/luma+motion statistics). The Spark-side shape is the
 * load-bearing part at scale:
 *   - schema: (media_id long, media_type string, content binary, meta map)
 *   - batch shape: `mapPartitions` over a typed Dataset — the Scala analog
 *     of Python's mapInPandas; one iterator per task, streaming, no
 *     row-at-a-time UDF overhead, codec context reusable per partition
 *   - partitioning: decode is embarrassingly parallel; repartition upstream
 *     by size, never shuffle the binary payload afterwards
 *   - projection: the decode output drops `content`, so the heavy bytes die
 *     at the earliest stage boundary (column pruning does the rest)
 *   - poison rows: unparsable payloads yield ok=false rows (quarantine),
 *     never task failures (ST6 semantics, like JsonIngest)
 */
object Multimodal {

  /** Deterministic synthetic media table: REAL PGM images, WAV PCM-16
    * audio clips and YUV4MPEG2 video streams (all decodable without codec
    * libs); ~2% of payloads across all three modalities are
    * deterministically truncated to exercise the poison-row branch. */
  def syntheticMedia(spark: SparkSession, n: Long, parts: Int = 0): Dataset[MediaRow] = {
    import spark.implicits._
    val p = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, p).map { id =>
      val mtype = Seq("image", "audio", "video")((mix(id, 0) % 3).toInt)
      val full = mtype match {
        case "image" =>
          val w = 8 + (mix(id, 1) % 24).toInt
          val h = 8 + (mix(id, 2) % 24).toInt
          pgmBytes(w, h, (x, y) => (mix(id, 100L + x * 31L + y) & 0xff).toInt)
        case "audio" =>
          val samples = 64 + (mix(id, 3) % 448).toInt
          wavBytes(8000, Array.tabulate(samples)(i =>
            ((mix(id, 200L + i) % 65536L) - 32768L).toShort))
        case _ =>
          val w = 8 + 2 * (mix(id, 4) % 12).toInt  // even dims (C420 planes)
          val h = 8 + 2 * (mix(id, 5) % 12).toInt
          val frames = 2 + (mix(id, 6) % 5).toInt
          y4mBytes(w, h, frames, (f, x, y) =>
            (mix(id, 300L + f * 7919L + x * 31L + y) & 0xff).toInt)
      }
      val bytes =
        if (mix(id, 7) % 50 == 0) full.take(6) // poison (all three modalities)
        else full
      MediaRow(id, mtype, bytes, Map("origin" -> s"synth-$id",
        "codec" -> (if (mtype == "video") "y4m" else if (mtype == "image") "pgm" else "wav")))
    }
  }

  /** splitmix64-style deterministic mix (public-domain constant schedule). */
  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    math.abs(z ^ (z >>> 31))
  }

  // ---- container writers (synthetic corpus) ---------------------------

  /** Binary PGM (P5): "P5\n<w> <h>\n255\n" + w*h gray bytes. */
  def pgmBytes(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(header.length + i) = (pixel(x, y) & 0xff).toByte; i += 1; x += 1 }
      y += 1
    }
    out
  }

  /** Minimal RIFF/WAVE, PCM 16-bit mono little-endian. */
  def wavBytes(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** YUV4MPEG2 (Y4M) C420 writer: stream header + per-frame `FRAME\n` and
    * raw planar YUV420 (Y = w·h luma bytes from `luma(frame, x, y)`; U/V =
    * flat 128 chroma quarter-planes — gray, the luma stats are what the
    * features read). Even w/h required by 4:2:0 subsampling. */
  def y4mBytes(w: Int, h: Int, frames: Int, luma: (Int, Int, Int) => Int): Array[Byte] = {
    require(w % 2 == 0 && h % 2 == 0 && frames > 0)
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n".getBytes("US-ASCII")
    val frameMarker = "FRAME\n".getBytes("US-ASCII")
    val ySize = w * h
    val cSize = (w / 2) * (h / 2)
    val out = java.nio.ByteBuffer.allocate(
      header.length + frames * (frameMarker.length + ySize + 2 * cSize))
    out.put(header)
    var f = 0
    while (f < frames) {
      out.put(frameMarker)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out.put((luma(f, x, y) & 0xff).toByte); x += 1 }
        y += 1
      }
      var c = 0
      while (c < 2 * cSize) { out.put(128.toByte); c += 1 }
      f += 1
    }
    out.array()
  }

  // ---- decoders --------------------------------------------------------

  /** Parse a binary PGM: Some((w, h, pixels)) or None if malformed. */
  def parsePgm(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 10 || bytes(0) != 'P' || bytes(1) != '5') return None
    // header = three whitespace-separated tokens after "P5": w, h, maxval
    var i = 2
    def token(): Option[Int] = {
      while (i < bytes.length && Character.isWhitespace(bytes(i))) i += 1
      var v = 0; var any = false
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); any = true; i += 1
      }
      if (any) Some(v) else None
    }
    for {
      w <- token(); h <- token(); maxv <- token()
      // LONG math for the bounds check: Int w*h overflows for plausible
      // headers (65536x65536 wraps to 0 and "passes"), turning a malformed
      // payload into a task-killing ArrayIndexOutOfBounds instead of the
      // contracted ok=false poison row
      if maxv == 255 && w > 0 && h > 0 &&
        i.toLong + 1L + w.toLong * h.toLong <= bytes.length.toLong
    } yield (w, h, java.util.Arrays.copyOfRange(bytes, i + 1, i + 1 + w * h))
  }

  /** Parse a PCM-16 mono WAV: Some((sampleRate, samples)) or None. */
  def parseWav(bytes: Array[Byte]): Option[(Int, Array[Short])] = {
    if (bytes.length < 44) return None
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val riff = new Array[Byte](4); buf.get(riff)
    buf.getInt()
    val wave = new Array[Byte](4); buf.get(wave)
    if (new String(riff, "US-ASCII") != "RIFF" ||
        new String(wave, "US-ASCII") != "WAVE") return None
    val fmt = new Array[Byte](4); buf.get(fmt); val fmtLen = buf.getInt()
    if (new String(fmt, "US-ASCII") != "fmt " || fmtLen < 16) return None
    val audioFormat = buf.getShort(); val channels = buf.getShort()
    val sampleRate = buf.getInt(); buf.getInt(); buf.getShort()
    val bits = buf.getShort()
    if (audioFormat != 1 || channels != 1 || bits != 16) return None
    // header fields are corruption-controlled: an oversized fmtLen would
    // throw at position(), a negative dataLen at the array alloc — both
    // must be ok=false poison rows, never task failures
    if (fmtLen < 0 || 20L + fmtLen.toLong + 8L > bytes.length.toLong) return None
    buf.position(20 + fmtLen)
    val dataTag = new Array[Byte](4); buf.get(dataTag); val dataLen = buf.getInt()
    if (new String(dataTag, "US-ASCII") != "data" ||
        dataLen < 0 || buf.remaining() < dataLen) return None
    val samples = new Array[Short](dataLen / 2)
    var i = 0
    while (i < samples.length) { samples(i) = buf.getShort(); i += 1 }
    Some((sampleRate, samples))
  }

  /** Parse a YUV4MPEG2 stream: Some((w, h, yPlanes)) — the luma plane of
    * every complete frame — or None if malformed. Accepts C420* (4:2:0
    * chroma) and Cmono (luma only); rejects anything else rather than
    * guessing plane sizes. Trailing partial frames are treated as
    * corruption (None), not silently dropped. */
  def parseY4m(bytes: Array[Byte]): Option[(Int, Int, Array[Array[Byte]])] = {
    val magic = "YUV4MPEG2".getBytes("US-ASCII")
    if (bytes.length < magic.length + 1 ||
        !java.util.Arrays.equals(java.util.Arrays.copyOf(bytes, magic.length), magic))
      return None
    var i = magic.length
    val headerEnd = bytes.indexOf('\n'.toByte, i)
    if (headerEnd < 0) return None
    val header = new String(bytes, i, headerEnd - i, "US-ASCII")
    var w = -1; var h = -1; var chroma = "420"
    header.trim.split("\\s+").filter(_.nonEmpty).foreach { tok =>
      tok.charAt(0) match {
        case 'W' => w = tok.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = tok.drop(1).toIntOption.getOrElse(-1)
        case 'C' => chroma = tok.drop(1)
        case _   => () // F (rate), I (interlace), A (aspect), X (comment)
      }
    }
    if (w <= 0 || h <= 0) return None
    val ySize = w.toLong * h
    val cSize: Long =
      if (chroma.startsWith("420")) 2L * (w / 2) * (h / 2)
      else if (chroma == "mono") 0L
      else return None
    if (ySize + cSize > Int.MaxValue) return None
    val frameBytes = (ySize + cSize).toInt
    val marker = "FRAME".getBytes("US-ASCII")
    val planes = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    i = headerEnd + 1
    while (i < bytes.length) {
      // each frame: "FRAME"[ params]"\n" + planes
      if (i + marker.length > bytes.length ||
          !java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(bytes, i, i + marker.length), marker))
        return None
      val nl = bytes.indexOf('\n'.toByte, i + marker.length)
      // LONG math: a malformed ~2 GB payload with a huge header makes
      // nl + 1 + frameBytes wrap negative in Int, "pass" the bound, and
      // throw in copyOfRange — a task failure where the contract is an
      // ok=false poison row (same guard class as parsePgm/parseWav)
      if (nl < 0 || nl.toLong + 1L + frameBytes.toLong > bytes.length.toLong)
        return None
      planes += java.util.Arrays.copyOfRange(bytes, nl + 1, nl + 1 + ySize.toInt)
      i = nl + 1 + frameBytes
    }
    if (planes.isEmpty) None else Some((w, h, planes.toArray))
  }

  /**
   * Decode stage: real PGM/WAV/Y4M byte-level decode with real features.
   * Unparsable payloads → ok=false poison rows.
   */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition setup happens once here (codec init in a real impl)
      it.map(decodeOne)
    }
  }

  private def poison(m: MediaRow): DecodedMedia =
    DecodedMedia(m.media_id, m.media_type, ok = false, 0, 0, 0, Array.empty)

  private def decodeOne(m: MediaRow): DecodedMedia = m.media_type match {
    case "image" => parsePgm(m.content).fold(poison(m)) { case (w, h, px) =>
      // real pixel statistics: mean, stddev, min, max, quadrant means
      var sum = 0.0; var sq = 0.0; var mn = 255; var mx = 0
      val quad = new Array[Double](4); val qn = new Array[Int](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = px(y * w + x) & 0xff
          sum += v; sq += v.toDouble * v
          if (v < mn) mn = v; if (v > mx) mx = v
          val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
          quad(q) += v; qn(q) += 1
          x += 1
        }
        y += 1
      }
      val n = (w * h).toDouble
      val mean = sum / n
      val std = math.sqrt(math.max(0, sq / n - mean * mean))
      DecodedMedia(m.media_id, "image", ok = true, w, h, 1,
        Array(mean.toFloat, std.toFloat, mn.toFloat, mx.toFloat) ++
          quad.indices.map(q => (quad(q) / math.max(1, qn(q))).toFloat))
    }
    case "audio" => parseWav(m.content).fold(poison(m)) { case (rate, s) =>
      // real sample statistics: mean amplitude, RMS, peak, zero crossings
      var sum = 0.0; var sq = 0.0; var peak = 0; var zc = 0
      var i = 0
      while (i < s.length) {
        val v = s(i).toInt
        sum += v; sq += v.toDouble * v
        if (math.abs(v) > peak) peak = math.abs(v)
        if (i > 0 && ((s(i - 1) < 0) != (v < 0))) zc += 1
        i += 1
      }
      val n = math.max(1, s.length).toDouble
      DecodedMedia(m.media_id, "audio", ok = true, rate, 16, s.length,
        Array((sum / n).toFloat, math.sqrt(sq / n).toFloat, peak.toFloat, zc.toFloat))
    }
    case _ => parseY4m(m.content).fold(poison(m)) { case (w, h, yPlanes) =>
      // real luma statistics across frames + a motion proxy: mean absolute
      // difference of consecutive per-frame mean lumas (static content → 0)
      var sum = 0.0; var sq = 0.0; var mn = 255; var mx = 0
      val frameMeans = new Array[Double](yPlanes.length)
      var f = 0
      while (f < yPlanes.length) {
        val p = yPlanes(f)
        var fs = 0.0
        var i = 0
        while (i < p.length) {
          val v = p(i) & 0xff
          fs += v; sq += v.toDouble * v
          if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        frameMeans(f) = fs / p.length
        sum += fs
        f += 1
      }
      val n = yPlanes.length.toDouble * (w * h)
      val mean = sum / n
      val std = math.sqrt(math.max(0, sq / n - mean * mean))
      val motion =
        if (yPlanes.length < 2) 0.0
        else (1 until yPlanes.length)
          .map(f => math.abs(frameMeans(f) - frameMeans(f - 1))).sum /
          (yPlanes.length - 1)
      // keep the INPUT's media_type (the poison arm does too): relabeling
      // a future type to "video" on success would split one input type
      // across two labels in any groupBy("media_type") downstream
      DecodedMedia(m.media_id, m.media_type, ok = true, w, h, yPlanes.length,
        Array(mean.toFloat, std.toFloat, mn.toFloat, mx.toFloat,
          frameMeans.head.toFloat, frameMeans.last.toFloat, motion.toFloat,
          yPlanes.length.toFloat))
    }
  }
}
