package graft.functions

import graft.SparkSuite
import graft.ops.{DedupOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import GraftFunctions._

/** Pins the custom codegen expressions to the built-in higher-order-function
  * formulations — bit-identical results, so the DuckDB oracles hold for
  * either implementation. */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("shingle_hashes ≡ TextOps.shingleHashes incl. whitespace/short/unicode edges") {
    val edge = Seq("\thello world\n", "solo", "", "  spaced  ", "a😀b c",
      "x\t", "中文 字 test").toDF("text")
    for (df <- Seq(docs.select("text"), edge)) {
      val diff = df.select(
        shingle_hashes(col("text"), 2).as("a"),
        TextOps.shingleHashes(col("text"), 2).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff === 0)
    }
  }

  test("word_chunks ≡ TextOps.wordChunks incl. whitespace/short/empty edges") {
    val edge = Seq("\thello world there are many words here\n", "solo", "",
      "  spaced  ", "a😀b c d e f g h i", "x\t", "中文 字 test word five six")
      .toDF("text")
    for (df <- Seq(docs.select("text"), edge); cw <- Seq(1, 3, 8)) {
      val diff = df.select(
        graft.functions.GraftFunctions.word_chunks(col("text"), cw).as("a"),
        TextOps.wordChunks(col("text"), cw).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff === 0, s"kernel/HOF divergence at chunkWords=$cw")
    }
  }

  test("cdc_chunks ≡ the explode + running-sum-window + regroup reference formulation") {
    // the formulation spanDedupCdc used through round 4 (and the one the
    // DuckDB oracle q_dedup_spans_cdc still reproduces): boundary BEFORE
    // every pos>0 word with polyHash ≡ 0 (mod avg), chunks = words of a
    // boundary-run joined by ' ', in document order
    import org.apache.spark.sql.expressions.Window
    val edge = Seq("\thello world there are many words here\n", "solo", "",
      "  spaced  ", "a😀b c d e f g h i", "x\t", "中文 字 test word five six")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    for (base <- Seq(docs.select("doc_id", "text"), edge); avg <- Seq(3, 8)) {
      val kernel = base.select(col("doc_id"),
        cdc_chunks(col("text"), avg).as("a"))
      val flagged = base
        .select(col("doc_id"), posexplode(TextOps.words(col("text"))).as(Seq("pos", "w")))
        .withColumn("b",
          when(col("pos") > 0 &&
            pmod(TextOps.polyHash(col("w")), lit(avg.toLong)) === 0, 1).otherwise(0))
      val wCum = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ref = flagged
        .withColumn("cid", sum("b").over(wCum))
        .groupBy("doc_id", "cid")
        .agg(min("pos").as("idx"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w"))).as("chunk"))
        .groupBy("doc_id")
        .agg(transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")).as("b"))
      val diff = kernel.join(ref, Seq("doc_id"))
        .filter(col("a") =!= col("b")).count()
      assert(diff === 0, s"kernel/reference divergence at avgChunkWords=$avg")
    }
  }

  test("top_ngram_score ≡ TextOps.topNgramScoreRef (HOF) incl. edges") {
    val edge = Seq("a b a b a b a b c", "", "solo", "  spaced  out  ",
      "a😀b a😀b a😀b", "x y x y x y", "中文 字 中文 字").toDF("text")
    for (df <- Seq(docs.select("text"), edge); n <- Seq(2, 3, 4)) {
      val diff = df.select(
        graft.functions.GraftFunctions.top_ngram_score(col("text"), n).as("a"),
        TextOps.topNgramScoreRef(col("text"), n).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff === 0, s"kernel/HOF divergence at n=$n")
    }
  }

  test("pq_encode / pq_lut / pq_adc ≡ join+window reference formulations") {
    import org.apache.spark.sql.expressions.Window
    val m = 4; val dsub = 16; val ksub = 8 // dim 64, tiny codebook
    // codebook = subvectors of the first ksub embeddings (float-exact)
    val cents = emb.orderBy("vec_id").limit(ksub).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val flat = new Array[Float](m * ksub * dsub)
    for (c <- 0 until ksub; s <- 0 until m; d <- 0 until dsub)
      flat(((s * ksub) + c) * dsub + d) = cents(c)(s * dsub + d)
    val kernelCodes = emb.select(col("vec_id"),
      pq_encode(col("embedding"), flat, m, ksub, dsub).as("codes"))
    // reference: explode (vec, sub) × centroids, fold the squared diff in
    // dim order (zip_with + ordered aggregate = the kernel's loop), rank
    val centRows = (for (s <- 0 until m; c <- 0 until ksub) yield
      (s, c, (0 until dsub).map(d => flat(((s * ksub) + c) * dsub + d)))).toDF("s", "c", "cv")
    val subvecs = emb.select(col("vec_id"), explode(
        array((0 until m).map(s => struct(lit(s).as("s"),
          slice(col("embedding"), s * dsub + 1, dsub).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))
    val dists = subvecs.join(centRows, Seq("s"))
      .withColumn("dist", aggregate(
        zip_with(col("sv"), col("cv"),
          (a, b) => (a.cast("double") - b.cast("double")) *
                    (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy("vec_id", "s").orderBy(col("dist"), col("c"))
    val refCodes = dists.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("c")))),
        x => x.getField("c")).as("codes"))
    assert(kernelCodes.join(refCodes, Seq("vec_id"))
      .filter(kernelCodes("codes") =!= refCodes("codes")).count() === 0)
    // pq_lut entries ≡ the same fold, every (s, c)
    val kernelLut = emb.select(col("vec_id"),
      pq_lut(col("embedding"), flat, m, ksub, dsub).as("lut"))
    val lutDiff = dists.join(kernelLut, Seq("vec_id"))
      .filter(element_at(col("lut"), col("s") * ksub + col("c") + 1) =!= col("dist"))
      .count()
    assert(lutDiff === 0, "pq_lut diverges from the reference fold")
    // pq_adc ≡ Σ element_at(lut, s·ksub + code + 1)
    val adc = kernelCodes.join(kernelLut, Seq("vec_id"))
      .withColumn("a", pq_adc(col("codes"), col("lut"), ksub))
      .withColumn("b", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (code, s) => element_at(col("lut"), s * ksub + code + 1)),
        lit(0.0), (acc, x) => acc + x))
    assert(adc.filter(col("a") =!= col("b")).count() === 0)
  }

  test("audit kernels ≡ the Column-arithmetic reference formulations") {
    import graft.pipeline.{Parse, Schemas}
    val ids = graft.pipeline.DataGen.sequences(spark, 5000L, 4).select("doc_id")
    val id = col("doc_id")
    val diff = ids.select(
        audit_field(id, "Ct").as("ct"),
        audit_field(id, "Wl").as("wl"),
        audit_field(id, "Op").as("op"),
        audit_field(id, "Rt").as("rt"),
        audit_ts(id, Parse.BaseEpoch, Parse.SpanSeconds).as("ts"),
        when(audit_field(id, "Policy") === 1, "Spoof")
          .when(audit_field(id, "Policy") === 2, "Phish").as("pol"),
        // reference formulations (what the DuckDB oracles reproduce)
        when(pmod(Parse.mix(id, 1), lit(100)) < 50, 0)
          .when(pmod(Parse.mix(id, 1), lit(100)) < 70, 1)
          .when(pmod(Parse.mix(id, 1), lit(100)) < 85, 2)
          .when(pmod(Parse.mix(id, 1), lit(100)) < 95, 3).otherwise(4).as("ct_ref"),
        pmod(Parse.mix(id, 2), lit(6)).cast("int").as("wl_ref"),
        pmod(Parse.mix(id, 3), lit(12)).cast("int").as("op_ref"),
        pmod(Parse.mix(id, 4), lit(64)).cast("int").as("rt_ref"),
        (lit(Parse.BaseEpoch) + pmod(Parse.mix(id, 5), lit(Parse.SpanSeconds))).as("ts_ref"),
        Parse.policyColRef(id).as("pol_ref"))
      .filter(col("ct") =!= col("ct_ref") || col("wl") =!= col("wl_ref") ||
              col("op") =!= col("op_ref") || col("rt") =!= col("rt_ref") ||
              col("ts") =!= col("ts_ref") ||
              !(col("pol") <=> col("pol_ref")))
      .count()
    assert(diff === 0)
  }

  test("nearest_centroids ≡ broadcast-join + window ranking (bit-identical)") {
    import org.apache.spark.sql.expressions.Window
    val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val cents = SimilarityOps.kmeansCentroids(vecs, 8)
    val centArr = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val viaExpr = vecs.select(col("id"),
        posexplode(nearest_centroids(col("v"), centArr, 3)).as(Seq("pos", "cid")))
      .select(col("id"), col("cid"), (col("pos") + 1).cast("int").as("crank"))
      .as[(Long, Long, Int)].collect().toSet
    val viaJoin = vecs.join(broadcast(cents))
      .withColumn("csim", cosine_sim(col("v"), col("cv")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("id").orderBy(col("csim").desc, col("cid"))))
      .filter(col("crank") <= 3).select(col("id"), col("cid"), col("crank"))
      .as[(Long, Long, Int)].collect().toSet
    assert(viaExpr === viaJoin)
  }

  test("audit fields are NULL for malformed ids (quarantined, never binned)") {
    import graft.pipeline.Parse
    val ids = Seq("doc-000000000042", "garbage", "doc-nodigits", "", "usr-0042")
      .toDF("doc_id")
    val rows = ids.select(col("doc_id"),
        audit_field(col("doc_id"), "Ct").as("ct"),
        audit_ts(col("doc_id"), Parse.BaseEpoch, Parse.SpanSeconds).as("ts"))
      .collect().map(r => r.getString(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(rows("doc-000000000042") === ((false, false)))
    assert(rows("garbage") === ((true, true)))
    assert(rows("doc-nodigits") === ((true, true)))
    assert(rows("") === ((true, true)))
    // documented substring-cast semantics: digits from byte 5 parse as valid
    assert(rows("usr-0042") === ((false, false)))
  }

  test("quantize_i8 rejects non-numeric arrays at analysis time") {
    val df = Seq(Seq("a", "b")).toDF("v")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(quantize_i8(col("v"))).collect()
    }
    // the other vector kernels share the check: neither reads a string or
    // an int array as doubles
    val kernels = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      lsh_signature(_, 16), nearest_centroids(_, Seq(1L -> Array(1f, 0f)), 1))
    for (v <- Seq(df, Seq(Seq(1, 2)).toDF("v")); f <- kernels)
      intercept[org.apache.spark.sql.AnalysisException](v.select(f(col("v"))).collect())
  }

  test("doc_id_num ≡ substring(doc_id, 5, 12).cast(long) on generated ids") {
    val ids = graft.pipeline.DataGen.sequences(spark, 3000L, 4).select("doc_id")
      .union(Seq("doc-000000000000", "doc-999999999999", "doc-000000000007").toDF("doc_id"))
    val diff = ids.select(
        doc_id_num(col("doc_id")).as("a"),
        substring(col("doc_id"), 5, 12).cast("long").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("jaccard_counts ≡ size(array_intersect)/size(array_union) on distinct arrays") {
    // all pairs of fixture shingle sets (duplicate-free by construction)
    val sh = docs.limit(40).select(col("doc_id"),
      shingle_hashes(col("text"), 2).as("sh"))
    val pairs = sh.toDF("id_a", "sh_a").crossJoin(sh.toDF("id_b", "sh_b"))
      .filter(col("id_a") <= col("id_b")) // include self-pairs (union == inter)
    val diff = pairs.select(
        jaccard_counts(col("sh_a"), col("sh_b")).as("jc"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("i"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("u"))
      .filter(shiftright(col("jc"), 32) =!= col("i") ||
              col("jc").bitwiseAND(0xFFFFFFFFL) =!= col("u"))
      .count()
    assert(diff === 0)
    // empty-array edges
    val e = Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
      .select(jaccard_counts(col("a"), col("b")).as("jc")).as[Long].collect()
    assert(e(0) === 2L && e(1) === 0L)
  }

  test("minhash_sig ≡ DedupOps.minhashSignature") {
    val diff = docs.select(
      minhash_sig(col("text"), 2, 8).as("a"),
      DedupOps.minhashSignature(col("text"), 2, 8).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("simhash64 ≡ DedupOps.simhash") {
    val diff = docs.select(
      simhash64(col("text")).as("a"),
      DedupOps.simhash(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("dot/cosine ≡ HOF zip_with+aggregate, bit-exact on float arrays") {
    val pairs = emb.limit(40).select(col("embedding").as("a"))
      .crossJoin(emb.limit(40).select(col("embedding").as("b")))
    val diff = pairs.select(
      cosine_sim(col("a"), col("b")).as("c1"),
      SimilarityOps.cosine(col("a"), col("b")).as("c2"))
      .filter(col("c1") =!= col("c2")).count()
    assert(diff === 0)
  }

  test("lsh_signature ≡ SimilarityOps.lshSignatureUnrolled (HOF)") {
    val diff = emb.select(
      GraftFunctions.lsh_signature(col("embedding"), 8).as("a"),
      SimilarityOps.lshSignatureUnrolled(col("embedding"), 8).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
    // different offsets draw different plane sets
    val same = emb.select(
      GraftFunctions.lsh_signature(col("embedding"), 8, 0).as("a"),
      GraftFunctions.lsh_signature(col("embedding"), 8, 8).as("b"))
      .filter(col("a") === col("b")).count()
    assert(same < emb.count())
  }

  test("gen_tokens ≡ HOF datagen (bit-identical synthetic corpus)") {
    val a = graft.pipeline.DataGen.sequences(spark, 500L, 4)
    val b = graft.pipeline.DataGen.sequencesHof(spark, 500L, 4)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("int_array_json ≡ to_json(array<int>) byte-for-byte") {
    val df = graft.pipeline.DataGen.sequences(spark, 200L, 2)
    val diff = df.select(
      int_array_json(col("tokens")).as("a"),
      to_json(col("tokens")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
    val empty = Seq(Seq.empty[Int]).toDF("t")
      .select(int_array_json(col("t"))).as[String].head()
    assert(empty === "[]")
  }

  test("row_json ≡ to_json(struct) byte-for-byte incl. nulls and escapes") {
    // pipeline schema: strings + ints + array<int> + nullable Policy
    val routed = graft.pipeline.Pipeline.routedRecords(
      graft.pipeline.DataGen.sequences(spark, 300L, 2),
      graft.pipeline.DataGen.routingRules)
    val rec = struct(routed.columns.map(col): _*)
    val diff = routed.select(
      GraftFunctions.row_json(rec).as("a"), to_json(rec).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
    // escaping edge cases
    val edge = Seq(("a\"b\\c", 1), ("tab\there\nnl", 2), (null, 3))
      .toDF("s", "i")
    val rec2 = struct(col("s"), col("i"))
    val diff2 = edge.select(
      GraftFunctions.row_json(rec2).as("a"), to_json(rec2).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff2 === 0)
    // non-numeric doubles: Jackson quotes NaN/Infinity; a bare NaN would be
    // invalid JSON
    val nums = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -0.0).toDF("x")
    val rec3 = struct(col("x"))
    val diff3 = nums.select(
      GraftFunctions.row_json(rec3).as("a"), to_json(rec3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff3 === 0)
  }

  test("custom expressions participate in whole-stage codegen") {
    val plan = docs.select(doc_id_num(format_string("doc-%012d", col("doc_id"))))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Project"), s"plan:\n$plan")
  }
}
