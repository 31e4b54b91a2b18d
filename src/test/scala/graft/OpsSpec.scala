package graft

import org.apache.spark.sql.functions._

import graft.ops.{AsofJoin, Dedup, Incremental, Multimodal, Quantize, Similarity, TextOps, Validate}

/** North-star operator unit tests with hand-computable goldens. */
class OpsSpec extends SparkSpec {

  import spark.implicits._

  test("lshTopK candidates-then-rerank equals the vectors-embedded naive form") {
    // The restructured plan (id-only bucket self-join, vectors rejoin by
    // id) must be result-identical to the naive form it replaced (vectors
    // embedded in both self-join sides) — same buckets, same cosine
    // kernel, so bit-identical scores and identical top-k.
    val e = Tables(spark, sfDir, "embeddings")
    val got = Similarity.lshTopK(e, "vec_id", "embedding", 8, 64, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val buckets = Similarity.lshBucketsKernel(e, "vec_id", "embedding", 8, 64)
      .withColumnRenamed("vec_id", "vid")
    val bucketed = e
      .select(col("vec_id").cast("long").as("vid"), col("embedding").as("vec"))
      .join(buckets, "vid")
    val a = bucketed.alias("a")
    val b = bucketed.alias("b")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val naive = a
      .join(b, col("a.bucket") === col("b.bucket") && col("a.vid") =!= col("b.vid"))
      .select(
        col("a.vid").as("qid"),
        col("b.vid").as("nid"),
        Similarity.cosineFast(e, col("a.vec"), col("b.vec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == naive,
      s"restructured lshTopK drifted: extra=${got -- naive}, missing=${naive -- got}")
  }

  test("bm25 ranks term-dense short docs first and skips docs without query terms") {
    import graft.ops.Retrieval
    val df = Seq(
      (1L, "spark spark spark pad pad pad"), // tf=3, dl=6
      (2L, "spark pad pad pad pad pad pad pad pad pad pad pad"), // tf=1, dl=12
      (3L, "pad pad pad"), // no query term -> excluded
      (4L, "spark spark pad pad pad pad")) // tf=2, dl=6
      .toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(df, "doc_id", "text", Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 4L, 2L), s"unexpected ranking: ${got.toSeq}")
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
  }

  test("bm25 multi-term score is the sorted-term-order sum of single-term scores") {
    import graft.ops.Retrieval
    val df = Seq(
      (1L, "a b a c"),
      (2L, "b b c d"),
      (3L, "c c c c")).toDF("doc_id", "text")
    def scores(q: Seq[String]): Map[Long, Double] =
      Retrieval.bm25TopK(df, "doc_id", "text", q, k = 10)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val both = scores(Seq("a", "b"))
    val a = scores(Seq("a"))
    val b = scores(Seq("b"))
    // doc 1 contains both terms: its combined score is exactly s_a + s_b
    // (the fold adds in sorted term order: 0.0 + s_a + s_b).
    assert(both(1L) == a(1L) + b(1L))
    // doc 2 contains only b: combined == its b-only score
    assert(both(2L) == b(2L))
  }

  test("pq codes are bounded, m-wide, and encode is partitioning-invariant") {
    import graft.ops.{PQ, Quantize}
    val (m, ksub, rounds, dims) = (2, 8, 2, 64)
    val qz = Quantize.quantizeInt8(Tables(spark, sfDir, "embeddings"), "vec_id", "embedding")
    val books = PQ.pqFit(qz, "vec_id", "qvec", dims, m, ksub, rounds)
    val bRows = books.collect()
    assert(bRows.length == m * ksub, s"expected ${m * ksub} codebook rows, got ${bRows.length}")
    assert(bRows.forall(_.getSeq[Long](2).length == dims / m), "wrong sub-centroid width")
    val codes = PQ.pqEncode(qz, "vec_id", "qvec", books, dims, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.forall(cs => cs.length == m && cs.forall(c => c >= 0 && c < ksub)),
      "codes out of range")
    val again = PQ.pqEncode(qz.repartition(7), "vec_id", "qvec", books, dims, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes == again, "encode depends on partitioning")
    // The kernel path must actually be the one in use (extensions on),
    // and it must agree code-for-code with the interpreted argminCode
    // twin (same flattened cid order, same strict-< lowest-cid ties).
    assert(PQ.pqEncode(qz, "vec_id", "qvec", books, dims, m)
      .queryExecution.executedPlan.toString.contains("graft_kmeans_assign"))
    val slow = PqEncodeTwin(qz, "vec_id", "qvec", books, dims, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes == slow, "kernel encode drifted from the declarative twin")
    // array<bigint> input (the ivfPqTopK residual shape) skips the cast
    // transform and must encode identically
    val qzL = qz.select(col("vec_id"),
      transform(col("qvec"), _.cast("long")).as("qvec"))
    val viaLong = PQ.pqEncode(qzL, "vec_id", "qvec", books, dims, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes == viaLong, "long-array input encode drifted")
  }

  test("pq adc distance is the exact sum of per-subspace code distances") {
    import graft.ops.{PQ, Quantize}
    val (m, ksub, rounds, dims, k) = (2, 8, 2, 64, 5)
    val qz = Quantize.quantizeInt8(Tables(spark, sfDir, "embeddings"), "vec_id", "embedding")
    val books = PQ.pqFit(qz, "vec_id", "qvec", dims, m, ksub, rounds)
    val codes = PQ.pqEncode(qz, "vec_id", "qvec", books, dims, m)
    val got = PQ.pqTopK(codes, "vec_id", qz.filter(col("vec_id") === 0L),
        "vec_id", "qvec", books, dims, m, k)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toMap
    // Recompute ADC by hand from the collected artifacts.
    val dsub = dims / m
    val book = books.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val codeMap = codes.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val qvec = qz.filter(col("vec_id") === 0L)
      .select(col("qvec")).collect().head.getSeq[Byte](0).map(_.toLong)
    for ((nid, adist) <- got) {
      val want = (0 until m).map { j =>
        val qsub = qvec.slice(j * dsub, (j + 1) * dsub)
        val c = book((j.toLong, codeMap(nid)(j)))
        qsub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(adist == want, s"adc drift for nid=$nid: $adist != $want")
    }
  }

  test("rrf fusion sums exact integer reciprocals across modalities") {
    import graft.ops.Retrieval
    // modality A ranks docs 10,20,30; modality B ranks 20,40.
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), "doc_id", "rank", topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val S = 1000000000000L
    def rec(r: Long) = S / (60L + r) // JVM long division truncates like `div`
    // doc 20 appears in BOTH lists: its score is the exact two-term sum,
    // which must beat either single #1 contribution.
    val expected = Map(
      10L -> rec(1), 20L -> (rec(2) + rec(1)), 30L -> rec(3), 40L -> rec(2))
    assert(got.map(t => t._1 -> t._2).toMap == expected, s"scores drifted: $got")
    assert(got.sortBy(_._3).map(_._1) == Seq(20L, 10L, 40L, 30L),
      s"fused order wrong: $got")
  }

  test("rrf fusion is partitioning-invariant and honors topN") {
    import graft.ops.Retrieval
    val a = (1L to 40L).map(i => (i, i)).toDF("doc_id", "rank").repartition(7)
    val b = (1L to 40L).map(i => (41L - i, i)).toDF("doc_id", "rank").repartition(3)
    val one = Retrieval.rrfFuse(Seq(a, b), "doc_id", "rank", topN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val two = Retrieval.rrfFuse(Seq(a.coalesce(1), b.repartition(11)), "doc_id", "rank", topN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(one == two, s"fusion depends on partitioning: $one vs $two")
    assert(one.length == 5)
    // symmetric rankings: doc d scores rec(d) + rec(41-d), maximized at the
    // extremes d=1 and d=40 (rec(1)+rec(40)), tie broken by id.
    assert(one.head._1 == 1L && one(1)._1 == 40L, s"unexpected fused head: $one")
  }

  test("termCountTopK ranks by raw query-term count, ties by id") {
    import graft.ops.Retrieval
    val df = Seq(
      (1L, "x x y pad"), // 3 hits
      (2L, "x pad pad"), // 1 hit
      (3L, "pad pad pad"), // 0 hits -> excluded
      (4L, "y y x pad")) // 3 hits, ties doc 1 -> id order
      .toDF("doc_id", "text")
    val got = Retrieval.termCountTopK(df, "doc_id", "text", Seq("x", "y"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 3L), (4L, 2L, 3L), (2L, 3L, 1L)), s"got $got")
  }

  test("collocations rank bound pairs above independent ones, exact lift") {
    val df = Seq(
      (1L, "new york new york new york is big"),
      (2L, "new york has new york style pizza"),
      (3L, "is big is big is big has style")).toDF("doc_id", "text")
    val got = TextOps.collocationTopK(df, "text", minCount = 2L, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // every returned bigram respects the min count
    assert(got.forall(_._2 >= 2L))
    // Perfectly-bound pairs (every occurrence of both words is adjacent)
    // must outrank loosely-bound ones: "york new" (2 of 5 possible) and
    // "big is" (2 cross-pairs of words seen 4x each) trail "is big" (4/4)
    // and "new york" (5/5).
    val byName = got.map(g => g._1 -> g._3).toMap
    assert(byName("new york") > byName("york new"))
    assert(byName("is big") > byName("big is"))
    // lift of a perfectly-bound pair is T^2 / (B * c_ab) — rarer perfect
    // pairs score HIGHER (pointwise lift, like PMI, rewards surprise), so
    // "is big" (4x) outranks "new york" (5x). Check both exact values.
    val t = df.collect().flatMap(_.getString(1).split("\\s+")).length.toDouble
    val bTot = df.collect().map(_.getString(1).split("\\s+").length - 1).sum.toDouble
    def perfectLift(cab: Double) = (cab / bTot) / ((cab / t) * (cab / t))
    assert(got.head._1 == "is big" && got.head._2 == 4L)
    assert(math.abs(byName("is big") - perfectLift(4.0)) < 1e-12)
    assert(math.abs(byName("new york") - perfectLift(5.0)) < 1e-12)
  }

  test("weighted sample is deterministic, rate-monotone, and clamps rates") {
    import graft.ops.Sampling
    val df = spark.range(2000).toDF("id").withColumn("id", col("id"))
    def kept(rate: org.apache.spark.sql.Column): Set[Long] =
      Sampling.weightedSample(df, "id", rate).collect().map(_.getLong(0)).toSet
    val half = kept(lit(0.5))
    // deterministic: identical set on rerun
    assert(kept(lit(0.5)) == half)
    // ~half kept (md5 coin is uniform; generous tolerance)
    assert(half.size > 800 && half.size < 1200, s"${half.size} kept at rate 0.5")
    // monotone: raising the rate only ever adds rows
    assert(half.subsetOf(kept(lit(0.8))))
    // clamped: rate > 1 keeps everything, rate < 0 keeps nothing
    assert(kept(lit(1.5)).size == 2000)
    assert(kept(lit(-0.1)).isEmpty)
  }

  test("boilerplate spans count distinct docs, not occurrences") {
    val df = Seq(
      (1L, "the same footer text here and more words"),
      (2L, "body body the same footer text here tail"),
      // doc 3 repeats the span twice but must count once
      (3L, "the same footer text here the same footer text here"),
      (4L, "completely unrelated content with nothing shared at all")).toDF("doc_id", "text")
    val got = TextOps.boilerplateSpans(df, "text", n = 5, minDocs = 3L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("the same footer text here") == 3L)
    // no gram from doc 4 can reach 3 docs
    assert(got.keys.forall(_.split(" ").length == 5))
    assert(!got.keys.exists(_.contains("unrelated")))
  }

  test("int8 quantization: bounded per-element error, exact dequantize twin") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = Quantize.quantizeInt8(e, "vec_id", "embedding")
    // every quantized element within int8 symmetric range
    assert(q.select(explode(col("qvec")).as("q"))
      .filter(col("q") > 127 || col("q") < -127).count() == 0)
    // dequantize error bound: |v_i - q_i*scale| <= scale/2 (round-to-nearest)
    val maxRel = q.join(e, "vec_id")
      .select(
        (array_max(zip_with(
          col("embedding"),
          Quantize.dequantizeInt8(col("qvec"), col("scale")),
          (v, d) => abs(v.cast("double") - d))) / col("scale")).as("rel"))
      .agg(max(col("rel"))).head().getDouble(0)
    assert(maxRel <= 0.5 + 1e-9, s"dequantize error exceeds half a step: $maxRel")
  }

  test("int8-quantized embeddings preserve brute-force top-k recall") {
    val e = Tables(spark, sfDir, "embeddings")
    val exact = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 20), "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val deq = Quantize.quantizeInt8(e, "vec_id", "embedding")
      .select(
        col("vec_id"),
        transform(
          Quantize.dequantizeInt8(col("qvec"), col("scale")),
          x => x.cast("float")).as("embedding"))
    val approx = Similarity
      .bruteForceTopK(deq, deq.filter($"vec_id" < 20), "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 quantization recall too low: $recall")
  }

  test("exact dedup keeps min id and counts copies") {
    val df = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L && out(0).getAs[Long]("n_copies") == 2L)
    assert(out(1).getAs[Long]("keep_id") == 3L && out(1).getAs[Long]("n_copies") == 1L)
  }

  test("identical texts share minhash signature; disjoint texts do not") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", 3, 8)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("minhash LSH pairs surface the duplicate with est_jaccard 1.0") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(
      Dedup.minhashSignatures(df, "doc_id", "text", 3, 8), 2, 4).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("doc_a") == 1L && pairs(0).getAs[Long]("doc_b") == 2L)
    assert(pairs(0).getAs[Double]("est_jaccard") == 1.0)
  }

  test("ngram jaccard is exact: half-overlapping docs") {
    // doc1 grams {a b c, b c d}; doc2 grams {a b c, b c x}: jaccard = 1/3
    val df = Seq((1L, "a b c d"), (2L, "a b c x")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.0).collect()
    assert(out.length == 1)
    assert(math.abs(out(0).getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-12)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", -1.0)
      .orderBy("vec_a", "vec_b").collect()
    assert(out.length == 3)
    assert(math.abs(out(0).getAs[Double]("cos") - 1.0) < 1e-12) // 1-2
    assert(math.abs(out(1).getAs[Double]("cos")) < 1e-12) // 1-3
  }

  test("brute-force top-k ranks the nearest vector first") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("nid")).toSeq == Seq(2L, 3L))
  }

  test("bruteForceTopK refuses a query side beyond maxQueryRows") {
    val e = Tables(spark, sfDir, "embeddings")
    val ex = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 3, maxQueryRows = 10)
    }
    assert(ex.getMessage.contains("topKRouted"))
  }

  test("topKRouted: small query sets take the exact brute path") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val routed = Similarity.topKRouted(e, q, "vec_id", "embedding", 3).collect()
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3).collect()
    assert(routed.map(_.toSeq).toSet == brute.map(_.toSeq).toSet)
  }

  test("topKRouted: oversize query sets delegate to the integer-IVF path") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val route = Similarity.AnnRoute(maxBruteForceQueries = 0, nCells = 8, nProbe = 2)
    val routed = Similarity.topKRouted(e, q, "vec_id", "embedding", 3, route).collect()
    val ivf = Similarity
      .ivfIntTopK(e, q, "vec_id", "embedding", nCells = 8, nProbe = 2, k = 3)
      .collect()
    assert(routed.map(_.toSeq).toSet == ivf.map(_.toSeq).toSet)
    assert(routed.nonEmpty)
  }

  test("topKRouted: routing-threshold boundary never changes answer or schema") {
    // Straddle the guard at (n, n-1 ⇒ routed): with nProbe = nCells every
    // cell is probed, so the IVF candidate set is the whole corpus minus
    // self and the exact rerank IS brute force — both arms must agree
    // bit-for-bit, so a future threshold change can never flip answers.
    val e = Tables(spark, sfDir, "embeddings").filter($"vec_id" < 60)
    val q = e.filter($"vec_id" < 20)
    val n = q.count()
    val bruteSide = Similarity.AnnRoute(maxBruteForceQueries = n, nCells = 4, nProbe = 4)
    val routedSide = bruteSide.copy(maxBruteForceQueries = n - 1)
    val brute = Similarity.topKRouted(e, q, "vec_id", "embedding", 3, bruteSide)
    val routed = Similarity.topKRouted(e, q, "vec_id", "embedding", 3, routedSide)
    assert(brute.schema.map(f => (f.name, f.dataType)) ==
      routed.schema.map(f => (f.name, f.dataType)),
      "output schema depends on which side of the routing threshold ran")
    val b = brute.collect().map(_.toSeq)
    assert(b.nonEmpty && b.toSet == routed.collect().map(_.toSeq).toSet)
  }

  test("topKRouted refuses non-integral id columns up front") {
    val e = Tables(spark, sfDir, "embeddings").limit(20)
      .withColumn("sid", $"vec_id".cast("string"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.topKRouted(e, e, "sid", "embedding", 3)
    }
    assert(ex.getMessage.contains("integral id column"))
  }

  test("routed hardNegatives ranks only label-differing IVF candidates") {
    val e = Tables(spark, sfDir, "embeddings")
      .filter($"vec_id" < 100)
      .withColumn("lbl", ($"vec_id" % 3).cast("string"))
    val route = Similarity.AnnRoute(maxBruteForceQueries = 0, nCells = 4, nProbe = 2)
    val out = Similarity
      .hardNegatives(e, e, "vec_id", "embedding", "lbl", 5, route)
      .collect()
    assert(out.nonEmpty)
    // every mined negative's label differs from its query's
    assert(out.forall(r => r.getAs[Long]("qid") % 3 != r.getAs[Long]("nid") % 3))
  }

  test("rolling fingerprint is order-sensitive where canonical fp is not") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val rows = df.select(
        TextOps.fingerprint($"text").as("fp"),
        TextOps.rollingFingerprint($"text").as("rfp"))
      .collect()
    assert(rows(0).getString(0) == rows(1).getString(0)) // canonical: order-free
    assert(rows(0).getLong(1) != rows(1).getLong(1)) // rolling: order-sensitive
    assert(rows(0).getLong(1) == rows(2).getLong(1)) // deterministic
  }

  test("lsh near-dup pairs are an exact subset of brute force with bounded recall") {
    val e = Tables(spark, sfDir, "embeddings")
    val brute = Dedup.bruteForceNearDupPairs(e, "vec_id", "embedding", 0.38)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.lshNearDupPairs(e, "vec_id", "embedding", 0.38, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Exact rerank: every emitted pair must match brute force bit-for-bit.
    assert(lsh.subsetOf(brute), s"LSH emitted pairs brute force did not: ${lsh -- brute}")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.6, s"LSH near-dup recall too low: $recall (${lsh.size}/${brute.size})")
  }

  test("ivf near-dup pairs are an exact subset of brute force") {
    val e = Tables(spark, sfDir, "embeddings")
    val brute = Dedup.bruteForceNearDupPairs(e, "vec_id", "embedding", 0.38)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = Dedup.ivfNearDupPairs(e, "vec_id", "embedding", 0.38, nCells = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf.subsetOf(brute), s"IVF emitted pairs brute force did not: ${ivf -- brute}")
    assert(ivf.nonEmpty, "IVF candidates found no pairs at all")
  }

  test("pcm frame energy: exact per-frame sums, short last frame, signed decode") {
    // Little-endian PCM16: [1, -2, 3] = bytes 01 00 FE FF 03 00; frame
    // size 2 → frame 0 = {1, -2} energy 5, frame 1 = {3} energy 9 (short).
    val pcm = Array[Byte](0x01, 0x00, 0xFE.toByte, 0xFF.toByte, 0x03, 0x00)
    val df = Seq((1L, pcm)).toDF("doc_id", "pcm")
    val out = Multimodal.pcmFrameEnergy(spark, df, "doc_id", "pcm", frameSize = 2)
      .collect().sortBy(_.frame)
    assert(out.length == 2)
    assert(out(0).n_samples == 2 && out(0).energy == 5L && out(0).rms == math.sqrt(2.5))
    assert(out(1).n_samples == 1 && out(1).energy == 9L && out(1).rms == 3.0)
    // An odd trailing byte is not a sample; an empty payload has no frames.
    val odd = Multimodal.pcmFrameEnergy(
      spark, Seq((1L, Array[Byte](0x01))).toDF("doc_id", "pcm"), "doc_id", "pcm", 2)
    assert(odd.count() == 0)
  }

  test("length-bucket batches group similar lengths and cut fixed-size batches") {
    val df = (1L to 40L).map(i => (i, if (i <= 30) 100L else 900L)).toDF("doc_id", "len")
    val out = TextOps.lengthBucketBatches(df, "doc_id", "len", bucketWidth = 200L, batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 40)
    val byBucket = out.groupBy(_._2)
    assert(byBucket.keySet == Set(0L, 4L), byBucket.keySet.toString)
    // 30 docs in bucket 0 → batches 0..3 (8+8+8+6); 10 docs in bucket 4 →
    // batches 0,1 (8+2). Slots are 0-based positions within the batch.
    assert(byBucket(0L).groupBy(_._3).view.mapValues(_.length).toMap ==
      Map(0L -> 8, 1L -> 8, 2L -> 8, 3L -> 6))
    assert(byBucket(4L).groupBy(_._3).view.mapValues(_.length).toMap == Map(0L -> 8, 1L -> 2))
    assert(out.forall(r => r._4 >= 0 && r._4 < 8))
    // Deterministic across partitionings.
    val again = TextOps.lengthBucketBatches(df.repartition(7), "doc_id", "len", 200L, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == again.toSet)
  }

  test("group embedding profile means match a hand computation exactly") {
    val df = Seq(
      (1, Seq(1.0f, 0.0f)),
      (1, Seq(0.0f, 1.0f)),
      (2, Seq(0.5f, 0.5f))).toDF("label", "embedding")
    val out = graft.ops.Profile.groupEmbeddingProfile(df, "label", "embedding")
      .orderBy("label", "pos").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1, 0L, 2L, 0.5), (1, 1L, 2L, 0.5),
      (2, 0L, 1L, 0.5), (2, 1L, 1L, 0.5)), out.toSeq.toString)
  }

  test("vocab coverage counts OOV tokens against the deterministic top-V cut") {
    // Corpus counts: x=2, y=2, z=1 → top-2 vocab is {x, y} (count desc,
    // token asc ties). Doc 2's 'z' is the only OOV occurrence.
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(df, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 3L, 0L, 0.0), (2L, 2L, 1L, 0.5)), out.toSeq.toString)
  }

  test("contamination report grades overlap by fraction, not count") {
    val corpus = Seq(
      (1L, "a b c d"), // grams {a b c, b c d}: both in bench → frac 1.0
      (2L, "a b c x y"), // grams {a b c, b c x, c x y}: 1 of 3 → frac 1/3
      (3L, "zz yy") // too short for a trigram: 0 grams, frac 0.0
    ).toDF("doc_id", "text")
    val bench = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val out = TextOps.contaminationReport(corpus, bench, "doc_id", "text", n = 3, minFrac = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 1.0, true),
      (2L, 1L, 3L, 1.0 / 3.0, false),
      (3L, 0L, 0L, 0.0, false)), out.toSeq.toString)
  }

  test("repeated-substring spans find the shared phrase at its position in each doc") {
    val df = Seq(
      (1L, "a b c d x"),
      (2L, "z a b c d"),
      (3L, "all unique tokens here")).toDF("doc_id", "text")
    val out = TextOps.repeatedSubstringSpans(df, "doc_id", "text", w = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // "a b c d" occurs in both docs: tokens 0-3 of doc 1, 1-4 of doc 2.
    assert(out.toSeq == Seq((1L, 0L, 3L, 4L), (2L, 1L, 4L, 4L)), out.toSeq.toString)
  }

  test("repeated-substring spans merge overlapping and touching shingle hits") {
    // Every trigram of the periodic string repeats, so the whole doc is
    // ONE maximal island, not six 3-token spans.
    val df = Seq((1L, "p q r p q r p q")).toDF("doc_id", "text")
    val out = TextOps.repeatedSubstringSpans(df, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 7L, 8L)), out.toSeq.toString)
  }

  test("df-capped jaccard kills stop-gram pairs and keeps rare-gram duplicates") {
    // Docs 1-4 share only the boilerplate trigram "x a b" (df=4); docs
    // 5-6 are true near-dups through rare grams (df=2 each).
    val df = Seq(
      (1L, "x a b p1 q1"),
      (2L, "x a b p2 q2"),
      (3L, "x a b p3 q3"),
      (4L, "x a b p4 q4"),
      (5L, "u v w r s"),
      (6L, "u v w r t")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)), "sanity: boilerplate links docs 1-2 uncapped")
    val capped = Dedup.ngramJaccardPairsCapped(df, "doc_id", "text", 3, 0.01, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.map(t => (t._1, t._2)).toSet == Set((5L, 6L)),
      s"stop-gram pairs must vanish, true dups must survive: ${capped.toSeq}")
    // Doc 5 grams after cap: {u v w, v w r, w r s}; doc 6: {u v w, v w r,
    // w r t} → inter 2, union 4 → jaccard 0.5 over the FILTERED sets.
    assert(capped.head._3 == 0.5, capped.head.toString)
  }

  test("benchmark spans locate exactly the leaked phrase, not the clean remainder") {
    val corpus = Seq(
      (1L, "intro words then the secret eval answer ends here"),
      (2L, "totally clean document with no leak at all")).toDF("doc_id", "text")
    val bench = Seq((99L, "the secret eval answer")).toDF("doc_id", "text")
    val out = TextOps.benchmarkSpans(corpus, bench, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // Bench trigrams: {the secret eval, secret eval answer} — they hit doc
    // 1 at positions 3 and 4, merging into one span over tokens 3..6.
    assert(out.toSeq == Seq((1L, 3L, 6L, 4L)), out.toSeq.toString)
  }

  test("removeRepeatedSubstrings cuts the spans and passes clean docs through") {
    val df = Seq(
      (1L, "a b c d x"),
      (2L, "z a b c d"),
      (3L, "all unique\ttokens\n\nhere")).toDF("doc_id", "text")
    val out = TextOps.removeRepeatedSubstrings(df, "doc_id", "text", w = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // Span-free docs pass through BYTE-IDENTICAL — tabs and newlines
    // intact, not token-rejoined.
    assert(out.toSeq == Seq(
      (1L, "x", 4L), (2L, "z", 4L), (3L, "all unique\ttokens\n\nhere", 0L)),
      out.toSeq.toString)
  }

  test("semDedup drops exactly the higher id of a near-identical pair") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", k = 1, iterations = 1, minCosine = 0.9)
      .orderBy("vec_id").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[Boolean]("kept")).toSeq == Seq(true, false, true))
    // An impossible threshold keeps everything.
    val all = Dedup.semDedup(df, "vec_id", "embedding", k = 1, iterations = 1, minCosine = 1.5)
    assert(all.filter(!$"kept").count() == 0)
  }

  test("semDedup drops are a subset of global brute-force near-dup targets") {
    val e = Tables(spark, sfDir, "embeddings")
    // Cluster scoping can only REMOVE candidate pairs vs the global
    // quadratic — every dropped id must be droppable globally — and the
    // lowest id in the corpus can never be dropped (no lower-id witness).
    val globalTargets = Dedup.bruteForceNearDupPairs(e, "vec_id", "embedding", 0.38)
      .select($"vec_b").distinct().collect().map(_.getLong(0)).toSet
    val out = Dedup.semDedup(e, "vec_id", "embedding", k = 16, iterations = 2, minCosine = 0.38)
    val dropped = out.filter(!$"kept").select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture produced no semantic duplicates at 0.38")
    assert(dropped.subsetOf(globalTargets),
      s"semDedup dropped ids no global near-dup pair justifies: ${dropped -- globalTargets}")
    assert(out.count() == e.count(), "semDedup must emit one row per input vector")
    val minId = e.agg(min($"vec_id")).head().getLong(0)
    assert(!dropped.contains(minId), "the lowest id has no lower-id witness and must be kept")
  }

  test("embedding near-dup routes to the bucketed plan above the size guard") {
    val e = Tables(spark, sfDir, "embeddings")
    val viaGuard = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.38,
        maxBruteForceRows = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshNearDupPairs(e, "vec_id", "embedding", 0.38, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGuard == lsh, "oversized corpus did not route to the LSH plan")
    val brute = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.38)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGuard != brute && viaGuard.subsetOf(brute),
      "size guard routing did not change the plan (or rerank drifted)")
  }

  test("ivf top-k achieves high recall against brute force on the fixture") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding",
        nCells = 8, nProbe = 4, k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("integer-quantized ivf achieves high recall against brute force") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val ivf = Similarity.ivfIntTopK(e, q, "vec_id", "embedding",
        nCells = 8, nProbe = 4, k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"integer IVF recall too low: $recall")
  }

  test("integer-quantized ivf serves EXTERNAL query sets (ids absent from the corpus)") {
    // A serving query set is usually NOT rows of the corpus: remap the ids
    // out of the corpus domain and the rerank must still use the query's
    // own vector — each external query's nearest neighbor is its corpus
    // twin (identical vector, cosine 1), which a corpus-lookup-by-qid bug
    // would miss entirely (empty result) or corrupt (wrong vector).
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10).withColumn("vec_id", $"vec_id" + 1000000L)
    val got = Similarity.ivfIntTopK(e, q, "vec_id", "embedding", nCells = 8, nProbe = 4, k = 3)
      .collect()
    assert(got.length == 30, s"expected 10 queries x top-3, got ${got.length}")
    val rank1 = got.filter(_.getAs[Long]("rank") == 1L)
    assert(rank1.forall(r =>
      r.getAs[Long]("nid") == r.getAs[Long]("qid") - 1000000L &&
        r.getAs[Double]("cos") > 0.999999),
      "external query did not find its identical corpus twin at rank 1")
  }

  test("ivfFit: fixed-point scale adapts to extreme vector magnitudes (no long overflow)") {
    // Two well-separated jittered clusters at |x| ~ 1e6, d = 4: the
    // data-derived power-of-two scale must land low enough that the
    // integer Lloyd's exact squared-L2 stays inside a long (a fixed 2^24
    // scale would wrap: (2·1e6·2^24)² ≫ 2⁶³ — wrapped distances scramble
    // the argmin and the centroids come back garbage).
    def mk(sign: Double) = (i: Int) =>
      (i.toLong, Array.tabulate(4)(_ => (sign * 1e6 + i * 10).toFloat))
    val big = ((0 until 4).map(mk(1.0)) ++ (4 until 8).map(mk(-1.0))).toDF("vec_id", "embedding")
    val idx = Similarity.ivfFit(big, "vec_id", "embedding", nCells = 2, persist = false)
    assert(idx.centroids.flatten.forall(c => c.isFinite && math.abs(c) < 1.1e6),
      s"overflowed centroids: ${idx.centroids.map(_.mkString(",")).mkString(" | ")}")
    val cells = idx.corpusCells.select("cell", "nid").as[(Int, Long)].collect()
    val groups = cells.groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(groups == Set((0L to 3L).toSet, (4L to 7L).toSet),
      s"clusters not separated at |x| ~ 1e6: ${cells.toSeq}")
    // Tiny magnitudes: the scale clamps at 2^24 (a float's full mantissa)
    // and the 1e-4-per-id jitter still resolves to distinct codes.
    def mkSmall(sign: Double) = (i: Int) =>
      (i.toLong, Array.tabulate(4)(_ => (sign * 1e-3 + i * 1e-4).toFloat))
    val small =
      ((0 until 4).map(mkSmall(1.0)) ++ (4 until 8).map(mkSmall(-1.0))).toDF("vec_id", "embedding")
    val idx2 = Similarity.ivfFit(small, "vec_id", "embedding", nCells = 2, persist = false)
    val cells2 = idx2.corpusCells.select("cell", "nid").as[(Int, Long)].collect()
    val groups2 = cells2.groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(groups2 == Set((0L to 3L).toSet, (4L to 7L).toSet),
      s"clusters not separated at |x| ~ 1e-3: ${cells2.toSeq}")
  }

  test("ivf fit-once index reproduces the one-shot path and is reused") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val oneShot = Similarity.ivfTopK(e, q, "vec_id", "embedding",
        nCells = 8, nProbe = 4, k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("nid"))).toSet
    val idx1 = Similarity.ivfIndexFor(e, "opsspec-emb", "vec_id", "embedding", nCells = 8)
    val idx2 = Similarity.ivfIndexFor(e, "opsspec-emb", "vec_id", "embedding", nCells = 8)
    assert(idx1 eq idx2, "index was refit instead of memoized")
    val served = Similarity.ivfQuery(idx1, q, "vec_id", "embedding", nProbe = 4, k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("nid"))).toSet
    assert(served == oneShot, "fit/query split changed results")
    idx1.unpersist()
  }

  test("ns20 IVF pipeline reproduces its golden result set exactly") {
    // The integer-quantized pipeline (lowest-id seed, integer Lloyd,
    // integer probe distances, deterministic tie-breaks) is fully
    // deterministic, so the exact (qid, rank, nid) set is pinned — not
    // just the recall bound. If an intentional quantizer change moves
    // this, regenerate via
    // SPARK_GRAFT_FILTER=ns20 tools/run_verify.sh /root/testdata/sf0.001.
    val golden = Set(
      (0, 1, 17), (0, 2, 225), (0, 3, 12), (1, 1, 257), (1, 2, 209), (1, 3, 129),
      (2, 1, 443), (2, 2, 62), (2, 3, 246), (3, 1, 205), (3, 2, 212), (3, 3, 84),
      (4, 1, 345), (4, 2, 98), (4, 3, 143), (5, 1, 113), (5, 2, 440), (5, 3, 298),
      (6, 1, 141), (6, 2, 434), (6, 3, 78), (7, 1, 382), (7, 2, 466), (7, 3, 209),
      (8, 1, 20), (8, 2, 385), (8, 3, 190), (9, 1, 381), (9, 2, 107), (9, 3, 365),
      (10, 1, 260), (10, 2, 96), (10, 3, 348), (11, 1, 307), (11, 2, 147), (11, 3, 160),
      (12, 1, 445), (12, 2, 288), (12, 3, 120), (13, 1, 140), (13, 2, 346), (13, 3, 105),
      (14, 1, 116), (14, 2, 203), (14, 3, 164), (15, 1, 226), (15, 2, 19), (15, 3, 332),
      (16, 1, 337), (16, 2, 253), (16, 3, 445), (17, 1, 0), (17, 2, 471), (17, 3, 62),
      (18, 1, 255), (18, 2, 7), (18, 3, 229), (19, 1, 189), (19, 2, 306), (19, 3, 70))
      .map { case (q, r, n) => (q.toLong, r.toLong, n.toLong) }
    val got = SparkEntry.queries("ns20_ivf_knn")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("nid")))
      .toSet
    assert(got == golden,
      s"IVF drifted from golden: extra=${got -- golden}, missing=${golden -- got}")
  }

  test("lsh kernel buckets match the declarative expression exactly") {
    val e = Tables(spark, sfDir, "embeddings").limit(100)
    val kern = Similarity.lshBucketsKernel(e, "vec_id", "embedding", 8, 64)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val decl = e.select($"vec_id",
        Similarity.lshBucket(transform($"embedding", x => x.cast("double")), 8, 64).as("bucket"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kern.sameElements(decl))
  }

  test("lsh bucket is deterministic and groups identical vectors") {
    val df = Seq(
      (1L, Seq.fill(4)(0.5f)),
      (2L, Seq.fill(4)(0.5f)),
      (3L, Seq.tabulate(4)(i => if (i % 2 == 0) 1.0f else -1.0f))).toDF("vec_id", "embedding")
    val b = df.select($"vec_id",
        Similarity.lshBucket(transform($"embedding", x => x.cast("double")), 6, 4).as("bucket"))
      .orderBy("vec_id").collect().map(_.getAs[Long]("bucket"))
    assert(b(0) == b(1))
  }

  test("simhash hamming pairs: identical docs at distance 0, disjoint far") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val out = Dedup.simhashPairs(df, "doc_id", "text", 0).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("doc_a") == 1L && out(0).getAs[Long]("doc_b") == 2L)
    assert(out(0).getAs[Long]("hamming") == 0L)
  }

  test("banded simhash candidates are lossless vs exhaustive popcount") {
    val docs = Tables(spark, sfDir, "documents").limit(200)
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exhaustive reference: all pairs, popcount filter
    val sims = Dedup.simhashPerDoc(docs, "doc_id", "text")
    val a = sims.alias("a"); val b = sims.alias("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
  }

  test("language id picks the marker-dominant language, 'und' when none") {
    val df = Seq(
      (1L, "the cat sat of the mat and left"),
      (2L, "der hund und die katze ist da"),
      (3L, "zzz yyy xxx")).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextOps.langId($"text").as("lang"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out.toSeq == Seq("en", "de", "und"))
    // the join-based table form must agree with the expression form
    val tbl = TextOps.langIdTable(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(tbl.toSeq == out.toSeq)
  }

  test("fingerprint is order- and duplication-invariant") {
    val df = Seq((1L, "b a c a"), (2L, "a b c"), (3L, "a b d")).toDF("doc_id", "text")
    val fp = df.select(TextOps.fingerprint($"text")).collect().map(_.getString(0))
    assert(fp(0) == fp(1))
    assert(fp(0) != fp(2))
  }

  test("asof backward join matches latest prior right row per key") {
    val left = Seq(
      (101L, 1L, "2024-01-01 10:00:00"),
      (102L, 1L, "2024-01-01 12:00:00"),
      (103L, 2L, "2024-01-01 09:00:00")).toDF("event_id", "user_id", "ts_s")
      .select($"event_id", $"user_id", $"ts_s".cast("timestamp").as("ts"))
    val right = Seq(
      (1L, "2024-01-01 09:30:00"),
      (1L, "2024-01-01 11:00:00"),
      (2L, "2024-01-01 09:30:00")).toDF("user_id", "ts_s")
      .select($"user_id", $"ts_s".cast("timestamp").as("ts"))
    val out = AsofJoin.backward(left, right, "user_id", "ts", "ts", "m")
      .orderBy("event_id").collect()
    assert(out(0).getTimestamp(3).toString.startsWith("2024-01-01 09:30"))
    assert(out(1).getTimestamp(3).toString.startsWith("2024-01-01 11:00"))
    assert(out(2).getTimestamp(3) == null) // no signup before 09:00
  }

  test("asof forward/nearest variants: direction, equal-ts ties, null edges") {
    val left = Seq(
      (101L, 1L, "2024-01-01 10:00:00"), // between 09:30 and 11:00 -> fwd 11:00, nearest 09:30 (30m < 60m)
      (102L, 1L, "2024-01-01 12:00:00"), // after the last right row -> fwd null, nearest bwd 11:00
      (103L, 2L, "2024-01-01 09:30:00"), // equal-ts right row -> fwd inclusive, nearest tie -> bwd=fwd
      (104L, 3L, "2024-01-01 09:00:00")).toDF("event_id", "user_id", "ts_s")
      .select($"event_id", $"user_id", $"ts_s".cast("timestamp").as("ts"))
    val right = Seq(
      (1L, "2024-01-01 09:30:00"),
      (1L, "2024-01-01 11:00:00"),
      (1L, "2024-01-01 11:00:00"), // duplicate right timestamp
      (2L, "2024-01-01 09:30:00"),
      (3L, "2024-01-01 10:00:00")).toDF("user_id", "ts_s")
      .select($"user_id", $"ts_s".cast("timestamp").as("ts"))
    val fwd = AsofJoin.forward(left, right, "user_id", "ts", "ts", "m")
      .orderBy("event_id").collect()
    assert(fwd(0).getTimestamp(3).toString.startsWith("2024-01-01 11:00"))
    assert(fwd(1).getTimestamp(3) == null) // nothing at-or-after 12:00
    assert(fwd(2).getTimestamp(3).toString.startsWith("2024-01-01 09:30")) // inclusive
    assert(fwd(3).getTimestamp(3).toString.startsWith("2024-01-01 10:00"))
    val near = AsofJoin.nearest(left, right, "user_id", "ts", "ts", "m")
      .orderBy("event_id").collect()
    assert(near(0).getTimestamp(3).toString.startsWith("2024-01-01 09:30")) // 30m < 60m
    assert(near(1).getTimestamp(3).toString.startsWith("2024-01-01 11:00")) // bwd only
    assert(near(2).getTimestamp(3).toString.startsWith("2024-01-01 09:30")) // distance-0 tie
    assert(near(3).getTimestamp(3).toString.startsWith("2024-01-01 10:00"))
  }

  test("asof tolerance nulls matches beyond the bound, keeps those within") {
    val left = Seq(
      (101L, 1L, "2024-01-01 10:00:00"), // 30m after signup -> within 1h
      (102L, 1L, "2024-01-01 12:00:00")) // 61m after latest signup -> out
      .toDF("event_id", "user_id", "ts_s")
      .select($"event_id", $"user_id", $"ts_s".cast("timestamp").as("ts"))
    val right = Seq(
      (1L, "2024-01-01 09:30:00"),
      (1L, "2024-01-01 10:59:00")).toDF("user_id", "ts_s")
      .select($"user_id", $"ts_s".cast("timestamp").as("ts"))
    val out = AsofJoin.backward(left, right, "user_id", "ts", "ts", "m",
        toleranceSec = Some(3600L))
      .orderBy("event_id").collect()
    assert(out(0).getTimestamp(3).toString.startsWith("2024-01-01 09:30"))
    assert(out(1).getTimestamp(3) == null) // 10:59 is 61m before 12:00
    val fwd = AsofJoin.forward(left, right, "user_id", "ts", "ts", "m",
        toleranceSec = Some(3600L))
      .orderBy("event_id").collect()
    assert(fwd(0).getTimestamp(3).toString.startsWith("2024-01-01 10:59")) // 59m <= 1h
    val fwdTight = AsofJoin.forward(left, right, "user_id", "ts", "ts", "m",
        toleranceSec = Some(1800L))
      .orderBy("event_id").collect()
    assert(fwdTight(0).getTimestamp(3) == null) // 59m beyond the 30m bound
  }

  test("asof joins reject reserved helper-column collisions") {
    val left = Seq((1L, "2024-01-01 10:00:00", 7L)).toDF("id", "ts_s", "__side")
      .select($"id", $"ts_s".cast("timestamp").as("ts"), $"__side")
    val right = Seq((1L, "2024-01-01 09:00:00")).toDF("id", "ts_s")
      .select($"id", $"ts_s".cast("timestamp").as("ts"))
    val e = intercept[IllegalArgumentException] {
      AsofJoin.backward(left, right, "id", "ts", "ts")
    }
    assert(e.getMessage.contains("__side"))
    val clean = left.drop("__side")
    val e2 = intercept[IllegalArgumentException] {
      AsofJoin.forward(clean, right, "id", "ts", "ts", asofTsName = "ts")
    }
    assert(e2.getMessage.contains("asofTsName"))
  }

  test("kernel, exploded, and declarative minhash signatures all agree") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
    val fast = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val exploded = Dedup.minhashSignaturesExploded(docs, "doc_id", "text", 3, 8)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val slow = docs.select(col("doc_id"),
        TextOps.minhashSignature(TextOps.shingles(col("text"), 3), 8).as("sig"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(fast.sameElements(slow))
    assert(fast.sameElements(exploded))
  }

  test("kernel, exploded, and declarative simhash all agree") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
    val fast = Dedup.simhashPerDoc(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exploded = Dedup.simhashPerDocExploded(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val slow = docs.select(col("doc_id"), TextOps.simhash32(col("text")).as("simhash"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.sameElements(slow))
    assert(fast.sameElements(exploded))
  }

  test("kernel rolling fingerprint matches the declarative HOF form") {
    // Edge cases the JVM tokenizer must replicate exactly: Spark trim
    // strips ASCII spaces only; split keeps trailing empties; md5 over
    // UTF-8 bytes; length counts code points.
    val tricky = Seq(
      (1L, "the quick brown fox"),
      (2L, ""),
      (3L, "   "),
      (4L, "\ttab\nnewline  edges\t"),
      (5L, "ünïcødé 你好 🙂 mix"),
      (6L, "punct!!! (lots) [of] {it}; ~1.5%"),
      (7L, "der die das und the a of el la le"),
      (8L, "single")).toDF("doc_id", "text")
    tricky.select(
      col("doc_id"),
      TextOps.rollingFingerprint(col("text")).as("slow"),
      TextOps.rollingFingerprintFast(col("text")).as("fast")).collect()
      .foreach { r =>
        assert(r.getAs[Long]("slow") == r.getAs[Long]("fast"), s"rfp: $r")
      }
    // Quality features: the declarative punctRatio raises an ANSI
    // divide-by-zero on zero-length text (the kernel yields NaN instead —
    // strictly more robust at scale), so parity is asserted on the
    // non-degenerate rows.
    tricky.filter(length(trim(col("text"))) > 0).select(
      TextOps.avgWordLen(col("text")).as("awl_slow"),
      TextOps.stopwordRatio(col("text")).as("stop_slow"),
      TextOps.punctRatio(col("text")).as("punct_slow"),
      TextOps.qualityScore(col("text")).as("q_slow"),
      TextOps.qualityFeatures(col("text")).as("qf")).collect()
      .foreach { r =>
        val qf = r.getSeq[Double](4)
        def same(a: Double, b: Double) =
          (a.isNaN && b.isNaN) || java.lang.Double.compare(a, b) == 0
        assert(same(r.getAs[Double]("awl_slow"), qf(0)), s"awl: $r")
        assert(same(r.getAs[Double]("stop_slow"), qf(1)), s"stop: $r")
        assert(same(r.getAs[Double]("punct_slow"), qf(2)), s"punct: $r")
        assert(same(r.getAs[Double]("q_slow"), qf(3)), s"quality: $r")
      }
  }

  test("kernel forms match declarative forms on the fixture corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
      TextOps.rollingFingerprint(col("text")).as("slow"),
      TextOps.rollingFingerprintFast(col("text")).as("fast"),
      TextOps.qualityScore(col("text")).as("q_slow"),
      TextOps.qualityFeatures(col("text")).getItem(3).as("q_fast"))
      .filter(
        col("slow") =!= col("fast") ||
          (col("q_slow") =!= col("q_fast") &&
            !(isnan(col("q_slow")) && isnan(col("q_fast")))))
      .count()
    assert(diff == 0L)
  }

  test("kernel shingles match the windowed form and the declarative column form") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("doc_id", "gram").count()
        .orderBy("doc_id", "gram").collect().toSeq
    val kernel = norm(Dedup.shingleRows(docs, "doc_id", "text", 3))
    val windowed = norm(Dedup.shingleRowsWindowed(docs, "doc_id", "text", 3))
    assert(kernel == windowed)
    // short docs (< n tokens) produce no shingles in either form
    import spark.implicits._
    val tiny = Seq((1L, "one two"), (2L, ""), (3L, "a b c d")).toDF("doc_id", "text")
    val k = Dedup.shingleRows(tiny, "doc_id", "text", 3).collect()
    assert(k.map(_.getLong(0)).toSet == Set(3L))
    assert(k.map(_.getString(1)).sorted.toSeq == Seq("a b c", "b c d"))
  }

  test("kernel fingerprint matches the declarative array_sort/md5 form") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
      TextOps.fingerprint(col("text")).as("slow"),
      TextOps.fingerprintFast(col("text")).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(diff == 0L)
    // unicode + duplicates + empty: UTF-8 binary sort order must match
    import spark.implicits._
    val tricky = Seq(
      (1L, "b a b ü zz ß 你 好 a"),
      (2L, ""),
      (3L, "Z z A a 0 9 ~ !")).toDF("doc_id", "text")
    val rows = tricky.select(
      TextOps.fingerprint(col("text")).as("slow"),
      TextOps.fingerprintFast(col("text")).as("fast")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("kernel normalize matches the declarative regex chain") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def decl(c: org.apache.spark.sql.Column) =
      trim(regexp_replace(regexp_replace(lower(c), "[\\p{Punct}]", ""), "\\s+", " "))
    val diff = docs.select(
      decl(col("text")).as("slow"),
      call_function("graft_normalize", col("text")).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(diff == 0L)
    import spark.implicits._
    val tricky = Seq(
      (1L, "  A.B,,c   d!? "),
      (2L, "\tÜber\nALLES\r(x)"),
      (3L, ""),
      (4L, "...")).toDF("doc_id", "text")
    val rows = tricky.select(
      decl(col("text")).as("slow"),
      call_function("graft_normalize", col("text")).as("fast")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("language-id kernels match the explode+join table forms exactly") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // marker-word form
    val tbl = TextOps.langIdTable(docs, "doc_id", "text")
      .withColumnRenamed("lang_pred", "lp_table")
    val markerDiff = docs
      .select(col("doc_id"), TextOps.langIdMarkerFast(col("text")).as("lp_kernel"))
      .join(tbl, "doc_id")
      .filter(col("lp_kernel") =!= col("lp_table"))
      .count()
    assert(markerDiff == 0L)
    // trigram form over the same derived profiles
    val ngramTbl = TextOps
      .langIdNgramTable(docs, "doc_id", "text", TextOps.DefaultTrigramProfiles)
      .withColumnRenamed("lang_pred", "lp_table")
    val ngramDiff = docs
      .select(col("doc_id"), TextOps.langIdNgramFast(col("text")).as("lp_kernel"))
      .join(ngramTbl, "doc_id")
      .filter(col("lp_kernel") =!= col("lp_table"))
      .count()
    assert(ngramDiff == 0L)
    // tie-break + no-hit goldens
    import spark.implicits._
    val tricky = Seq(
      (1L, "the der"), // en/de tie -> earliest language in marker order (de)
      (2L, "zzz qqq"), // no marker -> und
      (3L, "")).toDF("doc_id", "text")
    val got = tricky
      .select(col("doc_id"), TextOps.langIdMarkerFast(col("text")).as("lp"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got.sameElements(Array("de", "und", "und")))
  }

  test("frame sampling slices the payload at stride offsets and reassembles") {
    val df = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val framed = Multimodal.sampleFrames(Multimodal.withPayload(df, "text"), 4, 10)
    val frames = framed.select($"frames").head().getSeq[Array[Byte]](0)
    assert(frames.length == 3) // ceil(10/4)
    assert(new String(frames.flatten.toArray, "UTF-8") == "abcdefghij")
  }

  test("clean-corpus pipeline gates language/quality and removes exact + near dups") {
    import graft.ops.CleanCorpus
    val df = Seq(
      (1L, "the cat sat of the mat and the dog ran to the yard"), // en, keeper
      (2L, "the cat sat of the mat and the dog ran to the yard"), // exact dup of 1
      (3L, "the cat sat of the mat and the dog ran to the house"), // near-dup of 1
      (4L, "der hund und die katze ist nicht da und der rest auch"), // german -> gated
      (5L, "the a of and to in is that the a of and to in is that") // en, keeper
    ).toDF("doc_id", "text")
    val out = CleanCorpus.run(df, "doc_id", "text", minQuality = 0.0, minJaccard = 0.5)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 5L))
  }

  test("multimodal stub decoder preserves partitioning and computes features") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
    val withMedia = Multimodal.withPayload(docs, "text")
    val feats = Multimodal.decodeFeatures(spark, withMedia, "doc_id").collect()
    assert(feats.length == 50)
    val d0 = feats.minBy(_.doc_id)
    assert(d0.n_bytes > 0 && d0.checksum > 0 && d0.width < 640 && d0.height < 480)
    // deterministic: same input -> same features
    val again = Multimodal.decodeFeatures(spark, withMedia, "doc_id").collect().minBy(_.doc_id)
    assert(again == d0)
  }

  test("wav codec: hand-computed golden, roundtrip, odd byte drop, junk rejection") {
    // Two LE int16 samples: 0x0201 = 513, 0xFF80 = -128 as (0x80, 0xFF).
    val data = Array[Byte](0x01, 0x02, 0x80.toByte, 0xff.toByte)
    val wav = Multimodal.encodeWavPcm16(data, sampleRate = 8000, channels = 1)
    assert(wav.length == 48 && new String(wav, 0, 4, "US-ASCII") == "RIFF")
    val f = Multimodal.decodeWavPcm16(7L, wav)
    assert(f == Multimodal.WavFeatures(7L, 8000L, 1L, 16L, 2L, 513L,
      513L * 513L + 128L * 128L))
    // odd trailing byte is dropped by the encoder
    val odd = Multimodal.decodeWavPcm16(1L, Multimodal.encodeWavPcm16(
      Array[Byte](0x01, 0x02, 0x03), 16000, 1))
    assert(odd.n_samples == 1L && odd.peak == 513L)
    // empty payload still yields a valid file with zero samples
    val empty = Multimodal.decodeWavPcm16(2L, Multimodal.encodeWavPcm16(Array.empty, 16000, 1))
    assert(empty.n_samples == 0L && empty.peak == 0L && empty.energy == 0L)
    // parser walks unknown chunks: splice a "LIST" chunk before "data"
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = wav.slice(0, 36) ++ listChunk ++ wav.slice(36, wav.length)
    val patched = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, spliced.length - 8).array()
    assert(Multimodal.decodeWavPcm16(3L, patched) == f.copy(doc_id = 3L))
    // junk is rejected, not silently decoded
    intercept[IllegalArgumentException] {
      Multimodal.decodeWavPcm16(4L, "not a wav at all".getBytes("US-ASCII"))
    }
    // hostile chunk size near Int.MaxValue must fail the bound check, not
    // wrap negative and bypass it
    val hostile = wav.clone()
    java.nio.ByteBuffer.wrap(hostile).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, Int.MaxValue) // data chunk size field
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(5L, hostile) }
  }

  test("ulaw codec: JDK decoder equals the G.711 table for all 256 bytes; features match") {
    // The ns208 oracle replays the published G.711 arithmetic; that is
    // only sound if the JDK's ULAW codec implements the SAME table. Feed
    // every possible encoded byte through javax.sound and compare.
    val allBytes = Array.tabulate[Byte](256)(_.toByte)
    val wav = Multimodal.encodeWavUlaw(allBytes, sampleRate = 8000, channels = 1)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val pcmFmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, ais)
    val buf = try dec.readAllBytes() finally { dec.close(); ais.close() }
    assert(buf.length == 512, "expected one int16 per encoded byte")
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 256).foreach { b =>
      assert(bb.getShort(2 * b).toInt == Multimodal.ulawDecode(b),
        s"JDK ULAW decode diverges from the G.711 table at byte $b")
    }
    // encode∘decode fixpoint: re-encoding a decoded value reproduces the
    // byte (the quantizer is idempotent on its own codebook)
    (0 until 256).foreach { b =>
      assert(Multimodal.ulawEncode(Multimodal.ulawDecode(b)) == b ||
        // +/-0 share a codebook point: 0x7f and 0xff both decode to 0
        Multimodal.ulawDecode(b) == 0,
        s"codebook not idempotent at byte $b")
    }
    // end-to-end features through the real codec
    import spark.implicits._
    val df = Seq((1L, Array[Byte](0x01, 0x02, 0x80.toByte, 0xff.toByte)))
      .toDF("doc_id", "pcm")
    val f = Multimodal.ulawFeatures(spark, df, "doc_id", "pcm").collect().head
    // 513 quantizes to 523 (exp 1), -128 to -132... compute via the table:
    val q1 = Multimodal.ulawDecode(Multimodal.ulawEncode(513))
    val q2 = Multimodal.ulawDecode(Multimodal.ulawEncode(-128))
    assert(f == Multimodal.UlawFeatures(1L, 2L,
      math.max(math.abs(q1), math.abs(q2)).toLong,
      q1.toLong * q1 + q2.toLong * q2))
  }

  test("ppm codec: golden decode with comments, exact channel sums, junk rejection") {
    val rgb = Array[Byte](10, 20, 30, 40, 50, 60) // 2x1 image
    val ppm = Multimodal.encodePpmP6(rgb, width = 2, height = 1)
    val f = Multimodal.decodePpmP6(5L, ppm)
    assert(f == Multimodal.PpmFeatures(5L, 2L, 1L, 255L, 10L + 40L, 20L + 50L, 30L + 60L))
    // header comments are legal PPM — the parser must skip them
    val withComment = ("P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII")) ++ rgb
    assert(Multimodal.decodePpmP6(6L, withComment) == f.copy(doc_id = 6L))
    intercept[IllegalArgumentException] {
      Multimodal.decodePpmP6(8L, "P3\n1 1\n255\n0 0 0".getBytes("US-ASCII")) // ASCII PPM != P6
    }
    // dimensions whose product wraps Int must fail the raster bound
    intercept[IllegalArgumentException] {
      Multimodal.decodePpmP6(9L, ("P6\n65536 65536\n255\n".getBytes("US-ASCII")) ++ rgb)
    }
    // a P6 magic followed by non-numeric garbage is rejected, not decoded
    // as a 0x0 image
    intercept[IllegalArgumentException] {
      Multimodal.decodePpmP6(10L, "P6 garbage here".getBytes("US-ASCII"))
    }
  }

  test("compressed-image decode: real PNG/JPEG/GIF through the JDK readers") {
    // PNG is lossless: decode(encode(rgb)) must recover the exact channel
    // sums of the source raster — proving a REAL deflate decode ran, not a
    // byte-level fake (the compressed payload's bytes share nothing with
    // the raster's).
    val rgb = Array.tabulate(4 * 3 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val png = Multimodal.encodePng(rgb, width = 4, height = 3)
    // sanity: it really is a PNG container
    assert((png(1) & 0xff, png(2) & 0xff, png(3) & 0xff) == (0x50, 0x4e, 0x47))
    val want = (
      rgb.grouped(3).map(t => (t(0) & 0xff).toLong).sum,
      rgb.grouped(3).map(t => (t(1) & 0xff).toLong).sum,
      rgb.grouped(3).map(t => (t(2) & 0xff).toLong).sum)
    val f = Multimodal.decodeImage(1L, png)
    assert(f.format == "png" && f.width == 4L && f.height == 3L)
    assert((f.sum_r, f.sum_g, f.sum_b) == want)
    // The distributed path produces the same rows.
    val df = Seq((1L, png), (2L, png)).toDF("doc_id", "bytes")
    val dist = Multimodal.imageFeatures(spark, df, "doc_id", "bytes")
      .collect().sortBy(_.doc_id)
    assert(dist.map(_.sum_r).toSeq == Seq(f.sum_r, f.sum_r))
    // JPEG: lossy — pin container/dimensions, not sums.
    val img = new java.awt.image.BufferedImage(6, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val jf = Multimodal.decodeImage(3L, out.toByteArray)
    assert(jf.format.startsWith("jp") && jf.width == 6L && jf.height == 2L)
    // GIF: lossless for <=256-color rasters.
    val out2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", out2)
    val gf = Multimodal.decodeImage(4L, out2.toByteArray)
    assert(gf.format == "gif" && gf.width == 6L && gf.height == 2L &&
      gf.sum_r == 0L && gf.sum_g == 0L && gf.sum_b == 0L)
    // Garbage is rejected by the reader sniff, not decoded as something.
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(9L, Array.fill[Byte](64)(0x2a))
    }
  }

  test("bpeEncode: hand-computed merges, boundary guards, greedy overlap") {
    // Corpus "the the cat": pair counts th=2, he=2, ca=1, at=1; ranked
    // (count desc, pair asc) → he, th. Applying `he` first consumes the
    // h, so `th` can no longer fire: the ⇒ [t, he]. Stream:
    // t he ␣ t he ␣ c a t = 9 tokens over 11 chars.
    val docs = Seq((1L, "The, the cat!")).toDF("doc_id", "text")
    val r = TextOps.bpeEncode(docs, "doc_id", "text", k = 2, maxChars = 120)
      .collect().head
    assert(r.getLong(1) == 11L, "n_chars")
    assert(r.getLong(2) == 9L, "n_tokens")
    assert(r.getString(3) == "·t··he·· ··t··he·· ··c··a··t·", r.getString(3))

    // Greedy overlap: merging (a,a) over "aaa" takes the leftmost pair —
    // aa|a — exactly one merge, like real BPE's single left-to-right pass.
    val aaa = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val r2 = TextOps.bpeEncode(aaa, "doc_id", "text", k = 1, maxChars = 120)
      .collect().head
    assert(r2.getString(3) == "·aa··a·· ··aa··a·", r2.getString(3))

    // Boundary guard: rule (a,b) must not fire inside the longer token
    // "xab" once x is attached — and never across the space.
    val g = Seq((1L, "ab ab ab xab a b")).toDF("doc_id", "text")
    val rg = TextOps.bpeEncode(g, "doc_id", "text", k = 1, maxChars = 120)
      .collect().head
    // top pair is "ab" (3 within-token occurrences + xab's = 4); merges
    // apply to "ab" tokens AND inside "xab" (x a b → x ab), but never to
    // the space-separated "a b".
    assert(rg.getString(3) == "·ab·· ··ab·· ··ab·· ··x··ab·· ··a·· ··b·",
      rg.getString(3))

    // The encode projection is shuffle-free: the returned plan has no
    // Exchange (mining already ran at build time; the corpus is encoded
    // in one scan-local projection chain).
    val plan = TextOps.bpeEncode(docs, "doc_id", "text", 2, 120)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)

    // The k merge rules chain k StringReplace expressions — analysis and
    // codegen cost is linear in the chain depth, so an unbounded k is a
    // plan-construction DoS, not a data problem. Refused at the boundary.
    val deep = intercept[IllegalArgumentException] {
      TextOps.bpeEncode(docs, "doc_id", "text", k = 257, maxChars = 120)
    }
    assert(deep.getMessage.contains("k <= 256"), deep.getMessage)
  }

  test("Incremental.applyChanges: appear / vanish / exact pre-image cancellation") {
    val state = Seq((1L, 2L, 300L), (2L, 1L, 50L))
      .toDF("k", "n_rows", "sum_cents")
    val changes = Seq(
      (3L, 1.25, "insert"),           // unseen key appears
      (2L, 0.50, "delete"),           // count reaches 0 → key vanishes
      (1L, 1.00, "update_preimage"),  // −100 cents
      (1L, 2.00, "update_postimage")  // +200 cents
    ).toDF("k", "v", "_change_type")
    val got = Incremental.applyChanges(state, changes, "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 400L), (3L, 1L, 125L)))
  }

  test("Incremental.scd2: close / open / pass-through across two transitions") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val h0 = Incremental.scd2Init(snap, 0L)
    // v0→v1: update k=1 (a→a2), delete k=2, insert k=4.
    val f1 = Seq(
      (1L, "a", "update_preimage"), (1L, "a2", "update_postimage"),
      (2L, "b", "delete"), (4L, "d", "insert")
    ).toDF("k", "v", "_change_type")
    val h1 = Incremental.scd2Apply(h0, f1, Seq("k"), 1L)
    // v1→v2: update k=1 again (a2→a3) — its v1 row must close, its v0 row
    // (already closed) must pass through untouched.
    val f2 = Seq(
      (1L, "a2", "update_preimage"), (1L, "a3", "update_postimage")
    ).toDF("k", "v", "_change_type")
    val h2 = Incremental.scd2Apply(h1, f2, Seq("k"), 2L)
    val got = h2.orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == Seq(
      (1L, "a", 0L, 1L, false),   // closed at v1
      (1L, "a2", 1L, 2L, false),  // closed at v2
      (1L, "a3", 2L, -1L, true),  // current
      (2L, "b", 0L, 1L, false),   // deleted → closed, never reopened
      (3L, "c", 0L, -1L, true),   // untouched → still the v0 row
      (4L, "d", 1L, -1L, true)),  // inserted at v1
      got.mkString(","))
    // Exactly one current row per live key; history is append-only in
    // row count (3 + 2 opens at v1 + 1 open at v2 = 6).
    assert(h2.count() == 6)
    assert(h2.where(col("is_current")).count() == 3)
  }

  test("TimeSeries.rollingAnomalies: exact-integer z-test, spike flagged, short history unjudged") {
    import graft.ops.TimeSeries
    // window=4, k=1. Row id=5 (v=50 over trailing [10,10,10,50]):
    // (4·50−80)² = 14400 > 1·(4·2800−80²) = 4800 → anomalous. Row id=6
    // (v=10 over [10,10,50,10]): (40−80)² = 1600 ≤ 4800 → clean. Rows
    // 1-3 lack a full window; key 2's single row is never judged.
    val ev = Seq(
      (1L, 1L, 10L), (1L, 2L, 10L), (1L, 3L, 10L), (1L, 4L, 10L),
      (1L, 5L, 50L), (1L, 6L, 10L), (2L, 7L, 99L))
      .toDF("k", "id", "v")
      .withColumn("ts", timestamp_micros(col("id")))
    val got = TimeSeries.rollingAnomalies(ev, "k", "ts", "id", "v", window = 4, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 5L, 50L)), got.toString)
  }

  test("TimeSeries.resampleInterpolated: empty buckets interpolate, observed keep their latest") {
    import graft.ops.TimeSeries
    // key 1: obs v=10 at t=0 and v=12 at t=60s (bucket 0 keeps its LATEST,
    // 12, which also anchors the interpolation), v=40 at t=7200s. Bucket 1
    // is empty → v0 + (v1−v0)·((tb−t0)/(t1−t0)) anchored at (12, 60s) and
    // (40, 7200s), reproduced here with the same operation order.
    val ev = Seq(
      (1L, 1L, 0L, 10.0), (1L, 2L, 60L, 12.0), (1L, 3L, 7200L, 40.0))
      .toDF("k", "id", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = TimeSeries.resampleInterpolated(ev, "k", "ts", "id", "v", 3600L)
      .orderBy("bucket_ts").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val mid = 12.0 + (40.0 - 12.0) * ((3600000000L - 60000000L).toDouble /
      (7200000000L - 60000000L).toDouble)
    assert(got == Seq((2L, 12.0), (0L, mid), (1L, 40.0)), got.mkString(","))
  }

  test("Incremental.validityJoin: version picked by window, boundaries half-open, current open-ended") {
    val dim = Seq(
      (1L, "v0", 0L, Some(10L)), (1L, "v1", 10L, Some(20L)), (1L, "v2", 20L, None),
      (2L, "w0", 5L, None)
    ).toDF("k", "v", "valid_from", "valid_to")
    val facts = Seq(
      (1L, 0L),   // at window start → v0
      (1L, 9L),   // last instant of v0
      (1L, 10L),  // boundary: half-open → v1, not v0
      (1L, 25L),  // open-ended current → v2
      (2L, 4L),   // before w0 opens → NO match (dropped)
      (2L, 7L),   // inside w0's open-ended window
      (3L, 7L)    // unknown key → dropped
    ).toDF("k", "t")
    val got = Incremental.validityJoin(facts, dim, Seq("k"), "t")
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 0L, "v0"), (1L, 9L, "v0"), (1L, 10L, "v1"),
      (1L, 25L, "v2"), (2L, 7L, "w0")), got.mkString(","))
  }

  test("Validate: per-check violation counts, pass flags, shared row-local pass") {
    val df = Seq(
      (1L, Some(5.0), Some("a")),
      (2L, Some(50.0), Some("b")),
      (2L, Some(-1.0), Some("zzz")),  // dup key, below range, out of set
      (3L, None, None),               // nulls: skipped by range/set, hit by not_null
      (3L, Some(101.0), Some("a"))    // dup key, above range
    ).toDF("id", "v", "s")
    val ref = Seq(1L, 3L).toDF("k")
    val got = Validate.validate(df, Seq(
        Validate.NotNull("s"),
        Validate.InRange("v", 0.0, 100.0),
        Validate.InSet("s", Seq("a", "b")),
        Validate.Unique("id"),
        Validate.RefIntegrity("id", ref, "k"),
        Validate.KAnonymity(Seq("s"), k = 2)))
      .orderBy("check").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq(
      ("in_range_v", 2L, false),
      ("in_set_s", 1L, false),
      ("k_anonymity_s", 3L, false),    // singleton combos b, zzz, NULL
      ("not_null_s", 1L, false),
      ("ref_integrity_id", 2L, false), // the two id=2 rows orphaned
      ("unique_id", 2L, false)),       // one extra each for ids 2 and 3
      got.toString)
    // All-clean table: every check passes with zero violations.
    val clean = Seq((1L, Some(1.0), Some("a"))).toDF("id", "v", "s")
    assert(Validate.validate(clean, Seq(
        Validate.NotNull("s"), Validate.InRange("v", 0.0, 2.0),
        Validate.Unique("id")))
      .collect().forall(r => r.getLong(1) == 0L && r.getBoolean(2)))
    // The three row-local checks share ONE aggregation pass: exactly one
    // scan of the input in the row-local subplan (no per-check re-scan).
    val rowLocalOnly = Validate.validate(df, Seq(
      Validate.NotNull("s"), Validate.InRange("v", 0.0, 100.0),
      Validate.InSet("s", Seq("a", "b"))))
    val scans = rowLocalOnly.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("LocalTableScan"))
    assert(scans == 1, s"$scans scans:\n$scans")
  }

  test("segmentDedup: corpus-global first-occurrence wins, ordered reassembly") {
    // Doc 1 owns every first occurrence; doc 2 re-uses [d e f] (dropped)
    // but keeps its own [x y z]; doc 3 is entirely a re-used segment →
    // empty clean_text, still present in the output.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "d e f x y z"),
      (3L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", segWords = 3)
      .orderBy("doc_id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq(
        (1L, 4L, 4L, "a b c d e f g h i j"),
        (2L, 2L, 1L, "x y z"),
        (3L, 1L, 0L, "")))
    // Election is an aggregate, not a per-segment window: no Window (and
    // so no per-group sort of segment text) anywhere in the plan.
    val plan = Dedup.segmentDedup(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("token fertility: per-lang exact sums and one IEEE division (ns102 shape)") {
    // Corpus pair counts: th=4, he=4 (two "the the cat" docs), aa=4
    // ("aaa aaa", overlapping positions), ca=2, at=2. Rank (count desc,
    // pair asc) → [aa, he]. Doc 1/2: only `he` fires → t he ␣ t he ␣
    // c a t = 9 tokens / 11 chars each. Doc 3: `aa` fires leftmost per
    // token → aa a ␣ aa a (the space is a token too) = 5 tokens over
    // the 7 normalized chars (spaces count).
    val docs = Seq(
      (1L, "the the cat", "en"),
      (2L, "the the cat", "en"),
      (3L, "aaa aaa", "xx")).toDF("doc_id", "text", "lang")
    val enc = TextOps.bpeEncode(docs, "doc_id", "text", k = 2, maxChars = 120)
      .select(col("doc_id").as("enc_id"),
        col("n_chars").as("enc_chars"), col("n_tokens").as("enc_tokens"))
    val got = docs.join(enc, col("doc_id") === col("enc_id"))
      .groupBy("lang")
      .agg(sum("enc_chars").as("c"), sum("enc_tokens").as("t"),
        (sum("enc_chars").cast("double") / sum("enc_tokens").cast("double"))
          .as("fertility"))
      .orderBy("lang").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("en", 22L, 18L), ("xx", 7L, 5L)))
    assert(got(0).getDouble(3) == 22.0 / 18.0)
    assert(got(1).getDouble(3) == 1.4)
  }

  test("charLmScore: hand-computed add-1 probabilities, held-out misses, no shuffle") {
    // Train doc "ab ab" → c2 {ab:2, "b ":1, " a":1}, c1 {a:2, b:1, " ":1}.
    // Doc 0 grams [ab, "b ", " a", ab]:
    //   p = [3/29, 2/28, 2/28, 3/29], mean over 4, 0 misses.
    // Doc 1 "ba": gram ba unseen → (0+1)/(c1(b)=1+27) = 1/28, 1 miss.
    // Doc 3 "x" normalizes to a single char → 0 transitions, score 0.0.
    val docs = Seq((0L, "AB ab!"), (1L, "ba"), (3L, "x?"))
      .toDF("doc_id", "text")
    val got = TextOps.charLmScore(
        docs, "doc_id", "text", trainFilter = col("doc_id") % 2 === 0, maxChars = 200)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exp0 = (3.0 / 29 + 2.0 / 28 + 2.0 / 28 + 3.0 / 29) / 4
    assert(got(0) == ((0L, 4L, 0L, exp0)), got(0).toString)
    assert(got(1) == ((1L, 1L, 1L, 1.0 / 28)), got(1).toString)
    assert(got(2) == ((3L, 0L, 0L, 0.0)), got(2).toString)

    // Scoring is a zero-shuffle projection: the count tables ride as dense
    // literal arrays into the codegen'd graft_charlm kernel (the exact
    // double assertions above pin the kernel bit-identical to the
    // declarative HOF twin's operation order), so the returned plan has no
    // Exchange and no interpreted lambda.
    val qe = TextOps.charLmScore(docs, "doc_id", "text", col("doc_id") % 2 === 0, 200)
      .queryExecution
    assert(!qe.executedPlan.toString.contains("Exchange"), qe.executedPlan.toString)
    // Asserted on the analyzed plan: over a local Seq input the optimizer
    // constant-folds the whole projection into the LocalTableScan.
    assert(qe.analyzed.toString.contains("graft_charlm"), qe.analyzed.toString)
  }

  test("spatial radius join: hand-computed pairs, cross-cell coverage, no cartesian") {
    import graft.ops.Spatial
    // (1,(0,0)) and (2,(3,4)) are d²=25 apart; (3,(9,0)) is d²=52 from 2
    // and 81 from 1; (4,(100,100)) is isolated. Radius 6: only pair (1,2).
    // Points 2 and 3 sit in DIFFERENT cells (cell width 6: 3÷6=0, 9÷6=1),
    // pair (2,3) at d²=52 > 36 is correctly rejected after candidacy;
    // radius 8 admits it (52 ≤ 64) ACROSS the cell boundary.
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L), (3L, 9L, 0L), (4L, 100L, 100L))
      .toDF("id", "x", "y")
    val r6 = Spatial.radiusPairs(pts, "id", "x", "y", 6L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r6 == Set((1L, 2L, 25L)), r6.toString)
    val r8 = Spatial.radiusPairs(pts, "id", "x", "y", 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r8 == Set((1L, 2L, 25L), (2L, 3L, 52L)), r8.toString)
    val nn = Spatial.nearestWithin(pts, "id", "x", "y", 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(nn == Set((1L, 2L, 25L), (2L, 1L, 25L), (3L, 2L, 52L)), nn.toString)
    // The whole point: a grid-bucketed equi-join, never a cross product.
    val plan = Spatial.radiusPairs(
        Tables(spark, sfDir, "customer").select(
          col("c_custkey").as("id"),
          (col("c_custkey") % 1000).as("x"), (col("c_custkey") % 997).as("y")),
        "id", "x", "y", 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
