package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Native codegen'd expression vs declarative fold: must be bit-identical,
  * reachable from SQL via the session extension, and actually codegen'd.
  */
class FunctionsSpec extends SparkSpec {

  test("graft_cosine is registered by GraftExtensions and callable from SQL") {
    Tables(spark, sfDir, "embeddings").createOrReplaceTempView("emb_fn")
    val r = spark.sql(
      "SELECT graft_cosine(a.embedding, b.embedding) c FROM emb_fn a JOIN emb_fn b " +
        "ON a.vec_id = 0 AND b.vec_id = 1").collect()
    assert(r.length == 1 && !r(0).isNullAt(0))
  }

  test("native expression matches the declarative fold bit-for-bit") {
    val e = Tables(spark, sfDir, "embeddings").limit(200)
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val pairs = a.join(b, col("ida") < col("idb")).limit(500)
    val both = pairs.select(
      call_function("graft_cosine", col("va"), col("vb")).as("fast"),
      Similarity.cosine(col("va"), col("vb")).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("self-cosine is exactly 1 for a nonzero vector only up to rounding") {
    import spark.implicits._
    val df = Seq((1L, Seq(3.0f, 4.0f))).toDF("id", "v")
    val c = df.select(call_function("graft_cosine", $"v", $"v")).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-15)
  }

  test("vector kernels are registered, callable from SQL, and exact") {
    val r = spark.sql(
      """SELECT
        |  graft_unit_normalize(array(3.0f, 4.0f)) AS nv,
        |  graft_dot(array(0.6d, 0.8d), array(0.6d, 0.8d)) AS d,
        |  graft_lsh_bands(array(3.0f, 4.0f), 2, 4, 2) AS bands
        |""".stripMargin).head()
    assert(r.getSeq[Double](0) == Seq(0.6, 0.8))
    assert(r.getDouble(1) == 1.0)
    val bands = r.getSeq[Long](2)
    assert(bands.length == 2 && bands.forall(b => b >= 0L && b < 16L))
  }

  test("graft_unit_normalize matches the JVM twin bit-for-bit") {
    import spark.implicits._
    val e = Tables(spark, sfDir, "embeddings").limit(200)
    val fast = e
      .select(col("vec_id").cast("long"), call_function("graft_unit_normalize", col("embedding")))
      .as[(Long, Array[Double])].collect().toMap
    val slow = e
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> graft.ops.Dedup.unitNormalize(v) }.toMap
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (id, v) => assert(v.sameElements(slow(id)), s"vec $id differs") }
  }

  test("cosine twins matrix: every kernel form agrees with its fold twin " +
      "bit-for-bit, and the two families agree to 1e-12") {
    // The repo computes cosine two ways, each with a DuckDB-oracle twin:
    //   family 1 (ns10/ns11):  dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))
    //     — graft_cosine kernel ≡ Similarity.cosine fold.
    //   family 2 (ns12/ns38):  dot(a/|a|, b/|b|) over pre-normalized
    //     vectors — graft_unit_normalize + graft_dot ≡ Dedup.unitNormalize
    //     + index-order fold.
    // WITHIN a family, kernel and fold are bit-identical (same widening,
    // same index-order accumulation) — pinned here so a kernel edit can't
    // silently fork from its oracle. ACROSS families bit-identity is NOT
    // expected (normalize-then-multiply rounds per element; divide-at-the-
    // end rounds once), so the cross check is a tight tolerance instead.
    val e = Tables(spark, sfDir, "embeddings").limit(120)
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val pairs = a.join(b, col("ida") < col("idb")).limit(400)
    val m = pairs.select(
      call_function("graft_cosine", col("va"), col("vb")).as("f1_kernel"),
      Similarity.cosine(col("va"), col("vb")).as("f1_fold"),
      call_function("graft_dot",
        call_function("graft_unit_normalize", col("va")),
        call_function("graft_unit_normalize", col("vb"))).as("f2_kernel"))
    assert(m.filter(col("f1_kernel") =!= col("f1_fold")).count() == 0,
      "graft_cosine forked from the declarative fold")
    assert(m.filter(abs(col("f1_kernel") - col("f2_kernel")) > 1e-12).count() == 0,
      "the two cosine families drifted beyond rounding")
    // family 2 kernel vs its JVM fold twin, bit-for-bit
    import spark.implicits._
    val rows = pairs.select(col("va"), col("vb"),
        call_function("graft_dot",
          call_function("graft_unit_normalize", col("va")),
          call_function("graft_unit_normalize", col("vb"))).as("k"))
      .as[(Array[Float], Array[Float], Double)].collect()
    rows.foreach { case (va, vb, k) =>
      val na = graft.ops.Dedup.unitNormalize(va)
      val nb = graft.ops.Dedup.unitNormalize(vb)
      var d = 0.0
      var i = 0
      while (i < math.min(na.length, nb.length)) { d += na(i) * nb(i); i += 1 }
      assert(java.lang.Double.doubleToLongBits(d) == java.lang.Double.doubleToLongBits(k),
        s"normalize+dot kernel forked from the JVM fold: $d vs $k")
    }
  }

  test("graft_ewma matches the aggregate-HOF fold bit-for-bit, null semantics") {
    // Kernel vs the interpreted HOF it replaces, over real fixture values
    // grouped per user — the exact plan shape TimeSeries.ewma builds.
    val ev = Tables(spark, sfDir, "events")
    val series = sort_array(collect_list(struct(
      unix_micros(col("ts")).as("t"),
      col("event_id").cast("long").as("i"),
      col("value").cast("double").as("v"))))
    val both = ev.groupBy(col("user_id")).agg(series.as("s"))
      .select(
        col("user_id"),
        call_function("graft_ewma", transform(col("s"), _.getField("v"))).as("k"),
        aggregate(
          slice(col("s"), lit(2), size(col("s")) - 1),
          element_at(col("s"), 1).getField("v"),
          (acc, x) => acc * 0.5 + x.getField("v") * 0.5).as("h"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.toString)
    }
    // Edge cases: empty → NULL, singleton → seed, null element → NULL.
    val edge = spark.sql(
      """SELECT graft_ewma(CAST(array() AS ARRAY<DOUBLE>)) AS e,
        |  graft_ewma(array(3.5d)) AS s,
        |  graft_ewma(array(1.0d, CAST(NULL AS DOUBLE))) AS n,
        |  graft_ewma(array(8.0d, 4.0d, 2.0d)) AS f""".stripMargin).head()
    assert(edge.isNullAt(0) && edge.getDouble(1) == 3.5 && edge.isNullAt(2))
    assert(edge.getDouble(3) == 4.0) // (8*.5+4*.5)=6, 6*.5+2*.5=4
  }

  test("graft_lsh_bands element 1 with one table equals the declarative lshBucket") {
    val e = Tables(spark, sfDir, "embeddings").limit(100)
    val both = e.select(
      element_at(
        call_function("graft_lsh_bands", col("embedding"), lit(1), lit(8), lit(64)), 1).as("fast"),
      Similarity.lshBucket(col("embedding"), 8, 64).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("every text kernel is registered and callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_rolling_fp('the quick brown fox') AS rfp,
        |  graft_fingerprint('b a b') AS fp,
        |  graft_quality('the cat sat') AS qf,
        |  graft_langid_marker('der hund und die katze') AS lm,
        |  graft_langid_ngram('the cat and the hat') AS ln,
        |  graft_shingles('a b c d', 3) AS sh,
        |  graft_simhash('a b c') AS simh,
        |  graft_minhash('a b c d e', 3, 4) AS mh,
        |  graft_normalize('  A.B,,c   d ') AS norm
        |""".stripMargin).head()
    assert(r.getLong(0) >= 0L)
    assert(r.getString(1).length == 32) // md5 hex
    assert(r.getSeq[Double](2).length == 4)
    assert(r.getString(3) == "de")
    assert(r.getString(4) == "en")
    assert(r.getSeq[String](5) == Seq("a b c", "b c d"))
    assert(r.getLong(6) >= 0L && r.getLong(6) < (1L << 32))
    assert(r.getSeq[Long](7).length == 4)
    assert(r.getString(8) == "abc d") // punct removed, runs collapsed, trimmed
  }

  test("graft_topk keeps the k largest across partitions in O(k) heap state") {
    import spark.implicits._
    val df = spark.sparkContext
      .parallelize((1L to 1000L) ++ Seq(5000L, 4000L), 8) // maxima in different partitions
      .toDF("v")
    val got = df.agg(call_function("graft_topk", col("v"), lit(3))).head()
      .getSeq[Long](0)
    assert(got == Seq(5000L, 4000L, 1000L), got.toString)
    // fewer values than k → all of them, descending; nulls ignored
    val small = Seq(Some(7L), None, Some(9L)).toDF("v")
      .agg(call_function("graft_topk", col("v"), lit(5))).head().getSeq[Long](0)
    assert(small == Seq(9L, 7L), small.toString)
    // duplicates count as separate members (multiset semantics)
    val dup = Seq(3L, 3L, 1L).toDF("v")
      .agg(call_function("graft_topk", col("v"), lit(2))).head().getSeq[Long](0)
    assert(dup == Seq(3L, 3L), dup.toString)
  }

  test("graft_topk plans as a partial-merged ObjectHashAggregate, not a window sort") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v")
      .groupBy("g").agg(call_function("graft_topk", col("v"), lit(2)).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_graft_topk") || plan.contains("partial graft_topk"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("TopKRewrite turns the slice/sort_array/collect_list antipattern into graft_topk") {
    import spark.implicits._
    val base = Seq(("a", 5L), ("a", 9L), ("a", 1L), ("b", 2L)).toDF("g", "v")
    def antipattern = base.groupBy("g")
      .agg(expr("slice(sort_array(collect_list(v), false), 1, 2)").as("t"))
    val plan = antipattern.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_topk"), plan)
    assert(!plan.contains("collect_list"), plan)
    val got = antipattern.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got == Map("a" -> Seq(9L, 5L), "b" -> Seq(2L)), got.toString)
    // opt-out restores the literal plan
    spark.conf.set("spark.graft.rewrite.topk", "false")
    try {
      val off = antipattern.queryExecution.optimizedPlan.toString
      assert(off.contains("collect_list") && !off.contains("graft_topk"), off)
    } finally spark.conf.unset("spark.graft.rewrite.topk")
  }

  test("TopKRewrite leaves non-matching shapes alone") {
    import spark.implicits._
    val base = Seq(("a", 5L), ("a", 9L)).toDF("g", "v")
    // ascending sort: NOT top-k — must not rewrite
    val asc = base.groupBy("g")
      .agg(expr("slice(sort_array(collect_list(v), true), 1, 2)").as("t"))
    assert(!asc.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    // distinct collect_list: different multiset — must not rewrite
    val dist = base.groupBy("g")
      .agg(expr("slice(sort_array(collect_set(v), false), 1, 2)").as("t"))
    assert(!dist.queryExecution.optimizedPlan.toString.contains("graft_topk"))
  }

  test("ApproxDistinctRewrite: off by default, fires under the conf, exact answer on tiny data") {
    import spark.implicits._
    val base = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v")
    def q = base.groupBy("g").agg(countDistinct("v").as("d"))
    // default OFF: the rewrite changes results, so it must be opt-in
    assert(!q.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
    spark.conf.set("spark.graft.rewrite.approxDistinct", "true")
    try {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"), plan)
      // HLL++ is exact at these cardinalities — values still correct
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 2L, "b" -> 1L), got.toString)
      // plain COUNT(*) must be left alone even with the conf on
      val plain = base.groupBy("g").agg(count("v").as("c"))
      assert(!plain.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
    } finally spark.conf.unset("spark.graft.rewrite.approxDistinct")
  }

  test("graft_nfc composes decomposed sequences and fast-paths NFC text") {
    val dec = "é café" // e + combining acute, twice
    val r = spark.sql(s"SELECT graft_nfc('$dec') AS n, graft_nfc('plain ascii') AS p").head()
    assert(r.getString(0) == "é café", r.getString(0))
    assert(r.getString(0).length == dec.length - 2) // two marks composed away
    assert(r.getString(1) == "plain ascii")
  }

  test("graft_script_mix: full-BMP spectrum equals the regex script classes") {
    // The kernel classifies via Character.UnicodeScript.of; the
    // declarative twin via java.util.regex \p{IsLatin|IsCyrillic|IsGreek}.
    // Pin their agreement over EVERY BMP code point (surrogates excluded —
    // unpaired surrogates cannot ride in valid UTF-8) plus supplementary
    // samples from each audited script's astral blocks and some non-script
    // astral noise.
    import spark.implicits._
    val astral = Seq(
      0x10780, // Latin Extended-F (modifier letters)
      0x1E030, // Cyrillic Extended-D
      0x1D242, // Greek musical notation combining mark
      0x10400, // Deseret (none of the three)
      0x1F600) // emoji (Common)
    val cps = ((0 until 0xD800) ++ (0xE000 to 0xFFFF) ++ astral).map(cp =>
      (cp, new String(Character.toChars(cp))))
    val df = cps.toDF("cp", "s").repartition(8)
    val kernel = call_function("graft_script_mix", col("s"))
    val bad = df.select(
      col("cp"),
      element_at(kernel, 1).as("k_lat"),
      element_at(kernel, 2).as("k_cyr"),
      element_at(kernel, 3).as("k_grk"),
      length(regexp_replace(col("s"), "[^\\p{IsLatin}]", "")).cast("long").as("r_lat"),
      length(regexp_replace(col("s"), "[^\\p{IsCyrillic}]", "")).cast("long").as("r_cyr"),
      length(regexp_replace(col("s"), "[^\\p{IsGreek}]", "")).cast("long").as("r_grk"))
      .filter(col("k_lat") =!= col("r_lat") || col("k_cyr") =!= col("r_cyr") ||
        col("k_grk") =!= col("r_grk"))
    assert(bad.isEmpty, bad.limit(20).collect().mkString("\n"))
  }

  test("graft_script_mix profile equals the declarative twin on crafted + fixture rows") {
    import spark.implicits._
    val crafted = Seq(
      1L -> "pure ascii latin words",
      2L -> "pаypаl раss homoglyph poison", // Cyrillic а/р inside Latin tokens
      3L -> "чисто русский текст без примесей", // all-Cyrillic: NOT mixed
      4L -> "καθαρό ελληνικό κείμενο", // all-Greek: NOT mixed
      5L -> "δkappa-latin and русskий mixes", // Greek+Latin, Cyrillic+Latin
      6L -> "tabs\tand\nnewlinesseparate\ftokens\rtoo",
      7L -> "  leading spaces and trailing  ",
      8L -> "", // empty
      9L -> "αβγ-кир one token all three δк", // Greek+Cyrillic tokens
      10L -> "astral 𐐀 deseret and 😀 emoji",
      11L -> "12345 .,;: no letters at all",
      12L -> "x") // single char
      .toDF("doc_id", "text")
    val fixture = Tables(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"), col("text"))
    Seq(crafted, fixture).foreach { docs =>
      val fast = graft.ops.TextOps.scriptMixProfile(docs, "doc_id", "text")
      val slow = graft.ops.TextOps.scriptMixProfileDeclarative(docs, "doc_id", "text")
      assert(fast.schema == slow.schema, s"${fast.schema} vs ${slow.schema}")
      val diff = fast.as("f").join(slow.as("s"), "doc_id")
        .filter(col("f.n_latin") =!= col("s.n_latin") ||
          col("f.n_cyrillic") =!= col("s.n_cyrillic") ||
          col("f.n_greek") =!= col("s.n_greek") ||
          col("f.n_mixed_tokens") =!= col("s.n_mixed_tokens") ||
          col("f.suspicious") =!= col("s.suspicious"))
      assert(diff.isEmpty, diff.limit(10).collect().mkString("\n"))
    }
    // The kernel path must actually be the one in use (extensions on).
    // Checked on the parquet-backed frame only: the crafted literal rows
    // constant-fold at plan time into a LocalTableScan — itself proof the
    // kernel evaluated (interpreted path) during folding.
    assert(graft.ops.TextOps.scriptMixProfile(fixture, "doc_id", "text")
      .queryExecution.executedPlan.toString.contains("graft_script_mix"))
    // non-vacuity: the poisoned rows fire the mixed branch
    val got = graft.ops.TextOps.scriptMixProfile(crafted, "doc_id", "text")
      .filter(col("suspicious")).select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 5L, 9L), got.mkString(","))
  }

  test("graft_markup_counts markup density equals the declarative twin") {
    import spark.implicits._
    val crafted = Seq(
      1L -> "plain prose with no markup at all",
      2L -> "see http://a.b/x and https://c.d/y?z=1 twice",
      3L -> "mail a.b@example.com and x_y%z+w@sub.domain.org now",
      4L -> "<b>bold</b><i>it</i> <not<nested>> <>",
      5L -> "", // empty: counts 0, n_chars 0, density NULL
      6L -> "http:// not-a-url https://x ok@x email@no-tld",
      7L -> "<unclosed tag never ends and a@b.cc inside",
      8L -> "mixed <a href=\"http://e.f/g\">link a@b.co</a> all three")
      .toDF("doc_id", "text")
    val fixture = Tables(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"), col("text"))
    Seq(crafted, fixture).foreach { docs =>
      val fast = graft.ops.TextOps.markupDensity(docs, "doc_id", "text")
      val slow = graft.ops.TextOps.markupDensityDeclarative(docs, "doc_id", "text")
      assert(fast.columns.toSeq == slow.columns.toSeq)
      val cmp = fast.columns.filter(_ != "doc_id").map(c =>
        col(s"f.$c") =!= col(s"s.$c") || col(s"f.$c").isNull =!= col(s"s.$c").isNull)
        .reduce(_ || _)
      val diff = fast.as("f").join(slow.as("s"), "doc_id").filter(cmp)
      assert(diff.isEmpty, diff.limit(10).collect().mkString("\n"))
    }
    assert(graft.ops.TextOps.markupDensity(fixture, "doc_id", "text")
      .queryExecution.executedPlan.toString.contains("graft_markup_counts"))
    // non-vacuity: all three pattern classes fire
    val got = graft.ops.TextOps.markupDensity(crafted, "doc_id", "text")
      .select("doc_id", "n_urls", "n_emails", "n_tags")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(2L) == ((2L, 0L, 0L)))
    assert(got(3L) == ((0L, 2L, 0L)))
    assert(got(4L) == ((0L, 0L, 5L)), got(4L).toString)
    assert(got(8L) == ((1L, 1L, 2L)), got(8L).toString)
  }

  test("graft_ngram_rep repetition profile equals the declarative twin") {
    import spark.implicits._
    val crafted = Seq(
      1L -> "a b a b a", // repeated bigrams AND trigrams
      2L -> "x y z", // all grams unique
      3L -> "w w w w w w", // one gram repeated throughout
      4L -> "solo", // 1 token: no bigrams, no trigrams
      5L -> "two tokens", // bigram only, no trigram
      6L -> "", // empty text
      7L -> "  ragged   spacing  makes empty   tokens  ragged   spacing",
      8L -> "astral 𐐀 𐐀 astral 𐐀 𐐀 astral") // supplementary-plane tokens
      .toDF("doc_id", "text")
    val fixture = Tables(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"), col("text"))
    Seq(crafted, fixture).foreach { docs =>
      val fast = graft.ops.TextOps.ngramRepetitionProfile(docs, "doc_id", "text")
      val slow = graft.ops.TextOps.ngramRepetitionProfileDeclarative(docs, "doc_id", "text")
      // the twin is the slice-fold shingles(Column) spelling, not a kernel
      assert(!slow.queryExecution.analyzed.toString.contains("graft_shingles"))
      assert(fast.columns.toSeq == slow.columns.toSeq)
      val cmp = fast.columns.filter(_ != "doc_id").map(c =>
        col(s"f.$c") =!= col(s"s.$c") || col(s"f.$c").isNull =!= col(s"s.$c").isNull)
        .reduce(_ || _)
      val diff = fast.as("f").join(slow.as("s"), "doc_id").filter(cmp)
      assert(diff.isEmpty, diff.limit(10).collect().mkString("\n"))
      assert(fast.count() == slow.count())
    }
    // the kernel path must actually be the one in use (extensions on)
    assert(graft.ops.TextOps.ngramRepetitionProfile(fixture, "doc_id", "text")
      .queryExecution.executedPlan.toString.contains("graft_ngram_rep"))
    // non-vacuity: repeated and gram-less docs exercise both branches
    val got = graft.ops.TextOps.ngramRepetitionProfile(crafted, "doc_id", "text")
      .select("doc_id", "g2_total", "g2_dup", "g2_top", "g3_total")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(got(1L) == ((Some(4L), Some(4L), Some(2L), Some(3L)))) // "a b"x2 "b a"x2; "a b a"x2
    assert(got(3L) == ((Some(5L), Some(5L), Some(5L), Some(4L)))) // "w w"x5
    assert(got(4L) == ((None, None, None, None)))
    assert(got(5L) == ((Some(1L), Some(0L), Some(1L), None)))
  }

  test("repetition-profile declarative twin: no-extension shingles fallback matches") {
    // The twin explodes the slice-fold shingles(Column) — the spelling a
    // session without the Graft kernels would run; its gram stream must
    // equal the graft_shingles kernel's, doc by doc, for both widths.
    import spark.implicits._
    val docs = Seq(
      1L -> "a b a b a", 2L -> "x y z", 3L -> "w w w w w w",
      4L -> "solo", 5L -> "two tokens", 6L -> "",
      7L -> "  ragged   spacing  makes empty   tokens  ragged   spacing",
      8L -> "astral 𐐀 𐐀 astral 𐐀 𐐀 astral").toDF("doc_id", "text")
    val twin = graft.ops.TextOps.ngramRepetitionProfileDeclarative(
      docs, "doc_id", "text")
    assert(!twin.queryExecution.analyzed.toString.contains("graft_shingles"))
    Seq(2, 3).foreach { n =>
      val grams = docs.select(
        col("doc_id"),
        graft.ops.TextOps.shingles(col("text"), n).as("fold"),
        graft.engine.Graft.kernel(spark, "graft_shingles", col("text"), lit(n)).as("kern"))
      assert(grams.queryExecution.analyzed.toString.contains("graft_shingles"))
      val diff = grams.filter(!(col("fold") <=> col("kern")))
      assert(diff.isEmpty, diff.limit(10).collect().mkString("\n"))
      // non-vacuity: grams present and absent both occur
      val sizes = grams.select(col("doc_id"), size(col("kern")))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(sizes(1L) == 5 - n + 1 && sizes(4L) == 0, sizes.toString)
    }
    // the twin over that fallback stream equals the kernel profile
    val fast = graft.ops.TextOps.ngramRepetitionProfile(docs, "doc_id", "text")
    assert(fast.columns.toSeq == twin.columns.toSeq)
    val cmp = fast.columns.filter(_ != "doc_id").map(c =>
      col(s"f.$c") =!= col(s"s.$c") || col(s"f.$c").isNull =!= col(s"s.$c").isNull)
      .reduce(_ || _)
    val diff = fast.as("f").join(twin.as("s"), "doc_id").filter(cmp)
    assert(diff.isEmpty, diff.limit(10).collect().mkString("\n"))
    assert(fast.count() == twin.count())
  }

  test("graft_ngram_rep rejects non-positive n at analysis") {
    import spark.implicits._
    val docs = Seq(1L -> "a b c").toDF("doc_id", "text")
    docs.createOrReplaceTempView("ngram_rep_guard_docs")
    Seq(0, -2).foreach { n =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(
          s"SELECT graft_ngram_rep(text, $n) FROM ngram_rep_guard_docs").collect()
      }
      assert(e.getMessage.contains("n >= 1"), e.getMessage)
    }
    // n = 1 stays legal: every token is its own gram
    val r = spark.sql(
      "SELECT graft_ngram_rep(text, 1) AS p FROM ngram_rep_guard_docs").head()
    assert(r.getSeq[Long](0) == Seq(3L, 0L, 1L))
  }

  test("graft_ngram_rep: an n that fails to evaluate is an analysis error") {
    import spark.implicits._
    Seq(1L -> "a b c").toDF("doc_id", "text").createOrReplaceTempView("ngram_rep_eval_docs")
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(
          "SELECT graft_ngram_rep(text, CAST(1/0 AS INT)) FROM ngram_rep_eval_docs").collect()
      }
      assert(e.getMessage.contains("failed to evaluate"), e.getMessage)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("graft_marker_hits language-mix profile equals the declarative twin") {
    import spark.implicits._
    val crafted = Seq(
      1L -> "the cat and the hat is that", // pure en
      2L -> "der hund und die katze ist nicht da the end", // de + en marks
      3L -> "el que la y los der die une dans 的 是", // three-way tie shapes
      4L -> "no marker words here whatsoever",
      5L -> "", // empty
      6L -> "  la   le  les ", // fr/es overlap (la in both) + ragged spaces
      7L -> "und") // single marker token
      .toDF("doc_id", "text")
    val fixture = Tables(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"), col("text"))
    Seq(crafted, fixture).foreach { docs =>
      val fast = graft.ops.TextOps.languageMixProfile(docs, "doc_id", "text")
      val slow = graft.ops.TextOps.languageMixProfileDeclarative(docs, "doc_id", "text")
      assert(fast.schema == slow.schema, s"${fast.schema} vs ${slow.schema}")
      val diff = fast.as("f").join(slow.as("s"), "doc_id")
        .filter(col("f.n_marked") =!= col("s.n_marked") ||
          col("f.top_hits") =!= col("s.top_hits") ||
          col("f.top_lang") =!= col("s.top_lang") ||
          col("f.mix_ratio") =!= col("s.mix_ratio") ||
          col("f.mix_ratio").isNull =!= col("s.mix_ratio").isNull)
      assert(diff.isEmpty, diff.limit(10).collect().mkString("\n"))
    }
    assert(graft.ops.TextOps.languageMixProfile(fixture, "doc_id", "text")
      .queryExecution.executedPlan.toString.contains("graft_marker_hits"))
  }

  test("graft_cooc_pairs co-occurrence equals the positional-join twin") {
    import spark.implicits._
    val crafted = Seq(
      1L -> "a b c d e", // plain window-3 pairs
      2L -> "x x x", // repeated token: (x,x) multiplicities
      3L -> "b a", // ordering: pair must come out (a,b)
      4L -> "one", // single token: no pairs
      5L -> "", // empty
      6L -> "t\tu\nv w", // non-space separators
      // UTF-8 binary vs UTF-16 ordering: U+10000 (4-byte UTF-8) sorts
      // ABOVE U+FFFD (3-byte) in binary order but BELOW it in Java
      // String order — the pair must be (�, 𐀀).
      7L -> "𐀀 �",
      8L -> "  padded   runs  of   spaces  ")
      .toDF("doc_id", "text")
    val fixture = Tables(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"), col("text"))
    Seq(crafted, fixture).foreach { docs =>
      val fast = graft.ops.Association.cooccurrence(docs, "doc_id", "text", 3)
      val slow = graft.ops.Association.cooccurrenceDeclarative(docs, "doc_id", "text", 3)
      assert(fast.schema == slow.schema, s"${fast.schema} vs ${slow.schema}")
      val diff = fast.as("f").join(slow.as("s"), Seq("tok_a", "tok_b"), "full")
        .filter(col("f.n_cooc").isNull || col("s.n_cooc").isNull ||
          col("f.n_cooc") =!= col("s.n_cooc"))
      assert(diff.isEmpty, diff.limit(10).collect().mkString("\n"))
    }
    // the supplementary-plane pair ordered by UTF-8 binary, not UTF-16
    val astral = graft.ops.Association.cooccurrence(
      Seq(7L -> "𐀀 �").toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("tok_a", "tok_b").as[(String, String)].collect()
    assert(astral.toSeq == Seq(("�", "𐀀")), astral.mkString)
    // the kernel path is the one in use, and the position self-join is gone
    val plan = graft.ops.Association.cooccurrence(fixture, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_cooc_pairs"), plan)
    assert(!plan.contains("Join"), s"kernel path still joins:\n$plan")
  }
}
