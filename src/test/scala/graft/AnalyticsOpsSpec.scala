package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, Dedup, Funnel, Graph, Importance, Linkage, Merge, Profile, Quantize}

/** Specs for the round-6 analytics operator batch: record linkage, funnel,
  * integer PageRank, CDC merge, incremental dedup, cents histogram.
  */
class AnalyticsOpsSpec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------- linkage

  test("fuzzySelfJoin finds exact-duplicate and near names, never self-pairs") {
    val df = Seq(
      (1L, "blue bolt"),
      (2L, "blue bolt"),   // exact dup of 1 → dist 0
      (3L, "blue bolts"),  // dist 1 of both
      (4L, "red widget"),  // no match within dist 2
      (5L, "grey anchor")
    ).toDF("id", "name")
    val got = Linkage.fuzzySelfJoin(df, "id", "name", maxDist = 2)
      .select("id_a", "id_b", "dist")
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(got == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("fuzzySelfJoin multi-pass blocking recalls last-token disagreements") {
    // "blue bolt" / "blue bolts" disagree on the LAST token: last-token
    // blocking alone would miss the pair; the first-token pass recalls it.
    val df = Seq((1L, "blue bolt"), (2L, "blue bolts")).toDF("id", "name")
    val got = Linkage.fuzzySelfJoin(df, "id", "name", maxDist = 2).count()
    assert(got == 1L)
  }

  test("fuzzySelfJoin emits multi-block pairs exactly once") {
    // Identical two-token names collide in BOTH passes; the pair must
    // still appear once.
    val df = Seq((1L, "green gear"), (2L, "green gear")).toDF("id", "name")
    assert(Linkage.fuzzySelfJoin(df, "id", "name", maxDist = 0).count() == 1L)
  }

  test("prefix-qgram pass recalls tokenization drift that token blocking misses") {
    // "bolt" vs "bol t": the stray space moves the anchors (first token
    // "bolt"/"bol", last token "bolt"/"t") so token blocking generates NO
    // candidate despite levenshtein distance 1. The normalized-prefix
    // q-gram pass keys both as {bo, ol, lt} and recalls the pair; the
    // token pass keeps its own pairs, and shared pairs still appear once.
    val df = Seq((1L, "bolt"), (2L, "bol t"), (3L, "bolt")).toDF("id", "name")
    val tokensOnly = Linkage.fuzzySelfJoin(df, "id", "name", maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tokensOnly == Set((1L, 3L)),
      s"token blocking unexpectedly paired the drifted name: $tokensOnly")
    val both = Linkage.fuzzySelfJoin(df, "id", "name", maxDist = 2,
        blocking = Seq(Linkage.Blocking.Tokens, Linkage.Blocking.PrefixQgrams()))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(both == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // -------------------------------------------------------------- funnel

  test("funnel stages require strictly-later events in order") {
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      // user 1 completes signup→view→click
      (1L, ts(10), "signup"), (1L, ts(20), "view"), (1L, ts(30), "click"),
      // user 2: view BEFORE signup — must not count for stage 2
      (2L, ts(10), "view"), (2L, ts(20), "signup"),
      // user 3: view at exactly the signup instant — strict > excludes it
      (3L, ts(10), "signup"), (3L, ts(10), "view"),
      // user 4 never signs up
      (4L, ts(5), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.reach(ev, "user_id", "ts", "event_type", Seq("signup", "view", "click"))
      .select("stage", "users")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("funnel stage joins analyze with AQE disabled (checkpoint exprId collision)") {
    // The stage loop joins a checkpointed LogicalRDD (which preserves
    // the exprIds it inherited from the event projection) back against
    // that same projection. The analyzer only re-instances DUPLICATED
    // LEAVES when deduplicating join references, so without the fresh
    // re-alias the join died with "Conflicting attributes: user_id"
    // (INTERNAL_ERROR) whenever spark.sql.adaptive.enabled=false — a
    // legal cluster config the round-13 AQE-off sweep exercised.
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      (1L, ts(10), "signup"), (1L, ts(20), "view"), (1L, ts(30), "click"),
      (2L, ts(10), "signup")
    ).toDF("user_id", "ts", "event_type")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val got = Funnel.reach(ev, "user_id", "ts", "event_type", Seq("signup", "view", "click"))
        .select("stage", "users").as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
      val within = Funnel.reachWithin(ev, "user_id", "ts", "event_type",
        Seq("signup", "view"), maxGapSec = 5L)
        .select("stage", "users").as[(Long, Long)].collect().toMap
      assert(within == Map(1L -> 2L, 2L -> 0L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("retentionCohorts builds the exact weekly matrix, one row per user-week") {
    val week = 7L * 86400L
    def ts(w: Long, off: Long = 0L) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(w * week + off))
    val ev = Seq(
      // cohort week 0: users 1, 2. user 1 returns in weeks 1 and 2 (twice
      // in week 1 — must count once); user 2 never returns.
      (1L, ts(0)), (1L, ts(1)), (1L, ts(1, 3600L)), (1L, ts(2)),
      (2L, ts(0, 60L)),
      // cohort week 2: user 3, returns week 3.
      (3L, ts(2)), (3L, ts(3))
    ).toDF("user_id", "ts")
    val got = Funnel.retentionCohorts(ev, "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 2L),  // both users present in their cohort week
      (0L, 1L, 1L),  // user 1 only, deduplicated within the week
      (0L, 2L, 1L),
      (2L, 0L, 1L),
      (2L, 1L, 1L)), got.toString)
  }

  test("reachWithin enforces the per-stage conversion window") {
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      // user 1: view 30s after signup — inside a 60s window
      (1L, ts(10), "signup"), (1L, ts(40), "view"),
      // user 2: view 90s after signup — outside the window
      (2L, ts(10), "signup"), (2L, ts(100), "view"),
      // user 3: late view at 100s but an earlier one at 70s — window is
      // inclusive at exactly prev + gap
      (3L, ts(10), "signup"), (3L, ts(70), "view"), (3L, ts(100), "view")
    ).toDF("user_id", "ts", "event_type")
    val within = Funnel.reachWithin(ev, "user_id", "ts", "event_type",
        Seq("signup", "view"), maxGapSec = 60L)
      .select("stage", "users").as[(Long, Long)].collect().toMap
    assert(within == Map(1L -> 3L, 2L -> 2L), within.toString)
    // The unbounded funnel credits all three views.
    val unbounded = Funnel.reach(ev, "user_id", "ts", "event_type",
        Seq("signup", "view"))
      .select("stage", "users").as[(Long, Long)].collect().toMap
    assert(unbounded == Map(1L -> 3L, 2L -> 3L))
  }

  test("transitionMatrix counts immediate successions per user in (ts, id) order") {
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      // user 1: a → b → a  (a→b, b→a)
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "a"),
      // user 2: a → b      (a→b)  — ts tie broken by event_id
      (2L, ts(5), 4L, "a"), (2L, ts(5), 5L, "b"),
      // user 3: single event, no transition
      (3L, ts(9), 6L, "a")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Funnel.transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)), got.toString)
    // Cross-user events never chain: swap user 2's second event to a new
    // user and the a→b count drops.
    val ev2 = ev.withColumn("user_id",
      when(col("event_id") === 5L, 9L).otherwise(col("user_id")))
    val got2 = Funnel.transitionMatrix(ev2, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got2 == Set(("a", "b", 1L), ("b", "a", 1L)))
  }

  test("userStages reports per-user reach timestamps in micros") {
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq((1L, ts(10), "signup"), (1L, ts(20), "view")).toDF("user_id", "ts", "event_type")
    val got = Funnel.userStages(ev, "user_id", "ts", "event_type", Seq("signup", "view"))
      .select("stage", "t_micros")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(got == Set((1L, 10000000L), (2L, 20000000L)))
  }

  // ------------------------------------------------------------ pagerank

  test("pageRankInt is exact on a hand-computed 3-cycle plus dangler") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val got = Graph.pageRankInt(nodes, edges, iterations = 1)
      .as[(Long, Long)].collect().toMap
    // scale=1e6, base=150000; outdeg(1)=2, outdeg(2)=outdeg(3)=1.
    // r1(1) = 150000 + 85*1000000/100 = 1000000
    // r1(2) = 150000 + 85*(1000000 div 2)/100 = 150000 + 425000 = 575000
    // r1(3) = 150000 + 850000 = 1000000
    // r1(4) = 575000 ; r1(5) = 150000 (isolated)
    assert(got == Map(1L -> 1000000L, 2L -> 575000L, 3L -> 1000000L, 4L -> 575000L, 5L -> 150000L))
  }

  test("triangleCounts is exact on hand-built graphs") {
    def tri(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] =
      Graph.triangleCounts(nodes.toDF("node"), edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
    // K4: every vertex sits on C(3,2)=3 triangles
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    assert(tri(k4, 1L to 5L) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
    // a path and a star are triangle-free
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 1L to 4L).values.forall(_ == 0L))
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)), 1L to 5L)
      .values.forall(_ == 0L))
    // direction and duplicates are ignored; self-loops dropped; the
    // shared-edge pair of triangles credits its shared corners twice
    assert(tri(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
        (3L, 4L), (4L, 2L)), 1L to 4L) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("bfsHops settles exact min distances, caps at maxHops, skips unreachable") {
    // Path 1-2-3-4-5 plus a detour 1-6-4 (so 4 is 2 hops via 6, not 3),
    // and an isolated edge 8-9 unreachable from the seed.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L),
      (6L, 4L), (8L, 9L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.bfsHops(edges, seeds, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 6L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L),
      got.toString)
    // maxHops truncates the far tail; direction is ignored (5 reaches 4).
    assert(Graph.bfsHops(edges, seeds, 1).as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 2L -> 1L, 6L -> 1L))
    assert(Graph.bfsHops(edges, Seq(5L).toDF("node"), 1)
      .as[(Long, Long)].collect().toMap == Map(5L -> 0L, 4L -> 1L))
    // Multi-source: nearest seed wins; early-exit once frontiers empty
    // (maxHops far beyond the diameter must still terminate).
    assert(Graph.bfsHops(edges, Seq(1L, 5L).toDF("node"), 100)
      .as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 6L -> 1L, 4L -> 1L, 3L -> 2L))
    // A seed with no edges is still reported at distance 0.
    assert(Graph.bfsHops(edges, Seq(42L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap == Map(42L -> 0L))
  }

  test("triangleCounts is invariant to input partitioning") {
    val ev = Tables(spark, sfDir, "events")
    val edges = Graph.attributionEdges(ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
    val nodes = ev.select(col("user_id").cast("long").as("node")).distinct()
    val a = Graph.triangleCounts(nodes, edges).as[(Long, Long)].collect().toSet
    val b = Graph.triangleCounts(nodes.repartition(7), edges.repartition(5))
      .as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("pageRankInt is invariant to input partitioning (integer determinism)") {
    val ev = Tables(spark, sfDir, "events")
    val edges = Graph.attributionEdges(ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
    val nodes = ev.select(col("user_id").cast("long").as("node")).distinct()
    val a = Graph.pageRankInt(nodes, edges, 3).as[(Long, Long)].collect().toSet
    val b = Graph.pageRankInt(nodes.repartition(7), edges.repartition(5), 3)
      .as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("groupedMedian matches percentile(0.5) and hand-computed odd/even cases") {
    import graft.ops.Profile
    // Odd count: median 3; even count: interpolated 2.5.
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 100L),
      ("b", 1L), ("b", 2L), ("b", 3L), ("b", 4L)
    ).toDF("g", "v")
    val got = Profile.groupedMedian(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == Map("a" -> 3.0, "b" -> 2.5))
    // Equivalence with Spark's exact percentile on the real fixture.
    val docs = Tables(spark, sfDir, "documents")
    val mine = Profile.groupedMedian(docs, "lang", "n_chars")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val ref = docs.groupBy("lang").agg(expr("percentile(n_chars, 0.5)").as("m"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(mine == ref)
  }

  test("groupedQuantileCont matches percentile(q) across dyadic and non-dyadic q") {
    import graft.ops.Profile
    val docs = Tables(spark, sfDir, "documents")
    for (q <- Seq(0.0, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0)) {
      val mine = Profile.groupedQuantileCont(docs, "lang", "n_chars", q)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      val ref = docs.groupBy("lang").agg(expr(s"percentile(n_chars, $q)").as("m"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(mine == ref, s"q=$q diverged from Spark percentile: $mine vs $ref")
    }
  }

  test("histogramDrift: hand-computed TVD, zero for identical snapshots") {
    import graft.ops.Profile
    // A: values 1.00 x2, 2.00 x2  ->  buckets(width 100c): {1:2, 2:2}
    // B: values 1.00 x4           ->  {1:4}
    // shares A: (.5, .5); B: (1, 0); TVD = (|.5-1| + |.5-0|)/2 = 0.5
    val a = Seq(1.00, 1.00, 2.00, 2.00).toDF("v")
    val b = Seq(1.00, 1.00, 1.00, 1.00).toDF("v")
    val got = Profile.histogramDrift(a, b, "v", widthCents = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, 4L, 0.5), (2L, 2L, 0L, 0.5)))
    // Identical snapshots -> TVD exactly 0 on every row.
    val same = Profile.histogramDrift(a, a, "v", 100L).select("tvd")
      .collect().map(_.getDouble(0))
    assert(same.nonEmpty && same.forall(_ == 0.0))
    // An empty snapshot must raise, never report NULL shares ("no drift").
    val empty = a.where(lit(false))
    val e = intercept[Exception] {
      Profile.histogramDrift(a, empty, "v", 100L).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("snapshot is empty") ||
      Option(e.getCause).exists(_.getMessage.contains("snapshot is empty")))
  }

  test("winsorize clamps into the exact quantile envelope, nulls stay null") {
    // Group g: values 0..10 → p25 = 2.5, p75 = 7.5 (interpolated).
    val df = ((0 to 10).map(i => ("g", Some(i.toDouble))) :+ ("g", None))
      .toDF("grp", "v")
    val out = Profile.winsorize(df, "grp", "v", 0.25, 0.75)
    val rows = out.orderBy("v").collect()
    assert(rows.forall(r => r.getDouble(r.fieldIndex("q_lo")) == 2.5 &&
      r.getDouble(r.fieldIndex("q_hi")) == 7.5))
    val clamped = out.where(col("v").isNotNull).orderBy("v")
      .select("v_w").collect().map(_.getDouble(0)).toSeq
    assert(clamped == Seq(2.5, 2.5, 2.5, 3.0, 4.0, 5.0, 6.0, 7.0, 7.5, 7.5, 7.5),
      clamped.toString)
    // The null measurement must stay null, not clamp to the envelope
    // (Spark's greatest/least silently skip nulls — guarded in the op).
    assert(out.where(col("v").isNull).select("v_w").collect().head.isNullAt(0))
  }

  test("madOutliers flags the heavy tail and nothing else") {
    import graft.ops.Profile
    val df = Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L), (4L, "a", 4L), (5L, "a", 100L)
    ).toDF("id", "g", "v")
    // med 3, devs [2,1,0,1,97], mad 1 → only |100-3| > 3·1 flags.
    val got = Profile.madOutliers(df, "id", "g", "v", k = 3.0)
      .collect().map(r => (r.getLong(0), r.getBoolean(5))).toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> false, 4L -> false, 5L -> true))
  }

  test("bpePairCandidates counts adjacent in-token pairs with deterministic ties") {
    import graft.ops.TextOps
    val df = Seq("aab ab", "x ab").toDF("text")
    val got = TextOps.bpePairCandidates(df, "text", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    // pairs: "aab"→aa,ab; "ab"→ab; "x" too short; "ab"→ab.
    assert(got == List(("ab", 3L), ("aa", 1L)))
  }

  test("sourceOverlapMatrix counts distinct shared fingerprints, src_a < src_b") {
    import graft.ops.Dedup
    val df = Seq(
      (1L, "s1", "alpha beta gamma delta"),
      (2L, "s2", "alpha beta gamma epsilon"),        // shares shingle "alpha beta gamma"
      (3L, "s2", "alpha beta gamma delta"),           // shares both of s1's shingles
      (4L, "s3", "totally different words here now")
    ).toDF("doc_id", "source", "text")
    val rows = Dedup.sourceOverlapMatrix(df, "source", "text", shingleLen = 3)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // s1 shingles: {abg, bgd}; s2: {abg, bgd, bge(=beta gamma epsilon)}; s3: 2 distinct.
    assert(rows.keySet == Set(("s1", "s2")))
    val (shared, nA, nB) = rows(("s1", "s2"))
    assert(shared == 2L && nA == 2L && nB == 3L)
  }

  test("count-min sketch never undercounts, merges cell-wise, stays bounded") {
    import graft.ops.{Sketch, TextOps}
    val docs = Tables(spark, sfDir, "documents")
    def occOf(d: org.apache.spark.sql.DataFrame) =
      d.select(explode(TextOps.tokens(col("text"))).as("tok"))
    val occ = occOf(docs)
    val (d, w) = (4, 256)
    val counters = Sketch.cmsCounters(occ, "tok", d, w)
    assert(counters.count() <= d.toLong * w, "counter table exceeded the sketch bound")
    // The CM guarantee's one-sided error: est >= exact for EVERY token.
    val vocab = occ.groupBy("tok").agg(count(lit(1)).as("exact"))
    val est = Sketch.cmsEstimate(counters, vocab.select("tok"), "tok", d, w)
    assert(est.join(vocab, "tok").where(col("est") < col("exact")).count() == 0,
      "CM estimate undercounted")
    // Mergeability: sketch(A) + sketch(B) == sketch(A ∪ B), cell for cell.
    val merged = Sketch.cmsMerge(
      Sketch.cmsCounters(occOf(docs.where(col("doc_id") % 2 === 0)), "tok", d, w),
      Sketch.cmsCounters(occOf(docs.where(col("doc_id") % 2 === 1)), "tok", d, w))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cells(merged) == cells(counters), "merged sketch diverged from the one-shot sketch")
  }

  test("bloom filter: zero false negatives, position-set merge, bounded size") {
    import graft.ops.{Sketch, TextOps}
    val docs = Tables(spark, sfDir, "documents")
    def toksOf(d: org.apache.spark.sql.DataFrame) =
      d.select(explode(TextOps.tokens(col("text"))).as("tok")).distinct()
    val toks = toksOf(docs)
    val (k, m) = (5, 4096)
    val bits = Sketch.bloomBits(toks, "tok", k, m)
    assert(bits.count() <= m.toLong, "more set positions than filter bits")
    // EVERY inserted item must probe positive — the Bloom contract.
    val probedAll = Sketch.bloomProbe(bits, toks, "tok", k, m)
    assert(probedAll.where(!col("maybe_present")).count() == 0, "false negative")
    // Merge = position-set union.
    val merged = Sketch.bloomMerge(
      Sketch.bloomBits(toksOf(docs.where(col("doc_id") % 2 === 0)), "tok", k, m),
      Sketch.bloomBits(toksOf(docs.where(col("doc_id") % 2 === 1)), "tok", k, m))
    assert(merged.collect().map(_.getLong(0)).toSet ==
      bits.collect().map(_.getLong(0)).toSet)
  }

  test("bloom semi-join: exact under false positives, screen actually bites") {
    import graft.ops.Sketch
    val li = Tables(spark, sfDir, "lineitem")
    val keys = Tables(spark, sfDir, "part").where(col("p_size") === 15)
    val exact = li.join(
      keys.select(col("p_partkey").as("k")), col("l_partkey") === col("k"), "left_semi")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("l_orderkey", "l_linenumber").collect().map(_.toString).toSet
    // comfortable m: screen admits few non-matches, join result is exact
    val viaBloom = Sketch.bloomSemiJoin(li, "l_partkey", keys, "p_partkey", k = 5, m = 1 << 16)
    assert(rows(viaBloom) == rows(exact))
    // tiny m: false positives guaranteed — result must STILL be exact
    val viaTiny = Sketch.bloomSemiJoin(li, "l_partkey", keys, "p_partkey", k = 2, m = 64)
    assert(rows(viaTiny) == rows(exact))
    // the screen is a superset of the exact rows and prunes the big side
    val screened = Sketch.bloomScreen(li, "l_partkey", keys, "p_partkey", k = 5, m = 1 << 16)
    assert(screened.count() >= exact.count())
    assert(screened.count() < li.count(),
      s"screen kept everything (${screened.count()} of ${li.count()})")
    // null big-side keys never survive, matching semi-join semantics
    val withNull = li.withColumn("l_partkey",
      when(col("l_linenumber") === 1, lit(null).cast("long")).otherwise(col("l_partkey")))
    val exactNull = withNull.join(
      keys.select(col("p_partkey").as("k")), col("l_partkey") === col("k"), "left_semi")
    val bloomNull = Sketch.bloomSemiJoin(withNull, "l_partkey", keys, "p_partkey", 5, 1 << 16)
    assert(rows(bloomNull) == rows(exactNull))
  }

  test("reliable checkpoint mode reproduces the local-mode result and writes to the dir") {
    // spark.graft.checkpoint.mode is session-scoped: a sibling session with
    // mode=reliable runs every iterative round as a reliable-store
    // checkpoint (the 100 TB executor-loss-safe path) while the shared
    // suite session stays on localCheckpoint.
    val s2 = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    s2.conf.set("spark.graft.checkpoint.mode", "reliable")
    s2.conf.set("spark.graft.checkpoint.dir", dir.getAbsolutePath)
    val ev2 = Tables(s2, sfDir, "events")
    val edges2 = Graph.attributionEdges(ev2, "user_id", "ts",
      regexp_extract(col("props"), "[0-9]+", 0))
    val nodes2 = ev2.select(col("user_id").cast("long").as("node")).distinct()
    val reliable = Graph.pageRankInt(nodes2, edges2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables(spark, sfDir, "events")
    val edges = Graph.attributionEdges(ev, "user_id", "ts",
      regexp_extract(col("props"), "[0-9]+", 0))
    val nodes = ev.select(col("user_id").cast("long").as("node")).distinct()
    val local = Graph.pageRankInt(nodes, edges, 3).as[(Long, Long)].collect().toSet
    assert(reliable == local && reliable.nonEmpty,
      "reliable-checkpoint rounds diverged from localCheckpoint rounds")
    // The rounds really went through the reliable store, not executor memory.
    def rddDirs(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        (if (f.getName.startsWith("rdd-")) Seq(f) else Seq.empty) ++
          Option(f.listFiles).toSeq.flatten.flatMap(rddDirs)
      else Seq.empty
    assert(rddDirs(dir).nonEmpty, s"no rdd-* checkpoint dirs under $dir")
  }

  test("unknown checkpoint mode is rejected with a clear error") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.checkpoint.mode", "ram")
    val df = s2.range(3).toDF("x")
    val e = intercept[IllegalArgumentException](graft.ops.Checkpoints.truncate(df))
    assert(e.getMessage.contains("spark.graft.checkpoint.mode"))
  }

  test("attributionEdges links first-touch order per key, ties by user id") {
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      (7L, ts(10), "1"), (5L, ts(20), "1"), (5L, ts(1), "2"), (9L, ts(2), "2"),
      (5L, ts(30), "1") // later repeat — first-touch wins
    ).toDF("user_id", "ts", "k")
    val got = Graph.attributionEdges(ev, "user_id", "ts", col("k"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((7L, 5L), (5L, 9L)))
  }

  // --------------------------------------------------------------- merge

  test("applyChanges upserts, inserts, deletes, and passes through") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v")
    val changes = Seq(
      (2L, "B", "U"),             // update
      (3L, "", "D"),              // delete
      (9L, "z", "U"),             // insert (upsert on absent key)
      (4L, "D2", "X"),            // unknown op: must UPSERT, never silently delete
      (5L, "E2", null: String)    // NULL op: must UPSERT too (op <> 'D' is NULL, not true)
    ).toDF("k", "v", "op")
    val got = Merge.applyChanges(base, changes, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (9L, "z"), (4L, "D2"), (5L, "E2")))
  }

  // --------------------------------------------- incremental near-dup probe

  test("incrementalNearDups flags only cross-corpus matches, best match kept") {
    val mk = (id: Long, text: String) => (id, text)
    val newDocs = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog today"),
      mk(2L, "completely unrelated fresh content nothing shared here at all")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      mk(100L, "the quick brown fox jumps over the lazy dog today"),
      mk(101L, "some other corpus document with its own words entirely")
    ).toDF("doc_id", "text")
    val flagged = Dedup.incrementalNearDups(
      Dedup.minhashSignatures(newDocs, "doc_id", "text", 3, 16),
      Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 16),
      bands = 4, rowsPerBand = 4, minEstJaccard = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(flagged.map(_._1).toSet == Set(1L))
    assert(flagged.head._2 == 100L && flagged.head._3 == 1.0)
    val survivors = Dedup.incrementalDedup(newDocs, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(2L))
  }

  // ----------------------------------------------------------- histogram

  test("centsHistogram buckets exactly at integer-cent boundaries") {
    val df = Seq(0.00, 9.99, 10.00, 10.01, 19.99, 20.00).toDF("v")
    val got = Profile.centsHistogram(df, "v", widthCents = 1000L)
      .select("bucket", "lo", "hi", "n")
      .as[(Long, Double, Double, Long)]
      .collect()
      .toSet
    // $10 buckets: [0,10) has 0.00+9.99; [10,20) has 10.00,10.01,19.99; [20,30) has 20.00
    assert(got == Set((0L, 0.0, 10.0, 2L), (1L, 10.0, 20.0, 3L), (2L, 20.0, 30.0, 1L)))
  }

  // -------------------------------------------------- canonical selection

  test("canonicalPerCluster keeps the best-scored member; singletons survive") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 99L), // cluster {1,2,3}: 2 and 3 tie on score → lowest id (2) wins
      (7L, 5L)                          // unpaired singleton
    ).toDF("doc_id", "score")
    val got = graft.ops.Dedup
      .canonicalPerCluster(pairs, "doc_a", "doc_b", docs, "doc_id", "score")
      .select("cluster_id", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (7L, 7L)))
  }

  // --------------------------------------------------- leakage-free split

  test("leakageFreeSplit keeps near-dup clusters on one side of the boundary") {
    import graft.ops.Sampling
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // three clusters: {1,2,3}, {10,11}, and singletons for the rest
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Sampling
      .leakageFreeSplit(docs, "doc_id", pairs, "doc_a", "doc_b", testFrac = 0.5)
      .as[(Long, Long, String)].collect()
    assert(got.length == 40)
    val byDoc = got.map(r => r._1 -> r._3).toMap
    // no straddling: every cluster member shares its cluster's side
    assert(byDoc(1L) == byDoc(2L) && byDoc(2L) == byDoc(3L))
    assert(byDoc(10L) == byDoc(11L))
    // both sides non-empty at this fraction on 40 docs
    assert(got.map(_._3).toSet == Set("train", "test"))
    // deterministic: second run identical
    val again = Sampling
      .leakageFreeSplit(docs, "doc_id", pairs, "doc_a", "doc_b", testFrac = 0.5)
      .as[(Long, Long, String)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  // ----------------------------------------------------- session episodes

  test("sessionEpisodes renders gap-split sessions as ordered sequences") {
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      (1L, 1L, ts(0), "view"), (2L, 1L, ts(60), "click"),       // session 1
      (3L, 1L, ts(60 + 31 * 60), "purchase"),                   // gap > 30min → session 2
      (4L, 2L, ts(0), "signup")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.streaming.Streams.sessionEpisodes(ev, 30)
      .select("user_id", "session_id", "episode", "duration_secs")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, "view>click", 60L),
      (1L, 2L, "purchase", 0L),
      (2L, 1L, "signup", 0L)))
  }

  // ------------------------------------------------------- plan shapes

  test("fuzzySelfJoin blocks: equi-join on the block key, never cartesian") {
    val df = Seq((1L, "blue bolt"), (2L, "blue bolts")).toDF("id", "name")
    val p = Linkage.fuzzySelfJoin(df, "id", "name", 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"blocking degraded to cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"blocking degraded to BNLJ:\n$p")
  }

  test("kmeansInt assignment is scan-local: one exchange per update, none for assign") {
    val q = Quantize.quantizeInt8(Tables(spark, sfDir, "embeddings"), "vec_id", "embedding")
    // iterations=0 → pure assignment against the seed centroids, which
    // ride the plan as a driver-side constant — no shuffle of the n vectors.
    val p = Clustering.kmeansInt(q, "vec_id", "qvec", 4, 0)
      .queryExecution.executedPlan.toString
    val vecShuffles = "Exchange hashpartitioning\\(id".r.findAllIn(p).size
    assert(vecShuffles == 0, s"assignment shuffles the vector table:\n$p")
  }

  // ----------------------------------------------------- kernel property

  test("sqDistArgmin kernel equals the naive argmin on random inputs") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val dims = Gen.choose(1, 16)
    val params = Gen.zip(dims, Gen.choose(1, 8)).flatMap { case (d, k) =>
      Gen.zip(
        Gen.const(d),
        Gen.listOfN(d, Gen.choose(-255L, 255L)),
        Gen.listOfN(k * d, Gen.choose(-255L, 255L)))
    }
    (0 until 200).foreach { i =>
      val (d, v, cs) = params.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val got = graft.functions.VectorKernels
        .sqDistArgmin(
          UnsafeArrayData.fromPrimitiveArray(v.toArray),
          UnsafeArrayData.fromPrimitiveArray(cs.toArray))
        .toLongArray()
      val naive = cs.toArray
        .grouped(d)
        .zipWithIndex
        .map { case (c, cid) =>
          (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, cid.toLong)
        }
        .minBy(x => (x._1, x._2)) // lowest distance, ties to lowest cid
      assert(got(0) == naive._2 && got(1) == naive._1, s"seed=$i d=$d")
    }
  }

  // ------------------------------------------------------------- k-means

  test("kmeansInt separates two obvious integer clusters exactly") {
    // Two tight groups around (0,0) and (100,100); seeds = ids 1 and 2,
    // one from each group, so one Lloyd round lands the split.
    val df = Seq(
      (1L, Array(0L, 1L)), (2L, Array(100L, 99L)),
      (3L, Array(2L, 0L)), (4L, Array(98L, 101L)),
      (5L, Array(1L, 2L)), (6L, Array(101L, 100L))
    ).toDF("id", "v")
    val got = Clustering.kmeansInt(df, "id", "v", k = 2, iterations = 2)
      .select("id", "cluster")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(3L) && got(3L) == got(5L))
    assert(got(2L) == got(4L) && got(4L) == got(6L))
    assert(got(1L) != got(2L))
  }

  test("kmeansInt is invariant to input partitioning (integer determinism)") {
    val q = Quantize.quantizeInt8(Tables(spark, sfDir, "embeddings"), "vec_id", "embedding")
    val a = Clustering.kmeansInt(q, "vec_id", "qvec", 4, 2)
      .as[(Long, Long, Long)].collect().toSet
    val b = Clustering.kmeansInt(q.repartition(7), "vec_id", "qvec", 4, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("kmeansInt empty clusters keep their previous centroid") {
    // Seeds are ids 1,2 — but every point is nearer seed 1's value, so
    // cluster 1 empties after round 1 and must keep centroid (50,50):
    // k stays 2 and the centroid table still has 2 rows.
    val df = Seq(
      (1L, Array(0L, 0L)), (2L, Array(50L, 50L)),
      (3L, Array(1L, 1L)), (4L, Array(2L, 2L))
    ).toDF("id", "v")
    // All points cluster to 0 once the round-1 update pulls centroid 0 to
    // the group mean; centroid 1 (seeded at (50,50)) empties in round 2.
    val cents = Clustering.kmeansIntCentroids(df, "id", "v", k = 2, iterations = 3)
      .as[(Long, Array[Long])].collect().toMap
    assert(cents.size == 2 && cents.contains(1L))
  }

  test("centsHistogram excludes nulls so merged histograms keep unique bucket keys") {
    val a = Seq(Some(1.0), Some(1.1), None).toDF("v")
    val b = Seq(Some(1.0), None, None).toDF("v")
    val ha = Profile.centsHistogram(a, "v", widthCents = 100L).select("bucket", "n")
    val hb = Profile.centsHistogram(b, "v", widthCents = 100L).select("bucket", "n")
    assert(ha.filter($"bucket".isNull).count() == 0, "null bucket row leaked")
    val merged = Profile.mergeHistograms(ha, hb).collect().map(r => r.getLong(0) -> r.getLong(1))
    // A NULL bucket key would never equi-join: the merge would emit
    // duplicate keys and the drift TVD would double-count. Unique keys +
    // exact count addition is the mergeability contract.
    assert(merged.map(_._1).distinct.length == merged.length, s"duplicate buckets: ${merged.toSeq}")
    assert(merged.toMap == Map(1L -> 3L), merged.toSeq.toString)
  }

  // ---------------------------------------------------------- importance

  test("importance scores prefer documents made of target-corpus words") {
    val raw = Seq(
      (1L, "aa aa aa"), // pure target vocabulary
      (2L, "aa bb bb"), // mixed
      (3L, "bb bb bb") // pure raw-only vocabulary
    ).toDF("doc_id", "text")
    val target = Seq((10L, "aa aa")).toDF("doc_id", "text")
    val out = Importance.importanceSelect(raw, target, "doc_id", "text", buckets = 64, k = 1)
      .orderBy("doc_id").collect()
    val score = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // 'aa' is over-represented in the target, 'bb' absent from it:
    // w(aa) > 0 > w(bb), so scores must be strictly ordered 1 > 2 > 3.
    assert(score(1L) > score(2L) && score(2L) > score(3L), score.toString)
    assert(score(1L) > 0 && score(3L) < 0, score.toString)
    assert(out.map(r => r.getAs[Boolean]("selected")).toSeq == Seq(true, false, false))
  }

  test("importance selection is exact-k and deterministic across partitionings") {
    val docs = Tables(spark, sfDir, "documents")
    val target = docs.filter($"lang" === "en")
    val a = Importance.importanceSelect(docs, target, "doc_id", "text", 1024, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    val b = Importance.importanceSelect(docs.repartition(7), target, "doc_id", "text", 1024, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(a == b, "importance selection must not depend on input partitioning")
    assert(a.count(_._3) == 50)
    assert(a.size == docs.count())
  }

  // ------------------------------------------------- round-9 batch: skyline

  test("skyline2D keeps the frontier, drops dominated, keeps exact duplicates") {
    val df = Seq(
      (1L, 1L, 9L),  // frontier (cheapest)
      (2L, 5L, 5L),  // frontier
      (3L, 9L, 1L),  // frontier (smallest)
      (4L, 5L, 6L),  // dominated by 2 (same x, larger y)
      (5L, 6L, 5L),  // dominated by 2 (larger x, same y)
      (6L, 7L, 7L),  // dominated strictly
      (7L, 5L, 5L)   // exact duplicate of 2 → both survive
    ).toDF("id", "x", "y")
    val got = graft.ops.Skyline.skyline2D(df, "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 7L))
  }

  test("skyline2D is partition-invariant (Prefix two-phase scan is exact)") {
    val rows = (1L to 500L).map(i => (i, i % 37, (i * 7) % 41))
    val df1 = rows.toDF("id", "x", "y")
    val df2 = df1.repartition(13)
    val a = graft.ops.Skyline.skyline2D(df1, "x", "y").select("id").as[Long].collect().toSet
    val b = graft.ops.Skyline.skyline2D(df2, "x", "y").select("id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
    // cross-check against the O(n²) dominance definition
    val brute = rows.filter { case (_, x, y) =>
      !rows.exists { case (_, bx, by) => bx <= x && by <= y && (bx < x || by < y) }
    }.map(_._1).toSet
    assert(a == brute)
  }

  test("Prefix.runningSum: shuffle-parallelism invariant, null order keys refused") {
    import org.apache.spark.sql.functions.{col, lit, sum => fsum}
    val rows = (1L to 1000L).map(i => ((i * 13) % 101, i % 7))
    val df = rows.toDF("t", "v")
    val expect = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val cum = expect.keys.toSeq.sorted
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), t) => (t, acc + expect(t)) }
      .drop(1).toMap
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Seq("3", "17").foreach { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        val got = graft.ops.Prefix.runningSum(df, "t", "v", "run")
          .select("t", "run").distinct().as[(Long, Long)].collect().toMap
        assert(got == cum, s"parallelism $n diverged")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // a null order key poisons the data-derived partition identity —
    // the kernel must refuse it loudly, not join wrong
    val withNull = df.withColumn("t",
      org.apache.spark.sql.functions.when(col("t") === 13L, lit(null)).otherwise(col("t")))
    val ex = intercept[org.apache.spark.SparkException] {
      graft.ops.Prefix.runningSum(withNull, "t", "v", "run").collect()
    }
    assert(ex.getMessage.contains("order column must be non-null") ||
      Option(ex.getCause).exists(_.getMessage.contains("order column must be non-null")))
    // runningMinBeforeWithPeers: same invariance on the min kernel
    val expMin = {
      val byT = rows.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val ts = byT.keys.toSeq.sorted
      ts.zipWithIndex.map { case (t, i) =>
        val before = if (i == 0) None else Some(ts.take(i).map(byT).min)
        (t, (before, byT(t)))
      }.toMap
    }
    val gotMin = graft.ops.Prefix
      .runningMinBeforeWithPeers(df.repartition(11), "t", "v", "mb", "mp")
      .select("t", "mb", "mp").distinct().collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))))
      .toMap
    assert(gotMin == expMin)
  }

  test("Prefix.runningSum: nullable valueCol carries prior-partition totals across range cuts") {
    // v is non-null for t 1..30, all-null for t 31..70 — wide enough that
    // whole range partitions hold ONLY null values — then non-null again.
    // Rows whose partition-local prefix is null must still carry the prior
    // partitions' running total (global RANGE-frame sum semantics), so the
    // answer may not depend on where the range cuts fall.
    val rows = (1L to 100L).map { t =>
      (t, if (t <= 30L || t > 70L) Some(t % 5L) else None)
    }
    val df = rows.toDF("t", "v")
    var acc = 0L
    var seen = false
    val expect = rows.map { case (t, v) =>
      v.foreach { x => acc += x; seen = true }
      t -> (if (seen) Some(acc) else None)
    }.toMap
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Seq("3", "17", "32").foreach { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        val got = graft.ops.Prefix.runningSum(df, "t", "v", "run")
          .select("t", "run").collect()
          .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
        assert(got == expect, s"parallelism $n diverged on nullable values")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("Prefix integral contract: Decimal(<=18,0) accepted losslessly, Double/wide Decimal refused") {
    import org.apache.spark.sql.functions.col
    val rows = (1L to 200L).map(i => ((i * 7) % 53, i % 11))
    val df = rows.toDF("t", "v")
    val asLong = graft.ops.Prefix.runningSum(df, "t", "v", "run")
      .select("t", "run").distinct().as[(Long, Long)].collect().toMap
    // Scale-0 decimals are integral BY SCHEMA and fit a Long: same result.
    val dec = df.select(
      col("t").cast("decimal(12,0)").as("t"), col("v").cast("decimal(18,0)").as("v"))
    val asDec = graft.ops.Prefix.runningSum(dec, "t", "v", "run")
      .select(col("t").cast("long"), col("run").cast("long"))
      .distinct().as[(Long, Long)].collect().toMap
    assert(asDec == asLong, "Decimal(_,0) diverged from the Long spelling")
    // Multi-partition decimal leg: force rangeWidth > 1 so the OFFSETS
    // branch runs on the decimal column. The offsets aggregate must cast
    // to long before summing — an uncast decimal sum would make __offset
    // DecimalType and the final when() would coerce outCol to Decimal,
    // so the output SCHEMA would depend on the partition count.
    try {
      spark.conf.set(graft.ops.Prefix.TargetPartitionBytesKey, "64")
      val multi = graft.ops.Prefix.runningSum(dec, "t", "v", "run")
      assert(multi.schema("run").dataType == org.apache.spark.sql.types.LongType,
        s"multi-partition decimal runningSum emitted ${multi.schema("run").dataType}, " +
          "not LongType — output schema depends on input size")
      val gotMulti = multi.select(col("t").cast("long"), col("run"))
        .distinct().as[(Long, Long)].collect().toMap
      assert(gotMulti == asLong, "multi-partition decimal offsets branch diverged")
    } finally spark.conf.unset(graft.ops.Prefix.TargetPartitionBytesKey)
    // Floating types stay refused even when every value is whole — the
    // schema cannot guarantee it — as do decimals wider than a Long or
    // with fractional scale. Plan-time, not mid-task.
    Seq("double", "float", "decimal(20,0)", "decimal(10,2)").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        graft.ops.Prefix.runningSum(df.select(
          col("t").cast(bad).as("t"), col("v")), "t", "v", "run")
      }
      assert(e.getMessage.contains("must be integral"), s"$bad not refused")
    }
  }

  test("Prefix kernels: randomized nullable inputs match a sequential fold at random parallelism") {
    // Property-style: 6 seeded random corpora × random shuffle parallelism,
    // each checked against a driver-side sequential fold — covers duplicate
    // order keys (peer runs), null values, all-null prefixes and suffixes,
    // and single-key degenerate inputs beyond the two fixed fixtures.
    val rnd = new scala.util.Random(20260815L)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      (1 to 6).foreach { trial =>
        val n = 50 + rnd.nextInt(400)
        val keySpace = 1 + rnd.nextInt(if (trial == 1) 1 else 60)
        val nullPct = rnd.nextInt(70)
        val rows = (1 to n).map { _ =>
          val t = rnd.nextInt(keySpace).toLong
          val v = if (rnd.nextInt(100) < nullPct) None else Some(rnd.nextInt(1000).toLong - 500L)
          (t, v)
        }
        spark.conf.set("spark.sql.shuffle.partitions", (1 + rnd.nextInt(33)).toString)
        // sequential RANGE-frame oracle: per distinct key in order, totals
        // after all rows at that key; null until the first non-null
        val byKey = rows.groupBy(_._1)
        val keys = byKey.keys.toSeq.sorted
        var acc = 0L; var seen = false
        val expSum = keys.map { t =>
          byKey(t).flatMap(_._2).foreach { x => acc += x; seen = true }
          t -> (if (seen) Some(acc) else None)
        }.toMap
        val gotSum = graft.ops.Prefix
          .runningSum(rows.toDF("t", "v"), "t", "v", "run")
          .select("t", "run").distinct().collect()
          .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
        assert(gotSum == expSum, s"runningSum trial $trial diverged (n=$n keys=$keySpace)")
        // strictly-before min + peer min oracle
        var runMin: Option[Long] = None
        val expMin = keys.map { t =>
          val peers = byKey(t).flatMap(_._2)
          val out = (t, (runMin, peers.minOption))
          runMin = (runMin.toSeq ++ peers).minOption
          out
        }.toMap
        val gotMin = graft.ops.Prefix
          .runningMinBeforeWithPeers(rows.toDF("t", "v"), "t", "v", "mb", "mp")
          .select("t", "mb", "mp").distinct().collect()
          .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
        assert(gotMin == expMin, s"runningMin trial $trial diverged (n=$n keys=$keySpace)")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("Prefix.rowNumber: matches the global-window row_number at random parallelism") {
    // Property-style: seeded random corpora with HEAVY value ties (the
    // shape that makes a partition-by-value rank skew) × random shuffle
    // parallelism × both directions, each checked against a driver-side
    // sort — the semantics an unpartitioned row_number window defines.
    val rnd = new scala.util.Random(20260816L)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      (1 to 8).foreach { trial =>
        val n = 50 + rnd.nextInt(400)
        // trial 1: ONE value for every row — the degenerate all-ties case
        val valSpace = if (trial == 1) 1 else 1 + rnd.nextInt(12)
        val rows = rnd.shuffle((1 to n).map(i =>
          (i.toLong * 3L, rnd.nextInt(valSpace).toLong - 5L)).toVector)
        val desc = trial % 2 == 0
        spark.conf.set("spark.sql.shuffle.partitions", (1 + rnd.nextInt(33)).toString)
        // width is stats-adaptive: tiny fixtures collapse to the
        // 1-partition fast path, so HALF the trials force the general
        // multi-partition kernel by shrinking the per-partition target.
        if (trial % 2 == 1)
          spark.conf.set(graft.ops.Prefix.TargetPartitionBytesKey, "64")
        else
          spark.conf.unset(graft.ops.Prefix.TargetPartitionBytesKey)
        val exp = rows
          .sortBy { case (id, v) => (if (desc) -v else v, id) }
          .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
        val got = graft.ops.Prefix
          .rowNumber(rows.toDF("id", "v"), "v", "id", "rk", desc)
          .select("id", "rk").as[(Long, Long)].collect().toMap
        assert(got == exp, s"rowNumber trial $trial diverged (n=$n vals=$valSpace desc=$desc)")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.unset(graft.ops.Prefix.TargetPartitionBytesKey)
    }
    // null keys are refused on EVERY row, not just the partition head —
    // under desc ordering a null value sorts LAST and would otherwise
    // rank silently against the non-null contract.
    val withNull = (1L to 50L).map(i => (i, if (i == 37L) None else Some(i % 5)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("long").as("v"))
    val ex = intercept[org.apache.spark.SparkException] {
      graft.ops.Prefix.rowNumber(withNull, "v", "id", "rk", desc = true).collect()
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("must be non-null")) ||
        mentions(t.getCause))
    assert(mentions(ex), s"null value did not fail fast: ${ex.getMessage}")
  }

  test("rankMovers / rfmSegments: distributed ranks match the global-window spelling") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{abs => fabs, col, lit, ntile, row_number, sum => fsum, max => fmax, count => fcount, unix_micros, expr}
    val rnd = new scala.util.Random(42L)
    // rankMovers: two periods over a shared key space, vs the inline
    // unpartitioned-window oracle it replaced.
    val prevP = (1 to 400).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(1000).toLong)).toDF("k", "v")
    val curP = (1 to 400).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(1000).toLong)).toDF("k", "v")
    def rankedOracle(df: org.apache.spark.sql.DataFrame, v: String, r: String) =
      df.groupBy("k").agg(fsum(col("v")).as(v))
        .withColumn(r, row_number().over(Window.orderBy(col(v).desc, col("k"))).cast("long"))
    val oracle = rankedOracle(prevP, "val_prev", "rank_prev")
      .join(rankedOracle(curP, "val_cur", "rank_cur"), Seq("k"))
      .withColumn("delta", col("rank_prev") - col("rank_cur"))
      .withColumn("mover_rank",
        row_number().over(Window.orderBy(fabs(col("delta")).desc, col("k"))).cast("long"))
      .where(col("mover_rank") <= 15)
      .orderBy("mover_rank").collect().map(_.toSeq).toSeq
    val got = graft.ops.Profile.rankMovers(prevP, curP, "k", "v", topK = 15)
      .orderBy("mover_rank").collect().map(_.toSeq).toSeq
    assert(got == oracle)
    // rfmSegments: random event stream vs the inline global-ntile oracle.
    val ev = (1 to 600).map { i =>
      (rnd.nextInt(90).toLong,
        java.sql.Timestamp.valueOf(s"2026-0${1 + rnd.nextInt(8)}-1${rnd.nextInt(9)} 0${rnd.nextInt(9)}:00:00"),
        rnd.nextInt(5000).toLong)
    }.toDF("user_id", "ts", "v")
    val per = ev.groupBy("user_id").agg(
      fmax(unix_micros(col("ts"))).as("_last"),
      fcount(lit(1)).as("f"),
      fsum(col("v")).as("m"))
    def nt(order: org.apache.spark.sql.Column*) =
      ntile(5).over(Window.orderBy(order: _*)).cast("long")
    val rfmOracle = per
      .withColumn("_frontier", fmax(col("_last")).over(Window.partitionBy()))
      .withColumn("recency_s", expr("(_frontier - _last) div 1000000"))
      .select(col("user_id"), col("recency_s"), col("f"), col("m"),
        (lit(6L) - nt(col("recency_s"), col("user_id"))).as("r_score"),
        nt(col("f"), col("user_id")).as("f_score"),
        nt(col("m"), col("user_id")).as("m_score"))
      .withColumn("segment", col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val rfmGot = graft.ops.Profile.rfmSegments(ev, "user_id", "ts", "v")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(rfmGot == rfmOracle)
    // closed-form ntile boundaries: every entity count around the bucket
    // split (n < 5 gives one-row buckets; n = 5q and n = 5q + r exercise
    // both branches of the extra-row convention) must match Spark's own
    // ntile. One fold per n keeps it a single spark-job sweep per size.
    (1 to 12).foreach { n =>
      def tsOf(s: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s.toLong))
      val evN = (1 to n).flatMap { u =>
        (0 until u).map(j => (u.toLong, tsOf(20 + u * 7 + j), (u * 13 + j).toLong))
      }.toDF("user_id", "ts", "v")
      val perN = evN.groupBy("user_id").agg(
        fmax(unix_micros(col("ts"))).as("_last"),
        fcount(lit(1)).as("f"),
        fsum(col("v")).as("m"))
      val oracleN = perN
        .withColumn("_frontier", fmax(col("_last")).over(Window.partitionBy()))
        .withColumn("recency_s", expr("(_frontier - _last) div 1000000"))
        .select(col("user_id"),
          (lit(6L) - nt(col("recency_s"), col("user_id"))).as("r_score"),
          nt(col("f"), col("user_id")).as("f_score"),
          nt(col("m"), col("user_id")).as("m_score"))
        .orderBy("user_id").collect().map(_.toSeq).toSeq
      val gotN = graft.ops.Profile.rfmSegments(evN, "user_id", "ts", "v")
        .select("user_id", "r_score", "f_score", "m_score")
        .orderBy("user_id").collect().map(_.toSeq).toSeq
      assert(gotN == oracleN, s"ntile boundary diverged at n=$n")
    }
    // rankMovers: topK larger than the joined entity set returns the
    // whole set, ranked — the limit must not drop or pad rows.
    val tiny1 = Seq((1L, 10L), (2L, 30L), (3L, 20L)).toDF("k", "v")
    val tiny2 = Seq((1L, 25L), (2L, 5L), (3L, 20L)).toDF("k", "v")
    val movers = graft.ops.Profile.rankMovers(tiny1, tiny2, "k", "v", topK = 50)
      .select("k", "mover_rank").as[(Long, Long)].collect().toMap
    assert(movers.size == 3 && movers.values.toSet == Set(1L, 2L, 3L))
  }

  test("Par.spread: widens only narrow frames whose declared work clears the cost gate") {
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Range stats: 8 bytes/row -> 100 rows ~ 800 bytes of estimated input.
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    // (a) narrow + heavy declared work (800 B x 1e6 >= MinWorkBytes):
    // widened to the WORK-SIZED width — one TaskWorkBytes quantum per
    // task, clamped to the session parallelism (not blindly full width:
    // a barely-over-the-gate job must not pay 32 tasks of exchange
    // overhead for 2 tasks of work).
    val workWidth =
      math.min(par, math.ceil(800.0 * 1e6 / graft.ops.Par.TaskWorkBytes).toInt)
    assert(workWidth >= 2)
    assert(graft.ops.Par.spread(narrow, fanout = 1e6).rdd.getNumPartitions == workWidth)
    // (b) narrow + light work (800 B x 100 << MinWorkBytes): the exchange
    // costs more than the single-task latency it would save — untouched,
    // the SAME frame back (the ns67 regression fix).
    assert(graft.ops.Par.spread(narrow, fanout = 100) eq narrow)
    // (c) a coalesce still narrows — the gate must see through it and
    // widen when the work warrants it.
    val coalesced = spark.range(0, 100).toDF("id").coalesce(1)
    assert(graft.ops.Par.spread(coalesced, fanout = 1e6).rdd.getNumPartitions == workWidth)
  }

  test("Par.spread: broadcast joins stream through — the narrow probe side is widened") {
    // The round-13 regression class (ns229/ns234): a BroadcastHashJoin/
    // BroadcastNestedLoopJoin keeps the STREAMED side's narrow layout,
    // so "plan contains a Join => arrives wide" was false. The layout
    // spine must walk through the join to the streamed scan.
    val probe = spark.range(0, 100, 1, 1).toDF("id")
    val dim = org.apache.spark.sql.functions.broadcast(
      spark.range(0, 5).toDF("k"))
    val joined = probe.join(dim, probe("id") % 5 === dim("k"))
    val out = graft.ops.Par.spread(joined, fanout = 1e7)
    assert(out.rdd.getNumPartitions > 1,
      "broadcast-joined narrow frame was not widened")
    // and the same frame with trivial work stays untouched
    assert(graft.ops.Par.spread(joined, fanout = 1.0) eq joined)
  }

  test("Par.spread: a DPP-carrying scan is never probed — the gate stays action-free") {
    // A leaf's execute() PREPARES AND WAITS ON its runtime subqueries
    // before split planning: on a scan carrying dynamic partition
    // pruning, the width probe would run a real broadcast+subquery job
    // at gate time — and a SUCCESSFUL subquery run never throws, so the
    // NonFatal fallback can't see it (the round-12 silent-double-
    // execution class). A leaf that is not provably inert must be left
    // alone without executing ANYTHING.
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toFile
    spark.range(0, 2000)
      .select($"id", ($"id" % 10).as("p"))
      .write.mode("overwrite").partitionBy("p").parquet(dir.getAbsolutePath)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevStats = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try {
      // Non-adaptive plan: DPP plans InSubqueryExec directly into the
      // scan's partition filters — the exact shape the probe must refuse.
      // useStats=false: tiny fixtures have no stats-estimated benefit.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val fact = spark.read.parquet(dir.getAbsolutePath)
      val dim = org.apache.spark.sql.functions.broadcast(
        spark.range(0, 10).toDF("p").filter($"p" < 3))
      val joined = fact.join(dim, "p")
      val leaves = joined.queryExecution.executedPlan.collectLeaves()
      assert(
        leaves.exists(l => l.subqueries.nonEmpty || l.expressions.exists(
          _.exists(_.isInstanceOf[org.apache.spark.sql.execution.ExecSubqueryExpression]))),
        "fixture did not put a DPP subquery on the scan — this pin would be vacuous")
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      val out =
        try {
          val o = graft.ops.Par.spread(joined, fanout = 1e9)
          // Listener delivery is async; a fixed sleep can under-wait on a
          // loaded host and pass even when spread ran a job. Drain the bus
          // so every submitted job-start event has been delivered.
          org.apache.spark.GraftListenerBridge
            .waitUntilListenerBusEmpty(spark.sparkContext, 30000L)
          o
        } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs == 0, s"spread ran $jobs job(s) probing a DPP-carrying scan")
      assert(out eq joined, "a non-inert leaf must be left alone, not widened")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("Par.spread: work-heavy post-aggregate frames out-vote AQE's byte-based coalescing") {
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // already at least as wide via a USER repartition (REPARTITION_BY_NUM
    // — AQE never coalesces it): untouched by reference, no extra
    // exchange at scale.
    val wide = spark.range(0, 100).toDF("id").repartition(par + 5)
    assert(graft.ops.Par.spread(wide, fanout = 1e6) eq wide)
    assert(wide.rdd.getNumPartitions == par + 5)
    // A post-aggregate frame arrives from a COALESCIBLE exchange: on
    // paper it has session width, but AQE's byte-based coalescing will
    // collapse these few bytes to ONE task — blind to per-byte kernel
    // cost (ns225: a 2 s Holt-Winters fold on numCoalescedPartitions=2).
    // Declared work that clears the gate must keep the kernel wide via
    // an explicit REPARTITION_BY_NUM exchange.
    val agg = spark.range(0, 100, 1, 1).toDF("id")
      .groupBy(org.apache.spark.sql.functions.col("id") % 7).count()
    val spreadAgg = graft.ops.Par.spread(agg, fanout = 1e9)
    assert(spreadAgg.rdd.getNumPartitions > 1,
      "work-heavy post-agg frame left to AQE byte-based coalescing")
    // ...while a cheap post-agg frame is left alone (byte-based
    // coalescing is RIGHT when the downstream work is scan-like).
    assert(graft.ops.Par.spread(agg, fanout = 1.0) eq agg)
  }

  test("Par.spread: the AQE out-vote reads EXCHANGE bytes, not the root's shrunken output") {
    // AQE coalesces by the exchange's shuffle bytes; a narrow projection
    // above a wide aggregate shrinks the ROOT stats ~20x below what
    // crosses the wire. The pre-r15 root-stats estimate concluded "AQE
    // will collapse this to 1 partition" and stacked a redundant
    // REPARTITION_BY_NUM on a read AQE keeps wide; the exchange-child
    // estimate must leave it alone.
    val prev = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try {
      // 20 collect_list columns ride the exchange (the projection above
      // CONSUMES them, so pruning cannot push the narrowing below it):
      // the exchange's logical stats estimate ~70 MB while the root
      // projection estimates ~7 MB. A 1 MB advisory then puts the
      // exchange at >= session width (AQE keeps it wide) and the root
      // under it (the old estimate said "AQE collapses this to 7").
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
      val bigs = (1 to 20).map(i => collect_list(col("id")).as(s"big$i"))
      val wideAgg = spark.range(0, 400000, 1, 8).toDF("id")
        .groupBy((col("id") % 50000).as("k"))
        .agg(bigs.head, (bigs.tail :+ count(lit(1)).as("n")): _*)
      val sz = (1 to 20).map(i => size(col(s"big$i"))).reduce(_ + _)
      val narrow = wideAgg.select(col("k"), col("n"), sz.as("sz"))
      assert(graft.ops.Par.spread(narrow, fanout = 1e9) eq narrow,
        "spread stacked a redundant exchange on a read AQE keeps wide")
    } finally spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prev)
  }

  test("vocabMassCoverage: a target landing exactly on a class boundary picks the earlier class") {
    // corpus: 'a' x 6, 'b' x 3, 'c' x 1 -> classes c=6 (cum 6), c=3
    // (cum 9), c=1 (cum 10); total 10. target 60% = exactly class-1's
    // cumulative mass -> types_needed 1; target 90% = exactly class-2's
    // -> 2; target 91% needs the last type -> 3.
    val docs = Seq("a a a a a a b b b c").toDF("text")
    Seq(true, false).foreach { bounded =>
      val got = graft.ops.TextOps
        .vocabMassCoverage(docs, "text", Seq(60, 90, 91), boundedDomain = bounded)
        .orderBy("target_pct")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((60L, 1L), (90L, 2L), (91L, 3L)), s"bounded=$bounded: $got")
    }
  }

  test("vocabMassCoverage: unbounded-domain class path equals the windowed path") {
    // Tie-heavy vocabulary: many types share a count, so targets regularly
    // land INSIDE a frequency class — the arithmetic within-class crossing
    // must agree with the per-type window exactly, at every percentage.
    val docs = Seq(
      "a a a a a b b b b c c c d d e e f g h i j k",
      "a a b b c d e f g h l m n o p",
      "q r s t u v w x y z a b").toDF("text")
    val targets = (1 to 100).toSeq
    def run(bounded: Boolean) = graft.ops.TextOps
      .vocabMassCoverage(docs, "text", targets, boundedDomain = bounded)
      .orderBy("target_pct").collect().map(_.toSeq).toSeq
    assert(run(true) == run(false))
    // and on the real corpus at the gate's targets
    val real = Tables(spark, sfDir, "documents")
    def runReal(bounded: Boolean) = graft.ops.TextOps
      .vocabMassCoverage(real, "text", Seq(50, 90, 99), boundedDomain = bounded)
      .orderBy("target_pct").collect().map(_.toSeq).toSeq
    assert(runReal(true) == runReal(false))
  }

  // -------------------------------------------- round-9 batch: concurrency

  test("peakConcurrency sweeps half-open intervals with day carry-in") {
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)
    val day = 86400000000L
    val df = Seq(
      (ts(0L), ts(1000000L)),            // day 0: [0s, 1s)
      (ts(500000L), ts(1500000L)),       // overlaps → peak 2 on day 0
      (ts(1000000L), ts(2000000L)),      // starts exactly as #1 ends → stays 2
      (ts(day - 1000000L), ts(day + day / 2)) // spans into day 1, alone there
    ).toDF("st", "en")
    val got = graft.ops.TimeSeries.peakConcurrency(df, "st", "en")
      .select("day", "peak").as[(Long, Long)].collect().toMap
    assert(got(0L) == 2L, got.toString) // half-open: end at t frees the slot before a start at t
    assert(got(1L) == 1L, got.toString) // carry-in plateau from day 0 is counted
  }

  test("peakConcurrency matches a brute-force sweep on sessions") {
    val spans = graft.streaming.Streams
      .sessionSpans(Tables(spark, sfDir, "events").filter($"user_id" < 40), 30)
      .withColumn("en", $"session_end" + expr("INTERVAL 30 MINUTES"))
    val got = graft.ops.TimeSeries.peakConcurrency(spans, "session_start", "en")
      .select("day", "peak").as[(Long, Long)].collect().toMap
    val iv = spans.select(unix_micros($"session_start"), unix_micros($"en"))
      .as[(Long, Long)].collect()
    val bounds = iv.flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    var run = 0L
    val brute = scala.collection.mutable.Map.empty[Long, Long]
    bounds.foreach { case (t, net) =>
      val pre = run; run += net
      val d = t / day0
      brute(d) = math.max(brute.getOrElse(d, Long.MinValue), math.max(pre, run))
    }
    assert(got == brute.toMap)
  }

  private val day0 = 86400000000L

  // ----------------------------------------------------- round-9 batch: KS

  test("ksAgainstReference computes the exact two-sample statistic") {
    // ref a: values 1,2,3,4 (n=4); group b: 3,4,5,6 (n=4). The cross-
    // multiplied diff |c1·n_ref − c2·n| is 8 at v ∈ {2,3,4}; the argmax
    // ties to the SMALLEST value → at_v = 2, ks = 8/16 = 0.5.
    val df = (Seq(1, 2, 3, 4).map(("a", _)) ++ Seq(3, 4, 5, 6).map(("b", _)))
      .toDF("g", "v")
    val r = graft.ops.Profile.ksAgainstReference(df, "g", "v", "a").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("ks_num") == 8L, row.toString)
    assert(row.getAs[Long]("at_v") == 2L, row.toString)
    assert(row.getAs[Double]("ks") == 0.5, row.toString)
  }

  test("ksAgainstReference: identical distributions give ks 0") {
    val df = (Seq(1, 2, 3).map(("r", _)) ++ Seq(1, 2, 3).map(("x", _))).toDF("g", "v")
    val r = graft.ops.Profile.ksAgainstReference(df, "g", "v", "r").collect().head
    assert(r.getAs[Long]("ks_num") == 0L && r.getAs[Double]("ks") == 0.0)
  }

  // -------------------------------------------------- round-9 batch: trend

  test("groupTrend recovers an exact line and nulls the degenerate key") {
    def t(h: Long) = new java.sql.Timestamp(h * 3600000L)
    val df = Seq(
      ("a", t(0), 100L), ("a", t(1), 300L), ("a", t(2), 500L), // y = 200x + 100
      ("b", t(0), 700L), ("b", t(0), 900L)                     // one distinct hour → den 0
    ).toDF("k", "ts", "v")
    val got = graft.ops.TimeSeries.groupTrend(df, "k", "ts", "v")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val a = got("a")
    assert(a.getAs[Double]("slope") == 200.0, a.toString)
    assert(a.getAs[Double]("icept") == 100.0, a.toString)
    val b = got("b")
    assert(b.isNullAt(b.fieldIndex("slope")) && b.isNullAt(b.fieldIndex("icept")))
  }

  // ------------------------------------------- round-9 batch: prefix join

  test("prefixJaccardPairs equals the inverted-index join on the corpus") {
    val docs = Tables(spark, sfDir, "documents").limit(400)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))
    val base = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(key).toSet
    val pref = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(key).toSet
    assert(pref == base && base.nonEmpty, s"prefix=${pref.size} base=${base.size}")
  }

  test("prefixJaccardPairs near-threshold pairs survive the prefix filter") {
    // J exactly at τ: sets {1..3} vs {2..4} of 3-gram shingles — craft via
    // word sequences "a b c d e" / "b c d e f": 3 shingles each, 2 shared,
    // J = 2/4 = 0.5 = τ (boundary inclusive).
    val df = Seq((1L, "a b c d e"), (2L, "b c d e f")).toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(df, "doc_id", "text", 3, 0.5).collect()
    assert(got.length == 1 && got.head.getAs[Double]("jaccard") == 0.5)
  }

  // -------------------------------------------- round-9 batch: baskets

  test("frequentPairs applies Apriori pruning losslessly") {
    val baskets = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"),
      (4L, "c"), (4L, "d") // d is infrequent → pruned before pairing
    ).toDF("bk", "item")
    val got = graft.ops.Association.frequentPairs(baskets, "bk", "item", 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a", "b", 3L)), got.toString)
  }

  test("frequentPairs counts a basket once regardless of duplicate rows") {
    val baskets = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"))
      .toDF("bk", "item")
    val got = graft.ops.Association.frequentPairs(baskets, "bk", "item", 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a", "b", 2L)), got.toString)
  }

  // ----------------------------------------------- round-9 batch: TWAP

  test("timeWeightedAverage weights plateaus by duration; singletons absent") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      ("a", ts(0), 1L, 100L),  // holds 10 s
      ("a", ts(10), 2L, 200L), // holds 20 s
      ("a", ts(30), 3L, 999L), // last observation: no plateau
      ("b", ts(0), 4L, 700L)   // single observation → absent
    ).toDF("k", "ts", "id", "v")
    val rows = graft.ops.TimeSeries.timeWeightedAverage(df, "k", "ts", "id", "v").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("k") == "a")
    assert(r.getAs[Long]("num") == 100L * 10000000L + 200L * 20000000L)
    assert(r.getAs[Long]("den") == 30000000L)
    assert(r.getAs[Double]("twap") == 5.0e9 / 3.0e7, r.toString)
  }

  // --------------------------------------------- round-9 batch: phrase

  test("phraseOccurrences counts overlapping and repeated matches exactly") {
    val docs = Seq(
      (1L, "x x x"),       // "x x" twice (overlap)
      (2L, "a b a b c"),   // "a b" twice
      (3L, "b a"),         // no "a b"
      (4L, "a")            // too short
    ).toDF("doc_id", "text")
    val xx = graft.ops.Retrieval.phraseOccurrences(docs, "doc_id", "text", Seq("x", "x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xx == Set((1L, 2L)), xx.toString)
    val ab = graft.ops.Retrieval.phraseOccurrences(docs, "doc_id", "text", Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ab == Set((2L, 2L)), ab.toString)
  }

  test("phraseOccurrences chains a 3-word phrase") {
    val docs = Seq((1L, "u v w u v w"), (2L, "u v x w")).toDF("doc_id", "text")
    val got = graft.ops.Retrieval.phraseOccurrences(docs, "doc_id", "text", Seq("u", "v", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), got.toString)
  }

  // ------------------------------------------- round-9 batch: attribution

  test("lastTouchAttribution credits the window, ties, and direct bucket") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val touches = Seq(
      (1L, ts(100), "click", 10L),
      (1L, ts(100), "ad", 11L),      // same instant → channel ties to 'ad' (min)
      (2L, ts(0), "view", 12L),      // 200s before conv 21, window 100s → too old
      (3L, ts(300), "click", 13L)    // AFTER conv 22 → not matched (backward)
    ).toDF("user_id", "ts", "channel", "event_id")
    val convs = Seq(
      (1L, ts(150), 20L, 500L),  // matches the ts=100 pair → 'ad'
      (2L, ts(200), 21L, 700L),  // outside window → direct
      (3L, ts(250), 22L, 900L)   // only future touch → direct
    ).toDF("user_id", "ts", "event_id", "rev")
    val got = graft.ops.Funnel.lastTouchAttribution(
        touches, convs, "user_id", "ts", "event_id", "channel", "rev", windowSec = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("ad", 1L, 500L), ("direct", 2L, 1600L)), got.toString)
  }

  // ------------------------------------------ round-9 batch: rolling median

  test("rollingMedian picks elements on odd frames, halves on even, per key") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      ("a", ts(1), 1L, 10L),
      ("a", ts(2), 2L, 30L),  // frame {10,30} → 20.0
      ("a", ts(3), 3L, 20L),  // frame {10,30,20} → 20.0
      ("a", ts(4), 4L, 100L), // frame {30,20,100} (window 3) → 30.0
      ("b", ts(1), 5L, 7L)    // isolated key → 7.0
    ).toDF("k", "ts", "id", "v")
    val got = graft.ops.TimeSeries.rollingMedian(df, "k", "ts", "id", "v", window = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
      .toSet
    assert(got == Set(
      ("a", 1L, 10.0, 1L), ("a", 2L, 20.0, 2L), ("a", 3L, 20.0, 3L),
      ("a", 4L, 30.0, 3L), ("b", 5L, 7.0, 1L)), got.toString)
  }

  // ------------------------------------------ round-9 batch: moment matrix

  test("momentMatrix reports exact integer numerators and Pearson r") {
    // y = 2x exactly → r = 1.0; z constant → var 0 → NULL r.
    val df = Seq((1L, 2L, 5L), (2L, 4L, 5L), (3L, 6L, 5L)).toDF("x1", "x2", "x3")
    val rows = graft.ops.Profile.momentMatrix(df, Seq("x1", "x2", "x3"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val xy = rows(("x1", "x2"))
    // n=3, Σx=6, Σy=12, Σxy=28 → cov_num = 3·28 − 72 = 12; var_x = 3·14−36 = 6
    assert(xy.getAs[Long]("n") == 3L)
    assert(xy.getAs[Long]("cov_num") == 12L)
    assert(xy.getAs[Long]("var_num_x") == 6L)
    assert(xy.getAs[Long]("var_num_y") == 24L)
    // the contract is the exact IEEE result of THIS formula, not round-1.0
    assert(xy.getAs[Double]("corr") == 12.0 / (math.sqrt(6.0) * math.sqrt(24.0)))
    assert(rows(("x1", "x3")).isNullAt(rows(("x1", "x3")).fieldIndex("corr")))
    assert(rows.size == 3, rows.keys.toString) // off-diagonal pairs only
  }

  test("momentMatrix listwise-deletes rows with any NULL measure") {
    val df = Seq(
      (Some(1L), Some(2L)), (Some(2L), None), (Some(3L), Some(6L))
    ).toDF("a", "b")
    val r = graft.ops.Profile.momentMatrix(df, Seq("a", "b")).collect().head
    assert(r.getAs[Long]("n") == 2L)
    assert(r.getAs[Long]("sum_x") == 4L)
  }

  // -------------------------------------- round-9 batch: precedence pairs

  test("precedencePairs counts strict first-before-first; ties drop") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      (1L, "a", ts(10)), (1L, "b", ts(20)), (1L, "a", ts(30)), // a<b (first a=10)
      (2L, "a", ts(5)), (2L, "b", ts(7)),                      // a<b
      (3L, "b", ts(1)), (3L, "a", ts(2)),                      // b<a
      (4L, "a", ts(9)), (4L, "b", ts(9))                       // tie → neither
    ).toDF("u", "t", "ts")
    val got = graft.ops.Association.precedencePairs(df, "u", "t", "ts", 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a", "b", 2L), ("b", "a", 1L)), got.toString)
  }

  // ---------------------------------------- round-9 batch: contingency

  test("contingency margins, deviation numerators, and chi2 terms are exact") {
    // 2×2 with obs: (a,x)=3 (a,y)=1 (b,x)=1 (b,y)=3 → n=8, margins 4.
    val df = (Seq.fill(3)(("a", "x")) ++ Seq(("a", "y")) ++
      Seq(("b", "x")) ++ Seq.fill(3)(("b", "y"))).toDF("r", "c")
    val got = graft.ops.Profile.contingency(df, "r", "c")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ax = got(("a", "x"))
    assert(ax.getAs[Long]("obs") == 3L)
    assert(ax.getAs[Long]("row_total") == 4L)
    assert(ax.getAs[Long]("col_total") == 4L)
    assert(ax.getAs[Long]("n") == 8L)
    // dev = 8·3 − 16 = 8; term = 64 / (8·16) = 0.5
    assert(ax.getAs[Long]("dev_num") == 8L)
    assert(ax.getAs[Double]("chi2_term") == 0.5)
    // Σ terms = classic chi2 = 2.0 for this table
    val chi2 = got.values.map(_.getAs[Double]("chi2_term")).sum
    assert(chi2 == 2.0, chi2.toString)
  }

  // ------------------------------------- round-9 batch: equal-freq bins

  test("equalFrequencyBins follows the ntile extra-row convention per group") {
    // 5 values, 2 bins → first bin takes 3 (ntile remainder), second 2.
    val df = Seq(("g", 10L, 1L), ("g", 20L, 2L), ("g", 30L, 3L),
      ("g", 40L, 4L), ("g", 50L, 5L)).toDF("grp", "v", "id")
    val got = graft.ops.Profile.equalFrequencyBins(df, "grp", "v", "id", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((1L, 3L, 10L, 30L), (2L, 2L, 40L, 50L)), got.toString)
  }

  test("equalFrequencyBins ties break on id, reproducibly") {
    val df = Seq(("g", 7L, 2L), ("g", 7L, 1L), ("g", 7L, 3L), ("g", 7L, 4L))
      .toDF("grp", "v", "id")
    val got = graft.ops.Profile.equalFrequencyBins(df, "grp", "v", "id", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L), (2L, 2L)), got.toString)
  }

  // ------------------------------------ round-9 batch: hamming hash pairs

  test("hashHammingPairs finds every pair within radius (pigeonhole) and no more") {
    val df = Seq(
      (1L, 0x00000000L), // vs 2: hamming 1; vs 3: 2; vs 4: 32
      (2L, 0x00000001L),
      (3L, 0x00010001L),
      (4L, 0xFFFFFFFFL)
    ).toDF("id", "h")
    val got = graft.ops.Dedup.hashHammingPairs(df, "id", "h", 32, 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L)), got.toString)
  }

  // ------------------------------------ round-9 batch: reciprocal match

  test("reciprocalBestMatch keeps only mutual top-1 pairs") {
    // l1↔r1 mutual; l2's best is r1 but r1's best is l1 → l2 unmatched.
    val left = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val right = Seq(
      (20L, Array(1.0f, 0.0f)),
      (21L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.reciprocalBestMatch(left, right, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 → 20 (cos 1.0) and 20 → 10 (cos 1.0, tie with 11 broken by id) → mutual
    // 11 → 20 but 20 → 10, so 11 drops; 21 → 11 (cos .11>0) but 11 → 20, drops.
    assert(got == Set((10L, 20L)), got.toString)
  }

  // ---------------------------------------- round-9 batch: burn rate

  test("burnRate computes exact windows, burns, and the page predicate") {
    def ts(h: Long, m: Long) = new java.sql.Timestamp((h * 3600L + m * 60L) * 1000L)
    // hour 0: 1 err / 4; hour 1: 3 err / 4; hour 3: 0 err / 2 (hour 2 empty)
    val df = (Seq((ts(0, 0), "error"), (ts(0, 1), "ok"), (ts(0, 2), "ok"), (ts(0, 3), "ok")) ++
      Seq((ts(1, 0), "error"), (ts(1, 1), "error"), (ts(1, 2), "error"), (ts(1, 3), "ok")) ++
      Seq((ts(3, 0), "ok"), (ts(3, 1), "ok"))).toDF("ts", "event_type")
    val got = graft.ops.TimeSeries.burnRate(
        df, "ts", org.apache.spark.sql.functions.col("event_type") === "error",
        shortHours = 1, longHours = 6, budgetPerMille = 500L)
      .collect().map(r => r.getLong(0) -> r).toMap
    val h1 = got(1L)
    assert(h1.getAs[Long]("err_s") == 3L && h1.getAs[Long]("tot_s") == 4L)
    assert(h1.getAs[Long]("err_l") == 4L && h1.getAs[Long]("tot_l") == 8L)
    // burn_s = 3000/2000 = 1.5 > 1; burn_l = 4000/4000 = 1.0 NOT > 1 → no page
    assert(h1.getAs[Double]("burn_s") == 1.5)
    assert(h1.getAs[Double]("burn_l") == 1.0)
    assert(!h1.getAs[Boolean]("page"))
    // hour 3's long window still sees hours 1..3 through the RANGE frame
    val h3 = got(3L)
    assert(h3.getAs[Long]("err_l") == 4L && h3.getAs[Long]("tot_l") == 10L)
    assert(got.size == 3) // empty hour 2 absent (changelog semantics)
  }

  // ------------------------------------ round-9 batch: grid clustering

  test("gridDensityClusters merges touching dense cells; sparse cells are noise") {
    val enc = 1L << 21
    // cells (0,0) and (1,1) dense (diagonal touch → one cluster);
    // cell (5,5) dense but isolated (own cluster); (9,9) sparse (noise).
    val pts = (
      (1L to 3L).map(i => (i, 10L + i, 10L)) ++        // cell (0,0): 3 pts
      (4L to 6L).map(i => (i, 110L + i, 110L)) ++      // cell (1,1): 3 pts
      (7L to 9L).map(i => (i, 510L, 510L + i)) ++      // cell (5,5): 3 pts
      Seq((10L, 950L, 950L))                           // cell (9,9): 1 pt
    ).toDF("id", "x", "y")
    val got = graft.ops.Spatial.gridDensityClusters(pts, "id", "x", "y", 100L, 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 9, got.toString) // point 10 is noise
    val blob = (1L to 6L).map(got).toSet
    assert(blob == Set(0L), blob.toString) // min cell key of (0,0)+(1,1) = 0
    val iso = (7L to 9L).map(got).toSet
    assert(iso == Set(5L * enc + 5L), iso.toString)
  }

  // ------------------------------------------ round-9 batch: top paths

  test("topPaths truncates to the prefix, orders by (ts, id), prunes by count") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "c"),
      (1L, ts(4), 4L, "d"), // 4th step truncated away
      (2L, ts(1), 5L, "a"), (2L, ts(2), 6L, "b"), (2L, ts(3), 7L, "c"),
      (3L, ts(1), 8L, "a"), (3L, ts(1), 9L, "b"), // same ts → id order
      (4L, ts(1), 10L, "z") // unique path → pruned at minCount 2
    ).toDF("u", "ts", "id", "t")
    val got = graft.ops.Funnel.topPaths(df, "u", "ts", "id", "t", 3, 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a>b>c", 2L)), got.toString)
  }

  // ------------------------------------------------ round-9 batch: RBO

  test("rankBiasedOverlap: identical lists score Σ(1-p)p^(d-1) exactly") {
    val r = Seq(("q", 100L, 1L), ("q", 200L, 2L), ("q", 300L, 3L))
      .toDF("qid", "it", "rk")
    val row = graft.ops.Retrieval.rankBiasedOverlap(r, r, "qid", "it", "rk", 3, 0.5)
      .collect().head
    assert(row.getAs[Long]("overlap_k") == 3L)
    // X_d = d → terms (1-p)p^(d-1): 0.5 + 0.25 + 0.125 (exact dyadics)
    assert(row.getAs[Double]("rbo") == 0.875, row.toString)
  }

  test("rankBiasedOverlap: disjoint lists produce no row; partial overlap counts depths") {
    val a = Seq(("q", 1L, 1L), ("q", 2L, 2L)).toDF("qid", "it", "rk")
    val b = Seq(("q", 3L, 1L), ("q", 4L, 2L)).toDF("qid", "it", "rk")
    assert(graft.ops.Retrieval.rankBiasedOverlap(a, b, "qid", "it", "rk", 2, 0.5)
      .collect().isEmpty)
    // item 2 at ranks (2, 1) → m=2 → contributes only at depth 2
    val c = Seq(("q", 2L, 1L), ("q", 9L, 2L)).toDF("qid", "it", "rk")
    val row = graft.ops.Retrieval.rankBiasedOverlap(a, c, "qid", "it", "rk", 2, 0.5)
      .collect().head
    assert(row.getAs[Long]("overlap_k") == 1L)
    // term at d=2 only: 0.5 · 0.5 · 1/2 = 0.125
    assert(row.getAs[Double]("rbo") == 0.125, row.toString)
  }

  // ------------------------------------------------ round-9 batch: Holt

  test("holtLinear follows the textbook recurrence exactly") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(("k", ts(1), 1L, 10.0), ("k", ts(2), 2L, 12.0),
      ("k", ts(3), 3L, 15.0), ("k", ts(4), 4L, 11.0)).toDF("k", "ts", "id", "v")
    val r = graft.ops.TimeSeries.holtLinear(df, "k", "ts", "id", "v").collect().head
    // seeds (10, 0); steps: (11, .5) → (13.25, 1.375) → (12.8125, .46875)
    assert(r.getAs[Long]("n_events") == 4L)
    assert(r.getAs[Double]("level") == 12.8125, r.toString)
    assert(r.getAs[Double]("trend") == 0.46875, r.toString)
    assert(r.getAs[Double]("forecast") == 13.28125, r.toString)
  }

  test("holtLinear closes the lag on a perfect ramp where ewma cannot") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ramp = (1L to 40L).map(i => ("k", ts(i), i, i.toDouble * 10))
      .toDF("k", "ts", "id", "v")
    val h = graft.ops.TimeSeries.holtLinear(ramp, "k", "ts", "id", "v").collect().head
    // on v = 10t the forecast converges to the next value, 410
    // (geometric tail: ~1.7e-5 after 40 steps)
    assert(math.abs(h.getAs[Double]("forecast") - 410.0) < 1e-3, h.toString)
  }

  // -------------------------------------------- round-9 batch: key skew

  test("keySkew reports exact cardinality statistics and the top key") {
    val df = (Seq.fill(4)(7L) ++ Seq.fill(4)(3L) ++ Seq(1L, 2L)).toDF("k")
    val r = graft.ops.Profile.keySkew(df, "k").collect().head
    assert(r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("n_keys") == 4L)
    assert(r.getAs[Long]("max_count") == 4L)
    assert(r.getAs[String]("top_key") == "7") // count tie 4 → largest key
    assert(r.getAs[Long]("sum_c2") == 16L + 16L + 1L + 1L)
    // counts {1,1,4,4}: median = (1+4)/2 = 2.5
    assert(r.getAs[Double]("med_count") == 2.5)
  }

  // -------------------------------- round-9 batch: linear attribution

  test("linearAttribution splits exact basis points; remainder to earliest") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val touches = Seq(
      (1L, ts(10), "ad", 11L), (1L, ts(20), "click", 12L), (1L, ts(30), "email", 13L),
      (2L, ts(500), "ad", 14L) // outside user 2's window
    ).toDF("user_id", "ts", "channel", "event_id")
    val convs = Seq(
      (1L, ts(40), 20L, 900L), // 3 touches → 3333 each, earliest +1
      (2L, ts(100), 21L, 500L) // no eligible touch → direct
    ).toDF("user_id", "ts", "event_id", "rev")
    val got = graft.ops.Funnel.linearAttribution(
        touches, convs, "user_id", "ts", "event_id", "channel", "rev", windowSec = 60L)
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    assert(got("ad").getAs[Long]("credit_bps") == 3334L) // earliest gets 3333+1
    assert(got("click").getAs[Long]("credit_bps") == 3333L)
    assert(got("email").getAs[Long]("credit_bps") == 3333L)
    assert(got("direct").getAs[Long]("credit_bps") == 10000L)
    assert(got("direct").getAs[Long]("credit_cbps") == 5000000L)
    assert(got("direct").getAs[Double]("credit_c") == 500.0)
    // per-conversion bps conservation
    val totalBps = got.values.map(_.getAs[Long]("credit_bps")).sum
    assert(totalBps == 20000L, totalBps.toString)
  }

  // --------------------------------- round-9 batch: CMS join estimate

  test("cmsJoinSizeEstimate never undershoots and is exact without collisions") {
    val a = (Seq.fill(3)("x") ++ Seq.fill(2)("y") ++ Seq("only_a")).toDF("k")
    val b = (Seq.fill(5)("x") ++ Seq("y") ++ Seq("only_b")).toDF("k")
    val est = graft.ops.Sketch.cmsJoinSizeEstimate(
        graft.ops.Sketch.cmsCounters(a, "k", 4, 4096),
        graft.ops.Sketch.cmsCounters(b, "k", 4, 4096))
      .collect().head.getLong(0)
    val exact = 3L * 5L + 2L * 1L // x: 15, y: 2
    assert(est >= exact, s"$est < $exact")
    // 4 distinct keys in 4096 buckets: collisions are possible only on
    // engineered inputs; equality documents the no-collision case.
    assert(est == exact, s"$est != $exact with collision-free width")
  }

  // -------------------------------- round-9 batch: rolling distinct

  test("rollingDistinctSketch windows cover trailing hours and merge sketches") {
    def ts(h: Long) = new java.sql.Timestamp(h * 3600L * 1000L)
    // hour 0: users 1,2; hour 1: user 3; hour 5: user 1
    val df = Seq((ts(0), 1L), (ts(0), 2L), (ts(1), 3L), (ts(5), 1L))
      .toDF("ts", "uid")
    val got = graft.ops.Sketch.rollingDistinctSketch(df, "ts", "uid", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // win 0: {1,2}; win 1: {1,2,3}; win 2: {1,2,3}; win 3: {3}; win 5,6,7: {1}
    // (tiny cardinalities → HLL is exact)
    assert(got == Map(0L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L,
      5L -> 1L, 6L -> 1L, 7L -> 1L), got.toString)
  }

  // ------------------------------- round-9 batch: concentration

  test("categoricalConcentration reports exact Gini rationals per column") {
    val df = Seq(("a", "u"), ("a", "v"), ("a", "w"), ("b", null))
      .toDF("c1", "c2")
    val got = graft.ops.Profile.categoricalConcentration(df, Seq("c1", "c2"))
      .collect().map(r => r.getString(0) -> r).toMap
    val c1 = got("c1")
    assert(c1.getAs[Long]("n") == 4L)
    assert(c1.getAs[Long]("n_categories") == 2L)
    assert(c1.getAs[Long]("sum_c2") == 10L) // 9 + 1
    assert(c1.getAs[Double]("gini") == 6.0 / 16.0)
    assert(c1.getAs[Double]("top_share") == 0.75)
    val c2 = got("c2")
    assert(c2.getAs[Long]("n") == 3L) // null excluded
    assert(c2.getAs[Double]("gini") == 6.0 / 9.0) // uniform over 3
  }

  // --------------------------------- round-9 batch: hashing vectorizer

  test("hashingVectorize buckets deterministically and counts every token") {
    val df = Seq((1L, "a b a"), (2L, "a")).toDF("doc_id", "text")
    val rows = graft.ops.TextOps.hashingVectorize(df, "doc_id", "text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows(1L).sum == 3L) // every token lands somewhere
    assert(rows(2L).sum == 1L)
    // same token → same bucket in every document
    val aBucket1 = rows(1L).indexWhere(_ == 2L)
    assert(aBucket1 >= 0, rows(1L).toString)
    assert(rows(2L)(aBucket1) == 1L)
    assert(rows(1L).length == 8 && rows(2L).length == 8)
  }

  // ---------------------------------- round-9 batch: frequent triples

  test("frequentTriples finds supported triples; prunes are lossless") {
    val baskets = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "c"), (2L, "d"),
      (3L, "a"), (3L, "b"), (3L, "d"),
      (4L, "a"), (4L, "c")
    ).toDF("bk", "item")
    val got = graft.ops.Association.frequentTriples(baskets, "bk", "item", 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    // (a,b,c) in baskets 1,2; (a,b,d) in 2,3. d appears 2× (frequent).
    assert(got == Set(("a", "b", "c", 2L), ("a", "b", "d", 2L)), got.toString)
  }

  // --------------------------- round-9 batch: proportional allocation

  test("proportionalAllocation quotas sum to exactly k via largest remainders") {
    // strata sizes 5, 3, 2 with k=7: exact shares 3.5/2.1/1.4 →
    // bases 3/2/1 (sum 6), largest remainder .5 wins the seat → 4/2/1.
    val df = ((1 to 5).map(i => ("a", i.toLong)) ++
      (6 to 8).map(i => ("b", i.toLong)) ++
      (9 to 10).map(i => ("c", i.toLong))).toDF("s", "id")
    val rows = graft.ops.Sampling.proportionalAllocation(df, "s", "id", 7L).collect()
    assert(rows.length == 7, rows.length.toString)
    val quotas = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(quotas == Map("a" -> 4L, "b" -> 2L, "c" -> 1L), quotas.toString)
    val perStratum = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(perStratum == Map("a" -> 4, "b" -> 2, "c" -> 1), perStratum.toString)
  }

  // --------------------------------- round-9 batch: covered time

  test("coveredTime merges overlaps and touches, splits true gaps") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      ("u", ts(0), ts(10)),   // island 1
      ("u", ts(5), ts(20)),   // overlaps → still island 1
      ("u", ts(20), ts(25)),  // touches (start == running max end) → merges
      ("u", ts(100), ts(110)),// gap → island 2
      ("v", ts(0), ts(1))
    ).toDF("k", "s", "e")
    val got = graft.ops.TimeSeries.coveredTime(df, "k", "s", "e")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("u") == ((35000000L, 2L, 4L)), got.toString) // 25s + 10s in micros
    assert(got("v") == ((1000000L, 1L, 1L)))
  }

  // ----------------------------------- round-9 batch: novelty report

  test("noveltyBySource debits later sources for cross-source duplicates") {
    val df = Seq(
      (1L, "alpha beta", "s1"),  // first copy → novel for s1
      (2L, "beta alpha", "s2"),  // same fingerprint (sorted tokens) → dup for s2
      (3L, "gamma", "s2"),       // novel for s2
      (4L, "alpha beta", "s1")   // dup for s1
    ).toDF("doc_id", "text", "source")
    val got = graft.ops.Dedup.noveltyBySource(df, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("s1") == ((2L, 1L, 0.5)), got.toString)
    assert(got("s2") == ((2L, 1L, 0.5)), got.toString)
  }

  // ------------------------------- round-9 batch: weighted quantile

  test("groupedWeightedQuantile picks the lower inverted-CDF value exactly") {
    // values 1,2,3 with weights 1,1,8: half the weight (5 of 10) is
    // reached only at v=3 → weighted median 3 (the unweighted median is 2).
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 8L)).toDF("grp", "v", "w")
    val got = graft.ops.Profile.groupedWeightedQuantile(df, "grp", "v", "w", 1L, 2L)
      .collect().head.getLong(1)
    assert(got == 3L, got.toString)
    // boundary: q exactly at a cumulative step takes THAT value (>=)
    val df2 = Seq(("g", 1L, 5L), ("g", 2L, 5L)).toDF("grp", "v", "w")
    val got2 = graft.ops.Profile.groupedWeightedQuantile(df2, "grp", "v", "w", 1L, 2L)
      .collect().head.getLong(1)
    assert(got2 == 1L, got2.toString)
  }

  // ---------------------------------- round-9 batch: trimmed mean

  test("groupedTrimmedMean drops exact tail counts and splits ties by rank") {
    // 10 values: drop lowest 1 and highest 1 (10% each side).
    val df = (Seq(0L, 100L) ++ Seq.fill(8)(5L)).map(("g", _)).toDF("grp", "v")
    val r = graft.ops.Profile.groupedTrimmedMean(df, "grp", "v", 1L, 10L, 9L, 10L)
      .collect().head
    assert(r.getAs[Long]("n_kept") == 8L)
    assert(r.getAs[Long]("sum_kept") == 40L) // the eight 5s survive
    assert(r.getAs[Double]("trimmed_mean") == 5.0)
    // tie across the cut: 5 values of 7, drop bottom 20% (1 value) —
    // one of the tied 7s drops BY RANK, keeping mass exact.
    val df2 = Seq.fill(5)(("g", 7L)).toDF("grp", "v")
    val r2 = graft.ops.Profile.groupedTrimmedMean(df2, "grp", "v", 1L, 5L, 5L, 5L)
      .collect().head
    assert(r2.getAs[Long]("n_kept") == 4L, r2.toString)
  }

  // ------------------------------------ round-9 batch: run length

  test("runLengthStates collapses consecutive states and breaks on change") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      ("u", ts(1), 1L, "a"), ("u", ts(2), 2L, "a"), ("u", ts(3), 3L, "b"),
      ("u", ts(4), 4L, "a"), ("v", ts(1), 5L, "x")
    ).toDF("k", "ts", "id", "st")
    val got = graft.ops.TimeSeries.runLengthStates(df, "k", "ts", "id", "st")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(5))).toSet
    assert(got == Set(
      ("u", 1L, "a", 2L), ("u", 2L, "b", 1L), ("u", 3L, "a", 1L),
      ("v", 1L, "x", 1L)), got.toString)
  }

  // ---------------------------------- round-9 batch: inter-arrival

  test("interArrivalStats computes exact second gaps and cv2") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // gaps: 10s, 30s → n=2, Σ=40, Σ²=1000; cv2 = (2·1000−1600)/1600 = .25
    val df = Seq(("u", ts(0), 1L), ("u", ts(10), 2L), ("u", ts(40), 3L),
      ("solo", ts(5), 4L)).toDF("k", "ts", "id")
    val rows = graft.ops.TimeSeries.interArrivalStats(df, "k", "ts", "id")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!rows.contains("solo")) // no gaps → absent
    val u = rows("u")
    assert(u.getAs[Long]("n_gaps") == 2L)
    assert(u.getAs[Long]("sum_gap_s") == 40L)
    assert(u.getAs[Long]("sum_gap2_s") == 1000L)
    assert(u.getAs[Long]("min_gap_s") == 10L && u.getAs[Long]("max_gap_s") == 30L)
    assert(u.getAs[Double]("cv2") == 0.25)
  }

  // ------------------------------- round-9 batch: share of parent

  test("shareOfParent shares sum to 1 within each parent") {
    val df = Seq(("p1", "a", 30L), ("p1", "b", 70L), ("p2", "c", 5L))
      .toDF("par", "ch", "v")
    val got = graft.ops.Profile.shareOfParent(df, "par", "ch", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(("p1", "a")) == ((30L, 100L, 0.3)))
    assert(got(("p1", "b")) == ((70L, 100L, 0.7)))
    assert(got(("p2", "c")) == ((5L, 5L, 1.0)))
  }

  // ------------------------------- round-9 batch: temporal split

  test("temporalSplit cuts at the exact order statistic with a purged embargo") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // 10 rows at t = 100, 200, ..., 1000; q = 7/10 → cut at t = 700.
    val df = (1L to 10L).map(i => (i, ts(i * 100L))).toDF("id", "ts")
    val got = graft.ops.Sampling.temporalSplit(df, "ts", "id", 7L, 10L, embargoSec = 150L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // train: t <= 700 - 150 = 550 → ids 1..5; embargo: 6, 7 dropped;
    // test: t > 700 → ids 8, 9, 10.
    assert(got == ((1L to 5L).map(_ -> "train") ++ (8L to 10L).map(_ -> "test")).toMap,
      got.toString)
  }

  // ------------------------------- round-9 batch: windowed duplicates

  test("windowedDuplicates marks in-window re-posts only; chains re-arm") {
    def ts(h: Long) = new java.sql.Timestamp(h * 3600L * 1000L)
    val df = Seq(
      (1L, "same text", ts(0)),
      (2L, "same text", ts(10)),  // 10h after #1 → dup (window 24h)
      (3L, "same text", ts(50)),  // 40h after #2 → fresh again
      (4L, "other", ts(5))
    ).toDF("doc_id", "text", "ts")
    val got = graft.ops.Dedup.windowedDuplicates(df, "doc_id", "text", "ts", 24L * 3600L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false), got.toString)
  }

  // ------------------------------ round-9 batch: label disagreement

  test("labelDisagreement counts differing-label neighbors exactly") {
    // two tight clusters on orthogonal axes; vec 5 sits in cluster A's
    // direction but carries cluster B's label → full disagreement.
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.95f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.labelDisagreement(df, "vec_id", "embedding", "label", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(5L) == ((2L, 2L)), got.toString) // both neighbors labeled 0
    assert(got(3L) == ((2L, 1L)), got.toString) // neighbors: 4 (same), 5 (mislabeled 1... )
  }

  // ------------------------------------ round-9 batch: top-k rows

  test("rowsPerGroup returns whole rows ranked by (value, id-desc ties)") {
    val df = Seq(("g", 1L, 100L), ("g", 2L, 300L), ("g", 3L, 200L),
      ("g", 4L, 300L), ("h", 5L, 7L)).toDF("grp", "id", "v")
    val got = graft.ops.TopK.rowsPerGroup(df, "grp", "v", "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // g: two 300s — tie breaks toward LARGER id → rank1 = (300, id 4)
    assert(got == Set(
      ("g", 1L, 300L, 4L), ("g", 2L, 300L, 2L), ("h", 1L, 7L, 5L)), got.toString)
  }

  test("rowsPerGroup raises on packing-domain violations") {
    val df = Seq(("g", 1L, -5L)).toDF("grp", "id", "v")
    val e = intercept[Exception] {
      graft.ops.TopK.rowsPerGroup(df, "grp", "v", "id", 1).collect()
    }
    assert(e.getMessage != null)
  }

  // ------------------------------- round-9 batch: duplicate capping

  test("capDuplicates keeps the first maxCopies by arrival; cap 1 = dedup") {
    val df = Seq(
      (1L, "same"), (2L, "same"), (3L, "same"), (4L, "other")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.capDuplicates(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 4L -> 1L), got.toString)
    val dedup = graft.ops.Dedup.capDuplicates(df, "doc_id", "text", 1)
      .collect().map(_.getLong(0)).toSet
    assert(dedup == Set(1L, 4L), dedup.toString)
  }

  // ---------------------------- round-9 batch: group standardization

  test("groupStandardize emits exact deviation numerators and population z") {
    // group g: values 1, 3 → n=2, Σ=4, Σv²=10, var_num = 20−16 = 4
    val df = Seq(("g", 1L, 1L), ("g", 2L, 3L), ("solo", 3L, 9L))
      .toDF("grp", "id", "v")
    val got = graft.ops.Profile.groupStandardize(df, "grp", "id", "v")
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(got(1L).getAs[Long]("dev_num") == -2L) // 2·1 − 4
    assert(got(1L).getAs[Double]("z") == -1.0)    // −2/√4
    assert(got(2L).getAs[Double]("z") == 1.0)
    assert(got(3L).isNullAt(got(3L).fieldIndex("z"))) // n < 2
  }

  // ---------------------------- round-9 batch: Misra–Gries heavy hitters

  test("heavyHitters exact regime: capacity >= distinct keys gives exact ranked counts") {
    val df = (Seq.fill(5)(7L) ++ Seq.fill(3)(9L) ++ Seq.fill(3)(1L) ++ Seq(4L))
      .map(k => ("g", k)).toDF("grp", "k")
    val got = graft.ops.Sketch.heavyHitters(df, Seq("grp"), "k", capacity = 16)
      .select("rank", "k", "est").as[(Long, Long, Long)].collect().toSeq
    // est desc, key asc: (7,5), (1,3), (9,3), (4,1)
    assert(got == Seq((1L, 7L, 5L), (2L, 1L, 3L), (3L, 9L, 3L), (4L, 4L, 1L)), got.toString)
  }

  test("heavyHitters MG eviction on one ordered partition is the textbook trace") {
    // stream 1,1,1,2,3,4 at cap 2: {1:3} → insert 2 → 3 decrements all
    // (2 vanishes, 1 drops to 2) → 4 inserts. Final {1:2, 4:1}.
    val df = spark.createDataset(Seq(1L, 1L, 1L, 2L, 3L, 4L))(Encoders.scalaLong)
      .repartition(1).toDF("k")
    val got = graft.ops.Sketch.heavyHitters(df, Seq.empty, "k", capacity = 2)
      .select("k", "est").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (4L, 1L)), got.toString)
  }

  test("heavyHitters bounds hold under eviction pressure across many partitions") {
    // 40 distinct keys at cap 6, skewed: key k appears k times (n=820).
    val rows = (1L to 40L).flatMap(k => Seq.fill(k.toInt)(k))
    val df = spark.createDataset(rows)(Encoders.scalaLong).repartition(8).toDF("k")
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val hh = graft.ops.Sketch.heavyHitters(df, Seq.empty, "k", capacity = 6)
      .select("k", "est").as[(Long, Long)].collect()
    assert(hh.length <= 6)
    hh.foreach { case (k, est) =>
      assert(est <= exact(k), s"overcount at $k")
      assert((exact(k) - est) * 7 <= rows.size, s"MG lower bound broken at $k")
    }
    // every key with freq > n/(cap+1) is guaranteed tracked
    val mustHave = exact.filter(_._2 * 7 > rows.size).keySet
    assert(mustHave.subsetOf(hh.map(_._1).toSet), s"missing guaranteed keys: $mustHave")
  }

  // ---------------------------- round-9 batch: LPM join, target encoding

  test("longestPrefixJoin picks the most specific rule; unmatched keys keep NULLs") {
    val facts = Seq((1L, "abcde"), (2L, "abx"), (3L, "zzz")).toDF("id", "key")
    val rules = Seq("a", "abc", "abc").toDF("prefix") // dup rule must not double rows
    val got = graft.ops.Lpm.longestPrefixJoin(facts, "id", "key", rules, "prefix", Seq(1, 3))
      .select("id", "matched_prefix", "matched_len")
      .as[(Long, Option[String], Option[Long])].collect()
      .map { case (k, v, l) => k -> ((v, l)) }.toMap
    assert(got(1L) == (Some("abc"), Some(3L))) // longest wins over "a"
    assert(got(2L) == (Some("a"), Some(1L)))   // only the short rule prefixes "abx"
    assert(got(3L) == (None, None))            // no rule matches
  }

  test("targetEncodeLoo: singleton category degrades to the pure prior; LOO excludes own row") {
    // cats: g={10, 30} cents, solo={100}. prior = 140/3.
    val df = Seq((1L, "g", 10L), (2L, "g", 30L), (3L, "solo", 100L)).toDF("id", "cat", "y")
    val got = graft.ops.Encode.targetEncodeLoo(df, "id", "cat", "y", smoothing = 2)
      .select("id", "enc").as[(Long, Double)].collect().toMap
    val prior = 140.0 / 3.0
    assert(got(1L) == ((40.0 - 10.0) + 2.0 * prior) / 3.0) // (Σ−y + m·prior)/(n−1+m)
    assert(got(2L) == ((40.0 - 30.0) + 2.0 * prior) / 3.0)
    assert(got(3L) == (0.0 + 2.0 * prior) / 2.0)           // n=1 → only the prior mass
  }

  test("clusteringCoefficients: triangle+tail graph has the textbook coefficients") {
    // edges: 1-2, 2-3, 1-3 (triangle) and 3-4 (tail)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node") // 5 isolated
    val got = graft.ops.Graph.clusteringCoefficients(nodes, edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, Some(1.0))))
    assert(got(3L) == ((3L, 1L, Some(1.0 / 3.0)))) // 2·1/(3·2)
    assert(got(4L) == ((1L, 0L, None)))            // degree < 2 → NULL
    assert(got(5L) == ((0L, 0L, None)))
  }

  // ---------------------------- round-9 batch: drift / association / Benford

  test("totalVariationDrift: disjoint samples hit TVD 1, identical samples hit 0") {
    val a = Seq(1L, 1L, 2L).toDF("bin")
    val b = Seq(3L, 3L).toDF("bin")
    val disjoint = graft.ops.Profile.totalVariationDrift(a, b, "bin")
      .select("tvd").distinct().as[Double].collect()
    assert(disjoint.toSeq == Seq(1.0))
    val same = graft.ops.Profile.totalVariationDrift(a, a, "bin")
      .select("tvd").distinct().as[Double].collect()
    assert(same.toSeq == Seq(0.0))
  }

  test("totalVariationDrift hand-check: per-bin integer deviations over n_a·n_b") {
    // a: {1:2, 2:1} n=3; b: {1:1, 3:1} n=2 → dev = |2·2−1·3|=1, |1·2−0|=2, |0−1·3|=3
    val a = Seq(1L, 1L, 2L).toDF("bin")
    val b = Seq(1L, 3L).toDF("bin")
    val rows = graft.ops.Profile.totalVariationDrift(a, b, "bin")
      .select("bin", "dev_num", "tvd_num", "tvd")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(r => r._1 -> r._2).toSeq == Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(rows.head._3 == 6L && rows.head._4 == 6.0 / 12.0)
  }

  test("cramersV: perfectly-associated 2x2 gives V=1; independent gives V=0") {
    val perfect = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")).toDF("r", "c")
    // zero cells count: χ² = 2 (observed) + 2 (missing mass) = 4 → V = 1
    val vP = graft.ops.Profile.cramersV(perfect, "r", "c")
      .select("cramers_v").as[Double].head()
    assert(math.abs(vP - 1.0) < 1e-6, s"perfect association: $vP")
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")).toDF("r", "c")
    val vI = graft.ops.Profile.cramersV(indep, "r", "c")
      .select("cramers_v").as[Double].head()
    assert(vI == 0.0, s"independence: $vI")
  }

  test("changePoint finds the level shift at the right index, smallest-k ties") {
    // series 0,0,0,10,10: best split after k=3 (left mean 0, right 10)
    val df = Seq(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 0L), ("a", 4L, 10L), ("a", 5L, 10L))
      .toDF("key", "t", "v")
    val r = graft.ops.TimeSeries.changePoint(df, "key", "t", "v").collect().head
    assert(r.getAs[Long]("split_k") == 3L)
    assert(r.getAs[Long]("split_ord") == 3L)
    assert(r.getAs[Double]("mean_left") == 0.0 && r.getAs[Double]("mean_right") == 10.0)
    // constant series: all scores 0 → tie breaks to k=1; single-row keys vanish
    val const = Seq(("c", 1L, 5L), ("c", 2L, 5L), ("solo", 9L, 1L)).toDF("key", "t", "v")
    val got = graft.ops.TimeSeries.changePoint(const, "key", "t", "v")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("split_k")).toMap
    assert(got == Map("c" -> 1L))
  }

  test("lagCrossCorrelation: a shifted copy correlates perfectly at its lag") {
    import java.sql.Timestamp
    // x fires at hours 0,2,4; y at hours 1,3,5 → lag 1 aligns them exactly
    val rows = Seq(0, 2, 4).map(h => (new Timestamp(h * 3600L * 1000L), "x")) ++
      Seq(1, 3, 5).map(h => (new Timestamp(h * 3600L * 1000L), "y"))
    val df = rows.toDF("ts", "kind")
    val r = graft.ops.TimeSeries.lagCrossCorrelation(
        df, "ts", col("kind") === "x", col("kind") === "y", maxLag = 2)
      .collect().map(x => x.getAs[Long]("lag") ->
        (if (x.isNullAt(x.fieldIndex("r"))) None else Some(x.getAs[Double]("r")))).toMap
    assert(r(1L) == Some(1.0), s"lag-1 perfect correlation: $r")
    assert(r(0L).exists(_ < 0.0), s"lag-0 anti-phase: $r")
  }

  test("mahalanobis2d: on-mean rows score 0, off-axis outliers score highest, degenerate NULL") {
    val df = Seq((1L, 0L, 0L), (2L, 2L, 0L), (3L, 0L, 2L), (4L, 2L, 2L), (5L, 1L, 1L))
      .toDF("id", "x", "y")
    val got = graft.ops.Profile.mahalanobis2d(df, "id", "x", "y")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(got(5L) == Some(0.0))                       // the centroid row
    assert(got(1L).get > 0 && got(1L) == got(4L))      // symmetric corners equal
    // perfectly-correlated features → det 0 → NULL, not a blow-up
    val degen = Seq((1L, 1L, 2L), (2L, 2L, 4L), (3L, 3L, 6L)).toDF("id", "x", "y")
    val d = graft.ops.Profile.mahalanobis2d(degen, "id", "x", "y").collect()
    assert(d.forall(_.isNullAt(5)))
  }

  test("cosinePairsSparse: identical docs hit cos 1; df-cap kills boilerplate-only pairs") {
    // docs 1/2 identical; 3 shares only the ubiquitous token "the"
    val docs = Seq(
      (1L, "rare quark flavor the"),
      (2L, "rare quark flavor the"),
      (3L, "the zebra"),
      (4L, "the unrelated walrus entirely"),
      (5L, "the something else"),
      (6L, "the further filler"),
      (7L, "the more filler"),
      (8L, "the int filler"),
      (9L, "the final filler"),
      (10L, "the tenth filler")).toDF("doc_id", "text")
    // maxDfPct 50: "the" (df=10) capped out; "filler" (df=6 > 5) capped too
    val got = graft.ops.Dedup.cosinePairsSparse(docs, "doc_id", "text",
        minCos = 0.9, maxDfPct = 50)
      .select("doc_a", "doc_b", "cos").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)), got.mkString(","))
  }

  test("kCore peels a tail chain down to the triangle core and certifies convergence") {
    // path 1-2 hanging off triangle 6-7-8 via 2-6: k=2 peels 1, then 2,
    // then stabilizes on the triangle.
    val edges = Seq((1L, 2L), (2L, 6L), (6L, 7L), (7L, 8L), (6L, 8L)).toDF("src", "dst")
    val got = graft.ops.Graph.kCore(edges, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((6L, 2L, true), (7L, 2L, true), (8L, 2L, true)), got.toString)
    // too few rounds: the cascade is mid-flight and convergence is NOT claimed
    val early = graft.ops.Graph.kCore(edges, k = 2, rounds = 1)
      .collect().map(r => r.getBoolean(2)).distinct
    assert(early.sameElements(Array(false)), "round-1 peel wrongly claimed convergence")
  }

  test("modeImpute fills nulls with the group mode; all-null groups keep NULL") {
    val df = Seq(
      (1L, "a", "en"), (2L, "a", "en"), (3L, "a", "de"), (4L, "a", null),
      (5L, "b", null), (6L, "b", null)).toDF("id", "src", "lang")
    val got = graft.ops.Encode.modeImpute(df, "src", "lang", "imp")
      .select("id", "imp").as[(Long, Option[String])].collect().toMap
    assert(got(4L) == Some("en")) // mode of group a
    assert(got(1L) == Some("en")) // non-null rows keep their value
    assert(got(5L) == None)       // nothing to impute from
    // tie breaks toward the LARGER value (documented max-struct order)
    val tie = Seq((1L, "g", "aa"), (2L, "g", "bb"), (3L, "g", null)).toDF("id", "src", "lang")
    val t = graft.ops.Encode.modeImpute(tie, "src", "lang", "imp")
      .select("id", "imp").as[(Long, Option[String])].collect().toMap
    assert(t(3L) == Some("bb"), t.toString)
  }

  test("rfmSegments: quintiles orient 5 = best on every axis") {
    import java.sql.Timestamp
    // 5 users, one event each: user i at hour i with value 10·i → user 5
    // is most recent AND highest spend; frequency ties resolve by id.
    val rows = (1 to 5).map(i =>
      (i.toLong, new Timestamp(i * 3600L * 1000L), i * 10.0))
    val df = rows.toDF("user_id", "ts", "value")
      .withColumn("v", (col("value") * 100).cast("long"))
    val got = graft.ops.Profile.rfmSegments(df, "user_id", "ts", "v")
      .select("user_id", "recency_s", "r_score", "m_score")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(5L)._2 == 0L && got(5L)._3 == 5L, got.toString)  // newest → best R
    assert(got(1L)._3 == 1L)                                     // oldest → worst R
    assert(got(5L)._4 == 5L && got(1L)._4 == 1L)                 // spend orients up
  }

  test("ltvCurve: cumulative revenue per cohort member is an exact prefix sum") {
    import java.sql.Timestamp
    def ts(week: Int) = new Timestamp(week * 7L * 86400L * 1000L)
    // cohort week 0: users 1,2 (user 1 returns in week 1); cohort 1: user 3
    val df = Seq(
      (1L, ts(0), 100L), (2L, ts(0), 200L), (1L, ts(1), 50L), (3L, ts(1), 70L))
      .toDF("user_id", "ts", "v")
    val got = graft.ops.Funnel.ltvCurve(df, "user_id", "ts", "v")
      .select("cohort_week", "age_weeks", "cum_revenue_c", "cohort_size", "ltv_c")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got((0L, 0L)) == ((300L, 2L, 150.0)))
    assert(got((0L, 1L)) == ((350L, 2L, 175.0))) // cumulative, per member
    assert(got((1L, 0L)) == ((70L, 1L, 70.0)))
  }

  test("audienceOverlap: exact intersections, duplicate events don't inflate") {
    val df = Seq(
      (1L, "x"), (1L, "x"), (1L, "y"),   // user 1 in x (twice) and y
      (2L, "x"), (3L, "y"), (3L, "z")).toDF("u", "seg")
    val got = graft.ops.Association.audienceOverlap(df, "u", "seg")
      .select("seg_a", "seg_b", "n_a", "n_b", "n_both", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got(("x", "y")) == ((2L, 2L, 1L, 1.0 / 3.0)))
    assert(got(("y", "z")) == ((2L, 1L, 1L, 0.5)))
    assert(!got.contains(("x", "z"))) // empty intersections emit nothing
  }

  test("driftTimeline: identical days score 0, a shifted day scores 1, day one excluded") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(day * 86400L * 1000L)
    // day0: bins {0,1}; day1: same distribution → tvd 0; day2: disjoint bin → tvd 1
    val df = Seq(
      (t(0), 100L), (t(0), 600L),
      (t(1), 100L), (t(1), 600L),
      (t(2), 5000L), (t(2), 5100L)).toDF("ts", "v")
    val got = graft.ops.Profile.driftTimeline(df, "ts", "v", binWidth = 500L)
      .select("day", "tvd").as[(Long, Double)].collect().toMap
    assert(!got.contains(0L))        // no history for day one
    assert(got(1L) == 0.0, got.toString)
    assert(got(2L) == 1.0, got.toString)
  }

  test("quantileNormalize maps order statistics exactly; ties share a target") {
    // src {10,20,20,30} (n=4) onto ref {100,200,300,400,500,600,700,800} (m=8)
    // ranks: 10→1→rp ceil(8/4)=2→200; 20→3→rp 6→600 (both ties); 30→4→rp 8→800
    val src = Seq(10L, 20L, 20L, 30L).toDF("v")
    val ref = (1L to 8L).map(_ * 100L).toDF("v")
    val got = graft.ops.Profile.quantileNormalize(src, ref, "v")
      .select("v", "c", "rp", "mapped_v").as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((1L, 2L, 200L)), got.toString)
    assert(got(20L) == ((2L, 6L, 600L)), got.toString)
    assert(got(30L) == ((1L, 8L, 800L)), got.toString)
    // identical distributions are a fixpoint
    val id = graft.ops.Profile.quantileNormalize(ref, ref, "v")
      .select("v", "mapped_v").as[(Long, Long)].collect()
    assert(id.forall(r => r._1 == r._2), id.mkString(","))
    // the continuous-domain (runningSum) path returns the identical table
    val both = graft.ops.Profile.quantileNormalize(src, ref, "v", boundedDomain = false)
      .select("v", "c", "rp", "mapped_v").as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(both == got, s"$both vs $got")
  }

  test("abProportionTest: unit-level conversion, textbook z, degenerate guards") {
    // A: 4 units, 2 convert (one unit converts TWICE — must count once).
    // B: 4 units, 1 converts. C: 2 units, 0 convert (pooled-0 pair → z NULL vs C? no —
    // pooled rate vs A is fine; rel_lift vs C is NULL).
    val df = Seq(
      (1L, "A", true), (1L, "A", true), (2L, "A", true), (3L, "A", false), (4L, "A", false),
      (5L, "B", true), (6L, "B", false), (7L, "B", false), (8L, "B", false),
      (9L, "C", false), (10L, "C", false)).toDF("u", "variant", "conv")
    val got = graft.ops.Experiment.abProportionTest(df, "u", "variant", col("conv"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = got(("A", "B"))
    assert(ab.getAs[Long]("n_a") == 4L && ab.getAs[Long]("c_a") == 2L)
    assert(ab.getAs[Long]("c_b") == 1L)
    // z by hand: p̂ = 3/8, var = .375·.625·(8/16) = 0.1171875, z = .25/sqrt(...)
    assert(math.abs(ab.getAs[Double]("z") - 0.25 / math.sqrt(0.1171875)) < 1e-12)
    val ac = got(("A", "C"))
    assert(ac.isNullAt(ac.fieldIndex("rel_lift")), "lift against a 0-rate baseline must be NULL")
    assert(!ac.isNullAt(ac.fieldIndex("z")), "pooled rate 2/6 is not degenerate")
  }

  test("association rules: confidence is directional, lift is symmetric") {
    // baskets: {1:(a,b)}, {2:(a,b)}, {3:(a,b)}, {4:(a)}, {5:(c)} — n=5
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"), (3L, "b"),
      (4L, "a"), (5L, "c")).toDF("bk", "i")
    val got = graft.ops.Association.rules(df, "bk", "i", minSupport = 3L)
      .select("ante", "cons", "confidence", "lift")
      .as[(String, String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("a", "b")) == ((3.0 / 4.0, 15.0 / 12.0))) // conf 3/4, lift 5·3/(4·3)
    assert(got(("b", "a")) == ((1.0, 15.0 / 12.0)))       // conf 3/3, same lift
  }

  test("groupedMedianCI: the CI brackets the median and widens like 1/sqrt(n)") {
    // 1..100: median (lower) at rank 50 → 50; ranks lo=40, hi=61 at z≈1.96
    val df = (1L to 100L).map(v => ("g", v)).toDF("grp", "v")
    val r = graft.ops.Profile.groupedMedianCI(df, "grp", "v").collect().head
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("median_v") == 50L)
    val (lo, hi) = (r.getAs[Long]("ci_lo"), r.getAs[Long]("ci_hi"))
    assert(lo < 50L && hi > 50L, s"CI [$lo, $hi] must bracket the median")
    assert(r.getAs[Long]("r_lo") == 40L && r.getAs[Long]("r_hi") == 61L,
      s"ranks ${r.getAs[Long]("r_lo")}/${r.getAs[Long]("r_hi")}")
    // tiny group: ranks clamp to [1, n]
    val tiny = Seq(("t", 5L), ("t", 6L)).toDF("grp", "v")
    val t = graft.ops.Profile.groupedMedianCI(tiny, "grp", "v").collect().head
    assert(t.getAs[Long]("r_lo") == 1L && t.getAs[Long]("r_hi") == 2L)
    assert(t.getAs[Long]("ci_lo") == 5L && t.getAs[Long]("ci_hi") == 6L)
  }

  test("covisitation: same-day pairs weigh full window; out-of-window pairs drop") {
    // user 1 touches items 10,20 same day (gap 0 → weight 7) and item 30
    // ten days later (out of window); user 2 repeats (10,20) a day apart.
    val df = Seq(
      (1L, 10L, 0L), (1L, 20L, 0L), (1L, 30L, 10L),
      (2L, 10L, 5L), (2L, 20L, 6L)).toDF("u", "item", "day")
    val got = graft.ops.Association.covisitation(df, "u", "item", "day", windowDays = 7)
      .select("item_a", "item_b", "n_covisits", "weight")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((10L, 20L)) == ((2L, 13L)), got.toString) // 7 + (7−1)
    assert(!got.contains((10L, 30L)) && !got.contains((20L, 30L)))
  }

  test("rankMovers: climbs are positive, debuts excluded, top-k by |delta|") {
    // Integral keys 1=a, 2=b, 3=c, 4=d — the documented Prefix rank
    // contract, now ENFORCED at the API boundary (a string key only ever
    // worked through the single-partition fast path; the multi-partition
    // identity would ClassCastException on it mid-task).
    // prev: 1->100, 2->90, 3->80 → ranks 1,2,3; cur: 3->100, 1->90
    // (2 gone, 4 debuts)
    val prev = Seq((1L, 100L), (2L, 90L), (3L, 80L)).toDF("k", "v")
    val cur = Seq((3L, 100L), (1L, 90L), (4L, 50L)).toDF("k", "v")
    val got = graft.ops.Profile.rankMovers(prev, cur, "k", "v", topK = 10)
      .select("k", "rank_prev", "rank_cur", "delta")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(3L)._4 == 2L, got.toString)  // 3 → 1: climbed 2
    assert(got(1L)._4 == -1L)               // 1 → 2: fell 1
    assert(!got.contains(2L) && !got.contains(4L))
    // and the contract violation fails FAST at plan time, not mid-task
    val bad = Seq(("a", 100L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profile.rankMovers(bad, bad, "k", "v", topK = 10)
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("pointInTimeJoin never leaks post-label values; equal-ts dedupes to min") {
    import java.sql.Timestamp
    def t(h: Int) = new Timestamp(h * 3600L * 1000L)
    // label for user 1 at h=5; feature obs at h=3 (v=30), h=3 dup (v=10),
    // h=7 (v=99, POST-label — must not leak); user 2 has no prior obs.
    val labels = Seq((100L, 1L, t(5)), (200L, 2L, t(5))).toDF("label_id", "u", "ts")
    val fdf = Seq((1L, t(3), 30L), (1L, t(3), 10L), (1L, t(7), 99L)).toDF("u", "ts", "v")
    val got = graft.ops.FeatureStore.pointInTimeJoin(
        labels, "u", "ts",
        Seq(graft.ops.FeatureStore.Feature("f", fdf, "u", "ts", "v")))
      .select("label_id", "f").as[(Long, Option[Long])].collect().toMap
    assert(got(100L) == Some(10L), s"expected the h=3 min-tie value: $got")
    assert(got(200L) == None)
  }

  test("lshCurve: monotone S-curve with the exact dyadic value at s=0.5") {
    val got = graft.ops.Dedup.lshCurve(spark, bands = 4, rowsPerBand = 4)
      .orderBy("s_pct").select("s_pct", "p_collide")
      .as[(Long, Double)].collect()
    assert(got.map(_._2).sliding(2).forall(p => p(0) <= p(1)), "curve must be monotone")
    // s=0.5: s⁴ = 1/16 (dyadic, exact) → p = 1 − (15/16)⁴ = 14911/65536
    val p50 = got.find(_._1 == 50L).get._2
    assert(p50 == 14911.0 / 65536.0, s"exact dyadic check: $p50")
    assert(got.head._2 < 0.001 && got.last._2 > 0.8, "endpoints sane")
  }

  test("simpsonScreen flags the textbook reversal (kidney-stone shape)") {
    // Stratum-wise A wins both; overall B wins — the classic paradox.
    // small stones: A 81/87, B 234/270 → A better (0.93 vs 0.87)
    // large stones: A 192/263, B 55/80 → A better (0.73 vs 0.69)
    // overall:      A 273/350, B 289/350 → B better. Direction flips.
    def units(v: String, s: String, conv: Int, total: Int, base: Long) =
      (0 until total).map(i => (base + i, v, s, i < conv))
    val rows =
      units("A", "small", 81, 87, 0L) ++ units("B", "small", 234, 270, 1000L) ++
      units("A", "large", 192, 263, 2000L) ++ units("B", "large", 55, 80, 3000L)
    val df = rows.toDF("u", "variant", "stratum", "conv")
    val got = graft.ops.Experiment.simpsonScreen(df, "u", "variant", "stratum", col("conv"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("diff_sign"), r.getAs[Boolean]("reversed")))).toMap
    assert(got("__overall")._1 == -1L) // p_A < p_B overall
    assert(got("small") == ((1L, true)) && got("large") == ((1L, true)),
      s"both strata reverse the topline: $got")
  }

  test("cuped: perfectly-predictive covariate removes the pre-period imbalance") {
    // y = x exactly (θ=1): variant A units have bigger pre-period x by
    // chance; adjusted means must coincide (the imbalance was all pre).
    val df = Seq(
      ("A", 10L, 10L), ("A", 20L, 20L), ("B", 0L, 0L), ("B", 10L, 10L))
      .toDF("variant", "x", "y")
    val got = graft.ops.Experiment.cuped(df, "variant", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("theta"), r.getAs[Double]("mean_y"), r.getAs[Double]("mean_adj")))).toMap
    assert(got("A")._1 == 1.0, got.toString)
    assert(got("A")._2 == 15.0 && got("B")._2 == 5.0)       // raw gap 10
    assert(got("A")._3 == got("B")._3, s"adjusted gap must vanish: $got")
    // constant pre-period → θ = 0, adjusted = raw
    val const = Seq(("A", 5L, 10L), ("B", 5L, 30L)).toDF("variant", "x", "y")
    val c = graft.ops.Experiment.cuped(const, "variant", "x", "y")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("mean_adj")).toMap
    assert(c == Map("A" -> 10.0, "B" -> 30.0), c.toString)
  }

  test("kaplanMeier: textbook small cohort with censoring") {
    // durations: events at t=1 (d=1 of n=5) and t=3 (d=1 of n=3);
    // censored at t=2 (leaves the risk set before t=3) and t=4, t=5.
    val units = Seq(
      (1L, true), (2L, false), (3L, true), (4L, false), (5L, false))
      .toDF("dur", "obs")
    val got = graft.ops.Survival.kaplanMeier(units, "dur", "obs")
      .orderBy("t").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(got(1L) == ((5L, 1L, 0.8)))              // S(1) = 4/5
    val s3 = got(3L)
    assert(s3._1 == 3L && s3._2 == 1L)              // risk set lost the t=2 censor
    assert(math.abs(s3._3 - 0.8 * (2.0 / 3.0)) < 1e-15, s3.toString) // S(3) = 4/5 · 2/3
    assert(got.size == 2, "censor-only times must not emit rows")
  }

  test("clampedRunningBalance floors at zero mid-stream (order matters)") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(i * 1000L)
    // +10, −30 (clamps to 0, NOT −20), +5 → 5; plain sum would say −15
    val df = Seq((1L, t(1), 1L, 10L), (1L, t(2), 2L, -30L), (1L, t(3), 3L, 5L))
      .toDF("u", "ts", "id", "d")
    val got = graft.ops.TimeSeries.clampedRunningBalance(df, "u", "ts", "id", "d")
      .select("final_balance").as[Long].head()
    assert(got == 5L, s"clamp must fire mid-fold: $got")
  }

  test("benfordProfile: digits from exact cents strings; all 9 rows present") {
    // 1234 cents → digit 1; 999 → 9; 50 → 5; zero/negative excluded
    val df = Seq(1234L, 999L, 50L, 0L, -700L).toDF("c")
    val got = graft.ops.Validate.benfordProfile(df, "c")
      .select("digit", "n_obs", "n").as[(Long, Long, Long)].collect()
    assert(got.length == 9)
    val m = got.map(r => r._1 -> r._2).toMap
    assert(m(1L) == 1L && m(9L) == 1L && m(5L) == 1L && m(2L) == 0L)
    assert(got.forall(_._3 == 3L))
  }

  test("kmv: unsaturated estimate is exact; union of sketches == sketch of union") {
    import graft.ops.Sketch
    val a = (1 to 50).map(i => s"a$i").toDF("v")
    val b = (30 to 80).map(i => s"a$i").toDF("v") // overlap a30..a50
    // unsaturated (k > distinct): the estimate IS the exact distinct count
    val est = Sketch.kmvEstimate(Sketch.kmvSketch(a, "v", 256), 256)
      .as[Double].head()
    assert(est == 50.0)
    // mergeability: k smallest of the two sketches == sketch built on the union
    val k = 16
    val merged = Sketch.kmvUnion(
      Sketch.kmvSketch(a, "v", k), Sketch.kmvSketch(b, "v", k), k)
      .as[Long].collect().toSeq
    val direct = Sketch.kmvSketch(a.unionByName(b), "v", k).as[Long].collect().toSeq
    assert(merged == direct)
    // set ops on fully-known sets: jaccard_est over an unsaturated union
    // is the EXACT jaccard (every distinct hash is in every sketch)
    val ops = Sketch.kmvSetOps(
      Sketch.kmvSketch(a, "v", 256), Sketch.kmvSketch(b, "v", 256), 256).head()
    assert(ops.getAs[Long]("n_union") == 80L)
    assert(ops.getAs[Long]("k_in_both") == 21L) // a30..a50
    assert(ops.getAs[Double]("est_union") == 80.0)
    assert(math.abs(ops.getAs[Double]("est_intersection") - 21.0) < 1e-9)
  }

  test("containment is directed: embedded doc scores 1.0 forward, low backward") {
    val short = "alpha beta gamma delta epsilon zeta" // 4 trigram shingles
    val long = short + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    val df = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(df, "doc_id", "text",
        n = 3, minContainment = 0.9, maxDf = 100L)
      .select("doc_src", "doc_dst", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    // every shingle of doc 1 appears in doc 2 → containment(1→2) = 1.0;
    // doc 2 has many more shingles → containment(2→1) well under 0.9
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("classification report + kappa: textbook hand-checked values") {
    import graft.ops.Eval
    // 10 rows, two classes: actual A×6 B×4; predicted: A→A 5, A→B 1,
    // B→A 2, B→B 2.
    val df = (Seq.fill(5)(("A", "A")) ++ Seq(("A", "B")) ++
      Seq.fill(2)(("B", "A")) ++ Seq.fill(2)(("B", "B"))).toDF("y", "p")
    val rep = Eval.classificationReport(df, "y", "p")
      .select("cls", "tp", "fp", "fn", "precision", "recall", "f1")
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(rep == Seq(
      ("A", 5L, 2L, 1L, 5.0 / 7.0, 5.0 / 6.0, 10.0 / 13.0),
      ("B", 2L, 1L, 2L, 2.0 / 3.0, 2.0 / 4.0, 4.0 / 7.0)))
    // kappa: po = 7/10; pe = (6·7 + 4·3)/100 = 0.54 → κ = 0.16/0.46
    val kp = Eval.cohenKappa(df, "y", "p")
      .select("n", "n_agree", "sum_marginal", "kappa")
      .as[(Long, Long, Long, Double)].head()
    assert(kp._1 == 10L && kp._2 == 7L && kp._3 == 54L)
    assert(math.abs(kp._4 - (10.0 * 7 - 54) / (100.0 - 54)) < 1e-15)
  }

  test("luhn screen: textbook PAN validates, off-by-one fails, only valid redacts") {
    import graft.ops.TextOps
    // 4532015112830366 is Luhn-valid; flipping the check digit breaks it.
    val df = Seq(
      (1L, "card 4532015112830366 here"),
      (2L, "card 4532015112830367 here"),
      (3L, "no digits at all")).toDF("doc_id", "text")
    val got = TextOps.luhnScreen(df, "doc_id", "text")
      .select("doc_id", "n_candidates", "n_valid", "redacted")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 1L, 1L, "card [PAN] here")))
    assert(got(1) == ((2L, 1L, 0L, "card 4532015112830367 here")))
    assert(got(2) == ((3L, 0L, 0L, "no digits at all")))
  }

  test("winnowing: shared w+k-1 token run guarantees a shared fingerprint") {
    import graft.ops.TextOps
    val shared = "q w e r t y u i" // 8 tokens > w+k-1 = 6
    val d1 = s"aa bb cc $shared dd ee"
    val d2 = s"xx yy $shared zz"
    val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val fps = TextOps.winnowingFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)].collect().toSeq
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert((f1 & f2).nonEmpty, "shared run must share a selected fingerprint")
    // density: selected set is a strict subset of the full shingle set
    val full1 = d1.split(" ").sliding(3).size
    assert(f1.size < full1, "winnowing must select, not keep every shingle")
    // too-short docs emit nothing (no full window)
    val tiny = Seq((9L, "a b c d")).toDF("doc_id", "text")
    assert(TextOps.winnowingFingerprints(tiny, "doc_id", "text", 3, 4).count() == 0L)
  }

  test("systematicPps: hard total of exactly n, heavy item multiplicity") {
    import graft.ops.Sampling
    val df = ((1 to 50).map(i => (i.toLong, 10L)) :+ (99L, 600L)).toDF("id", "w")
    val got = Sampling.systematicPps(df, "id", "w", n = 11L)
      .select("id", "n_picks").as[(Long, Long)].collect().toMap
    assert(got.values.sum == 11L, "total picks must be exactly n")
    // the heavy item holds 600/1100 of the line → ≥ 5 of 11 picks
    assert(got(99L) >= 5L, s"heavy item under-picked: ${got.get(99L)}")
    // zero/negative weights are excluded, never sampled
    val withZero = df.union(Seq((500L, 0L)).toDF("id", "w"))
    assert(!Sampling.systematicPps(withZero, "id", "w", 11L)
      .select("id").as[Long].collect().contains(500L))
  }

  test("aucRank: hand case with ties; perfect and reversed separation; grouped twin agrees") {
    import graft.ops.Eval
    // pos scores {3, 2}, neg scores {1, 2}: pairs (3,1)+ (3,2)+ (2,1)+
    // (2,2)=tie → AUC = (3 + 0.5)/4 = 0.875
    val df = Seq((true, 3L), (true, 2L), (false, 1L), (false, 2L)).toDF("y", "s")
    val got = Eval.aucRank(df, "y", "s")
      .select("n_pos", "n_neg", "auc").as[(Long, Long, Double)].head()
    assert(got == ((2L, 2L, 0.875)))
    // perfect separation → 1.0; reversed → 0.0
    val sep = Seq((true, 10L), (true, 9L), (false, 1L)).toDF("y", "s")
    assert(Eval.aucRank(sep, "y", "s").select("auc").as[Double].head() == 1.0)
    val rev = Seq((true, 1L), (false, 9L)).toDF("y", "s")
    assert(Eval.aucRank(rev, "y", "s").select("auc").as[Double].head() == 0.0)
    // one-class input → NULL, SQL-style
    val one = Seq((true, 1L)).toDF("y", "s")
    assert(Eval.aucRank(one, "y", "s").select("auc").collect().head.isNullAt(0))
    // grouped twin reproduces the global number when there is one group
    val g = Eval.groupedAucRank(df.withColumn("g", lit("x")), "g", "y", "s")
      .select("auc").as[Double].head()
    assert(g == 0.875)
  }

  test("intervalOverlapPairs: bucketed plan equals brute force; each pair counted once") {
    import graft.ops.TimeSeries
    // key 1: [0,10) [5,20) overlap 5; [5,20) [19,30) overlap 1;
    // [0,10) [19,30) disjoint; touching intervals [30,40)+[40,50) DON'T
    // overlap (half-open); a long interval spans several buckets.
    val df = Seq(
      (1L, 1L, 0L, 10L), (1L, 2L, 5L, 20L), (1L, 3L, 19L, 30L),
      (1L, 4L, 30L, 40L), (1L, 5L, 40L, 50L),
      (2L, 6L, 0L, 100L), (2L, 7L, 90L, 95L)).toDF("k", "id", "s", "e")
    for (width <- Seq(4L, 7L, 64L)) {
      val got = TimeSeries.intervalOverlapPairs(df, "k", "id", "s", "e", width)
        .select("k", "id_a", "id_b", "overlap")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(got == Seq((1L, 1L, 2L, 5L), (1L, 2L, 3L, 1L), (2L, 6L, 7L, 5L)),
        s"width=$width: $got")
    }
  }

  test("madOutlierScreen: hand case — outlier flagged, median/MAD robust to it") {
    import graft.ops.Profile
    // values 10,12,14,16,1000: median 14, devs 4,2,0,2,986, MAD 2
    // → only 1000 exceeds 14 ± 3·2
    val df = Seq((1L, 10L), (2L, 12L), (3L, 14L), (4L, 16L), (5L, 1000L))
      .toDF("id", "v").withColumn("g", lit("a"))
    val got = Profile.madOutlierScreen(df, "g", "id", "v")
      .select("id", "med", "mad", "is_outlier")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got.forall(r => r._2 == 14L && r._3 == 2L))
    assert(got.map(r => r._1 -> r._4).toMap ==
      Map(1L -> false, 2L -> false, 3L -> false, 4L -> false, 5L -> true))
  }

  test("holtWintersAdditive: constant series is a fixpoint; short keys excluded") {
    import graft.ops.TimeSeries
    val const = (1 to 20).map(i =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00"), i.toLong, 5.0))
    val short = (1 to 5).map(i =>
      (2L, java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00"), i.toLong, 9.0))
    val df = (const ++ short).toDF("k", "ts", "id", "v")
    val got = TimeSeries.holtWintersAdditive(df, "k", "ts", "id", "v", period = 7)
      .select("k", "n_events", "level", "trend", "forecast")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // constant input: level stays 5, trend 0, every seasonal 0 → forecast 5
    assert(got == Seq((1L, 20L, 5.0, 0.0, 5.0)), got.toString)
  }

  test("precedenceTriples: strict chain counts, shared timestamps count nowhere") {
    import graft.ops.Association
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val df = Seq(
      (1L, "a", ts(0)), (1L, "b", ts(1)), (1L, "c", ts(2)),
      (2L, "a", ts(0)), (2L, "b", ts(0)), (2L, "c", ts(5)), // a,b tied: no abc
      (3L, "a", ts(0)), (3L, "b", ts(3)), (3L, "c", ts(4))).toDF("e", "t", "ts")
    val got = Association.precedenceTriples(df, "e", "t", "ts", 1L)
      .select("type_a", "type_b", "type_c", "n_entities")
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == Seq(("a", "b", "c", 2L)), got.toString)
  }

  test("groupedMeanCI and diffInDiff: hand values, single-row and empty-cell NULLs") {
    import graft.ops.Experiment
    // group a: 10, 20 → mean 15, s² = 50, hw = z·√(50/2)=z·5
    val ci = Experiment.groupedMeanCI(
      Seq(("a", 10L), ("a", 20L), ("b", 7L)).toDF("g", "v"), "g", "v")
      .select("g", "n", "mean", "ci_lo", "ci_hi").collect().sortBy(_.getString(0))
    val z5 = java.lang.Double.parseDouble("1.959963984540054") * 5.0
    assert(ci(0).getLong(1) == 2L && ci(0).getDouble(2) == 15.0)
    assert(math.abs(ci(0).getDouble(3) - (15.0 - z5)) < 1e-12)
    // single observation: no variance estimate → NULL bounds
    assert(ci(1).getLong(1) == 1L && ci(1).isNullAt(3) && ci(1).isNullAt(4))
    // DiD: control 10→12 (+2), treated 20→30 (+10) → DiD = 8
    val did = Experiment.diffInDiff(
      Seq((false, false, 10L), (false, true, 12L), (true, false, 20L),
        (true, true, 30L)).toDF("t", "p", "v"), "t", "p", "v")
      .select("did").as[Double].head()
    assert(did == 8.0)
    // an empty cell yields NULL did, not a divide-by-zero
    val part = Experiment.diffInDiff(
      Seq((false, false, 10L), (true, true, 30L)).toDF("t", "p", "v"), "t", "p", "v")
      .select("did").collect().head
    assert(part.isNullAt(0))
  }

  test("hardNegatives excludes same-label neighbors entirely") {
    import graft.ops.Similarity
    val df = Seq(
      (0L, Array(1.0f, 0.0f), "x"), (1L, Array(0.99f, 0.1f), "x"),
      (2L, Array(0.98f, 0.2f), "y"), (3L, Array(0.0f, 1.0f), "y"))
      .toDF("id", "vec", "lbl")
    val got = Similarity.hardNegatives(df, df.where(col("id") === 0), "id", "vec", "lbl", 2)
      .select("nid").as[Long].collect().toSet
    // id 1 shares label x with the query: excluded even though it is closest
    assert(got == Set(2L, 3L), got.toString)
  }

  test("joinViewDelta: delta-maintained view equals the full re-join") {
    import graft.ops.Incremental
    val aOld = Seq((1L, 10L), (2L, 20L)).toDF("k", "av")
    val aDelta = Seq((1L, 11L), (3L, 30L)).toDF("k", "av")
    val bOld = Seq((1L, "x"), (3L, "y")).toDF("k", "bv")
    val bDelta = Seq((2L, "z"), (3L, "w")).toDF("k", "bv")
    val updated = aOld.join(bOld, Seq("k"))
      .unionByName(Incremental.joinViewDelta(aOld, aDelta, bOld, bDelta, Seq("k")))
    val full = aOld.unionByName(aDelta).join(bOld.unionByName(bDelta), Seq("k"))
    val canon = (df: org.apache.spark.sql.DataFrame) =>
      df.select("k", "av", "bv").as[(Long, Long, String)].collect().sorted.toSeq
    assert(canon(updated) == canon(full))
    // the ΔA⋈ΔB term is load-bearing: key 3 joins ONLY delta-to-delta
    assert(canon(updated).contains((3L, 30L, "w")))
  }
}
