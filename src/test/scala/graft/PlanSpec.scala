package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Physical-plan shape assertions: the plans we designed for are the plans
  * Catalyst actually picks. These regress silently otherwise — a lost
  * broadcast or a dropped pushdown is invisible to correctness tests.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("dimension joins broadcast (no fact-table shuffle) — b07 shape") {
    val q = SparkEntry.queries("b07_join_broadcast")(spark, sfDir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("scan pushdown: filter and projection reach the parquet reader — a07 shape") {
    val q = SparkEntry.queries("a07_scan_pushdown")(spark, sfDir)
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(s_suppkey), GreaterThan(s_suppkey,0)]"), p)
    assert(p.contains("ReadSchema: struct<s_suppkey:bigint,s_name:string,s_acctbal:double>"), p)
  }

  test("aggregation is partial before the shuffle — b04 shape") {
    val q = SparkEntry.queries("b04_agg_pricing_summary")(spark, sfDir)
    val p = plan(q)
    // two HashAggregate nodes (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("brute-force ANN broadcasts the query side, not the corpus — ns10 shape") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 3)
    val p = plan(q)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side not broadcast:\n$p")
  }

  test("JL sign projection keeps the broadcast sign-dim join, no HOF fold — ns227 shape") {
    // The round-10 driver bench read 9.2 s for ns227 against a 1.6 s
    // isolated measurement (contention phantom, adjudicated r11). Pin the
    // plan the rewrite bought so a regression back to the interpreted
    // transform(aggregate(zip_with(...))) fold — 24 s at sf0.1 — can
    // never land silently: the sign-dim table must join as a broadcast
    // and no interpreted higher-order fold may appear in the plan.
    val q = SparkEntry.queries("ns227_jl_projection")(spark, sfDir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"sign-dim join lost its broadcast:\n$p")
    assert(!p.toLowerCase.contains("aggregate(lambda"),
      s"interpreted HOF fold crept back into the projection:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial sums not map-side combined:\n$p")
  }

  test("whole-stage codegen covers the scan-side of the pricing summary") {
    val q = SparkEntry.queries("b04_agg_pricing_summary")(spark, sfDir)
    q.collect() // AQE finalizes the plan on execution; '*(n)' marks codegen stages
    val p = plan(q)
    assert(p.contains("*("), s"no whole-stage codegen stage:\n$p")
  }

  test("range join against bands is a broadcast nested loop, not a cartesian sort") {
    val q = SparkEntry.queries("b36_range_join")(spark, sfDir)
    assert(plan(q).contains("BroadcastNestedLoopJoin"), plan(q))
  }

  test("bucketed co-located join shuffles neither side") {
    val q = SparkEntry.bucketedJoin(spark, sfDir)
    val p = plan(q)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), s"bucketed join still shuffles:\n$p")
  }

  test("salted join result equals the plain join") {
    import graft.ops.Skew
    val li = Tables(spark, sfDir, "lineitem")
    val o = Tables(spark, sfDir, "orders")
    val salted = Skew.saltedInnerJoin(li, o, "l_orderkey", "o_orderkey", 4, col("l_linenumber"))
      .count()
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    assert(salted == plain)
  }

  test("text kernels stay inside whole-stage codegen spans") {
    // codegen'd operators print with a "*(N)" stage marker; an interpreted
    // fallback (eval-only expression) would break the span. Execute first
    // so AQE finalizes its stages.
    val q = SparkEntry.queries("ns03_quality")(spark, sfDir)
    q.collect()
    val p = plan(q)
    val line = p.linesIterator.find(_.contains("graft_quality"))
    assert(line.exists(_.contains("*(")), s"kernel fell out of codegen:\n$p")
    val q4 = SparkEntry.queries("ns04_fingerprint")(spark, sfDir)
    q4.collect()
    val p4 = plan(q4)
    val line4 = p4.linesIterator.find(_.contains("graft_rolling_fp"))
    assert(line4.exists(_.contains("*(")), s"kernel fell out of codegen:\n$p4")
  }

  test("clean-corpus gates are scan-local kernels, not a language join") {
    val q = SparkEntry.queries("ns22_clean_corpus")(spark, sfDir)
    q.collect() // finalize AQE stages
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("graft_langid_marker"), s"language gate not kernelized:\n$p")
    assert(p.contains("graft_quality"), s"quality gate not kernelized:\n$p")
    // The old language gate was explode → broadcast marker join → two
    // aggregations ending in max(struct(...)) AS best; its attributes must
    // be gone from the plan entirely.
    assert(!p.contains("best#"), s"language gate still joins a marker dim:\n$p")
  }

  test("banded self-joins never cache and never duplicate a heavy shuffle") {
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // With kernel signatures the whole pipeline up to the join is
    // scan-local (one narrow pass per side); acceptable join shapes are a
    // broadcast of one narrow side, or exchange/stage reuse when the
    // planner shuffles both sides. What must NOT appear: an internal
    // .cache() (the round-2 leak) — which would show up in THIS query's
    // plan as an InMemoryRelation/InMemoryTableScan node. Asserting on the
    // plan (not session-global getPersistentRDDs counts) keeps the test
    // immune to other suites caching/unpersisting concurrently on the
    // shared SparkSession.
    def sane(p: String, what: String): Unit = {
      assert(
        p.contains("BroadcastHashJoin") || p.contains("ReusedExchange") ||
          p.contains("ReusedQueryStage"),
        s"$what self-join duplicates a shuffled pipeline:\n$p")
      assert(
        !p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
        s"$what pipeline caches internally:\n$p")
    }
    val pairs = Dedup.minhashPairs(
      Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16), 4, 4)
    pairs.collect() // materialize so AQE finalizes its stages
    sane(pairs.queryExecution.executedPlan.toString, "minhash")
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    jac.collect()
    sane(jac.queryExecution.executedPlan.toString, "ngram-jaccard")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val lsh = Dedup.lshNearDupPairs(emb, "vec_id", "embedding", 0.38, dims = 64)
    lsh.collect()
    sane(lsh.queryExecution.executedPlan.toString, "lsh-neardup")
  }

  test("round-7 ops keep their scale shapes (counting median, TakeOrdered, keyed self-join)") {
    import graft.ops.{Dedup, Profile, TextOps}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // The MAD gate must use the order-statistic counting median — Spark's
    // exact percentile aggregate (value-buffering, OOM at big groups) must
    // not appear anywhere in the plan.
    val mad = Profile.madOutliers(docs, "doc_id", "lang", "n_chars", 3.0)
    mad.collect()
    val mp = mad.queryExecution.executedPlan.toString
    assert(!mp.toLowerCase.contains("percentile"),
      s"median fell back to the value-buffering percentile aggregate:\n$mp")
    // BPE top-k: a TakeOrdered, never a global sort of the pair counts.
    val bpe = TextOps.bpePairCandidates(docs, "text", 25)
    bpe.collect()
    val bp = bpe.queryExecution.executedPlan.toString
    assert(bp.contains("TakeOrderedAndProject"), s"bpe top-k is a global sort:\n$bp")
    // Overlap matrix: the fingerprint self-join stays an equi-join.
    val ovl = Dedup.sourceOverlapMatrix(docs, "source", "text", 3)
    ovl.collect()
    val op = ovl.queryExecution.executedPlan.toString
    assert(!op.contains("CartesianProduct") && !op.contains("BroadcastNestedLoopJoin"),
      s"overlap self-join degraded to a cartesian:\n$op")
  }

  test("TPC-H shapes: dims broadcast, top-k is TakeOrdered, no cartesians") {
    for (name <- Seq("b56_tpch_q3", "b57_tpch_q5", "b58_tpch_q10",
        "b61_tpch_q4", "b62_tpch_q17", "b63_tpch_q21", "b65_tpch_q7",
        "b66_tpch_q14")) {
      val q = SparkEntry.queries(name)(spark, sfDir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name: no dim broadcast at test SF:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: join degenerated to a cartesian:\n$p")
    }
    for (name <- Seq("b56_tpch_q3", "b63_tpch_q21")) {
      val q = SparkEntry.queries(name)(spark, sfDir)
      q.collect()
      assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
        s"$name top-k is a global sort, not TakeOrdered")
    }
    // b65 (Q7): each nation replica must be PRE-filtered to the two
    // nations before its broadcast join — the symmetric OR pair predicate
    // names both roles, so Catalyst can't derive the per-replica filter;
    // the query builder applies it by hand (the textbook Q7 plan). The
    // pin: both nation-side scans carry an isin/IN filter on n_name.
    val q7 = SparkEntry.queries("b65_tpch_q7")(spark, sfDir)
    q7.collect()
    val p7 = q7.queryExecution.executedPlan.toString
    val nationFilters = "n_name#?\\d* IN \\(NATION_3,NATION_7\\)".r
      .findAllIn(p7).size
    assert(nationFilters >= 2,
      s"b65: expected both nation replicas pre-filtered (found $nationFilters):\n$p7")
    // b64's one-row scalar aggregate broadcast-cross-joins by design (the
    // accepted one-row BNLJ pattern); the orders anti-join must stay keyed.
    val q22 = SparkEntry.queries("b64_tpch_q22")(spark, sfDir)
    q22.collect()
    val p22 = q22.queryExecution.executedPlan.toString
    assert(!p22.contains("CartesianProduct"), s"b64 degenerated to a cartesian:\n$p22")
    assert(p22.contains("LeftAnti"), s"b64 lost its anti-join:\n$p22")
  }

  test("TPC-H completions (b70-b79): dims broadcast, Q19 keeps its equi-key, no cartesians") {
    // All-keyed shapes: every join is hash-keyed, dims broadcast at test SF.
    for (name <- Seq("b71_tpch_q8", "b74_tpch_q12", "b75_tpch_q13")) {
      val q = SparkEntry.queries(name)(spark, sfDir)
      q.collect()
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$name: no dim broadcast at test SF:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: join degenerated to a cartesian:\n$p")
    }
    // Partsupp-derived shapes (b70/b72/b77/b79) and the scalar-total
    // shapes b73 (Q11) / b76 (Q15): a ONE-ROW broadcast cross join is
    // accepted by design (partsupp's |supplier| div 4 modulus frame and
    // the Q11/Q15 totals — same class as b64); the data joins must stay
    // keyed and nothing may be a true cartesian.
    for (name <- Seq("b70_tpch_q2", "b72_tpch_q9", "b77_tpch_q16",
        "b79_tpch_q20", "b73_tpch_q11", "b76_tpch_q15")) {
      val q = SparkEntry.queries(name)(spark, sfDir)
      q.collect()
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$name: lost its keyed joins:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: true cartesian appeared:\n$p")
    }
    // b78 (Q19): Catalyst must extract the common p_partkey = l_partkey
    // equi-key from the OR-of-ANDs join predicate — the whole point of the
    // Q19 plan test. A nested-loop here would be O(|lineitem|·|part|).
    val q19 = SparkEntry.queries("b78_tpch_q19")(spark, sfDir)
    q19.collect()
    val p19 = plan(q19)
    assert(p19.contains("BroadcastHashJoin") || p19.contains("SortMergeJoin"),
      s"b78: equi-key not extracted from the disjunctive predicate:\n$p19")
    assert(!p19.contains("BroadcastNestedLoopJoin") && !p19.contains("CartesianProduct"),
      s"b78: disjunctive join degenerated to a nested loop:\n$p19")
  }

  test("sketch shapes: bounded counter table broadcasts to the probe, partial-agg build") {
    import graft.ops.{Sketch, TextOps}
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val occ = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
    val counters = Sketch.cmsCounters(occ, "tok", 4, 1024)
    counters.collect()
    val cp = counters.queryExecution.executedPlan.toString
    // The counter build must map-side combine (the shuffle is bounded by
    // the sketch, but only because partial aggregation collapses each
    // partition's occurrences to <= depth*width rows first).
    assert(cp.contains("partial_count"), s"counter build shuffles raw occurrences:\n$cp")
    val est = Sketch.cmsEstimate(counters, Seq("the", "data").toDF("word"), "word", 4, 1024)
    est.collect()
    val ep = est.queryExecution.executedPlan.toString
    // The <= depth*width counter table is broadcast to the probe fan-out —
    // an estimate must never shuffle for a dimension bounded by the sketch.
    assert(ep.contains("BroadcastHashJoin"), s"probe join shuffles the bounded counters:\n$ep")
    assert(!ep.contains("CartesianProduct"), s"probe degenerated to a cartesian:\n$ep")
  }

  test("corpus-cardinality dimensions are not force-broadcast (ns09/ns22 scale guard)") {
    // The counts dim in ngramJaccardPairs is one row per DOCUMENT, and the
    // CleanCorpus dropList is every near-dup doc — at 10^9 docs a forced
    // broadcast() hint OOMs executors. With the hint removed, disabling the
    // broadcast thresholds must make the planner degrade those joins to a
    // shuffle join; a surviving hint would keep BroadcastHashJoin regardless.
    import graft.ops.{CleanCorpus, Dedup}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val athr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", thr)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      jac.collect()
      val pj = jac.queryExecution.executedPlan.toString
      assert(!pj.contains("BroadcastHashJoin"),
        s"counts dim still force-broadcast with thresholds disabled:\n$pj")
      val cc = CleanCorpus.run(docs, "doc_id", "text")
      cc.collect()
      val pc = cc.queryExecution.executedPlan.toString
      assert(!pc.contains("BroadcastHashJoin"),
        s"dropList still force-broadcast with thresholds disabled:\n$pc")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", athr)
    }
  }

  test("lshTopK bucket self-join carries no vector payload (ns45 shape)") {
    // The candidate join keys on bucket and must see only (vid, bucket)
    // on both inputs — a vector column there means candidate pairs shuffle
    // 2x dims x 4 bytes each, the round-5 finding this restructure fixed.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.ArrayType
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = Similarity.lshTopK(e, "vec_id", "embedding", 8, 64, 3)
    q.collect() // finalize AQE stages
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val bucketJoins = flatten(q.queryExecution.executedPlan)
      .collect { case j: BaseJoinExec => j }
      .filter(j =>
        (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "bucket")) ||
          j.condition.exists(_.references.exists(_.name == "bucket")))
    assert(bucketJoins.nonEmpty, "no bucket candidate join found in the plan")
    bucketJoins.foreach { j =>
      val arrays = (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"vector payload shuffled through the bucket self-join: ${arrays.map(_.name)}")
    }
  }

  test("as-of join pays exactly one data shuffle (plus the output sort)") {
    val q = SparkEntry.queries("ns15_asof_join")(spark, sfDir)
    val p = plan(q)
    // one hashpartitioning exchange for the union window; rangepartitioning
    // is the final ORDER BY — a right-side pre-dedup would add a third.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"extra shuffle:\n$p")
  }

  test("semDedup within-cluster candidate join carries no vector payload (ns73 shape)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.ArrayType
    val e = Tables(spark, sfDir, "embeddings")
    val q = graft.ops.Dedup.semDedup(e, "vec_id", "embedding", k = 8, iterations = 1,
      minCosine = 0.38)
    q.collect() // finalize AQE stages
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    // The cluster-keyed self-join (candidate generation) must see only
    // (cluster, vid) — a vector column means the quadratic pair stream
    // shuffles embedding payloads, the exact failure SemDeDup avoids.
    val clusterJoins = flatten(q.queryExecution.executedPlan)
      .collect { case j: BaseJoinExec => j }
      .filter(j => (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "cluster")))
    assert(clusterJoins.nonEmpty, "no cluster-keyed candidate join found in the plan")
    clusterJoins.foreach { j =>
      val arrays = (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"vector payload shuffled through the cluster candidate join: ${arrays.map(_.name)}")
    }
  }

  test("repeated-substring count shuffle carries the 60-bit hash, not gram text (ns76 shape)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    val docs = Tables(spark, sfDir, "documents")
    val q = graft.ops.TextOps.repeatedSubstringSpans(docs, "doc_id", "text", w = 3)
    q.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val shuffles = flatten(q.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty, "expected shuffles in the span plan")
    shuffles.foreach { s =>
      val strings = s.child.output.filter(a => a.dataType == StringType && a.name == "gram")
      assert(strings.isEmpty,
        s"gram text shuffled — the hash projection must sit below the exchange: " +
          s"${s.child.output.map(_.name)}")
    }
  }

  test("importance selection's top-k is a TakeOrdered, never a global window (ns74 shape)") {
    val docs = Tables(spark, sfDir, "documents")
    val q = graft.ops.Importance.importanceSelect(
      docs, docs.filter(col("lang") === "en"), "doc_id", "text", 1024, 50)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be a TakeOrdered:\n$p")
    assert(!p.contains("Window"), s"global ranking window found in selection plan:\n$p")
  }

  test("round-9 ops keep their scale shapes (rate broadcast, no cartesian, kernel fold)") {
    // ns107: the ≤|groups|-row rate table joins the corpus by BROADCAST —
    // the coin stays a scan-local predicate, corpus rows never shuffle
    // for the join.
    val docs = Tables(spark, sfDir, "documents")
    val pTemp = plan(graft.ops.Sampling.temperatureSample(docs, "lang", "doc_id"))
    assert(pTemp.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$pTemp")
    assert(!pTemp.contains("SortMergeJoin"), s"corpus shuffled for the rate join:\n$pTemp")
    // b82 LATERAL: Catalyst must rewrite the correlated LIMIT subquery
    // into a per-key window/join — never a nested-loop cartesian.
    val pLat = plan(SparkEntry.queries("b82_lateral_join")(spark, sfDir))
    assert(!pLat.contains("CartesianProduct"), s"lateral degraded to cartesian:\n$pLat")
    // b83: null-safe equality is still an equi-key to the planner — the
    // join must be hash-based (broadcast or shuffled), never BNLJ.
    val pNs = plan(SparkEntry.queries("b83_nullsafe_join")(spark, sfDir))
    assert(!pNs.contains("BroadcastNestedLoopJoin") && !pNs.contains("CartesianProduct"),
      s"null-safe join lost its equi-key:\n$pNs")
    // ns108: the EWMA fold runs as the codegen'd kernel (no interpreted
    // HOF lambda) when the extension is registered.
    val pEwma = plan(graft.ops.TimeSeries.ewma(
      Tables(spark, sfDir, "events"), "user_id", "ts", "event_id", "value"))
    assert(pEwma.contains("graft_ewma"), s"expected the kernel fold:\n$pEwma")
    assert(!pEwma.contains("aggregate(lambda"), s"interpreted HOF fold in the hot path:\n$pEwma")
  }

  test("ns119: the fact scan carries a dynamicpruning partition filter") {
    val p = plan(SparkEntry.queries("ns119_dpp")(spark, sfDir))
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("b87: COUNT/MIN/MAX are answered by the scan (PushedAggregation), zero data pages") {
    val p = plan(SparkEntry.aggPushdownScan(spark, sfDir).agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
      org.apache.spark.sql.functions.min("l_quantity"),
      org.apache.spark.sql.functions.max("l_extendedprice")))
    assert(p.contains("PushedAggregation"), s"aggregate did not push to the scan:\n$p")
    assert(p.contains("COUNT(*)") && p.contains("MIN(l_quantity)") &&
      p.contains("MAX(l_extendedprice)"), s"missing pushed terms:\n$p")
  }

  test("round-10 batch keeps its scale shapes (LPM broadcast dim, encoder dims, no cartesians)") {
    // ns171 LPM: the rule dim must BROADCAST into the candidate join —
    // facts never shuffle for the prefix match.
    val pLpm = plan(SparkEntry.queries("ns171_lpm_join")(spark, sfDir))
    assert(pLpm.contains("BroadcastHashJoin"), s"LPM rule dim must broadcast:\n$pLpm")
    // ns172 target encoding: the category/global dims join back without a
    // cartesian blow-up (the 1-row global is a broadcast nested loop by
    // design — a cross join OF ONE ROW — so only CartesianProduct is banned).
    val pEnc = plan(SparkEntry.queries("ns172_target_encode")(spark, sfDir))
    assert(!pEnc.contains("CartesianProduct"), s"encoder degraded to cartesian:\n$pEnc")
    // ns180 sparse cosine: the posting-list self-join is an equi-join on
    // the term hash (the 1-row corpus-count cross join is a broadcast of
    // one row, fine) — a CartesianProduct would mean the doc×doc blow-up.
    val pCos = plan(SparkEntry.queries("ns180_cosine_pairs")(spark, sfDir))
    assert(!pCos.contains("CartesianProduct"), s"cosine pair join degraded:\n$pCos")
  }

  test("no unpartitioned WindowExec sits above an unaggregated scan — any query") {
    // A Window with no PARTITION BY moves its whole input to one task.
    // That is only acceptable over a BOUNDED dim: something an aggregate
    // (distinct-value / per-group collapse) or a limit has already
    // shrunk. Sweep EVERY gated query's pre-AQE physical plan and flag
    // unpartitioned windows whose subtree reaches a scan without passing
    // any aggregate/limit — the single-task-sort-over-raw-rows shape
    // that dies first at scale (the round-9 temporalSplit bug).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.LocalTableScanExec
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec | _: GlobalLimitExec | _: LocalLimitExec |
          _: TakeOrderedAndProjectExec => true
      case _: LocalTableScanExec => true // literal/inline data, not a table
      case leaf if leaf.children.isEmpty => false // a real scan: unbounded
      case other => other.children.forall(bounded)
    }
    def unboundedWindows(root0: SparkPlan): Seq[WindowExec] = {
      val root = root0 match { case a: AdaptiveSparkPlanExec => a.initialPlan; case x => x }
      root.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
    }
    // Self-check: the detector must flag the known-bad shape (a global
    // running sum straight over a table scan) before its verdict on the
    // suite means anything.
    val bad = Tables(spark, sfDir, "lineitem").withColumn("r",
      sum(col("l_quantity")).over(
        org.apache.spark.sql.expressions.Window.orderBy("l_orderkey")))
    assert(unboundedWindows(bad.queryExecution.executedPlan).nonEmpty,
      "detector failed to flag a global window over a raw scan")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val planned =
        try Some(fn(spark, sfDir).queryExecution.executedPlan)
        catch { case _: Throwable => None } // streaming/side-effect gates
      planned.toSeq.flatMap { ep =>
        unboundedWindows(ep).map(w => s"$name: ${w.simpleStringWithNodeId()}")
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unaggregated input:\n${offenders.mkString("\n")}")
  }

  test("rankMovers / rfmSegments: no unpartitioned WindowExec over the full entity dim") {
    // Round-12 verdict items 2–3: the per-entity metric dims these two
    // rank are |entities| rows — billions at 100 TB — so a
    // Window.orderBy with no partition key there is a single-task sort
    // over the whole customer base. The rewrite routes every full-dim
    // rank through Prefix.rowNumber's range-partitioned two-phase scan;
    // the ONLY unpartitioned windows allowed in these plans are (a) the
    // Prefix offsets pass — ordering exclusively by __graft_pid summary
    // columns, ≤ #shuffle-partitions rows by construction — and (b) a
    // post-limit rank over ≤ k already-selected rows.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    def offenders(root0: SparkPlan): Seq[String] = {
      val root = root0 match { case a: AdaptiveSparkPlanExec => a.initialPlan; case x => x }
      def postLimit(p: SparkPlan): Boolean = p match {
        case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec => true
        case leaf if leaf.children.isEmpty => false
        case other => other.children.forall(postLimit)
      }
      root.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
            !w.orderSpec.forall(_.child.references.forall(_.name.startsWith("__graft_pid"))) &&
            !postLimit(w.child) =>
          w.simpleStringWithNodeId()
      }
    }
    Seq("ns196_rank_movers", "ns185_rfm").foreach { name =>
      val ep = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
      val bad = offenders(ep)
      assert(bad.isEmpty, s"$name ranks the full dim on one task:\n${bad.mkString("\n")}")
    }
    // And the SCALE shape: when the dim's stats exceed the per-partition
    // target (as any real entity base does), the rank must plan as a
    // multi-partition range exchange — never a single-task sort. Force
    // the route by shrinking the target; fixture-sized stats otherwise
    // take the width-1 fast path, whose plan is exactly the bounded
    // single-partition sort the stats say is affordable.
    spark.conf.set(graft.ops.Prefix.TargetPartitionBytesKey, "64")
    try {
      Seq("ns196_rank_movers", "ns185_rfm").foreach { name =>
        val ep = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val bad = offenders(ep)
        assert(bad.isEmpty, s"$name (forced wide) ranks the full dim on one task:\n${bad.mkString("\n")}")
        assert(ep.toString.contains("Exchange rangepartitioning"),
          s"$name (forced wide) lost the range-partitioned rank:\n$ep")
      }
    } finally spark.conf.unset(graft.ops.Prefix.TargetPartitionBytesKey)
  }

  test("unpartitioned windows across ALL gates are the adjudicated bounded set") {
    // Round-12 brief item 4: every `WindowExec: No Partition Defined`
    // warning the bench tail emits must be traceable to a bounded input.
    // This sweep classifies every unpartitioned WindowExec in every
    // gate's pre-AQE physical plan by its boundedness EVIDENCE and pins
    // the result:
    //   limit — a GlobalLimit/LocalLimit/TakeOrdered below the window:
    //           ≤ k rows by construction, harmless.
    //   pid   — orders exclusively by __graft_pid columns: the Prefix
    //           per-partition summary, ≤ #shuffle-partitions rows.
    //   agg   — an aggregate below collapses to a bounded dim; each such
    //           GATE must appear in the reviewed allowlist below with its
    //           boundedness argument, so a new unbounded-dim window can
    //           never ride in unnoticed on the aggregate exemption.
    //   raw   — reaches a scan unaggregated: always a failure.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.LocalTableScanExec
    def boundedBy(p: SparkPlan, pred: SparkPlan => Boolean): Boolean = p match {
      case n if pred(n) => true
      case _: LocalTableScanExec => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(c => boundedBy(c, pred))
    }
    val isLimit: SparkPlan => Boolean = {
      case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec => true
      case _ => false
    }
    val isAgg: SparkPlan => Boolean = {
      case _: BaseAggregateExec => true
      case _ => false
    }
    def classify(name: String, root0: SparkPlan): Seq[(String, String)] = {
      val root = root0 match { case a: AdaptiveSparkPlanExec => a.initialPlan; case x => x }
      root.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.map { w =>
        val cls =
          if (w.orderSpec.nonEmpty &&
              w.orderSpec.forall(_.child.references.forall(_.name.startsWith("__graft_pid"))))
            "pid"
          else if (boundedBy(w.child, isLimit)) "limit"
          else if (boundedBy(w.child, isAgg)) "agg"
          else "raw"
        (name, cls)
      }
    }
    val skipped = scala.collection.mutable.ListBuffer[String]()
    val found: Seq[(String, String)] = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val planned =
          try Some(fn(spark, sfDir).queryExecution.executedPlan)
          catch { case _: Throwable => skipped += name; None }
        planned.toSeq.flatMap(ep => classify(name, ep))
    }
    // The skip set is PINNED: with a bare catch-and-drop, a gate whose
    // plan construction STARTS throwing — including one carrying a raw
    // unpartitioned window — would silently escape the sweep, and
    // genuine planner errors would be masked (round-13 ADVICE).
    // Measured: every gate, streaming included, plans eagerly today —
    // the reviewed set is EMPTY, so any future skip must be argued here.
    val expectedSkips: Set[String] = Set.empty
    assert(skipped.toSet == expectedSkips,
      s"plan-sweep skip set drifted from the reviewed list.\n" +
        s"now skipped: ${skipped.sorted.mkString(", ")}\n" +
        s"reviewed:    ${expectedSkips.toSeq.sorted.mkString(", ")}")
    val raw = found.collect { case (n, "raw") => n }.distinct
    assert(raw.isEmpty, s"unpartitioned windows over unaggregated scans: ${raw.mkString(", ")}")
    val aggGates = found.collect { case (n, "agg") => n }.distinct.sorted
    // The reviewed set. Every entry's window runs over a dim an
    // aggregate has collapsed to DOMAIN-bounded cardinality — never
    // |rows| or |entities|:
    //   ns137_contingency, ns175_cramers_v — (row_key × col_key) cells:
    //     categorical domains (the operator's documented contract).
    //   ns141_burn_rate — hourly buckets: calendar-bounded.
    //   ns146_key_skew — distinct per-key multiplicities: bounded by the
    //     max key count, collapses millions of keys to a handful of
    //     distinct c values (the counting-skeleton quantile dim).
    //   ns154_proportional_split — |strata| seat table.
    //   ns174_tvd_drift, ns72_histogram_drift — value-domain histogram
    //     bins (cents div 500 / fixed-width buckets).
    //   ns176_benford — the 9-digit dim.
    //   ns188_drift_timeline — per-day cells: calendar-bounded.
    //   ns189_quantile_normalize, ns202_survival_km, ns238_vocab_coverage
    //     — boundedDomain=true branches (cents / bucketed durations /
    //     frequency classes); the unbounded branches route through
    //     Prefix and are pinned by their own specs.
    //   ns251_gains_table — the 10-row decile dim (capture cum-sum).
    val allowlist: Set[String] = Set(
      "ns137_contingency", "ns141_burn_rate", "ns146_key_skew",
      "ns154_proportional_split", "ns174_tvd_drift", "ns175_cramers_v",
      "ns176_benford", "ns188_drift_timeline", "ns189_quantile_normalize",
      "ns202_survival_km", "ns238_vocab_coverage", "ns251_gains_table",
      "ns72_histogram_drift")
    assert(aggGates.toSet == allowlist,
      s"agg-bounded unpartitioned-window gates drifted from the reviewed set.\n" +
        s"now: ${aggGates.mkString(", ")}\n" +
        s"reviewed: ${allowlist.toSeq.sorted.mkString(", ")}")
  }

  test("SortAggregates across ALL gates are the adjudicated bounded set") {
    // Sibling of the unpartitioned-window sweep above: SortAggregate is
    // how Spark plans an aggregation whose buffer is not hash-mutable —
    // usually a struct-keyed election (min/max(struct(..)), max_by with
    // a struct tie-break) or a binary-buffer aggregate (bitmap family).
    // That class is FINE (r16 measured the ns103 packed-long
    // HashAggregate respelling 1.10-1.14x SLOWER at both bench rungs —
    // SURVEY §8), but an aggregation buffer silently BECOMING
    // non-hash-mutable is exactly the plan regression that hides until
    // someone reads a dump. This sweep classifies every SortAggregate in
    // every gate's pre-AQE plan and pins the gate set, so any new
    // sort-based aggregation must be argued here.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, MaxBy, Min, MinBy}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.types.StructType
    def classes(root0: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      val root = root0 match { case a: AdaptiveSparkPlanExec => a.initialPlan; case x => x }
      // One non-hash-mutable buffer makes the WHOLE aggregation
      // sort-based, so sibling Count/Sum/etc. ride in the same node —
      // classify per NODE by the function that explains the sort.
      root.collect { case s: SortAggregateExec => s }.map { node =>
        val fns = node.aggregateExpressions.map(_.aggregateFunction)
        // The functions that EXPLAIN the sort: ones whose buffer holds a
        // type HashAggregate's UnsafeRow cannot mutate in place.
        val culprits = fns.filter(_.aggBufferAttributes.exists(a =>
          !org.apache.spark.sql.catalyst.expressions.UnsafeRow.isMutable(a.dataType)))
        val election = culprits.exists {
          case m: Min => m.child.dataType.isInstanceOf[StructType]
          case m: Max => m.child.dataType.isInstanceOf[StructType]
          case m: MinBy => m.orderingExpr.dataType.isInstanceOf[StructType]
          case m: MaxBy => m.orderingExpr.dataType.isInstanceOf[StructType]
          case _ => false
        }
        if (election) "election"
        else if (culprits.exists(_.getClass.getSimpleName.startsWith("Bitmap"))) "bitmap"
        else if (culprits.nonEmpty && culprits.forall(_.aggBufferAttributes.forall(a =>
          org.apache.spark.sql.catalyst.expressions.UnsafeRow.isMutable(a.dataType) ||
            a.dataType == org.apache.spark.sql.types.StringType ||
            a.dataType == org.apache.spark.sql.types.BinaryType)))
          "varlen" // min/max/first over string/binary: var-length buffer
        else s"other:${fns.map(_.getClass.getSimpleName).distinct.sorted.mkString("+")}"
      }
    }
    val skipped = scala.collection.mutable.ListBuffer[String]()
    val found: Seq[(String, String)] = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val planned =
          try Some(fn(spark, sfDir).queryExecution.executedPlan)
          catch { case _: Throwable => skipped += name; None }
        planned.toSeq.flatMap(ep => classes(ep).map(name -> _))
    }
    assert(skipped.isEmpty,
      s"plan-sweep skip set must stay empty (see the window sweep's pin): ${skipped.mkString(", ")}")
    val other = found.collect { case (n, c) if c.startsWith("other") => s"$n($c)" }.distinct
    assert(other.isEmpty,
      s"SortAggregate outside the reviewed buffer classes: ${other.mkString(", ")}")
    // The reviewed set (PlanScan recon, r16). Elections: ns117 nearest
    // neighbour min(struct(d2,nn)); ns130 first-touch min(struct(channel,
    // id)); ns103 segment winner min(struct(doc_id, idx)); ns171 LPM
    // max(struct(len, prefix)); ns184 mode max(struct(cnt, val)); ns43
    // top-value max(struct(c, k)); ns31/ns124/ns177/ns146 max_by/min
    // struct tie-breaks in the time-series/skew kernels. Varlen: ns43's
    // column-profile min/max/first over STRING columns (var-length
    // buffer — unavoidable for a generic profiler, groups are the
    // column list). Bitmap: b86's two bitmap_construct_agg passes (4 KB
    // fixed buffers, bucket-bounded groups).
    val gates = found.map(_._1.split("_")(0)).distinct.sorted
    val reviewed = Seq("b86", "ns103", "ns117", "ns124", "ns130", "ns146",
      "ns171", "ns177", "ns184", "ns31", "ns43")
    assert(gates == reviewed,
      s"SortAggregate gate set drifted from the reviewed list.\n" +
        s"now: ${gates.mkString(", ")}\nreviewed: ${reviewed.mkString(", ")}")
  }

  test("vocabMassCoverage unbounded path: range-partitioned prefix, no per-type window") {
    // boundedDomain = false must collapse to frequency classes and ride
    // Prefix.runningSum's range exchange — never the unpartitioned
    // per-type ranking window (a single-task sort over an open vocab).
    val docs = spark.range(0, 2000)
      .selectExpr("concat('tok', id % 137, ' tok', id % 7, ' filler') as text")
    // Force the multi-partition route: the prefix kernels are width-
    // adaptive, and this fixture's stats take the single-partition fast
    // path (whose plan legitimately has no multi-way range exchange).
    spark.conf.set(graft.ops.Prefix.TargetPartitionBytesKey, "64")
    try {
      val out = graft.ops.TextOps.vocabMassCoverage(
        docs.toDF(), "text", Seq(50, 90, 99), boundedDomain = false)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange rangepartitioning"),
        s"unbounded path lost the range-partitioned prefix scan:\n$plan")
      assert(!plan.contains("row_number"),
        s"unbounded path still ranks per type with a global window:\n$plan")
      // sanity: same answers as the windowed path on this input
      val bounded = graft.ops.TextOps.vocabMassCoverage(
        docs.toDF(), "text", Seq(50, 90, 99))
        .orderBy("target_pct").collect().map(_.toSeq).toSeq
      assert(out.orderBy("target_pct").collect().map(_.toSeq).toSeq == bounded)
    } finally spark.conf.unset(graft.ops.Prefix.TargetPartitionBytesKey)
  }

  test("Prefix.runningSum: both branches reuse ONE range exchange; pid keys are data-derived") {
    // The two-phase prefix scan's whole point is that the local kernel and
    // the offsets branch hang off the SAME range exchange — a second
    // materialization would re-sample boundaries (divergent partition
    // identities) and re-pay the full-data shuffle the round-11 fuse
    // removed. Pin with AQE off so exchange reuse is visible in the plan.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // Force the MULTI-partition route: the prefix kernels are width-
      // adaptive now (fixture-sized stats take the single-partition
      // fast path, which has no offsets branch to reuse anything).
      spark.conf.set(graft.ops.Prefix.TargetPartitionBytesKey, "64")
      val df = spark.range(0, 50000)
        .select((col("id") % 997L).as("t"), lit(1L).as("v"))
      val out = graft.ops.Prefix.runningSum(df.toDF(), "t", "v", "run")
      val plan = out.queryExecution.executedPlan.toString
      // a ReusedExchange line re-prints its referent, so count LINES: a
      // materialized range exchange is one that is not a reuse reference
      val lines = plan.linesIterator.toSeq
      val nRange = lines.count(l =>
        l.contains("Exchange rangepartitioning") && !l.contains("ReusedExchange"))
      val nReused = lines.count(_.contains("ReusedExchange"))
      assert(nRange == 1, s"expected ONE materialized range exchange, got $nRange:\n$plan")
      assert(nReused >= 1, s"offsets branch did not reuse the range exchange:\n$plan")
      // the old full-data second exchange was hashpartitioning on the pid
      // directly over the kernel output WITHOUT a partial aggregate; the
      // fused shape only ever exchanges the pid AFTER map-side combine
      assert(!plan.contains("Window [sum(v"), "running sum fell back to a window over rows")
      // and the result is exact: peers share totals, global order respected
      val got = out.groupBy("t").agg(countDistinct("run").as("d"), max("run").as("m"))
      assert(got.where(col("d") =!= 1L).count() == 0, "peers disagree on the running total")
      val tail = out.where(col("t") === 996L).select("run").head().getLong(0)
      assert(out.agg(max("run")).head().getLong(0) == 50000L)
      assert(tail == 50000L)
      // the min kernel rides the identical discipline
      val out2 = graft.ops.Prefix.runningMinBeforeWithPeers(
        df.toDF(), "t", "v", "mb", "mp")
      val lines2 = out2.queryExecution.executedPlan.toString.linesIterator.toSeq
      assert(lines2.count(l =>
        l.contains("Exchange rangepartitioning") && !l.contains("ReusedExchange")) == 1)
      assert(lines2.count(_.contains("ReusedExchange")) >= 1)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.unset(graft.ops.Prefix.TargetPartitionBytesKey)
    }
  }

  test("Prefix.runningSum: fixture-sized stats take the single-partition fast path (one kernel pass)") {
    // The fixed-width spelling paid TWO sort+kernel executions (offsets
    // branch) and 32-task sort-page reservations to scan 10-15k rows
    // (ns218, round 13). Width-adaptive: small stats -> ONE range
    // partition, ONE MapPartitions pass, no offsets join, no window.
    val df = spark.range(0, 10000)
      .select((col("id") % 997L).as("t"), lit(1L).as("v"))
    val out = graft.ops.Prefix.runningSum(df.toDF(), "t", "v", "run")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("MapPartitions")) == 1,
      s"fast path still runs the offsets branch's second kernel pass:\n$plan")
    assert(!plan.contains("Window "), s"fast path still plans the offsets window:\n$plan")
    // and it is still exact
    assert(out.agg(max("run")).head().getLong(0) == 10000L)
  }

  test("fan-out kernels keep their width at sf0.1 — the round-13 regression class, pinned by plan") {
    // The six r13 regressions shared one signature: a compute-heavy
    // kernel inheriting a 1-2 task layout (broadcast-join streamed
    // side, or AQE byte-based coalescing of a post-agg exchange). The
    // fix is Par.spread's explicit REPARTITION_BY_NUM exchange — AQE
    // never coalesces it — sized by declared work. Pin its presence in
    // each fixed gate's sf0.1 plan (planning only at gate-construction;
    // sf0.001/sf0.01 stay spread-free by the MinWorkBytes gate).
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01).isDirectory)
    Seq(
      "ns229_silhouette", // interpreted scoring fold over the narrow k-means read
      "ns225_holt_winters", // post-agg HOF fold vs byte-based coalescing
      "ns68_cms_counts" // explode+hash kernel over a narrow scan
    ).foreach { name =>
      val p = SparkEntry.queries(name)(spark, sf01).queryExecution.executedPlan.toString
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$name lost its spread exchange at sf0.1:\n$p")
    }
    // And the COUNTER-pin (the ns95 lesson): the k-means input layout
    // must stay narrow at sf0.1 — widening it charged the IVF/PQ ladder's
    // dozens of tiny stages the extra task fan-out (ivfpq 3.9 → 5.1 s).
    // The fit keeps no checkpoint (its round state lives on the driver),
    // so the pin is on the plans: no spread exchange over the k-means
    // read, neither in the Lloyd rounds the fit runs while the gate is
    // built nor in the final assignment. Only the silhouette fold's own
    // READ widens, per the pin above.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val onPlan = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(onPlan)
    val p59 = try {
      val p = SparkEntry.queries("ns59_kmeans_int")(spark, sf01)
        .queryExecution.executedPlan.toString
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 30000L)
      p
    } finally spark.listenerManager.unregister(onPlan)
    val rounds = plans.toArray(Array.empty[String]).filter(_.contains("graft_kmeans_assign"))
    assert(rounds.nonEmpty, "ns59 ran no Lloyd round while it was built")
    rounds.foreach { r =>
      assert(!r.contains("REPARTITION_BY_NUM"),
        s"a Lloyd round of ns59 reads a widened layout at sf0.1 — this taxes every round:\n$r")
    }
    assert(p59.contains("graft_kmeans_assign") && !p59.contains("REPARTITION_BY_NUM"),
      s"ns59's k-means read widened at sf0.1 — this re-charges every IVF/PQ consumer stage:\n$p59")
    // ns218's fix is the OPPOSITE shape: the PPS prefix pass must NOT
    // fan 10k rows across 32 range partitions (two kernel passes, GB
    // page reservations) — the adaptive width collapses it to one range
    // partition and a single kernel pass.
    val p218 = SparkEntry.queries("ns218_systematic_pps")(spark, sf01)
      .queryExecution.executedPlan.toString
    assert(p218.linesIterator.count(_.contains("MapPartitions")) == 1,
      s"ns218 still pays the offsets branch's second kernel pass at sf0.1:\n$p218")
  }
}
