package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Deterministic count-min sketch (north-star extension): approximate
  * frequency counting in FIXED space — the vocabulary-stats primitive for
  * corpora where the exact (token, count) table is itself huge. The
  * sketch is `depth × width` long counters; estimates never undercount
  * and overcount by at most `N/width` with probability `1 − 2^−depth`
  * (the classic CM guarantee).
  *
  * Unlike seeded-random CMS implementations, the row hashes derive from
  * ONE md5 per item by Kirsch–Mitzenmacher double hashing over its two
  * independent 32-bit halves (`(b1 + r·b2) mod 2^32`), so the ENTIRE
  * sketch is a pure function of the input: bit-identical across engines,
  * cluster sizes, and reruns. NOTE the hash family is part of the
  * persisted-artifact format — counters/bit sets carry no version tag,
  * so sketches built under a different family must be rebuilt, never
  * probed or merged against
  * — estimates are hash-checkable against a SQL replay (`ns68`), and two
  * sketches built anywhere merge by adding counters cell-wise (the
  * streaming/distributed counting artifact a pipeline persists between
  * increments, like C49's signature table).
  *
  * Scale shape: counter build is one explode (×depth) with map-side
  * combine into AT MOST depth×width rows — the shuffle is bounded by the
  * sketch size, never the vocabulary; estimation joins the (tiny) query
  * fan-out against the bounded counter table (AQE broadcasts it).
  */
object Sketch {

  /** The 60-bit md5 base: the first 15 hex digits as one non-negative
    * long — ONE md5 + ONE conv per item, projected as a single column
    * BELOW the row explode so the expensive hash is never re-evaluated
    * per row or per derived half (two conv(substring(md5)) columns next
    * to a generator each re-run the md5 — measured 1.5x on the ns68
    * kernel).
    */
  private def baseHash(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Row-`r` bucket by Kirsch–Mitzenmacher double hashing over two
    * DISJOINT (hence independent) bit ranges of the base:
    * `g_r = (b1 + r·b2) mod 2^32 mod width` with `b1` = the high 32 bits
    * and `b2` = the low 28 bits. Rows stay uncorrelated across items:
    * two items collide on every row only when BOTH halves collide
    * (~V²/2⁶⁰ — negligible at any vocabulary), where affine transforms
    * of a single 32-bit base collide everywhere on any base collision
    * (~V²/2³³, routine at n-gram scale). Kirsch & Mitzenmacher 2006
    * shows this family preserves the Bloom false-positive asymptotics;
    * it is the standard practical choice for CM rows as well. `base`
    * here is a cheap attribute reference (the md5 ran below the
    * explode), so referencing it twice costs two integer ops.
    */
  private def bucketOf(
      row: org.apache.spark.sql.Column,
      base: org.apache.spark.sql.Column,
      width: Int) =
    ((shiftright(base, 28) + row * base.bitwiseAND(lit(0xfffffffL))) %
      lit(TextOps.MinhashEmpty)) % width

  /** Build the counter table from one row per token OCCURRENCE.
    * Output: (r, bucket, cnt) — at most depth×width rows; absent cells
    * are zero.
    */
  def cmsCounters(
      occurrences: DataFrame,
      tokenCol: String,
      depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "need depth >= 1 and width >= 1")
    // depth× fan-out plus one md5 per occurrence: spread a narrow scan
    // first or the whole build serializes in one task ([[Par.spread]]).
    // fanout: measured 2.5 s single-task over a 198 KB-stats input at
    // sf0.1 (~12.6 µs per estimated byte ≈ 1250× scan-equivalent work).
    Par.spread(occurrences, fanout = 1250)
      .select(baseHash(col(tokenCol)).as("_b"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"), bucketOf(col("r"), col("_b"), width).as("bucket"))
      .groupBy("r", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate the frequency of each query token: the min over the
    * `depth` counters the token hashes into (0 when a cell was never
    * touched). Output: (tokenCol, est).
    */
  def cmsEstimate(
      counters: DataFrame,
      queries: DataFrame,
      tokenCol: String,
      depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "need depth >= 1 and width >= 1")
    queries
      .select(col(tokenCol), baseHash(col(tokenCol)).as("_b"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", bucketOf(col("r"), col("_b"), width))
      .join(counters, Seq("r", "bucket"), "left")
      .groupBy(tokenCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Merge two counter tables cell-wise (the distributed/streaming
    * accumulation property: sketch(A ∪ B) = sketch(A) + sketch(B)).
    */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("r", "bucket")
      .agg(sum("cnt").as("cnt"))

  /** CMS inner-product JOIN-SIZE estimate (Cormode & Muthukrishnan's
    * second moment application): |A ⋈ B| on the sketched key is
    * estimated by `min_r Σ_w a_r[w]·b_r[w]` — the cardinality-estimation
    * primitive a cost-based planner wants BEFORE paying for the join,
    * computable from two already-persisted counter tables without
    * touching either input again.
    *
    * Guarantees (both deterministic, both gate-able): the estimate NEVER
    * underestimates (every true key pair lands in the same cell on every
    * row, so each row's inner product = true size + non-negative
    * collision mass), and overshoot is bounded by ε‖A‖₁‖B‖₁ with
    * ε = e/width at the usual confidence — width is the precision knob.
    *
    * Scale shape: one (r, bucket) equi-join of two ≤ depth×width-row
    * tables + a depth-row aggregate — O(sketch), independent of either
    * input's size. Output: ONE row (est_join_size).
    */
  def cmsJoinSizeEstimate(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("r"), col("bucket"), col("cnt").as("_ca"))
      .join(b.select(col("r"), col("bucket"), col("cnt").as("_cb")), Seq("r", "bucket"))
      .groupBy("r")
      .agg(sum(col("_ca") * col("_cb")).as("_ip"))
      .agg(min("_ip").as("est_join_size"))

  /** [[cmsJoinSizeEstimate]] for the SUBSET case (`b = a WHERE pred`,
    * the planner's commonest ask): both sketches build from ONE scan —
    * each bucket row carries the total count and the flagged count —
    * and the per-row inner product needs no join at all. Identical math
    * to building the two sketches separately (the flagged rows ARE b's
    * sketch, cell for cell), at half the scan and hash cost; the ns150
    * gate's oracle replays the two-sketch spelling and still matches.
    */
  def cmsJoinSizeEstimateFiltered(
      occurrences: DataFrame,
      tokenCol: String,
      bFlag: Column,
      depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "need depth >= 1 and width >= 1")
    // Cells are ADDITIVE over keys (a cell's count = Σ occurrence counts
    // of the keys hashing into it), so collapse to per-KEY occurrence
    // weights first: one map-side-combined aggregate over the scan, then
    // the md5 + depth-way explode runs once per DISTINCT key instead of
    // once per occurrence — identical cells, hash/fan-out cost O(|keys|)
    // not O(|rows|) (the occurrence-grain spelling was the up-screen's
    // slowest flagged query at 10×).
    occurrences
      .groupBy(col(tokenCol).as("_k"))
      .agg(count(lit(1)).as("_wa"), sum(bFlag.cast("long")).as("_wb"))
      .select(
        baseHash(col("_k")).as("_b"), col("_wa"), col("_wb"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"), bucketOf(col("r"), col("_b"), width).as("bucket"),
        col("_wa"), col("_wb"))
      .groupBy("r", "bucket")
      .agg(sum("_wa").as("_ca"), sum("_wb").as("_cb"))
      .groupBy("r")
      .agg(sum(col("_ca") * col("_cb")).as("_ip"))
      .agg(min("_ip").as("est_join_size"))
  }

  /** Rolling-window distinct counting from PERSISTED hourly HLL sketches
    * (the "DAU over a trailing 24 h window, every hour" production
    * pattern): one sketch per hour bucket, each trailing window unions
    * the `windowHours` sketches that cover it — sketch mergeability makes
    * the rollup exact-in-the-sketch (union of sketches ≡ sketch of the
    * union, the same property b85 gates for static rollups).
    *
    * THE point at scale: the raw stream is touched ONCE (hourly
    * sketches, map-side combined); every window after that is built from
    * `windowHours` FIXED-SIZE sketches — fan-out is hours×window over
    * kilobyte sketches, never rows×window over events, which is what the
    * exact rollup costs (and why dashboards precompute sketches).
    * Windows whose trailing span reaches before the first hour are still
    * emitted (partial-history semantics, like any dashboard's first day).
    *
    * Output: (win — the hour the window ENDS on, est). lgK = 12
    * (±1.04/√2¹² relative error, the b85 convention).
    */
  def rollingDistinctSketch(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      windowHours: Int): DataFrame = {
    require(windowHours >= 1, "windowHours must be >= 1")
    df.select(expr(s"unix_micros($tsCol) div 3600000000").as("h"), col(idCol).as("_id"))
      .groupBy("h")
      .agg(expr("hll_sketch_agg(_id, 12)").as("sk"))
      .select(col("sk"), explode(sequence(col("h"), col("h") + (windowHours - 1).toLong)).as("win"))
      .groupBy("win")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
  }

  // --------------------------------------------------------------- bloom

  /** Deterministic Bloom filter, represented as its SET-BIT POSITIONS
    * (one row per distinct set bit, ≤ min(k·|items|, m) rows): membership
    * screening with NO false negatives and a bounded false-positive rate
    * — the "could this benchmark n-gram appear anywhere in the corpus?"
    * pre-screen ahead of exact decontamination (C34), at a fraction of
    * the exact fingerprint table's size. Same md5 hash family as the CMS,
    * so the filter is a pure function of the input: replayable in SQL,
    * and two filters merge by POSITION-SET UNION.
    *
    * Output: (pos) — distinct positions in [0, m).
    */
  def bloomBits(items: DataFrame, itemCol: String, k: Int, m: Int): DataFrame = {
    require(k >= 1 && m >= 1, "need k >= 1 and m >= 1")
    items
      .select(baseHash(col(itemCol)).as("_b"), explode(sequence(lit(0), lit(k - 1))).as("r"))
      .select(bucketOf(col("r"), col("_b"), m).as("pos"))
      .distinct()
  }

  /** Probe each query item against the filter: `maybe_present` is true
    * iff ALL `k` of the item's positions are set — never a false
    * negative. Output: (itemCol, maybe_present).
    */
  def bloomProbe(
      bits: DataFrame,
      queries: DataFrame,
      itemCol: String,
      k: Int,
      m: Int): DataFrame = {
    require(k >= 1 && m >= 1, "need k >= 1 and m >= 1")
    queries
      .select(col(itemCol), baseHash(col(itemCol)).as("_b"),
        explode(sequence(lit(0), lit(k - 1))).as("r"))
      .withColumn("pos", bucketOf(col("r"), col("_b"), m))
      .join(bits.withColumn("_hit", lit(1L)), Seq("pos"), "left")
      .groupBy(itemCol)
      .agg((count(lit(1)) === sum(coalesce(col("_hit"), lit(0L)))).as("maybe_present"))
  }

  /** Union two filters' position sets: bloom(A ∪ B) = bits(A) ∪ bits(B). */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()

  // ----------------------------------------------------------------- kmv

  private val Kmv60 = 1152921504606846976.0 // 2^60 — a power of two, exact

  /** K-minimum-values distinct sketch (bottom-k, Bar-Yossef et al. 2002):
    * the `k` smallest 60-bit md5 hashes of the column's DISTINCT values —
    * the third persisted-sketch family next to the CMS counters and the
    * Bloom bit set, and the one that answers SET-OPERATION questions
    * (union/intersection/Jaccard between corpora) that HLL union alone
    * cannot. Same md5 family as the other artifacts (the hash family is
    * part of the persisted format); fully deterministic, so the sketch
    * rows AND every downstream estimate hash-gate against a SQL replay.
    *
    * Output: (h) — at most k rows. Scale: one map-side-combined distinct
    * then a TakeOrdered k — the shuffle carries k candidates per
    * partition, never the domain.
    */
  def kmvSketch(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    df.select(baseHash(col(itemCol)).as("h")).distinct().orderBy("h").limit(k)
  }

  /** Distinct-cardinality estimate from a KMV sketch: EXACT when the
    * sketch is unsaturated (fewer than k distinct hashes exist), else the
    * classic unbiased `(k−1)·2⁶⁰ / h_(k)` estimator — one fixed IEEE
    * chain on exact integers, bit-reproducible.
    */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.agg(count(lit(1)).as("n"), max("h").as("hk"))
      .select(
        when(col("n") < k, col("n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Kmv60) / col("hk").cast("double"))
          .as("est_distinct"))

  /** Union sketch from two sketches alone — KMV mergeability:
    * `sketch(A ∪ B)` = the k smallest of the combined hash sets. */
  def kmvUnion(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    a.unionByName(b).distinct().orderBy("h").limit(k)
  }

  /** Set-operation estimates from two KMV sketches (Beyer et al.
    * SIGMOD'07): over the union sketch `K_∪`, the fraction ρ of its
    * hashes present in BOTH input sketches is an exact-integer Jaccard
    * estimator, and `ρ · est(∪)` estimates the intersection size — the
    * "audience overlap between two corpora at sketch cost" primitive
    * (the EXACT twin is ns187's overlap matrix, at full-data cost).
    * One row: (n_union, k_in_both, jaccard_est, est_union,
    * est_intersection); every value is a deterministic function of the
    * two sketches.
    */
  def kmvSetOps(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val u = kmvUnion(a, b, k)
    val marked = u
      .join(a.select(col("h")).withColumn("_ina", lit(1L)), Seq("h"), "left")
      .join(b.select(col("h")).withColumn("_inb", lit(1L)), Seq("h"), "left")
    marked
      .agg(
        count(lit(1)).as("n_union"),
        sum(coalesce(col("_ina"), lit(0L)) * coalesce(col("_inb"), lit(0L)))
          .as("k_in_both"),
        max("h").as("_hk"))
      .select(
        col("n_union"), col("k_in_both"),
        (col("k_in_both").cast("double") / col("n_union").cast("double"))
          .as("jaccard_est"),
        when(col("n_union") < k, col("n_union").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Kmv60) / col("_hk").cast("double"))
          .as("est_union"))
      .withColumn("est_intersection", col("jaccard_est") * col("est_union"))
  }

  /** Bloom-accelerated semi-join (runtime row pre-filter): rows of `big`
    * whose `bigKey` appears in `keys.keyCol` — EXACTLY `big LEFT SEMI
    * JOIN keys`, computed as a scan-local Bloom screen followed by the
    * exact join over the survivors only. The screen has no false
    * negatives, and survivors re-join exactly, so false positives cost
    * time, never correctness.
    *
    * This is the shape of Spark's own `InjectRuntimeFilter`, built
    * deterministically: the key-side bits aggregate into an m-bit bitmap
    * that embeds in the plan as a literal word array, and the probe — k
    * unrolled `element_at` bit tests over a KM double-hash of the
    * engine-native `xxhash64` — evaluates inside the big side's scan
    * stage under whole-stage codegen. (This filter lives only inside one
    * query plan, so unlike the persisted [[bloomBits]] artifact it is
    * free to trade the SQL-replayable md5 family for the codegen'd long
    * hash — measured 11x on the ns86 kernel, see bloomScreen.) Nothing
    * of the big side shuffles until the (pre-screened) exact join.
    *
    * The ONLY materialization is the filter artifact itself: ≤ m bits
    * (`m/8` bytes, `require`-bounded) — bounded by the CHOSEN sketch
    * size, never by either input's cardinality, the same bounded-artifact
    * exception as the IVF codebook. At 100 TB the economics are the
    * runtime filter's: one bounded broadcast spares the exact join's
    * shuffle from every non-matching big-side row, and `m` trades
    * false-positive rate against plan payload.
    */
  def bloomSemiJoin(
      big: DataFrame,
      bigKey: String,
      keys: DataFrame,
      keyCol: String,
      k: Int = 5,
      m: Int = 1 << 20): DataFrame = {
    // rename the probe side so a same-named key can't turn the condition
    // self-referential (semi-join output carries no right columns anyway)
    val rhs = keys.select(col(keyCol).as("_graft_bloom_key")).distinct()
    bloomScreen(big, bigKey, keys, keyCol, k, m)
      .join(rhs, col(bigKey) === col("_graft_bloom_key"), "left_semi")
  }

  /** The scan-local screen alone (test seam): `big` rows whose key the
    * bitmap admits — a superset of the exact semi-join's rows, smaller
    * than `big` wherever the filter bites.
    */
  private[graft] def bloomScreen(
      big: DataFrame,
      bigKey: String,
      keys: DataFrame,
      keyCol: String,
      k: Int,
      m: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(m >= 64 && m <= (1 << 26), s"m=$m out of range [64, 2^26] (bitmap is the plan payload)")
    require(big.schema(bigKey).dataType == keys.schema(keyCol).dataType,
      s"key types must match for hash agreement: " +
        s"${big.schema(bigKey).dataType.simpleString} vs ${keys.schema(keyCol).dataType.simpleString}")
    // UNLIKE the persisted md5-family sketches (bloomBits/bloomProbe,
    // whose format must replay in SQL), this filter lives only inside one
    // query plan — so it uses the engine-native xxhash64 (codegen'd long
    // hashing, no per-row string materialization; measured 3x over
    // md5+conv on the ns86 kernel), KM-split into two 32-bit halves.
    // Both sides derive positions from the SAME expression, so the
    // no-false-negative contract is structural.
    def positions(c: Column): Seq[Column] = {
      val b = xxhash64(c)
      val b1 = shiftrightunsigned(b, 32)
      val b2 = b.bitwiseAND(lit(0xffffffffL))
      (0 until k).map(r =>
        ((b1 + lit(r.toLong) * b2) % lit(TextOps.MinhashEmpty)) % m)
    }
    val words = new Array[Long]((m + 63) / 64)
    keys.select(array(positions(col(keyCol)): _*).as("_ps"))
      .select(explode(col("_ps")).as("pos")).distinct()
      .collect().foreach { r =>
        if (!r.isNullAt(0)) {
          val pos = r.getLong(0)
          words((pos >> 6).toInt) |= 1L << (pos & 63L)
        }
      }
    val wordsLit = typedLit(words.toSeq)
    // The k probes UNROLL into plain conjunctions (k is a plan-time
    // constant): transform/forall higher-order functions have no codegen
    // and would drop the whole scan stage out of whole-stage codegen —
    // measured 15x slower on the ns86 kernel. The hash base is projected
    // ONCE below the probes so unrolling can't re-evaluate it k times.
    val baseCol = "_graft_bloom_base"
    val b1 = shiftrightunsigned(col(baseCol), 32)
    val b2 = col(baseCol).bitwiseAND(lit(0xffffffffL))
    val mightMatch = (0 until k).map { r =>
      val pos = ((b1 + lit(r.toLong) * b2) % lit(TextOps.MinhashEmpty)) % m
      call_function("shiftright",
        element_at(wordsLit, (pos / 64).cast("int") + 1),
        (pos % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    big.withColumn(baseCol, xxhash64(col(bigKey)))
      .where(mightMatch)
      .drop(baseCol)
  }

  /** Misra–Gries heavy hitters per group in O(capacity) state
    * ([[graft.functions.MisraGriesAgg]]): the frequent-keys answer
    * without materializing the distinct-key table. Output is one row per
    * surviving (group, key) with its estimate and the summary-wide rank
    * (est DESC, key ASC — the aggregate's pinned presentation order).
    *
    * Scale shape: map-side partials carry at most `capacity` (key,
    * counter) pairs per group; the exchange never sees the key domain.
    * With `capacity >=` the per-partial distinct-key count the summary is
    * exact (the hash-gate regime); under real eviction pressure the MG
    * bounds hold for any merge order (see the aggregate's scaladoc).
    */
  /** Merge two Misra–Gries summaries (`(key, est)` tables) under one
    * capacity — the persisted-artifact combine of the heavy-hitters
    * family (Agarwal et al.'s mergeable-summaries step in DataFrame
    * form): pointwise counter sum, then subtract the (capacity+1)-th
    * largest merged counter from everything and keep the strictly
    * positive survivors (provably ≤ capacity of them). Both MG bounds
    * survive the merge with the error budgets ADDING — the property that
    * makes per-partition / per-trigger summaries composable.
    *
    * The rank window is global but runs over ≤ 2·capacity rows by the
    * inputs' own contract — a bounded-summary operation, like cmsMerge's
    * depth×width counter add.
    */
  def heavyHittersMerge(a: DataFrame, b: DataFrame, capacity: Int): DataFrame = {
    val merged = a.select("key", "est").unionAll(b.select("key", "est"))
      .groupBy("key").agg(sum("est").as("est"))
    val ranked = merged.withColumn(
      "_rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("est").desc, col("key"))))
    val sub = ranked.agg(
      max(when(col("_rk") === capacity + 1, col("est"))).as("_sub"))
    ranked.crossJoin(sub)
      .select(col("key"), (col("est") - coalesce(col("_sub"), lit(0L))).as("est"))
      .where(col("est") > 0L)
  }

  def heavyHitters(
      df: DataFrame,
      groupCols: Seq[String],
      keyCol: String,
      capacity: Int): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) df.groupBy()
      else df.groupBy(groupCols.map(col): _*)
    grouped
      .agg(Graft.kernel(df.sparkSession, "graft_heavyhitters", col(keyCol), lit(capacity)).as("hh"))
      .select(groupCols.map(col) :+ posexplode(col("hh")): _*)
      .select(
        groupCols.map(col) ++ Seq(
          (col("pos") + 1).cast("long").as("rank"),
          col("col.key").as(keyCol),
          col("col.est").as("est")): _*)
  }
}
