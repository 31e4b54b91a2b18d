package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Graft
import scala.util.control.NonFatal

/** Market-basket association mining: which items co-occur in the same
  * basket more often than a support threshold — the "frequently bought
  * together" primitive (north-star extension; pairs are the k=2 level of
  * Apriori/FP-growth, and the level where virtually all production
  * recommendations stop).
  *
  * Scale design:
  *   - APRIORI PRUNING before any pairing: an item below `minSupport` on
  *     its own cannot appear in a frequent pair (support is monotone), so
  *     infrequent items are dropped by one map-side-combined count BEFORE
  *     the quadratic step — on heavy-tailed catalogs this removes most of
  *     the item volume.
  *   - The pair generation is a SELF-EQUI-JOIN on the basket key (both
  *     sides are the same pruned frame: one shuffle, exchange reuse), so
  *     fan-out per basket is bounded by its own (pruned) size squared —
  *     the operator's irreducible cost, proportional to its output
  *     candidates, never |items|².
  *   - Pair counts map-side combine; a giant basket (one order with 10⁵
  *     distinct frequent items) is the skew axis: cap upstream with a
  *     basket-size guard if the domain allows such baskets.
  */
object Association {

  def frequentPairs(
      baskets: DataFrame, basketCol: String, itemCol: String, minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    frequentPairsFrom(distinctBasketItems(baskets, basketCol, itemCol), minSupport)
  }

  /** The one basket exchange every Apriori consumer shares (the
    * [[frequentTriples]] discipline, r16 applied to the pair level): the
    * (b, i) distinct runs as an aggregate UNDER an explicit basket
    * partitioning, so HashPartitioning(b) satisfies the (b, i) clustering
    * (subset rule) and every downstream self-join on b reuses the same
    * exchange instead of paying a distinct exchange plus per-side join
    * exchanges and SortMergeJoin sorts.
    *
    * TRUNCATED (r17, the Eval.gainsTable pattern): the r16 spelling
    * relied on AQE stage reuse to dedupe consumers, and the ns131
    * SQLMetrics dump (`tools/forensics/ns131_r17_metrics_dump.txt`)
    * showed it only half-fires — the self-join sides share one exchange
    * (ReusedExchange), but the frequent-item support branch re-scans and
    * re-exchanges the full frame because the optimizer pushes the
    * semi-join prune below the exchange on the join side, making the two
    * subtrees canonicalize differently. The localCheckpoint pins the
    * distinct frame once, so the scan + distinct exchange + aggregate run
    * exactly once per execution, and downstream stats are EXACT
    * LogicalRDD sizes (which the broadcast gate below relies on).
    * Storage is O(distinct (b,i)) — the CC-round class.
    *
    * The r16 repartition(b)-before-distinct trick (subset rule let the
    * self-join ride the distinct's exchange) is MOOT after the cut: a
    * checkpointed plan surfaces as UnknownPartitioning under AQE
    * (measured — the after-plan re-exchanged both join sides), so the
    * distinct runs under its natural (b, i) hash exchange here and the
    * join's basket partitioning is re-established ONCE, post-prune, in
    * [[frequentPairsFrom]] — both self-join sides share that single
    * exchange by AQE stage reuse (the dump-proven mechanism).
    */
  private def distinctBasketItems(
      baskets: DataFrame, basketCol: String, itemCol: String): DataFrame =
    Checkpoints.truncate(
      baskets.select(col(basketCol).as("b"), col(itemCol).as("i"))
        .groupBy("b", "i").agg(lit(1).as("_one")).select("b", "i"))

  /** Answer-bounded broadcast gate (r16 ADVICE): every item in the
    * frequent set owns >= minSupport rows of the distinct frame, so
    * rows(freqItems) <= rows(b0)/minSupport and its bytes are bounded by
    * bytes(b0)/minSupport (a frequent-set row is one item column — no
    * wider than a (b, i) row). Only hint the broadcast when that bound
    * clears the driver-safety threshold below; otherwise hand the
    * planner the plain semi-join and let AQE pick the strategy from
    * runtime sizes (low minSupport on a big item dimension is exactly
    * where the old unconditional hint risked a driver OOM).
    *
    * The bar is DRIVER safety (guide §3.1: hundreds of MB broadcast are
    * fine, multiple GB are not), not the planner's 10 MB
    * autoBroadcastJoinThreshold: the bound is a worst-case pigeonhole
    * over the full (b, i) row width, typically 10-50x above the true
    * frequent-set bytes, and gating it at 10 MB measurably flipped the
    * 10x bench rung to a shuffle semi-join that cost every Apriori gate
    * 15-20% (r17 A/B) while "protecting" against a 5 MB broadcast.
    * Conf-overridable for clusters whose drivers are tighter.
    */
  private def gatedBroadcast(b0: DataFrame, freqFrame: DataFrame, minSupport: Long): DataFrame = {
    val thresh =
      try b0.sparkSession.conf.get(BroadcastBoundKey, (256L << 20).toString).toLong
      catch { case NonFatal(_) => 256L << 20 }
    val bound =
      try b0.queryExecution.optimizedPlan.stats.sizeInBytes / BigInt(minSupport)
      catch { case NonFatal(_) => BigInt(Long.MaxValue) }
    if (thresh > 0 && bound <= BigInt(thresh)) broadcast(freqFrame) else freqFrame
  }

  /** Upper bound (bytes) on a pigeonhole-bounded Apriori broadcast before
    * [[gatedBroadcast]] abandons the hint. Default 256 MB.
    */
  val BroadcastBoundKey = "spark.graft.assoc.broadcastBound"

  /** Pair generation over an already-basket-partitioned distinct (b, i)
    * frame: broadcast semi-join Apriori prune (the frequent-item set is
    * bounded by its own answer and the broadcast hint is gated on that
    * bound), SHUFFLE_HASH self-join (both sides are the same checkpointed
    * frame; sorting them for SMJ was pure overhead), map-side combined
    * pair count.
    */
  private def frequentPairsFrom(b0: DataFrame, minSupport: Long): DataFrame = {
    val freqItems = b0.groupBy("i").agg(count(lit(1)).as("s"))
      .where(col("s") >= minSupport).select("i")
    // One basket exchange for the self-join, established AFTER the prune
    // (shuffles only surviving rows); both sides are this same subtree,
    // so AQE stage reuse computes it once (ReusedExchange — dump-proven).
    val kept = b0.join(gatedBroadcast(b0, freqItems, minSupport), Seq("i"), "left_semi")
      .repartition(col("b"))
    kept.alias("a").hint("SHUFFLE_HASH")
      .join(kept.alias("c").hint("SHUFFLE_HASH"),
        col("a.b") === col("c.b") && col("a.i") < col("c.i"))
      .groupBy(col("a.i").as("item_a"), col("c.i").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /** Frequent item TRIPLES — the k=3 Apriori level, with BOTH prunes the
    * algorithm is named for: items below support cannot appear in a
    * frequent triple (level-1), and a triple is only counted when the
    * (a,b) pair it extends is itself frequent (level-2) — support is
    * monotone, so neither prune can change the answer (the oracle skips
    * them and proves it).
    *
    * Scale design — ONE basket exchange serves everything: the distinct
    * runs as a (b, i) aggregate UNDER an explicit basket partitioning
    * (HashPartitioning(b) satisfies the (b, i) clustering, and every
    * downstream join keys on b), so the 3-way self-join adds NO further
    * exchange of the basket frame — the old spelling paid a distinct
    * exchange on (b, i) plus per-side join exchanges and SortMergeJoin
    * sorts (the up-screen's 24.8× flag). Joins are SHUFFLE_HASH by hint:
    * the build side is one partition of the pruned basket frame (size it
    * with shuffle.partitions at scale), and sorting 6M-row sides for SMJ
    * was pure overhead. Both prunes are BROADCAST semi-joins: the
    * frequent-item and frequent-pair sets are bounded by their own
    * answers, which minSupport made broadcast-sized — the Apriori
    * candidate set is broadcast state by design. Candidate volume
    * (Σ C(basket, 2) pair rows into one map-side-combined count, plus the
    * post-prune extension fan-out) is the operator's irreducible cost.
    */
  def frequentTriples(
      baskets: DataFrame, basketCol: String, itemCol: String, minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    // Shares [[distinctBasketItems]]' truncate-once discipline and the
    // pigeonhole broadcast gate (r17 — see the pair level for both
    // rationales).
    val b0 = distinctBasketItems(baskets, basketCol, itemCol)
    val freqItems = b0.groupBy("i").agg(count(lit(1)).as("s"))
      .where(col("s") >= minSupport).select("i")
    val kept = b0.join(gatedBroadcast(b0, freqItems, minSupport), Seq("i"), "left_semi")
      .repartition(col("b"))
    val pairs = kept.alias("a").hint("SHUFFLE_HASH")
      .join(kept.alias("c").hint("SHUFFLE_HASH"),
        col("a.b") === col("c.b") && col("a.i") < col("c.i"))
      .select(col("a.b").as("pb"), col("a.i").as("ia"), col("c.i").as("ib"))
    val freqPairs = pairs.groupBy("ia", "ib").agg(count(lit(1)).as("s"))
      .where(col("s") >= minSupport).select(col("ia").as("fa"), col("ib").as("fb"))
    val pairInBasket = pairs.join(broadcast(freqPairs),
      col("ia") === col("fa") && col("ib") === col("fb"), "left_semi")
    pairInBasket.hint("SHUFFLE_HASH")
      .join(kept.alias("d").hint("SHUFFLE_HASH"),
        col("pb") === col("d.b") && col("ib") < col("d.i"))
      .groupBy(col("ia").as("item_a"), col("ib").as("item_b"), col("d.i").as("item_c"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /** Ordered precedence pairs: for how many entities does event type A
    * first occur STRICTLY before event type B first occurs? The k=2 level
    * of sequential-pattern mining (AprioriAll/PrefixSpan stop here in most
    * funnels) and the complement of the adjacent-only transition matrix —
    * precedence sees "signup … eventually … purchase" across any gap,
    * where a transition matrix only sees adjacent steps.
    *
    * Semantics: per (entity, type) the FIRST occurrence timestamp; a pair
    * (a, b) counts an entity when first(a) < first(b) — entities whose two
    * first-occurrences share a timestamp count in NEITHER direction
    * (strictness keeps the relation antisymmetric; an id tiebreak would
    * manufacture an ordering the data doesn't contain).
    *
    * Scale design: the quadratic step runs on the FIRST-OCCURRENCE frame
    * (one row per entity × distinct type — bounded by |entities|·|types|,
    * never by event volume); the self-join is an equi-join on the entity
    * key over that same frame, so one exchange serves both sides, and
    * per-entity fan-out is |types|² — a catalog constant, not a data
    * skew axis. Pair counts map-side combine.
    */
  def precedencePairs(
      events: DataFrame,
      entityCol: String,
      typeCol: String,
      tsCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val firsts = events
      .groupBy(col(entityCol).as("e"), col(typeCol).as("t"))
      .agg(min(col(tsCol)).as("ft"))
    firsts.alias("a")
      .join(firsts.alias("c"),
        col("a.e") === col("c.e") && col("a.ft") < col("c.ft"))
      .groupBy(col("a.t").as("type_a"), col("c.t").as("type_b"))
      .agg(count(lit(1)).as("n_entities"))
      .where(col("n_entities") >= minSupport)
  }

  /** Ordered precedence TRIPLES — the k=3 level of [[precedencePairs]]'
    * sequential-pattern mining (AprioriAll / PrefixSpan level 3): for how
    * many entities does A's first occurrence come STRICTLY before B's,
    * and B's strictly before C's? Shared-timestamp firsts count in no
    * ordering (the antisymmetric strictness the pair level pins).
    *
    * Scale design: like the pair level, the cubic step runs on the
    * FIRST-OCCURRENCE frame (|entities|·|types| rows, never event
    * volume); the 3-way self-join is entity-key equi-joins over the same
    * frame (one exchange serves all sides), and per-entity fan-out is
    * |types|³ — a catalog constant.
    */
  def precedenceTriples(
      events: DataFrame,
      entityCol: String,
      typeCol: String,
      tsCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val firsts = events
      .groupBy(col(entityCol).as("e"), col(typeCol).as("t"))
      .agg(min(col(tsCol)).as("ft"))
    firsts.alias("a")
      .join(firsts.alias("c"),
        col("a.e") === col("c.e") && col("a.ft") < col("c.ft"))
      .join(firsts.alias("d"),
        col("a.e") === col("d.e") && col("c.ft") < col("d.ft"))
      .groupBy(col("a.t").as("type_a"), col("c.t").as("type_b"),
        col("d.t").as("type_c"))
      .agg(count(lit(1)).as("n_entities"))
      .where(col("n_entities") >= minSupport)
  }

  /** Association RULES over the frequent pairs: both directions of every
    * frequent pair scored by confidence `n_ab/n_a` and lift
    * `n·n_ab/(n_a·n_b)` — the actionable layer on top of
    * [[frequentPairs]] ("customers with A also buy B at 3× base rate").
    * Exact integer counts; confidence and lift are fixed IEEE chains
    * (lift's numerator `n·n_ab` and denominator `n_a·n_b` are exact
    * longs, one division) — bit-reproducible.
    *
    * Scale shape: adds only \|frequent-pair\|·2 rows of arithmetic and a
    * broadcast-sized item-support dim on top of frequentPairs' cost.
    */
  def rules(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long): DataFrame = {
    // ONE distinct (b, i) frame (one basket exchange) serves the basket
    // count, the item supports, and the pair generation — the old
    // spelling re-derived it three times, each with its own distinct
    // exchange (r16).
    val b = distinctBasketItems(baskets, basketCol, itemCol)
    val nBaskets = b.select("b").distinct().agg(count(lit(1)).as("n"))
    val itemSupport = b.groupBy("i").agg(count(lit(1)).as("s"))
    val pairs = frequentPairsFrom(b, minSupport)
    val both = pairs
      .select(col("item_a").as("ante"), col("item_b").as("cons"), col("support"))
      .unionAll(pairs
        .select(col("item_b").as("ante"), col("item_a").as("cons"), col("support")))
    both
      .join(itemSupport.select(col("i").as("ante"), col("s").as("n_ante")), Seq("ante"))
      .join(itemSupport.select(col("i").as("cons"), col("s").as("n_cons")), Seq("cons"))
      .crossJoin(nBaskets)
      .select(
        col("ante"), col("cons"), col("support"), col("n_ante"), col("n_cons"), col("n"),
        (col("support").cast("double") / col("n_ante").cast("double")).as("confidence"),
        ((col("n") * col("support")).cast("double") /
          (col("n_ante") * col("n_cons")).cast("double")).as("lift"))
  }

  /** SEQUENCE rules over the precedence pairs: every A→B precedence
    * scored by confidence `n(A→B) / n(A present)` ("of the entities that
    * ever did A, how many did B strictly after?") and lift against B's
    * base rate — the actionable layer [[rules]] provides for baskets,
    * here for ORDERED behavior ("users who search then view a demo
    * convert at 3× base"). Exact integer counts; confidence and lift are
    * fixed IEEE chains on exact longs.
    *
    * Scale shape: adds an entity-count dim and two broadcast-sized
    * type-support dims on top of [[precedencePairs]]' first-occurrence
    * frame — nothing touches event volume twice.
    */
  def sequenceRules(
      events: DataFrame,
      entityCol: String,
      typeCol: String,
      tsCol: String,
      minSupport: Long): DataFrame = {
    val firsts = events
      .groupBy(col(entityCol).as("e"), col(typeCol).as("t"))
      .agg(min(col(tsCol)).as("ft"))
    val nEntities = firsts.select("e").distinct().agg(count(lit(1)).as("n"))
    val typeSupport = firsts.groupBy("t").agg(count(lit(1)).as("s"))
    precedencePairs(events, entityCol, typeCol, tsCol, minSupport)
      .join(typeSupport.select(col("t").as("type_a"), col("s").as("n_a")), Seq("type_a"))
      .join(typeSupport.select(col("t").as("type_b"), col("s").as("n_b")), Seq("type_b"))
      .crossJoin(nEntities)
      .select(
        col("type_a"), col("type_b"), col("n_entities"), col("n_a"), col("n_b"), col("n"),
        (col("n_entities").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n") * col("n_entities")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Co-visitation mining with LINEAR recency decay: for every item pair
    * some entity touched both of, the summed weight
    * `max(0, W − |day_i − day_j|)` over entities — the classic
    * "people who viewed X also viewed Y" recommendation prior, with
    * near-in-time co-visits counting more. The decay is deliberately
    * LINEAR (exact integers) rather than exponential — `exp` is libm
    * territory (the ln rule) and the linear window is what co-visit
    * caches ship anyway.
    *
    * Scale shape: one (entity, item) first-touch aggregation, then a
    * per-entity pair join bounded by C(items-per-entity, 2) — the
    * entity's own breadth, never the catalog; weights combine map-side
    * into ≤ \|item-pair\| rows.
    */
  def covisitation(
      df: DataFrame,
      entityCol: String,
      itemCol: String,
      dayCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val ft = df
      .where(col(itemCol).isNotNull)
      .groupBy(col(entityCol).as("e"), col(itemCol).as("i"))
      .agg(min(col(dayCol)).as("d"))
    val gap = abs(col("d_a") - col("d_b"))
    ft.select(col("e"), col("i").as("item_a"), col("d").as("d_a"))
      .join(ft.select(col("e"), col("i").as("item_b"), col("d").as("d_b")), Seq("e"))
      .where(col("item_a") < col("item_b") && gap < windowDays)
      .groupBy("item_a", "item_b")
      .agg(
        count(lit(1)).as("n_covisits"),
        sum(lit(windowDays.toLong) - gap).as("weight"))
  }

  /** Audience overlap matrix: for every pair of segments (event types,
    * campaigns, channels), the EXACT distinct-entity intersection and
    * its Jaccard — the "how much do these audiences overlap" table a
    * reach planner reads. Exact by construction: the (entity, segment)
    * incidence distincts first, intersections come from a per-entity
    * pair explode (bounded by |segments|² per entity — segments are a
    * small dim), unions by inclusion–exclusion over exact longs, Jaccard
    * is one IEEE division.
    *
    * Scale shape: the incidence distinct is the only event-volume
    * shuffle; pair rows are |entities|·C(s,2) with s tiny; marginals
    * broadcast as a segment-count dim. No HLL needed at this shape — the
    * sketch route (b85) is the swap once segments × entities outgrows
    * the exact distinct.
    */
  def audienceOverlap(
      df: DataFrame,
      entityCol: String,
      segmentCol: String): DataFrame = {
    val inc = df
      .where(col(entityCol).isNotNull && col(segmentCol).isNotNull)
      .select(col(entityCol).as("e"), col(segmentCol).as("seg"))
      .distinct()
    val sizes = inc.groupBy("seg").agg(count(lit(1)).as("n"))
    val pairs = inc.select(col("e"), col("seg").as("seg_a"))
      .join(inc.select(col("e"), col("seg").as("seg_b")), Seq("e"))
      .where(col("seg_a") < col("seg_b"))
      .groupBy("seg_a", "seg_b")
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(sizes.select(col("seg").as("seg_a"), col("n").as("n_a")), Seq("seg_a"))
      .join(sizes.select(col("seg").as("seg_b"), col("n").as("n_b")), Seq("seg_b"))
      .select(
        col("seg_a"), col("seg_b"), col("n_a"), col("n_b"), col("n_both"),
        (col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double")).as("jaccard"))
  }

  /** Skip-gram window co-occurrence counts — the corpus statistic behind
    * word2vec/GloVe-style embedding training and collocation mining: for
    * every unordered token pair within `window` positions of each other
    * inside a document, the total number of co-occurrences across the
    * corpus. Pairs are canonicalized lexicographically (a ≤ b) so each
    * occurrence counts once; equal tokens co-occurring (a == b at
    * different positions) are kept — their count is the self-collocation
    * signal.
    *
    * Scale shape: the position stream explodes once; the left side then
    * explodes its ≤ `window` forward offsets so the within-document pair
    * match is a pure EQUI-join on (doc_id, position) — never a band
    * predicate that degenerates to per-document all-pairs on long
    * documents. Fan-out is exactly `window` per token (output rows =
    * tokens × window, linear in corpus size); counts map-side combine on
    * the (a, b) vocabulary dim. No global sorts, no cross joins.
    */
  def cooccurrence(
      docs: DataFrame, idCol: String, textCol: String, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // Scan-local pair generation
    // (graft.functions.TextKernels.coocPairs): each row's pairs come
    // straight out of its own token array, so the posexplode +
    // offset-explode + (doc, position) self-join — and its shuffle of
    // O(rows × window) position rows — disappears entirely; the only
    // exchange left is the pair-count aggregation's map-side-combined
    // shuffle. Equivalence pinned in FunctionsSpec (incl. the UTF-8
    // binary tok_a/tok_b ordering the declarative least/greatest uses).
    docs
      .select(explode(Graft.kernel(docs.sparkSession,
        "graft_cooc_pairs", col(textCol), lit(window))).as("pr"))
      .select(col("pr.tok_a").as("tok_a"), col("pr.tok_b").as("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_cooc"))
  }

  /** Declarative twin of [[cooccurrence]], kept only as the kernel's
    * equivalence oracle in specs.
    */
  private[graft] def cooccurrenceDeclarative(
      docs: DataFrame, idCol: String, textCol: String, window: Int): DataFrame = {
    val pos = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("p", "t")))
    val probes = pos
      .withColumn("p2", explode(sequence(col("p") + 1, col("p") + window)))
      .select(col("doc_id"), col("t").as("t_left"), col("p2"))
    probes
      .join(pos.select(col("doc_id"), col("p").as("p2"), col("t").as("t_right")),
        Seq("doc_id", "p2"))
      .select(
        least(col("t_left"), col("t_right")).as("tok_a"),
        greatest(col("t_left"), col("t_right")).as("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_cooc"))
  }
}
