package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (north-star extension — BASELINE.json `north_star`).
  *
  * Scale design (100 TB):
  *   - Brute-force top-k broadcasts the (small) query set and streams the
  *     corpus once: no corpus shuffle at all; per-query top-k via a window
  *     over (query, score) — the shuffled volume is |corpus|×|queries| score
  *     rows, which is why this is the *baseline*, not the scale path.
  *   - The scale path is random-hyperplane LSH: bucket assignment is a
  *     per-row map (no shuffle); the candidate join co-partitions both
  *     sides on the bucket key, so the shuffle is O(rows), and only
  *     within-bucket pairs pay the full cosine.
  *   - All vector math is fixed-order double folds over codegen'd
  *     higher-order functions — no UDF, no Python, deterministic across
  *     engines.
  */
object Similarity {

  /** Index-order dot product with float→double widening (exact) — the fold
    * order is fixed, so the result is bit-deterministic.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine via the native codegen'd [[graft.functions.CosineSimilarityF32]]:
    * bit-identical to the declarative [[cosine]] fold (same widening, same
    * index-order accumulation) without its per-pair interpretation cost.
    */
  def cosineFast(df: DataFrame, a: Column, b: Column): Column =
    Graft.kernel(df.sparkSession, "graft_cosine", a, b)

  /** Routing knobs for the kNN family ([[topKRouted]],
    * [[labelDisagreement]], [[knnClassify]], [[hardNegatives]],
    * [[reciprocalBestMatch]]): query sets at or under
    * `maxBruteForceQueries` take the exact brute-force baseline; larger
    * ones delegate to the deterministic integer-IVF candidate path
    * ([[ivfIntTopK]]) — the same guard-then-route discipline
    * [[Dedup.embeddingNearDupPairs]] applies to the pair problem. The IVF
    * knobs size the coarse quantizer for the DELEGATED case only; the
    * brute path never reads them.
    */
  final case class AnnRoute(
      maxBruteForceQueries: Long = 100000,
      nCells: Int = 64,
      nProbe: Int = 8,
      iterations: Int = 2)

  /** True when `df` holds more than `max` rows, probed with a bounded
    * limit so the check never scans past `max + 1` rows (the
    * [[Dedup.embeddingNearDupPairs]] probe; limit takes an Int, so a huge
    * guard saturates — count() <= Int.MaxValue rows satisfies it anyway).
    */
  private def exceeds(df: DataFrame, max: Long): Boolean =
    df.limit(math.min(max, Int.MaxValue - 1L).toInt + 1).count() > max

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself when ids collide).
    * Output: (query_id, rank, neighbor_id, cos).
    *
    * The query side broadcasts and every corpus row scores against every
    * query — cost is |corpus|·|queries| cosines and the broadcast must fit
    * in executor memory, so the call REFUSES query sets above
    * `maxQueryRows` (fail fast beats an executor OOM three hours into a
    * 100 TB scan). Corpus-scale query sets belong on [[topKRouted]] /
    * [[ivfIntTopK]], which shuffle id-only candidates instead.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxQueryRows: Long = 1000000): DataFrame = {
    require(
      !exceeds(queries, maxQueryRows),
      s"bruteForceTopK query side exceeds $maxQueryRows rows: the broadcast " +
        "nested loop is quadratic — use topKRouted/ivfIntTopK for corpus-scale query sets")
    val c0 = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    // A small/single-file corpus scans as ONE input split and the
    // broadcast cross join inherits it — the whole |corpus|×|queries|
    // score-and-partial-topk pass would run in a single task (measured:
    // ns166's 4M-pair pass serialized at sf0.1; spreading it is 4×).
    // Spread the probe side to the session's parallelism when the scan
    // gives fewer splits; a corpus already wider keeps its layout (no
    // extra shuffle at scale). fanout: |queries| dot products per corpus
    // row (guarded ≤ 1M, typically hundreds) — ns166's measured 4M-pair
    // pass serialized a ~1000× amplification into one task.
    val c = Par.spread(c0, fanout = 1000)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val scored = c
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineFast(corpus, col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"), col("cos"))
  }

  /** Guard-routed cosine top-k — the family's front door. Query sets at
    * or under `route.maxBruteForceQueries` get the exact brute-force
    * baseline (full recall); larger ones delegate to [[ivfIntTopK]], the
    * deterministic bucketed candidates + exact-rerank plan that survives
    * any query-set size, at the cost of IVF recall (neighbors outside the
    * probed cells are missed — quality pinned by the ns96-family recall
    * gates). Same output contract either way: (qid, rank, nid, cos) with
    * ties total on (cos DESC, nid) and LONG ids on BOTH branches (the
    * [[ivfIntTopK]] contract) — the schema must not depend on which side
    * of the routing threshold the runtime query count lands, so the brute
    * arm casts too, exactly as [[reciprocalBestMatch]] already does.
    */
  def topKRouted(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      route: AnnRoute = AnnRoute()): DataFrame = {
    // Validate up front, not per-branch: a string id would "work" on the
    // brute arm at small scale and break (or null out under the cast) the
    // first time routing kicks in — the contract must be size-independent.
    Seq(corpus, queries).foreach { d =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val t = d.schema(d.schema.fieldIndex(idCol)).dataType
      val integral = t == ByteType || t == ShortType || t == IntegerType || t == LongType
      require(integral, s"topKRouted requires an integral id column; '$idCol' is $t")
    }
    if (exceeds(queries, route.maxBruteForceQueries))
      ivfIntTopK(corpus, queries, idCol, vecCol,
        route.nCells, route.nProbe, k, route.iterations)
    else
      bruteForceTopK(corpus, queries, idCol, vecCol, k)
        .select(col("qid").cast("long").as("qid"), col("rank"),
          col("nid").cast("long").as("nid"), col("cos"))
  }

  /** Reciprocal best-match pairs between two vector sets: (l, r) such
    * that r is l's single nearest right-side neighbor AND l is r's single
    * nearest left-side neighbor — the mutual-top-1 filter behind bitext /
    * parallel-corpus mining (a pair both sides agree on is vastly more
    * precise than either one-directional match).
    *
    * Determinism: each direction is [[bruteForceTopK]] k=1 — ties break
    * on (cos DESC, id), so "the" best match is total. The mutual filter
    * is a plain equi-join on the two (query, neighbor) frames.
    *
    * Scale shape: two top-1 passes, each GUARD-ROUTED ([[topKRouted]]):
    * a bounded query side broadcasts over one corpus scan (exact), a
    * corpus-scale one delegates to the integer-IVF candidate path — then
    * an id-pair equi-join bounded by min(|left|, |right|) rows per side.
    * Candidates move as id pairs either way, never vectors. The routed
    * directions cast ids to long, so the mutual join keys stay aligned
    * whichever path each direction takes.
    */
  def reciprocalBestMatch(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      vecCol: String,
      route: AnnRoute = AnnRoute()): DataFrame = {
    val lr = topKRouted(right, left, idCol, vecCol, 1, route)
      .select(col("qid").cast("long").as("left_id"),
        col("nid").cast("long").as("right_id"), col("cos"))
    val rl = topKRouted(left, right, idCol, vecCol, 1, route)
      .select(col("qid").cast("long").as("r2"), col("nid").cast("long").as("l2"))
    lr.join(rl, col("left_id") === col("l2") && col("right_id") === col("r2"))
      .select("left_id", "right_id", "cos")
  }

  /** Neighborhood label-disagreement screen (confident-learning-lite
    * mislabel detector): for every vector, the fraction of its k nearest
    * neighbors whose label differs — a high-disagreement point sits
    * inside another class's neighborhood and is a mislabel/boundary
    * candidate for review before training.
    *
    * Built on [[topKRouted]] (ties total on cos DESC, id), so the
    * neighbor sets — and therefore the exact integer disagreement
    * counts — are deterministic; the rate is one IEEE division. The
    * query side here IS the corpus, so this op is the family's clearest
    * scale hazard: unrouted, it would broadcast the corpus and compute
    * n² cosines. The route guard sends corpus-scale inputs down the
    * integer-IVF candidate path automatically (neighbor sets then carry
    * IVF recall — pinned by the routed recall gate).
    *
    * Output: (id, label, n_neighbors, n_disagree, disagreement).
    */
  def labelDisagreement(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      route: AnnRoute = AnnRoute()): DataFrame = {
    val labels = df.select(col(idCol).as("_lid"), col(labelCol).as("_lbl"))
    topKRouted(df, df, idCol, vecCol, k, route)
      .join(labels.select(col("_lid").as("qid"), col("_lbl").as("q_label")), "qid")
      .join(labels.select(col("_lid").as("nid"), col("_lbl").as("n_label")), "nid")
      .groupBy(col("qid").as("id"), col("q_label").as("label"))
      .agg(
        count(lit(1)).as("n_neighbors"),
        sum(when(col("n_label") =!= col("q_label"), 1L).otherwise(0L)).as("n_disagree"))
      .withColumn("disagreement",
        col("n_disagree").cast("double") / col("n_neighbors").cast("double"))
  }

  /** Deterministic pseudo-random hyperplane weight in [-1, 1): derived from
    * md5(plane ',' dim), so both engines (and every executor) materialize
    * the identical plane matrix without any broadcast state.
    */
  private def planeWeight(plane: Column, dim: Column): Column =
    TextOps.hash32(concat(plane.cast("string"), lit(","), dim.cast("string")))
      .cast("double") / lit(2147483648.0) - lit(1.0)

  /** Random-hyperplane LSH bucket id (`planes` sign bits packed into a
    * BIGINT). Per-row map over the corpus — the 100 TB-scale ANN path:
    * group or join on `bucket`, then rerank candidates with exact cosine.
    */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column =
    aggregate(
      sequence(lit(0), lit(planes - 1)),
      lit(0L),
      (acc, p) => {
        val proj = aggregate(
          sequence(lit(0), lit(dims - 1)),
          lit(0.0),
          (s, d) => s + planeWeight(p, d) * element_at(vec, d + 1).cast("double"))
        acc + when(proj >= 0, TextOps.pow2(p)).otherwise(lit(0L))
      })

  /** JVM twin of [[lshBucket]]'s plane-weight derivation: md5 of "p,d" →
    * first 8 hex digits → uint32 → scaled into [-1, 1). Identical values,
    * computed once per JVM instead of once per (row, plane, dim).
    */
  private[graft] def planeWeightJvm(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane,$dim".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
  }

  /** Bucket assignment as a tight JVM kernel over a precomputed plane
    * matrix — the scale path's map side: per-row work is planes×dims
    * multiply-adds, no per-row hashing, no shuffle. The codegen'd
    * graft_lsh_bands expression with a single table of `planes` planes:
    * bit `p` of element 1 is exactly the global-plane-index sign bit, so
    * this is [[lshBucket]] verbatim (same weights, same index-order fold).
    * Output: (idCol, bucket).
    */
  def lshBucketsKernel(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int,
      dims: Int): DataFrame =
    corpus.select(
      col(idCol).cast("long").as(idCol),
      element_at(Graft.kernel(corpus.sparkSession,
        "graft_lsh_bands", col(vecCol), lit(1), lit(planes), lit(dims)), 1).as("bucket"))

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * corpus vector to a cell; a query searches only the `nProbe` cells
    * whose centroids are nearest, with exact cosine rerank inside.
    *
    * Scale shape: centroids (nCells × dims doubles) broadcast; cell
    * assignment is a per-row map; the candidate join co-partitions on the
    * cell id, so the shuffle is O(rows·nProbe/nCells) — the classic
    * IVF-flat layout. Deterministic (the quantizer is the fixed-point
    * integer Lloyd — see [[ivfFit]]), but the cells are data-dependent
    * (KMeans), so results are approximate — verified by a recall test,
    * not a SQL oracle.
    * Output: (qid, rank, nid, cos).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      nProbe: Int,
      k: Int,
      seed: Long = 42L): DataFrame =
    ivfQuery(
      ivfFit(corpus, idCol, vecCol, nCells, seed, persist = false),
      queries, idCol, vecCol, nProbe, k)

  /** A fitted IVF index: the coarse-quantizer centroids (driver-side,
    * nCells × dims doubles — broadcast-sized by construction) plus the
    * cell-assigned corpus. Long-lived, caller-owned state: release with
    * [[IvfIndex.unpersist]] when done.
    */
  final case class IvfIndex(
      centroids: Array[Array[Double]],
      corpusCells: DataFrame,
      persisted: Boolean) {
    def unpersist(): Unit = if (persisted) { corpusCells.unpersist(); () }
  }

  /** Index build — the expensive, once-per-corpus step (the round-2 shape
    * refit MLlib KMeans on every query call: 10.3 s of quantizer training
    * paid per lookup, and 10 distributed jobs even on a tiny corpus).
    *
    * The coarse quantizer trains on a bounded, deterministic sample
    * (lowest `maxTrainRows` ids via top-K — at any corpus scale the
    * quantizer never needs more; standard IVF practice) but the Lloyd
    * loop itself is DISTRIBUTED: the sample is fixed-point-quantized at
    * the largest power-of-two scale whose exact long arithmetic cannot
    * overflow, then [[Clustering.fit]] — the
    * bit-reproducible integer Lloyd (lowest-id seed, exact long
    * distances, sum-div-count updates, order-independent integer sums) —
    * produces the centroids, which dequantize back to doubles. Only the
    * k·dims centroid rows ever reach the driver (the pre-round-15 shape
    * collected the whole sample: ~800 MB of driver heap at d=1024).
    * `seed` is retained for source compatibility; the quantized Lloyd is
    * deterministic by construction and takes no randomness.
    *
    * With `persist=true` the assigned corpus is materialized and kept
    * for repeated [[ivfQuery]] calls.
    */
  def ivfFit(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      seed: Long = 42L,
      persist: Boolean = true,
      maxTrainRows: Int = 100000): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (seed != 42L)
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .warn(
          s"ivfFit: seed=$seed has no effect — the integer Lloyd quantizer is " +
            "deterministic and takes no randomness; all seeds produce the same index.")
    val feat = corpus
      .select(col(idCol).cast("long").as("vid"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
    val train = feat.toDF("vid", "vec")
      .orderBy("vid") // TakeOrderedAndProject: deterministic bounded sample
      .limit(maxTrainRows)
    // Largest power-of-two scale s with dims·(2·maxAbs·s)² ≤ 2⁶² — the
    // integer Lloyd's squared-L2 folds stay exact in a long (the
    // centroid sums are then far below overflow too: ≤ maxTrainRows ·
    // maxAbs · s). Capped at 2²⁴ (a float's full mantissa — finer adds
    // nothing). max/size are exact aggregates, getExponent is exact bit
    // arithmetic: the scale is a deterministic function of the sample.
    val mrow = train.agg(
      max(aggregate(
        col("vec"), lit(0d), (a, x) => greatest(a, abs(x.cast("double"))))).as("m"),
      max(size(col("vec"))).as("d")).head()
    require(!mrow.isNullAt(1), "empty IVF training sample")
    val dims = math.max(mrow.getInt(1), 1)
    val maxAbs = math.max(
      if (mrow.isNullAt(0)) 0d else mrow.getDouble(0), java.lang.Double.MIN_NORMAL)
    val sBound = math.sqrt(math.pow(2d, 62) / dims) / (2d * maxAbs)
    val s = math.pow(2d, math.min(24, java.lang.Math.getExponent(sBound)).toDouble)
    val scaled = train.select(
      col("vid"),
      transform(col("vec"), x => round(x.cast("double") * s).cast("long")).as("v"))
    // Bounded model state: nCells × dims longs, driver-held by the Lloyd
    // loop itself — the same class as the PQ codebooks. Index = cid.
    val centroids: Array[Array[Double]] =
      Clustering.fit(scaled, "vid", "v", nCells, iterations = 10)._2.map(_.map(_.toDouble / s))
    // Plain-array function val: the map closure must capture ONLY this
    // (a nested def would drag the whole method frame — session, sample —
    // into the task closure and fail serialization).
    val ownCell = udfFreeCells(centroids, 1)
    val corpusCells = feat
      .map { case (vid, vec) => (ownCell(vec).head, vid, vec) }
      .toDF("cell", "nid", "nvec")
    if (persist) {
      corpusCells.persist()
      corpusCells.count() // materialize: queries must not re-run assignment
    }
    IvfIndex(centroids, corpusCells, persisted = persist)
  }

  /** Query path: nProbe-cell fanout of the query set, co-partitioned join
    * on the cell id, exact cosine rerank — no quantizer training, no full
    * corpus scan. Output: (qid, rank, nid, cos).
    */
  def ivfQuery(
      index: IvfIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probeCells = udfFreeCells(index.centroids, nProbe)
    val queryCells = queries
      .select(col(idCol).cast("long").as("qid"), col(vecCol).as("qvec"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, vec) => probeCells(vec).map(c => (c, qid, vec)) }
      .toDF("cell", "qid", "qvec")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    index.corpusCells
      .join(queryCells, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineFast(queries, col("qvec"), col("nvec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"), col("cos"))
  }

  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, IvfIndex]

  /** Memoized fit-once index per (session, caller key, params): repeated
    * lookups against the same corpus — the normal serving pattern — pay
    * the KMeans build exactly once per session. Keyed on the session UUID
    * so indexes never leak across restarted sessions.
    */
  def ivfIndexFor(
      corpus: DataFrame,
      cacheKey: String,
      idCol: String,
      vecCol: String,
      nCells: Int,
      seed: Long = 42L): IvfIndex =
    ivfIndexCache.computeIfAbsent(
      s"${System.identityHashCode(corpus.sparkSession)}|$cacheKey|$idCol|$vecCol|$nCells|$seed",
      _ => ivfFit(corpus, idCol, vecCol, nCells, seed))

  /** Nearest-`n` centroid indices by L2 distance (plain JVM math in the
    * mapped closures — no UDF registration, no MLlib model on executors).
    */
  private def udfFreeCells(centroids: Array[Array[Double]], n: Int): Array[Float] => Seq[Int] =
    vec => {
      val d2 = centroids.zipWithIndex.map { case (c, ci) =>
        var s = 0.0
        var i = 0
        while (i < c.length && i < vec.length) {
          val d = c(i) - vec(i).toDouble
          s += d * d
          i += 1
        }
        (s, ci)
      }
      d2.sortBy(x => (x._1, x._2)).take(n).map(_._2).toSeq
    }

  /** Integer-quantized IVF ANN — the DETERMINISTIC coarse-quantizer
    * variant: int8-quantize the corpus ([[Quantize.quantizeInt8]]), train a
    * bit-reproducible integer k-means ([[Clustering.fit]] —
    * deterministic lowest-id seed, exact long distances, `sum div count`
    * centroid updates, ties to the lowest cell id), probe the `nProbe`
    * nearest cells by exact integer L2, then rerank candidates with exact
    * cosine on the ORIGINAL float vectors. Every step is a pure function of
    * the input AND cheap to replay in SQL, so the full top-k result is
    * oracle-checkable (hash-matched in `ns20_ivf_knn`) — unlike the
    * [[ivfFit]]/[[ivfQuery]] serving path, which is equally deterministic
    * (same integer Lloyd since round 15) but trains on a bounded sample
    * at a data-derived fixed-point scale, so its cells are verified by
    * recall instead of a SQL replay. Quantizing the coarse quantizer is
    * standard IVF practice (per-vector max-normalization preserves
    * direction, the geometry cosine cares about).
    *
    * Scale shape: identical to [[ivfQuery]] — centroids are k·d longs
    * (ONE broadcast row per probe join), cell assignment is scan-local,
    * the candidate join co-partitions on the cell id carrying ids only,
    * and vectors rejoin O(candidates).
    * Output: (qid, rank, nid, cos).
    */
  def ivfIntTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      nProbe: Int,
      k: Int,
      iterations: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    ivfIntScored(corpus, queries, idCol, vecCol, nCells, nProbe, iterations)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"), col("cos"))
  }

  /** [[ivfIntTopK]]'s scored candidate set BEFORE the rank cut: every
    * (qid, nid, cos) whose corpus vector lives in one of the query's
    * `nProbe` probed cells. The seam the routed family variants rank
    * over — [[hardNegatives]] must filter candidates by label BEFORE
    * ranking, so it needs the pre-cut set, not the top-k.
    */
  private[ops] def ivfIntScored(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      nProbe: Int,
      iterations: Int = 2): DataFrame = {
    val qz = Quantize.quantizeInt8(corpus, idCol, vecCol)
    val (vecs, cents) = Clustering.fit(qz, idCol, "qvec", nCells, iterations)
    val cells = Clustering.assign(vecs, cents).select(col("id").as("nid"), col("cluster").as("cell"))
    // Per-vector quantization is row-local, so quantizing the query subset
    // yields the same qvec the corpus row has — query and corpus agree on
    // the integer geometry by construction.
    val qq = Quantize.quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("qvec").cast(Clustering.LongArray).as("qv"))
    val probed = Clustering.probe(qq, cents, nProbe).select(col("qid"), col("cell"))
    // Query vectors come from the QUERIES frame, corpus vectors from the
    // corpus — queries need not be corpus rows (an external query set must
    // rerank against its own vectors, not a corpus lookup by id).
    val qvecs = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qvec"))
    val nvecs = corpus.select(col(idCol).cast("long").as("nid"), col(vecCol).as("nvec"))
    // Each corpus vector lives in exactly one cell, so the cell join yields
    // each (qid, nid) at most once — no distinct needed.
    val cands = probed
      .join(cells, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    cands
      .join(qvecs, "qid")
      .join(nvecs, "nid")
      .select(col("qid"), col("nid"), cosineFast(corpus, col("qvec"), col("nvec")).as("cos"))
  }

  /** LSH-bucketed ANN: exact cosine rerank *within* buckets only.
    * Output: (qid, rank, nid, cos) for the top-k within each query's bucket.
    *
    * Shuffle shape (100 TB): the bucket self-join carries ONLY
    * (bucket, vid) — 16 bytes a row — never the vector payload; the full
    * vectors rejoin by id O(candidate pairs) afterwards, the same
    * candidates-then-rerank split as [[Dedup.lshNearDupPairs]]. The naive
    * form (vectors embedded in both self-join sides) shuffles 2×dims×4
    * bytes per candidate pair, which at 10^9 rows × 1k-dim embeddings is
    * the job's whole budget.
    */
  def lshTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int,
      dims: Int,
      k: Int): DataFrame = {
    val vecs = corpus
      .select(col(idCol).cast("long").as("vid"), col(vecCol).as("vec"))
    val buckets = lshBucketsKernel(corpus, idCol, vecCol, planes, dims)
      .withColumnRenamed(idCol, "vid")
      .select(col("vid").cast("long").as("vid"), col("bucket"))
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    // id-only candidate pairs: one bucket per vid (single-table LSH), so
    // no distinct is needed — each (qid, nid) appears at most once.
    val cands = a
      .join(b, col("a.bucket") === col("b.bucket") && col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("qid"), col("b.vid").as("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    cands
      .join(vecs.select(col("vid").as("qid"), col("vec").as("qvec")), "qid")
      .join(vecs.select(col("vid").as("nid"), col("vec").as("nvec")), "nid")
      .select(col("qid"), col("nid"), cosineFast(corpus, col("qvec"), col("nvec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"), col("cos"))
  }

  /** k-NN majority-vote classification: each query labeled by the
    * majority label among its k nearest corpus neighbors (exact cosine,
    * [[bruteForceTopK]]'s tie discipline), vote ties to the SMALLEST
    * label — total order, so the prediction is deterministic. The
    * label-propagation baseline for weak labeling / dataset bootstrap
    * (assign a new doc the label of what it sits next to).
    *
    * Scale shape: the neighbor search is the pluggable part, and the
    * route guard plugs it — a bounded query set broadcasts over one
    * corpus scan (exact), a corpus-scale one takes the integer-IVF
    * candidate path (same (qid, nid) contract). The vote adds one
    * |queries|·k-row aggregate either way.
    *
    * Output: `(qid, label_pred, votes)`.
    */
  def knnClassify(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      route: AnnRoute = AnnRoute()): DataFrame = {
    val top = topKRouted(corpus, queries, idCol, vecCol, k, route)
    val labels = corpus.select(col(idCol).as("nid"), col(labelCol).as("_lbl"))
    val votes = top.join(labels, "nid")
      .groupBy(col("qid"), col("_lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("_lbl"))
    votes
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .select(col("qid"), col("_lbl").as("label_pred"), col("votes"))
  }

  /** Hard-negative mining for contrastive training (DPR/Contriever
    * recipe): for each query, the k most-similar corpus items whose
    * label DIFFERS from the query's — maximally confusable negatives,
    * which train retrievers orders of magnitude better than random ones.
    * Exact cosine, ranks among the negatives only, [[bruteForceTopK]]'s
    * tie discipline.
    *
    * Scale shape: a bounded query set broadcasts with its labels riding
    * along over one corpus scan (exact); a corpus-scale one takes the
    * integer-IVF candidate path — candidates filter by label BEFORE the
    * rank cut (via [[ivfIntScored]], the pre-cut seam), so the routed
    * result is "k most-similar label-differing CANDIDATES", missing only
    * negatives outside the probed cells (pinned by the routed recall
    * gate).
    *
    * Output: `(qid, rank, nid, cos)` — the per-query negative set.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      route: AnnRoute = AnnRoute()): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val scored =
      if (exceeds(queries, route.maxBruteForceQueries)) {
        val nl = corpus.select(
          col(idCol).cast("long").as("nid"), col(labelCol).as("nlbl"))
        val ql = queries.select(
          col(idCol).cast("long").as("qid"), col(labelCol).as("qlbl"))
        ivfIntScored(corpus, queries, idCol, vecCol,
            route.nCells, route.nProbe, route.iterations)
          .join(nl, "nid")
          .join(ql, "qid")
          .filter(col("nlbl") =!= col("qlbl"))
          .select(col("qid"), col("nid"), col("cos"))
      } else {
        val c = corpus.select(
          col(idCol).as("nid"), col(vecCol).as("nvec"), col(labelCol).as("nlbl"))
        val q = queries.select(
          col(idCol).as("qid"), col(vecCol).as("qvec"), col(labelCol).as("qlbl"))
        c.crossJoin(broadcast(q))
          .filter(col("qid") =!= col("nid") && col("nlbl") =!= col("qlbl"))
          .select(col("qid"), col("nid"),
            cosineFast(corpus, col("qvec"), col("nvec")).as("cos"))
      }
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"), col("cos"))
  }
}
