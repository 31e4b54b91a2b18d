package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Distributed k-means over QUANTIZED INTEGER vectors (north-star
  * extension): the semantic-clustering primitive behind corpus
  * organization, cluster-then-dedup pruning, and IVF-style partitioning —
  * run on int8-quantized embeddings ([[Quantize.quantizeInt8]]) so that
  * EVERY arithmetic step is exact integer math.
  *
  * Why integer k-means: float Lloyd iterations are not reproducible — the
  * centroid update is a shuffle-order-dependent double sum, so two runs of
  * the same job on the same data can assign boundary points differently.
  * In the integer domain, distances are exact long sums, the centroid
  * update is an exact integer mean (`sum div count`, truncation toward
  * zero — identical in Spark and DuckDB), and ties break to the lowest
  * centroid id: the result is a pure function of the input, bit-identical
  * across cluster sizes, retries, and engines. (Clustering int8-quantized
  * vectors clusters the per-vector max-normalized space — the same
  * scale-invariance cosine similarity has; quantization noise vs float
  * k-means is bounded by the int8 step.)
  *
  * Scale shape per iteration:
  *   - ASSIGNMENT is scan-local: the k centroids collapse to ONE broadcast
  *     row (k·d longs), and the argmin folds over that array inside the
  *     row projection — no shuffle, no n×k row blow-up.
  *   - UPDATE posexplodes (cluster, pos, val) with map-side combine, so
  *     the shuffle carries at most k·d rows PER PARTITION (never n·d);
  *     the new centroid array reassembles from k·d aggregated rows.
  *   - Quantized vectors are checkpointed once via [[Checkpoints.truncate]]
  *     (they are re-scanned every iteration; int8 inputs make this 4x
  *     cheaper than float — `spark.graft.checkpoint.mode=reliable` swaps
  *     every round to an executor-loss-safe reliable checkpoint).
  * Initial centroids are the vectors of the k lowest ids (deterministic
  * seed — k-means++ trades reproducibility for quality; callers wanting it
  * can pass better-seeded data ids). Empty clusters keep their previous
  * centroid (documented; the oracle replays the same rule).
  */
object Clustering {

  /** Cluster integer vectors: returns `(idCol, cluster, sqdist)` — the
    * assignment against the centroids after `iterations` Lloyd rounds,
    * with the exact squared L2 distance.
    */
  def kmeansInt(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): DataFrame = {
    val (vecs, centroids) = fit(df, idCol, vecCol, k, iterations)
    // vecs/centroids stay checkpointed: the returned plan reads them and a
    // truncated lineage cannot recompute (same rule as connectedComponents'
    // final round).
    assign(vecs, centroids)
      .select(col("id").as(idCol), col("cluster"), col("sqdist"))
  }

  /** The centroids after `iterations` rounds: `(cid, c)` with `c` an
    * array<long> of the same dimensionality as the input.
    */
  def kmeansIntCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): DataFrame = {
    val (vecs, centroids) = fit(df, idCol, vecCol, k, iterations)
    // The caller gets centroids only — release the checkpointed input
    // (k·d centroid rows stay pinned; the n·d vector block must not).
    Checkpoints.unpersist(vecs)
    centroids
  }

  /** One fit, both outputs: `(assignments, centroids)` — the coarse-
    * quantizer shape [[Similarity.ivfIntTopK]] needs (cell-assigned corpus
    * AND the centroid table for query-side probing) without paying Lloyd
    * twice.
    */
  def kmeansIntModel(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): (DataFrame, DataFrame) = {
    val (vecs, centroids) = fit(df, idCol, vecCol, k, iterations)
    // Materialize the assignment and RELEASE the n·d quantized-vector
    // blocks: only the assignment (3 longs/row, checkpointed) and the
    // tiny k·d centroid table stay pinned. Without this, every model fit
    // (e.g. each ivfIntTopK serving call) would leave a full vector block
    // set in executor storage for the session's lifetime — the same
    // per-call leak pageRankInt sheds after its loop.
    val assigned = Checkpoints.truncate(
      assign(vecs, centroids).select(col("id").as(idCol), col("cluster"), col("sqdist")))
    Checkpoints.unpersist(vecs)
    (assigned, centroids)
  }

  private def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): (DataFrame, DataFrame) = {
    require(k > 0, "k must be positive")
    require(iterations >= 0, "negative iterations")
    // Deliberately NOT Par.spread here: the assignment argmin is the
    // codegen'd graft_kmeans_assign kernel (cheap per byte), and the
    // checkpointed layout feeds EVERY downstream consumer — the IVF/PQ ladder runs
    // dozens of tiny stages over these blocks, and baking a widened
    // layout into the checkpoint charged each of them the extra task
    // fan-out (measured: ns95 ivfpq 3.9 → 5.1 s isolated at sf0.1 from
    // exactly this). The one genuinely interpreted heavy consumer — the
    // silhouette scoring fold — widens its OWN read of the checkpoint.
    val vecs = Checkpoints.truncate(
      df.select(
        col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("long")).as("v")))
    // Deterministic seed: the k lowest ids, centroid ids 0..k-1 in id order.
    val w = Window.orderBy(col("id"))
    var centroids = Checkpoints.truncate(
      vecs
        .orderBy("id")
        .limit(k)
        .select((row_number().over(w) - 1).cast("long").as("cid"), col("v").as("c")))
    var iter = 0
    while (iter < iterations) {
      val assigned = assign(vecs, centroids)
      // Exact integer mean per (cluster, dimension): sum div count is
      // truncation toward zero in BOTH Spark and DuckDB — deterministic.
      val dims = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy("cluster", "pos")
        .agg(sum("val").as("sv"), count(lit(1)).as("cnt"))
        .select(col("cluster"), col("pos"), expr("sv div cnt").as("m"))
      val rebuilt = dims
        .groupBy("cluster")
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("c"))
        .withColumnRenamed("cluster", "cid")
      // Empty clusters keep their previous centroid.
      val next = Checkpoints.truncate(
        centroids
          .select(col("cid"), col("c").as("oc"))
          .join(rebuilt, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("c"), col("oc")).as("c")))
      Checkpoints.unpersist(centroids)
      centroids = next
      iter += 1
    }
    (vecs, centroids)
  }

  /** Scan-local assignment: the k centroids collapse to ONE broadcast row
    * and the codegen'd `graft_kmeans_assign` kernel runs the argmin per
    * input row (centroids flattened row-major; cid = row index because
    * centroid ids are 0..k-1 by construction). Ties break to the lowest
    * cid (strict `<` keeps the first minimum; the array is sorted by cid).
    */
  private def assign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val packed = centroids.agg(
      flatten(
        transform(
          array_sort(collect_list(struct(col("cid"), col("c")))),
          s => s.getField("c"))).as("cs"))
    vecs
      .crossJoin(broadcast(packed)) // exactly one row — justified hint
      .withColumn("best",
        Graft.kernel(vecs.sparkSession, "graft_kmeans_assign", col("v"), col("cs")))
      .select(
        col("id"),
        col("v"),
        element_at(col("best"), 1).as("cluster"),
        element_at(col("best"), 2).as("sqdist"))
  }

  /** Exact squared L2 distance between two long arrays (index-order fold —
    * integer adds are associative, the order is for clarity only).
    */
  private[ops] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  /** SIMPLIFIED silhouette over the integer k-means model (the
    * centroid-based variant: a = distance to the OWN centroid, b =
    * distance to the nearest OTHER centroid, s = (b − a)/max(a, b)) —
    * the clustering-quality number that is LINEAR in the corpus, where
    * the full silhouette's per-point neighbor means are O(n²) and die
    * first at scale. Both distances are exact integer squared-L2 over
    * the quantized vectors (hash-gated); s itself is two
    * correctly-rounded IEEE ops (sqrt, divide).
    *
    * Since the assignment IS the argmin over the same centroids, a is
    * the minimum and b the second minimum of one per-row fold over the
    * broadcast centroid array — ties to the lowest cid, matching the
    * k-means assignment discipline.
    *
    * Output: `(idCol, cluster, a2, b2, silhouette)` (s = 0 when b = 0 —
    * duplicate centroids).
    */
  def simplifiedSilhouette(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): DataFrame = {
    require(k >= 2, "silhouette needs k >= 2")
    // Reuse fit's checkpointed vector blocks for the scoring fold
    // instead of re-projecting df (spares a second scan); vecs stays
    // pinned (the returned plan reads the truncated lineage — the
    // kmeansInt rule). The two-min scoring fold is an interpreted HOF
    // chain (k nested sqDist folds per row — no codegen kernel), which
    // serialized the whole gate on the checkpoint's 1–2 blocks in the
    // r13 dumps (ns229: one 5.2 s pipeline over a 2-batch scan feeding
    // a BNLJ against the 1-row centroid broadcast). Widen THIS read
    // only — the checkpoint itself stays narrow for the cheap codegen
    // consumers (the ns95 lesson). fanout: ~k·(3d ops + array alloc)
    // per ~8·d input bytes through interpreted eval ≈ 500× scan-
    // equivalent at k = 8, d = 64 (measured ~1.2 s single-task over
    // ~550 KB of checkpointed blocks at sf0.1).
    val (vecs, centroids) = fit(df, idCol, vecCol, k, iterations)
    val packed = centroids.agg(
      array_sort(collect_list(struct(col("cid"), col("c")))).as("cs"))
    Par.spread(vecs, fanout = 500)
      .crossJoin(broadcast(packed)) // exactly one row — justified hint
      .withColumn(
        "best",
        aggregate(
          col("cs"),
          struct(lit(Long.MaxValue).as("d1"), lit(-1L).as("c1"),
            lit(Long.MaxValue).as("d2")),
          (acc, s) => {
            val d = sqDist(col("v"), s.getField("c"))
            when(d < acc.getField("d1"),
              struct(d.as("d1"), s.getField("cid").as("c1"),
                acc.getField("d1").as("d2")))
              .otherwise(when(d < acc.getField("d2"),
                struct(acc.getField("d1").as("d1"), acc.getField("c1").as("c1"),
                  d.as("d2")))
                .otherwise(acc))
          }))
      .select(
        col("id").as(idCol),
        col("best.c1").as("cluster"),
        col("best.d1").as("a2"),
        col("best.d2").as("b2"),
        when(col("best.d2") === 0L, lit(0.0))
          .otherwise(
            (sqrt(col("best.d2").cast("double")) - sqrt(col("best.d1").cast("double"))) /
              sqrt(col("best.d2").cast("double")))
          .as("silhouette"))
  }
}
