package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

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
  * Scale shape: the round state — the k·d-long centroid table — lives on
  * the driver ([[lloyd]], shared with [[PQ.pqFit]]):
  *   - SEEDS are one ordered `limit(k)` collect: the vectors of the k
  *     lowest ids, centroid ids 0..k-1 in id order (deterministic —
  *     k-means++ trades reproducibility for quality; callers wanting it
  *     can pass better-seeded data ids).
  *   - A ROUND is one assign-and-aggregate query: the codegen'd
  *     `graft_kmeans_assign` argmin runs scan-locally against the table as
  *     a plan literal, and the posexploded
  *     `(cluster, pos)` sums combine map-side, so at most k·d
  *     `(sum, count)` rows cross the shuffle per partition and reach the
  *     driver. The driver applies the `sum div count` mean (truncation
  *     toward zero, as Spark's `div` and DuckDB's `//`) and the
  *     empty-cluster rule (an empty cluster keeps its previous centroid;
  *     the oracle replays the same rule).
  *   - Nothing is checkpointed, packed, broadcast or joined per round; the
  *     input projection is cached for the loop. This is safe at 100 TB: a
  *     broadcast centroid row already passed the same k·d longs through
  *     the driver every round, and driver-held state survives executor
  *     loss without `spark.graft.checkpoint.mode=reliable` — a lost
  *     executor only recomputes its share of the round query from lineage.
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
    val (vecs, cents) = fit(df, idCol, vecCol, k, iterations)
    assign(vecs, cents).select(col("id").as(idCol), col("cluster"), col("sqdist"))
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
    val spark = df.sparkSession
    import spark.implicits._
    val cents = fit(df, idCol, vecCol, k, iterations)._2
    cents.indices.map(i => (i.toLong, cents(i).toSeq)).toDF("cid", "c")
  }

  /** `(vecs, centroids)`: `vecs` is the `(id, v)` projection every plan of
    * the fit reads (`v` array<bigint>), `centroids(cid)` the trained
    * centroid, on the driver — one fit serves both the cell-assigned
    * corpus ([[assign]]) and query-side probing ([[probe]]).
    */
  private[ops] def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): (DataFrame, Array[Array[Long]]) = {
    // Deliberately NOT Par.spread here: the argmin is a cheap codegen'd
    // kernel, and a widened layout taxes every round and every consumer
    // (ns95 ivfpq 3.9 → 5.1 s at sf0.1); the silhouette widens its own read.
    val vecs = longVecs(df, idCol, vecCol)
    (vecs, lloyd(vecs, k, 1, 0, iterations)(0))
  }

  /** `(id, v)` with `v` cast to array<bigint> (a codegen'd array cast). */
  private[ops] def longVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(vecCol).cast(LongArray).as("v"))

  private[ops] val LongArray = ArrayType(LongType)

  /** The integer Lloyd loop shared by [[kmeansInt]] and [[PQ.pqFit]]:
    * `books(j)(cid)` is subspace j's centroid `cid`. With m = 1 the whole
    * vector `v` is clustered; with m > 1, subspace j is the slice
    * `[j·dsub, (j+1)·dsub)` of `v` and the m problems share every round's
    * scan. Seeds are the (sub-)vectors of the k lowest ids, cid 0..k−1 in
    * id order, from ONE ordered collect. A round assigns each
    * (sub-)vector to its nearest centroid (exact-long argmin, lowest-cid
    * ties), collects the ≤ k·d `(cluster, pos, sum, count)` rows and sets
    * each centroid to the `sum div count` mean; clusters that drew no
    * vector keep their centroid.
    *
    * `vecs` is cached (not checkpointed) for the loop, so rounds re-read
    * it without re-running its plan, and a lost block recomputes from
    * lineage.
    */
  private[ops] def lloyd(
      vecs: DataFrame,
      k: Int,
      m: Int,
      dsub: Int,
      iterations: Int): Array[Array[Array[Long]]] = {
    require(k > 0, "k must be positive")
    require(iterations >= 0, "negative iterations")
    if (iterations > 0) vecs.persist()
    try {
      val seeds = vecs.orderBy("id").limit(k).select("v").collect()
        .map(_.getSeq[Long](0).toArray)
      // A narrower vector's sub-vectors would not line up with the m slices.
      if (m > 1) require(seeds.forall(_.length == m * dsub),
        s"vectors must be ${m * dsub} wide, got widths ${seeds.map(_.length).distinct.mkString(",")}")
      var books =
        if (m == 1) Array(seeds)
        else Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
      val cluster =
        if (m == 1) col("_cd").getItem(0)
        else element_at(col("_cd"), (col("pos") / dsub).cast("int") + 1) // pos >= 0: floor
      var iter = 0
      while (iter < iterations) {
        // Codes in their own select: beside a generator they would be
        // evaluated once per EXPLODED row (ExtractGenerator projects the
        // other expressions after the Generate).
        val sums = vecs
          .select(codes(vecs.sparkSession, col("v"), books, dsub).as("_cd"), col("v"))
          .select(col("_cd"), posexplode(col("v")).as(Seq("pos", "val")))
          .groupBy(cluster.as("cluster"), col("pos"))
          .agg(sum("val").as("sv"), count(lit(1)).as("cnt"))
          .collect()
        val next = books.map(_.clone)
        sums.groupBy(r => (if (m == 1) 0 else r.getInt(1) / dsub, r.getLong(0))).foreach {
          case ((j, cid), rows) =>
            val off = j * dsub
            val c = new Array[Long](rows.map(_.getInt(1)).max - off + 1)
            // Exact integer mean: Long `/` truncates toward zero, as `div`.
            rows.foreach(r => c(r.getInt(1) - off) = r.getLong(2) / r.getLong(3))
            next(j)(cid.toInt) = c
        }
        books = next
        iter += 1
      }
      books
    } finally if (iterations > 0) vecs.unpersist(blocking = false)
  }

  /** The m sub-vectors of `v` (the whole vector when m = 1). */
  private[ops] def subVectors(v: Column, m: Int, dsub: Int): Seq[Column] =
    if (m == 1) Seq(v) else (0 until m).map(j => slice(v, j * dsub + 1, dsub))

  /** array<bigint> of m codes: element j is the cid of sub-vector j's
    * nearest centroid in `books(j)`.
    */
  private[ops] def codes(
      spark: SparkSession, v: Column, books: Array[Array[Array[Long]]], dsub: Int): Column =
    array(subVectors(v, books.length, dsub).zip(books).map { case (sv, b) =>
      element_at(argmin(spark, sv, b), 1)
    }: _*)

  /** `graft_kmeans_assign(v, centroids)`: `[cid, sqdist]` of the nearest
    * centroid, the table passed as one literal flattened row-major in cid
    * order (the kernel's argmin index is then the cid).
    */
  private[ops] def argmin(spark: SparkSession, v: Column, cents: Array[Array[Long]]): Column =
    Graft.kernel(spark, "graft_kmeans_assign", v, typedLit(cents.flatten))

  /** `(qid, qv, cell, c)`: each query `(qid, qv)` against its `nProbe`
    * nearest centroids `c` (exact squared L2, ties to the lowest cell).
    */
  private[ops] def probe(queries: DataFrame, cents: Array[Array[Long]], nProbe: Int): DataFrame =
    queries
      .select(col("qid"), col("qv"), posexplode(typedLit(cents)).as(Seq("cell", "c")))
      .withColumn("cell", col("cell").cast("long"))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(sqDist(col("qv"), col("c")), col("cell"))))
      .filter(col("pr") <= nProbe)

  /** Scan-local assignment: `(id, v, cluster, sqdist)`, the argmin of
    * each vector against the driver-held centroids (ties to the lowest
    * cid).
    */
  private[ops] def assign(vecs: DataFrame, cents: Array[Array[Long]]): DataFrame =
    vecs
      .withColumn("best", argmin(vecs.sparkSession, col("v"), cents))
      .select(
        col("id"),
        col("v"),
        element_at(col("best"), 1).as("cluster"),
        element_at(col("best"), 2).as("sqdist"))

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
    * driver-held centroid table — ties to the lowest cid, matching the
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
    // The two-min scoring fold is an interpreted HOF chain (k nested
    // sqDist folds per row — no codegen kernel), which serialized the
    // whole gate on 1–2 input blocks in the r13 dumps (ns229: one 5.2 s
    // pipeline). Widen THIS read only — fit's projection stays narrow for
    // the cheap codegen consumers (the ns95 lesson). fanout: ~k·(3d ops +
    // array alloc) per ~8·d input bytes through interpreted eval ≈ 500×
    // scan-equivalent at k = 8, d = 64 (measured ~1.2 s single-task over
    // ~550 KB of vector blocks at sf0.1).
    val (vecs, cents) = fit(df, idCol, vecCol, k, iterations)
    val scored = transform(typedLit(cents),
      (c, i) => struct(sqDist(col("v"), c).as("d"), i.cast("long").as("cid")))
    Par.spread(vecs, fanout = 500)
      .withColumn(
        "best",
        aggregate(
          scored,
          struct(lit(Long.MaxValue).as("d1"), lit(-1L).as("c1"),
            lit(Long.MaxValue).as("d2")),
          (acc, s) => {
            val d = s.getField("d")
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
