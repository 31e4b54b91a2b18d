package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Product quantization over int8-quantized embeddings (north-star
  * extension): the MEMORY-BOUNDED ANN representation for corpora whose
  * float vectors don't fit the serving tier — each d-dim vector
  * compresses to `m` sub-vector codes (one byte each at ksub ≤ 256),
  * a 4·d/m ratio over float32 (64-dim → 2 codes = 128x in the gated
  * demo; production 768-dim/96 codes = 32x). Queries score against the
  * codes by asymmetric distance computation (ADC): one ksub-entry
  * lookup table per subspace per query, then a table-lookup sum per
  * corpus vector — no corpus float vector is ever touched at serve
  * time. Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011.
  *
  * All-INTEGER determinism (the same contract as [[Clustering]], whose
  * per-subspace Lloyd this composes): inputs are int8-quantized vectors
  * ([[Quantize.quantizeInt8]]), codebooks are exact-integer-mean Lloyd
  * centroids, code assignment is an exact-long argmin (ties to the
  * lowest code id), and the ADC score is an exact long sum of integer
  * squared distances — bit-identical across engines, retries, and
  * partitionings, so the whole fit → encode → serve path replays in the
  * DuckDB oracle. (PQ on per-vector-scale int8 scores the
  * max-normalized space — the scale-invariance cosine has; the gated
  * recall-vs-exact pin quantifies the approximation.)
  *
  * Scale shape:
  *   - FIT runs `m` independent integer k-means (bounded driver loop;
  *     each iteration shuffles ≤ ksub·(d/m) rows per partition with
  *     map-side combine — [[Clustering]]'s story per subspace).
  *   - ENCODE is scan-local: all m codebooks collapse to ONE broadcast
  *     row (m·ksub·(d/m) = ksub·d longs) and every vector's m argmins
  *     fold inside its own row projection. One pass, no shuffle.
  *   - SERVE joins the bounded query set (with per-query LUTs riding
  *     along, m·ksub longs each) against the CODES table — the per-row
  *     payload is m bytes of codes, never d floats; the only
  *     corpus-sized work is the per-query top-k window, the same shape
  *     as [[Similarity.bruteForceTopK]] at 1/128th the row width.
  */
object PQ {

  /** Train per-subspace codebooks: (sub, cid, c) — `m`·`ksub` rows, `c`
    * an array<long> of `dims/m` entries. `quantized` must carry
    * (idCol, vecCol) with integer-valued vector cells (e.g.
    * [[Quantize.quantizeInt8]]'s qvec). Seeds per subspace are the
    * ksub lowest ids (Clustering's deterministic rule).
    */
  def pqFit(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int,
      ksub: Int,
      iterations: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(ksub >= 1 && ksub <= 256, s"ksub=$ksub out of (0, 256]")
    val dsub = dims / m
    // ONE fused Lloyd over (sub, cid) keys instead of m sequential
    // per-subspace k-means loops. Bit-identical by construction: every
    // subspace's row set shares the SAME id column, so the per-subspace
    // seeds (the ksub lowest ids — Clustering's deterministic rule) are
    // the same ids in every subspace and come from ONE TakeOrdered; the
    // per-row argmin folds over only that row's own subspace centroids
    // (same exact-long arithmetic, same lowest-cid ties); the update is
    // an exact integer mean per (sub, cluster, pos) — disjoint groups,
    // same sums. What changes is the JOB count: m·(iterations+1)
    // checkpointed Lloyd stages collapse to (iterations+1) — at the
    // production m = 8–16 that is the difference between ~50 driver
    // round-trips and ~3 (each all-subspace round shuffles m× the rows
    // of one subspace round, but ≤ m·ksub·dsub = ksub·dims combine
    // cells per partition — the same map-side bound as before).
    val subs = Checkpoints.truncate(
      quantized.select(
        col(idCol).cast("long").as("id"),
        posexplode(array((0 until m).map { j =>
          slice(transform(col(vecCol), _.cast("long")), j * dsub + 1, dsub)
        }: _*)).as(Seq("sub", "v")))
        .select(col("id"), col("sub").cast("long").as("sub"), col("v")))
    // Seeds: the ksub lowest ids, each contributing its m sub-vectors —
    // cid 0..ksub-1 in id order within every subspace.
    val w = Window.partitionBy(col("sub")).orderBy(col("id"))
    var books = Checkpoints.truncate(
      subs
        .join(broadcast(
          quantized.select(col(idCol).cast("long").as("id")).orderBy("id").limit(ksub)),
          "id")
        .select(col("sub"), (row_number().over(w) - 1).cast("long").as("cid"),
          col("v").as("c")))
    var iter = 0
    while (iter < iterations) {
      // Scan-local assignment: all m·ksub centroids collapse to ONE
      // broadcast row. The hot path stays the codegen'd
      // graft_kmeans_assign kernel (Clustering's assignment discipline:
      // cid = row index because cids are 0..ksub-1 by construction) —
      // the per-sub flattened codebook is an O(1) element_at on the
      // broadcast row, so fusing subspaces does not trade codegen away.
      val assigned = subs
        .crossJoin(broadcast(perSubBooks(books, m))) // exactly one row — justified hint
        .select(col("sub"), col("v"),
          element_at(
            Graft.kernel(quantized.sparkSession, "graft_kmeans_assign", col("v"),
              element_at(col("_css"), col("sub").cast("int") + 1)),
            1).as("cluster"))
      val dims2 = assigned
        .select(col("sub"), col("cluster"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy("sub", "cluster", "pos")
        .agg(sum("val").as("sv"), count(lit(1)).as("cnt"))
        .select(col("sub"), col("cluster"), col("pos"), expr("sv div cnt").as("m"))
      val rebuilt = dims2
        .groupBy("sub", "cluster")
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("c"))
        .select(col("sub"), col("cluster").as("cid"), col("c"))
      // Empty clusters keep their previous centroid (Clustering's rule).
      val next = Checkpoints.truncate(
        books
          .select(col("sub"), col("cid"), col("c").as("oc"))
          .join(rebuilt, Seq("sub", "cid"), "left")
          .select(col("sub"), col("cid"), coalesce(col("c"), col("oc")).as("c")))
      Checkpoints.unpersist(books)
      books = next
      iter += 1
    }
    Checkpoints.unpersist(subs)
    books
  }

  /** Encode every vector to its m codes: (idCol, codes array<long>).
    * Scan-local — the codebooks broadcast as one packed row and each
    * row's m argmins evaluate inside its projection.
    */
  def pqEncode(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dims: Int,
      m: Int): DataFrame = {
    val dsub = dims / m
    // Corpus-scale argmin: ride the codegen'd graft_kmeans_assign kernel
    // (pqFit's assignment discipline — r17, guide §4/§2.3): the
    // interpreted argminCode HOF fold ran m·ksub·dsub interpreted ops
    // per corpus row inside an otherwise-codegen projection. Equivalence:
    // the flattened per-subspace codebook row lists centroids in cid
    // order (array_sort by (sub, cid)), so the kernel's argmin INDEX is
    // the code, and its strict-< first-wins tie rule is argminCode's
    // lowest-cid rule ([[pqEncodeDeclarative]] is the equivalence oracle).
    // ONE long-cast pass over the vector (the cast transform is an
    // interpreted HOF; the old spelling re-ran it once per subspace),
    // and none at all when the column is already array<bigint> (the
    // ivfPqTopK residual path).
    val alreadyLong = quantized.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    val vl = if (alreadyLong) col(vecCol) else transform(col(vecCol), _.cast("long"))
    val codes = (0 until m).map { j =>
      element_at(
        Graft.kernel(quantized.sparkSession, "graft_kmeans_assign",
          slice(col("_vl"), j * dsub + 1, dsub),
          element_at(col("_css"), j + 1)),
        1)
    }
    quantized
      .crossJoin(broadcast(perSubBooks(codebooks, m))) // exactly one row — justified hint
      .withColumn("_vl", vl)
      .select(col(idCol), array(codes: _*).as("codes"))
  }

  /** The m per-subspace codebooks as ONE row `_css`: element j + 1 is
    * subspace j's centroids flattened in cid order, the layout
    * `graft_kmeans_assign` reads (its argmin index is then the cid).
    */
  private def perSubBooks(codebooks: DataFrame, m: Int): DataFrame =
    codebooks
      .agg(array_sort(collect_list(struct(col("sub"), col("cid"), col("c"))))
        .as("_all"))
      .select(transform(
        sequence(lit(0L), lit((m - 1).toLong)),
        j => flatten(transform(
          filter(col("_all"), b => b.getField("sub") === j),
          b => b.getField("c")))).as("_css"))

  /** The interpreted argminCode twin of [[pqEncode]], kept only as the
    * kernel's equivalence oracle in specs.
    */
  private[graft] def pqEncodeDeclarative(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dims: Int,
      m: Int): DataFrame = {
    val dsub = dims / m
    val packed = packedBooks(codebooks)
    val codes = (0 until m).map { j =>
      argminCode(
        slice(transform(col(vecCol), _.cast("long")), j * dsub + 1, dsub),
        filter(col("_books"), b => b.getField("sub") === j))
    }
    quantized
      .crossJoin(broadcast(packed)) // exactly one row — justified hint
      .select(col(idCol), array(codes: _*).as("codes"))
  }

  /** ADC top-k: (qid, rank, nid, adist) — for each query, the k corpus
    * codes with the smallest table-lookup distance sum (exact longs;
    * ties to the lowest nid). `queries` carries quantized query vectors
    * (bounded set — it broadcasts with its LUTs).
    */
  def pqTopK(
      codes: DataFrame,
      idCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codebooks: DataFrame,
      dims: Int,
      m: Int,
      k: Int): DataFrame = {
    val dsub = dims / m
    val packed = packedBooks(codebooks)
    // Per-query LUT: for subspace j, the ksub exact distances from the
    // query's j-th sub-vector to that subspace's centroids (cid order).
    val luts = (0 until m).map { j =>
      val qsub = slice(transform(col(qVecCol), _.cast("long")), j * dsub + 1, dsub)
      transform(
        filter(col("_books"), b => b.getField("sub") === j),
        b => sqDistL(qsub, b.getField("c")))
    }
    val q = queries
      .crossJoin(broadcast(packed)) // exactly one row — justified hint
      .select(col(qIdCol).cast("long").as("qid"), array(luts: _*).as("_lut"))
    // Bounded query set joins the m-byte-wide codes table; adist is m
    // integer lookups summed — never a vector op at serve time.
    val adist = (0 until m)
      .map(j => element_at(
        element_at(col("_lut"), j + 1),
        element_at(col("codes"), j + 1).cast("int") + 1))
      .reduce(_ + _)
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
    codes
      .select(col(idCol).cast("long").as("nid"), col("codes"))
      .crossJoin(broadcast(q)) // bounded query set — justified hint
      .filter(col("nid") =!= col("qid"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("adist"))
  }

  /** IVF-PQ end to end (the production billion-vector layout: coarse
    * cells prune the corpus, RESIDUAL product codes score the survivors):
    * integer k-means partitions the corpus into `nCells`; each vector
    * stores only its cell id + the m-byte PQ code of its RESIDUAL
    * (vector − cell centroid) — residual coding centers every cell's
    * distribution at the origin, so one shared codebook covers all cells
    * (the classic Jégou IVFADC design). A query probes its `nProbe`
    * nearest cells and scores candidates by ADC over the QUERY residual
    * against that cell's centroid.
    *
    * All arithmetic stays exact-integer (int8 quantize → integer coarse
    * Lloyd → long residuals in [−254, 254] → integer sub-Lloyd → long
    * ADC), so the full pipeline replays in the DuckDB oracle like
    * [[pqTopK]] and [[Similarity.ivfIntTopK]].
    *
    * Scale shape: coarse fit + per-subspace fits are bounded Lloyd loops;
    * residuals and codes compute scan-locally against ONE broadcast
    * centroid/codebook row each; at serve time the probe table is
    * (queries × nProbe) rows with an m·ksub-long LUT per row (AQE
    * broadcasts it), joined on the CELL id against m-byte code rows — the
    * corpus contributes only probed-cell candidates, never a vector.
    * Output: (qid, rank, nid, adist).
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      nProbe: Int,
      dims: Int,
      m: Int,
      ksub: Int,
      k: Int,
      iterations: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, s"nProbe=$nProbe out of [1, $nCells]")
    val qz = Quantize.quantizeInt8(corpus, idCol, vecCol)
    val (assigned, centroids) =
      Clustering.kmeansIntModel(qz, idCol, "qvec", nCells, iterations)
    // Residual table: one scan-local zip against the (broadcast) cell
    // centroid — each corpus row keeps (cell, residual) only.
    // Truncated once: pqFit re-reads it m times (one sub-Lloyd per
    // subspace, each a multi-round loop), then encode and the cell join
    // read it twice more — without the cut, every one of those replays
    // the quantize → assign → centroid-join DAG from the scan.
    val res = Checkpoints.truncate(assigned
      .select(col(idCol), col("cluster"))
      .join(qz.select(col(idCol), transform(col("qvec"), _.cast("long")).as("_v")), idCol)
      .join(broadcast(centroids), col("cluster") === col("cid")) // nCells rows — justified hint
      .select(
        col(idCol),
        col("cluster").as("cell"),
        zip_with(col("_v"), col("c"), (a, b) => a - b).as("_rv")))
    val books = pqFit(res, idCol, "_rv", dims, m, ksub, iterations)
    val codes = pqEncode(res, idCol, "_rv", books, dims, m)
      .join(res.select(col(idCol), col("cell")), idCol)
    // Query side: quantize (row-local, agrees with the corpus geometry),
    // probe the nProbe nearest cells exactly, carry the per-cell query
    // residual, and precompute the per-(query, cell) ADC lookup tables.
    val qq = Quantize.quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).cast("long").as("qid"),
        transform(col("qvec"), _.cast("long")).as("qv"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("d"), col("cid"))
    val probed = qq
      .crossJoin(broadcast(centroids)) // nCells rows — justified hint
      .select(col("qid"), col("cid"),
        sqDistL(col("qv"), col("c")).as("d"),
        zip_with(col("qv"), col("c"), (a, b) => a - b).as("qres"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select(col("qid"), col("cid").as("cell"), col("qres"))
    val dsub = dims / m
    val packed = packedBooks(books)
    val luts = (0 until m).map { j =>
      val qsub = slice(col("qres"), j * dsub + 1, dsub)
      transform(
        filter(col("_books"), b => b.getField("sub") === j),
        b => sqDistL(qsub, b.getField("c")))
    }
    val probeLut = probed
      .crossJoin(broadcast(packed)) // exactly one row — justified hint
      .select(col("qid"), col("cell"), array(luts: _*).as("_lut"))
    val adist = (0 until m)
      .map(j => element_at(
        element_at(col("_lut"), j + 1),
        element_at(col("codes"), j + 1).cast("int") + 1))
      .reduce(_ + _)
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
    codes
      .select(col(idCol).cast("long").as("nid"), col("cell"), col("codes"))
      .join(probeLut, "cell") // (queries × nProbe)-row side — AQE broadcasts
      .filter(col("nid") =!= col("qid"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("adist"))
  }

  /** All m codebooks as ONE row: `_books` = array of (sub, cid, c)
    * structs sorted by (sub, cid) — so `filter(sub = j)` yields the
    * j-th subspace's centroids in cid order and positional indexing is
    * code order.
    */
  private def packedBooks(codebooks: DataFrame): DataFrame =
    codebooks.agg(
      array_sort(collect_list(struct(col("sub"), col("cid"), col("c")))).as("_books"))

  /** Exact-long argmin over a (sorted-by-cid) centroid struct array:
    * strict `<` keeps the first (lowest-cid) minimum.
    */
  private def argminCode(sub: Column, books: Column): Column =
    aggregate(
      books,
      struct(lit(Long.MaxValue).as("d"), lit(-1L).as("cid")),
      (acc, b) => {
        val d = sqDistL(sub, b.getField("c"))
        when(d < acc.getField("d"), struct(d.as("d"), b.getField("cid").as("cid")))
          .otherwise(acc)
      }).getField("cid")

  private def sqDistL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
}
