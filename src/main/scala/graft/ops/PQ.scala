package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *   - FIT is [[Clustering]]'s integer Lloyd loop over all m subspaces at
  *     once: the codebooks (ksub·d longs) live on the driver, every
  *     round is ONE assign-and-aggregate query whose ≤ ksub·d
  *     `(sum, count)` rows come back to the driver, and no round
  *     checkpoints, packs, broadcasts or joins a codebook. Safe at
  *     100 TB for [[Clustering]]'s reasons: a broadcast codebook passed
  *     the same longs through the driver, and driver-held state survives
  *     executor loss without reliable checkpoints.
  *   - ENCODE is scan-local: the codebooks ride the plan as literals and
  *     every vector's m argmins fold inside its own row projection. One
  *     pass, no shuffle.
  *   - SERVE joins the bounded query set (with per-query LUTs riding
  *     along, m·ksub longs each) against the CODES table — the per-row
  *     payload is m bytes of codes, never d floats; the only
  *     corpus-sized work is the per-query top-k window, the same shape
  *     as [[Similarity.bruteForceTopK]] at 1/128th the row width.
  *
  * Codebook contract (checked on the driver by [[pqEncode]], [[pqTopK]]
  * and [[ivfPqTopK]]): rows `(sub, cid, c)` with every `sub` in [0, m),
  * the cids of each subspace exactly 0..k−1, every `c` `dims/m` wide and
  * no null cell. Anything else raises `IllegalArgumentException`.
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
    val books = fitBooks(Clustering.longVecs(quantized, idCol, vecCol), dims, m, ksub, iterations)
    val spark = quantized.sparkSession
    import spark.implicits._
    (for ((book, j) <- books.zipWithIndex.toSeq; (c, cid) <- book.zipWithIndex)
      yield (j.toLong, cid.toLong, c.toSeq)).toDF("sub", "cid", "c")
  }

  /** The Lloyd fit on `(id, v)` rows: `books(sub)(cid)`. The m subspace
    * problems share [[Clustering.lloyd]]'s rounds — one scan each — and
    * their seeds: every subspace's rows share the id column, so the ksub
    * lowest ids come from ONE ordered collect and each contributes its m
    * sub-vectors, cid 0..ksub−1 in id order. Bit-identical to m separate
    * [[Clustering.kmeansIntCentroids]] runs on the slices: the argmin per
    * sub-vector folds over only that subspace's centroids and the update
    * groups are disjoint per subspace.
    */
  private def fitBooks(
      vecs: DataFrame,
      dims: Int,
      m: Int,
      ksub: Int,
      iterations: Int): Array[Array[Array[Long]]] = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(ksub >= 1 && ksub <= 256, s"ksub=$ksub out of (0, 256]")
    // Only the first `dims` elements are fitted — the ones pqEncode reads.
    Clustering.lloyd(vecs.select(col("id"), slice(col("v"), 1, dims).as("v")),
      ksub, m, dims / m, iterations)
  }

  /** Encode every vector to its m codes: (idCol, codes array<long>).
    * Scan-local — each row's m argmins run the codegen'd
    * `graft_kmeans_assign` kernel against its subspace's codebook, a
    * literal, so the argmin index is the code and its strict-< first-wins
    * rule is the lowest-cid tie rule (the specs' interpreted
    * `PqEncodeTwin` is the equivalence oracle). Only
    * (idCol, vecCol) are read, so caller columns cannot collide with
    * internal ones.
    */
  def pqEncode(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dims: Int,
      m: Int): DataFrame = {
    val books = checkedBooks(codebooks, dims, m)
    quantized
      .select(col(idCol).as("_id"), col(vecCol).cast(Clustering.LongArray).as("_vl"))
      .select(col("_id").as(idCol),
        Clustering.codes(quantized.sparkSession, col("_vl"), books, dims / m).as("codes"))
  }

  /** The collected codebooks, `books(sub)(cid)`, after the contract
    * checks (see the object doc).
    */
  private def checkedBooks(codebooks: DataFrame, dims: Int, m: Int): Array[Array[Array[Long]]] = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val rows = codebooks
      .select(col("sub").cast("long"), col("cid").cast("long"), col("c").cast(Clustering.LongArray))
      .collect()
    require(rows.forall(r => !r.anyNull && !r.getSeq[Any](2).contains(null)),
      "codebook has a null sub, cid, centroid or centroid element")
    val bySub = rows.groupBy(_.getLong(0))
    require(bySub.keys.forall(j => j >= 0 && j < m), s"codebook sub outside [0, $m)")
    require(rows.nonEmpty, "empty codebook")
    val k = bySub.values.map(_.length).max
    checkWidths(Array.tabulate(m) { j =>
      val book = bySub.getOrElse(j.toLong, Array.empty[Row]).sortBy(_.getLong(1))
      val cids = book.map(_.getLong(1))
      require(cids.sameElements(0L until k.toLong),
        s"subspace $j cids must be exactly 0..${k - 1}, got ${cids.mkString(",")}")
      book.map(_.getSeq[Long](2).toArray)
    }, dims / m)
  }

  /** `books`, after checking that every centroid is `dsub` wide. */
  private def checkWidths(
      books: Array[Array[Array[Long]]], dsub: Int): Array[Array[Array[Long]]] = {
    for ((book, j) <- books.zipWithIndex; (c, cid) <- book.zipWithIndex)
      require(c.length == dsub, s"subspace $j cid $cid is ${c.length} wide, not $dsub")
    books
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
    val books = checkedBooks(codebooks, dims, m)
    val q = queries.select(col(qIdCol).cast("long").as("qid"),
      luts(col(qVecCol).cast(Clustering.LongArray), books, dims / m).as("_lut"))
    adcTopK(
      codes
        .select(col(idCol).cast("long").as("nid"), col("codes"))
        .crossJoin(broadcast(q)), // bounded query set — justified hint
      m, k)
  }

  /** Per-query LUTs: element j is the ksub exact distances from the
    * query's j-th sub-vector to subspace j's centroids, in cid order.
    */
  private def luts(qv: Column, books: Array[Array[Array[Long]]], dsub: Int): Column =
    array(Clustering.subVectors(qv, books.length, dsub).zip(books).map { case (qsub, b) =>
      transform(typedLit(b), c => Clustering.sqDist(qsub, c))
    }: _*)

  /** The top-k cut over `(nid, codes, qid, _lut)` candidate pairs: adist
    * is m integer lookups summed — never a vector op at serve time.
    */
  private def adcTopK(cands: DataFrame, m: Int, k: Int): DataFrame = {
    val adist = (0 until m)
      .map(j => element_at(
        element_at(col("_lut"), j + 1),
        element_at(col("codes"), j + 1).cast("int") + 1))
      .reduce(_ + _)
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
    cands
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
    * Scale shape: coarse fit + per-subspace fits are bounded Lloyd loops
    * with driver-held state; residuals and codes compute scan-locally
    * against driver-side centroid/codebook constants; at serve time the
    * probe table is (queries × nProbe) rows with an m·ksub-long LUT per
    * row (AQE broadcasts it), joined on the CELL id against m-byte code
    * rows — the corpus contributes only probed-cell candidates, never a
    * vector.
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
    val (vecs, cells) = Clustering.fit(qz, idCol, "qvec", nCells, iterations)
    // Residual table: one scan-local projection against the driver-held
    // cell centroids — each corpus row keeps (cell, residual) only. Every
    // reader (the sub-Lloyd rounds, encode) replays it from the scan: no
    // join, no shuffle, no checkpoint.
    val res = Clustering.assign(vecs, cells)
      .select(col("id"), col("cluster").as("cell"),
        zip_with(col("v"), element_at(typedLit(cells), col("cluster").cast("int") + 1),
          (a, b) => a - b).as("v"))
    val dsub = dims / m
    val books = checkWidths(fitBooks(res, dims, m, ksub, iterations), dsub)
    val codes = res.select(col("id").as("nid"), col("cell"),
      Clustering.codes(qz.sparkSession, col("v"), books, dsub).as("codes"))
    // Query side: quantize (row-local, agrees with the corpus geometry),
    // probe the nProbe nearest cells exactly, carry the per-cell query
    // residual, and precompute the per-(query, cell) ADC lookup tables.
    val qq = Quantize.quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("qvec").cast(Clustering.LongArray).as("qv"))
    val probeLut = Clustering.probe(qq, cells, nProbe)
      .select(col("qid"), col("cell"),
        luts(zip_with(col("qv"), col("c"), (a, b) => a - b), books, dsub).as("_lut"))
    adcTopK(codes.join(probeLut, "cell"), m, k) // (queries × nProbe)-row side — AQE broadcasts
  }
}
