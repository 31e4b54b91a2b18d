package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding compression: symmetric per-vector int8 quantization
  * (north-star extension — the storage/shuffle-volume lever for ANN at
  * 100 TB: an int8 vector plus one float64 scale is ~4x smaller than the
  * float32 original, so candidate-join payloads, broadcast sides, and
  * at-rest embedding tables all shrink 4x; cosine ranking is
  * scale-invariant, so reranking over dequantized vectors preserves
  * ordering up to quantization noise — the recall-vs-float bound is
  * pinned in OpsSpec).
  *
  * Everything is scan-local (per-row `transform` over the vector, no
  * shuffle, no UDF): scale = max|v_i| / 127, q_i = round(v_i / scale)
  * clamped by construction to [-127, 127] (the max-|v| element maps to
  * exactly +/-127). Zero vectors quantize to all-zero with scale 0. The
  * dequantize twin is exact: q_i * scale, bit-deterministic on both
  * engines (double division, half-away-from-zero rounding, double
  * multiply — each an IEEE-exact op given identical inputs).
  */
object Quantize {

  /** Quantize `vecCol` (array<float>) to (scale: double, qvec:
    * array<tinyint>). Output: (idCol, scale, qvec).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // Deliberately NOT Par.spread here: quantize output is re-read by
    // several consumers in the ANN ladder (kmeans fit, the IVF-PQ
    // residuals, query-side probes), and a widening exchange at this seam is
    // paid once per re-execution while breaking scan-stage fusion —
    // measured a net LOSS (ns95 ivfpq 3.3 → 4.5 s isolated at sf0.1)
    // against a ~0.3 s win on the one gate whose quantize stage was the
    // bottleneck. Consumers that hold the widening decision (e.g.
    // the silhouette's scoring read) spread their OWN frame.
    df.select(col(idCol), col(vecCol).as("_v"))
      .withColumn(
        "scale",
        array_max(transform(col("_v"), x => abs(x.cast("double")))) / lit(127.0))
      .withColumn(
        "qvec",
        when(col("scale") === 0.0,
          transform(col("_v"), _ => lit(0).cast("byte")))
          .otherwise(
            transform(col("_v"), x => round(x.cast("double") / col("scale")).cast("byte"))))
      .select(col(idCol), col("scale"), col("qvec"))

  /** Exact dequantize twin: q_i * scale as array<double>. */
  def dequantizeInt8(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** Deterministic Johnson–Lindenstrauss SIGN projection (Achlioptas
    * 2003: a ±1 matrix preserves pairwise distances like a Gaussian one)
    * over the int8-quantized vectors: `proj_i = Σ_j sign(i,j)·q_j`,
    * where `sign(i,j)` is the PARITY of the repo's 60-bit md5 of
    * `"i|j"` — a pure public-hash derivation, so the whole reduced
    * embedding is replayable in SQL and EXACT (integer arithmetic end to
    * end; quantize first, then project — float dot products would be
    * association-order-dependent).
    *
    * The dimension-reduction front door of the ANN ladder: 64→16 cuts
    * every downstream distance computation 4× with JL-bounded
    * distortion, and the deterministic matrix means any executor, any
    * engine, any rerun builds the IDENTICAL projection — no fitted
    * state, no broadcast of learned weights.
    *
    * Scale shape: the matrix is outDim×inDim literal ints folded into
    * the plan (bounded model state); the projection is a scan-local
    * O(outDim·inDim) integer fold per row — zero shuffle.
    *
    * Output: `(idCol, scale, proj array<long>)` — one row per input row
    * with a NON-EMPTY vector. Rows whose `vecCol` is null or empty carry
    * no projectable mass and are DROPPED (the relational spelling
    * explodes the vector, so such rows contribute no positions); filter
    * or impute upstream if every id must survive.
    */
  def signProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      inDim: Int,
      outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1, "dims must be >= 1")
    val signs: Array[Array[Int]] = Array.tabulate(outDim, inDim) { (i, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$i|$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1 else -1
    }
    // RELATIONAL spelling, not a per-row HOF fold: the nested
    // transform(aggregate(zip_with(...))) form is interpreted (no
    // codegen) and cost the ns227 gate 24 s at sf0.1 for 5M lambda
    // evaluations. Exploding the quantized vector once and joining the
    // broadcast (out-dim, in-dim, sign) table keeps every operator
    // codegen'd with map-side-combined partial sums — identical output,
    // ~20× faster (the ns151 vectorizer lesson).
    val spark = df.sparkSession
    import spark.implicits._
    val signDim = signs.zipWithIndex
      .flatMap { case (row, i) => row.zipWithIndex.map { case (sg, j) => (i, j, sg.toLong) } }
      .toSeq.toDF("_i", "_j", "_sg")
    quantizeInt8(df, idCol, vecCol)
      .select(col(idCol), col("scale"), posexplode(col("qvec")).as(Seq("_j", "_qv")))
      .join(broadcast(signDim), "_j")
      .groupBy(col(idCol), col("scale"), col("_i"))
      .agg(sum(col("_qv").cast("long") * col("_sg")).as("_p"))
      .groupBy(col(idCol), col("scale"))
      .agg(transform(
        sort_array(collect_list(struct(col("_i"), col("_p")))),
        x => x.getField("_p")).as("proj"))
  }
}
