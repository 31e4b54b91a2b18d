package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** `Graft.session` sizes Spark's JVM-wide codegen class cache so a repeated
  * pipeline recompiles nothing: the benchmark's corpus pass (six gates and
  * three kernel projections) needs more classes than Spark's default of 100
  * holds, and at that size its second pass recompiled 71 of its 107 classes
  * at sf0.001.
  */
class CodegenCacheSpec extends SparkSpec {

  private val gates = Seq("ns05_dedup_exact", "ns07_minhash_sig", "ns242_repetition_profile",
    "ns45_lsh_topk", "ns94_pq_adc", "ns239_pack_sequences")

  /** The kernel-only projections of the benchmark's corpus pass. */
  private def kernels: Seq[DataFrame] = {
    val docs = Tables(spark, sfDir, "documents")
    val q = Tables(spark, sfDir, "embeddings").selectExpr("vec_id",
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v")
    val cs = q.where(col("vec_id") < 16)
      .selectExpr("flatten(transform(array_sort(collect_list(struct(vec_id, v))), s -> s.v)) AS cs")
    Seq(
      docs.selectExpr("doc_id", "graft_shingles(text, 3) AS sh"),
      docs.selectExpr("doc_id", "graft_minhash(text, 3, 16) AS sig"),
      q.crossJoin(broadcast(cs)).selectExpr("vec_id", "graft_kmeans_assign(v, cs) AS best"))
  }

  /** Janino compiles (codegen cache misses) during one corpus pass. */
  private def cycle(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    gates.foreach(g => noop(SparkEntry.queries(g)(spark, sfDir)))
    kernels.foreach(noop)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated corpus pass finds every generated class in the codegen cache") {
    val first = cycle()
    val second = cycle()
    info(s"compiles: first pass $first, second pass $second")
    assert(second == 0)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
  }
}
