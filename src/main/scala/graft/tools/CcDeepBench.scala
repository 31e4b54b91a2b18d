package graft.tools

import graft.engine.Graft
import org.apache.spark.sql.functions._

/** Ad-hoc deep-diameter connected-components bench (r16 brief #5): K
  * DISJOINT PATHS of length L (diameter L−1 each — deep enough that
  * plain min-label propagation pays O(L) shuffle rounds while pointer
  * doubling pays O(log L), voluminous enough that the hop join's extra
  * |V| agg rows are priced at data scale) plus a field of 4-vertex
  * cliques (the dominant near-dup workload shape, to price the hop where
  * it buys nothing). Verifies the labeling (every path vertex must reach
  * its path's min id; each clique its own min) so a truncated
  * convergence can never read as a "win". Run against two compiled
  * checkouts for an A/B, the ab_bench.sh discipline.
  *
  * Usage: CcDeepBench <paths> <pathLen> <cliques> [maxIter] [runs]
  */
object CcDeepBench {
  def main(args: Array[String]): Unit = {
    val paths = args(0).toLong
    val pathLen = args(1).toLong
    val cliques = args(2).toLong
    val maxIter = if (args.length > 3) args(3).toInt else 60
    val runs = if (args.length > 4) args(4).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val nPathV = paths * pathLen
    // Path k occupies ids [k*L, (k+1)*L): edges (v, v+1) except at path
    // ends. Cliques of 4 start at nPathV + 4k (complete: 6 edges each).
    val pathEdges = spark.range(0, nPathV)
      .where((col("id") + 1) % pathLen =!= 0)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    val cliqueEdges = spark.range(0, cliques).select(explode(array(
      (for (i <- 0 until 4; j <- i + 1 until 4) yield
        struct((col("id") * 4 + lit(nPathV) + i).as("a"),
          (col("id") * 4 + lit(nPathV) + j).as("b"))): _*)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    pathEdges.union(cliqueEdges).write.mode("overwrite").parquet("/tmp/graft_cc_deep")
    val fixed = graft.sources.Parquet.read(spark, "/tmp/graft_cc_deep")
    for (r <- 1 to runs) {
      val t0 = System.nanoTime()
      val cc = graft.ops.Dedup.connectedComponents(fixed, "a", "b", maxIter)
      val bad = cc.filter(
        (col("doc_id") < nPathV && col("cluster_id") =!=
          expr(s"(doc_id div $pathLen) * $pathLen")) ||
          (col("doc_id") >= nPathV && col("cluster_id") =!=
            expr(s"((doc_id - $nPathV) div 4) * 4 + $nPathV"))).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"run $r: $dt%.2f s  mislabeled=$bad  " +
        s"(paths=$paths len=$pathLen cliques=$cliques maxIter=$maxIter)")
      require(bad == 0L, s"CC mislabeled $bad vertices — do not trust the timing")
    }
    spark.stop()
  }
}
