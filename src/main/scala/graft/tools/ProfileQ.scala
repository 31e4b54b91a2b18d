package graft.tools

/** Ad-hoc plan/profile harness: PRINTS the formatted physical plan and
  * per-run wall time of one SparkEntry query on a given SF dir, in
  * the shared `Cli` session (SPARK_GRAFT_CPUS threads, default 4).
  * Usage: ProfileQ <sfDir> <queryName> [explainOnly]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = graft.Cli.session()
    val fn = graft.SparkEntry.queries(name)
    val df = fn(spark, sfDir)
    df.explain("formatted")
    if (args.length < 3) {
      for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
