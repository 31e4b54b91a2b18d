package graft.tools

import graft.engine.Graft

/** Ad-hoc plan/profile harness: PRINTS the formatted physical plan and
  * per-run wall time of one SparkEntry query on a given SF dir, in
  * Bench's session profile (SPARK_GRAFT_CPUS threads, default 4).
  * Usage: ProfileQ <sfDir> <queryName> [explainOnly]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", cpus)
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
