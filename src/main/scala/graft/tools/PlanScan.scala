package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.util.control.NonFatal

/** Whole-surface plan lint: builds every SparkEntry query's physical plan
  * (no execution beyond what the query closure itself performs) and prints
  * each gate whose pre-AQE plan contains a node matching the argument
  * pattern (default: SortAggregate). Ad-hoc recon for PlanSpec sweeps —
  * the pinned allowlists live in the specs, not here. Runs in the shared `Cli`
  * session (SPARK_GRAFT_CPUS threads, default 4).
  * Usage: PlanScan <sfDir> [nodePattern]
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pat = if (args.length > 1) args(1) else "SortAggregate"
    val spark = graft.Cli.session()
    spark.sparkContext.setLogLevel("ERROR")
    val re = pat.r
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val ep = fn(spark, sfDir).queryExecution.executedPlan
        val pre = ep match { case a: AdaptiveSparkPlanExec => a.initialPlan; case x => x }
        val n = re.findAllIn(pre.toString).size
        if (n > 0) println(s"HIT $name $n")
      } catch { case NonFatal(e) => println(s"SKIP $name ${e.getClass.getSimpleName}") }
    }
    spark.stop()
    println("DONE")
  }
}
