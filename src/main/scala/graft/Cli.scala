package graft

import graft.engine.Graft
import org.apache.spark.sql.SparkSession

/** The preamble every command-line main shares (Bench, Verify,
  * tools.ProfileQ, tools.PlanScan): one thread count, one session, one
  * gate filter and one gate-id rule.
  */
object Cli {

  /** SPARK_GRAFT_CPUS, default 4: local threads and shuffle partitions. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** [[Graft.session]] on `local[cpus]`. WindowExec's "No Partition
    * Defined" warning is silenced: every unpartitioned window a gate plans
    * is adjudicated by PlanSpec's "adjudicated bounded set" sweep, which
    * fails on anything new, so the ~1,600 repeats of the known-benign
    * warning would only crowd the bench's JSON line out of a bounded
    * stdout-tail capture.
    */
  def session(): SparkSession = {
    val spark = Graft.session(s"local[$cpus]", cpus)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** The gate id of a [[SparkEntry.queries]] name: "b04_agg_..." -> "b04". */
  def gateId(name: String): String = name.takeWhile(_ != '_')

  /** SPARK_GRAFT_FILTER=b22,ns27 keeps only the named gate ids (isolates
    * one gate from cross-gate state); unset keeps every gate.
    */
  val filter: Option[Set[String]] = sys.env.get("SPARK_GRAFT_FILTER")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def selected(name: String): Boolean = filter.forall(_.contains(gateId(name)))
}
