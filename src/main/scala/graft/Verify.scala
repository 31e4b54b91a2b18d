package graft
import graft.engine.Graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", cpus)
    // Deliberately INT96, NOT outputTimestampType=TIMESTAMP_MICROS, here
    // (unlike Engine/Bench): the oracle's pandas comparator reads INT96
    // result columns as tz-naive datetimes — matching the DuckDB oracle —
    // while micros annotate UTC and hash-mismatch every timestamp column.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    // Known-benign warning noise (every unpartitioned window is pinned
    // by PlanSpec's adjudicated-bounded-set sweep) — keep the driver's
    // bounded output capture for signal. See Bench.main.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    // Same optional isolation filter as Bench: SPARK_GRAFT_FILTER=ns27,b54
    // dumps (and lists oracle SQL for) only the named id prefixes.
    val filter = sys.env.get("SPARK_GRAFT_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      filter.forall(_.contains(name.split("_")(0)))
    val failed = SparkEntry.queries.filter(kv => selected(kv._1)).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.toSeq.sorted
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} gate(s) failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
