package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Cli.session()
    // Deliberately INT96, NOT outputTimestampType=TIMESTAMP_MICROS, here
    // (unlike Engine/Bench): the oracle's pandas comparator reads INT96
    // result columns as tz-naive datetimes — matching the DuckDB oracle —
    // while micros annotate UTC and hash-mismatch every timestamp column.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    new java.io.File(outDir).mkdirs()
    // Cli.filter applies here too: only the selected gates are dumped and
    // listed in oracle_sql.json.
    val failed = SparkEntry.queries.filter(kv => Cli.selected(kv._1)).flatMap { case (name, fn) =>
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
      .filter(kv => Cli.selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} gate(s) failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
