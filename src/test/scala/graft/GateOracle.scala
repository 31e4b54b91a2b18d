package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import graft.sinks.DuckDbBridge

/** Tier-1 DuckDB check of one gate: its Spark answer against its
  * `SparkEntry.oracleSql` run live in this JVM, both canonicalized like
  * `tools/local_verify.py`'s `canon` (columns sorted by name, each value
  * rendered as text, rows sorted) and compared by hash. A gate whose
  * output is empty at this scale proves nothing; its test says so.
  */
trait GateOracle { this: SparkSpec =>

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private lazy val bundle = {
    val dir = Files.createTempDirectory("graft-gate-oracle")
    Files.writeString(dir.resolve("catalog.sql"), tables.map(t =>
      s"CREATE OR REPLACE VIEW $t AS SELECT * FROM '$sfDir/$t.parquet';").mkString("\n"))
    dir.toString
  }

  /** (column names sorted, rows with cells in that order, rows sorted). */
  private def canon(cols: Seq[String], rows: Seq[Seq[String]]): (Seq[String], Seq[String]) = {
    val order = cols.indices.sortBy(cols)
    (order.map(cols), rows.map(r => order.map(i => String.valueOf(r(i))).mkString("\t")).sorted)
  }

  private def sha256(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** One test per gate: Spark output hash-matches its DuckDB oracle. */
  protected def oracleTests(gates: Seq[String]): Unit = gates.foreach { g =>
    test(s"$g: Spark output hash-matches its DuckDB oracle") {
      val jar = DuckDbBridgeSpec.findDuckDbJar()
      assume(jar.isDefined, "no duckdb_jdbc jar in the offline cache")
      val sql = SparkEntry.oracleSql(g)
      val Seq(want, described) = DuckDbBridge.runLive(jar.get, bundle, Seq(sql, s"DESCRIBE $sql"))
      val df = SparkEntry.queries(g)(spark, sfDir)
      val got = df.collect().toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString))
      val (gc, gr) = canon(df.columns.toSeq, got)
      val (wc, wr) = canon(described.map(_.head), want)
      assert(gc == wc, s"$g schema: spark=$gc oracle=$wc")
      val diffs = gr.zip(wr).filter { case (a, b) => a != b }.take(3)
      assert(sha256(gr) == sha256(wr),
        s"$g: ${gr.size} vs ${wr.size} rows; first diffs:\n" + diffs.mkString("\n"))
      if (gr.isEmpty) info(s"$g is EMPTY at $sfDir — the hash match proves nothing")
      else info(s"$g: ${gr.size} rows")
    }
  }
}
