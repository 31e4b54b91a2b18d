package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.DuckDbBridge

/** The ADBC-bridge stand-in: the bundle must round-trip losslessly
  * through Spark and carry a catalog DuckDB can execute verbatim.
  */
class DuckDbBridgeSpec extends SparkSpec {

  import spark.implicits._
  import DuckDbBridgeSpec.findDuckDbJar

  test("export bundle round-trips mixed types and writes a typed catalog") {
    val df = Seq(
        (1L, "alpha", 1.5, Array(1.0, 2.0), ("x", 2L)),
        (2L, "beta", -0.25, Array(3.0), ("y", 4L)))
      .toDF("id", "name", "score", "vec", "meta")
      .withColumn("ts", lit("2026-01-02 03:04:05").cast("timestamp"))
      .withColumn("raw", lit(Array[Byte](1, 2, 3)))
    val dir = Files.createTempDirectory("duckdb-bridge").toString
    DuckDbBridge.export(df, dir, "things")

    // Lossless Spark round-trip (same files catalog.sql points at).
    // Parquet canonicalizes nullability flags, so compare SQL types.
    val back = DuckDbBridge.readBack(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSet ==
      df.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSet)
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // The catalog declares every column with its DuckDB type over the
    // bundle's glob — attachable with one `.read`.
    val sql = Files.readString(Paths.get(s"$dir/catalog.sql"))
    assert(sql.startsWith("CREATE OR REPLACE VIEW \"things\" AS"))
    assert(sql.contains("CAST(\"id\" AS BIGINT) AS \"id\""))
    assert(sql.contains("CAST(\"score\" AS DOUBLE) AS \"score\""))
    assert(sql.contains("CAST(\"vec\" AS DOUBLE[]) AS \"vec\""))
    assert(sql.contains("CAST(\"meta\" AS STRUCT(\"_1\" VARCHAR, \"_2\" BIGINT)) AS \"meta\""))
    assert(sql.contains("CAST(\"ts\" AS TIMESTAMP) AS \"ts\""))
    assert(sql.contains("CAST(\"raw\" AS BLOB) AS \"raw\""))
    assert(sql.contains(s"FROM read_parquet('$dir/data/*.parquet');"))

    val manifest = Files.readString(Paths.get(s"$dir/schema.json"))
    assert(manifest.contains("\"duckdb\": \"BIGINT\""))
  }

  test("identifier quoting doubles embedded quotes; unmappable types fail loudly") {
    assert(DuckDbBridge.quoteIdent("odd\"name") == "\"odd\"\"name\"")
    assert(DuckDbBridge.duckType(MapType(StringType, LongType)) ==
      "MAP(VARCHAR, BIGINT)")
    intercept[IllegalArgumentException] {
      DuckDbBridge.duckType(CalendarIntervalType)
    }
  }

  test("LIVE round-trip: a real DuckDB connection attaches catalog.sql and answers") {
    val jar = findDuckDbJar()
    assume(jar.isDefined, "no duckdb_jdbc jar in the offline cache — seam stays file-based")
    val sup = Tables(spark, sfDir, "supplier")
    val dir = Files.createTempDirectory("graft-duck-live").toString
    DuckDbBridge.export(sup, dir, "supplier_v")
    val res = DuckDbBridge.runLive(jar.get, dir, Seq(
      "SELECT COUNT(*)::BIGINT, SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))::BIGINT FROM supplier_v",
      "SELECT COUNT(DISTINCT s_nationkey)::BIGINT FROM supplier_v"))
    val exp = sup.agg(
      count(lit(1)),
      sum(round(col("s_acctbal") * 100).cast("long")),
      countDistinct(col("s_nationkey"))).head()
    assert(res(0).head(0).toLong == exp.getLong(0), "row count diverged")
    assert(res(0).head(1).toLong == exp.getLong(1), "cents sum diverged")
    assert(res(1).head(0).toLong == exp.getLong(2), "distinct count diverged")
  }

  test("LIVE Arrow ingest: DataFrame → IPC batches → DuckDB table → Arrow out, no files") {
    val jar = findDuckDbJar()
    assume(jar.isDefined, "no duckdb_jdbc jar in the offline cache — seam stays file-based")
    val df = Seq(
        (1L, "alpha", 1.5, true),
        (2L, "beta", -0.25, false),
        (3L, "gamma", 2.0, true),
        (4L, null: String, 0.5, false))
      .toDF("id", "name", "score", "flag")
      .withColumn("day", lit("2026-02-03").cast("date"))
    // small batchSize forces MULTIPLE record batches through the insert loop
    val ipc = graft.proto.ArrowInterchange.toIpcStream(
      df.collect().iterator, df.schema, batchSize = 2)
    val out = DuckDbBridge.ingestArrowLive(jar.get, ipc, "docs", Seq(
      "SELECT COUNT(*)::BIGINT AS n, SUM(CAST(ROUND(score * 100) AS BIGINT))::BIGINT AS cents FROM docs",
      "SELECT id, name, flag, day FROM docs ORDER BY id"))
    val (names0, rows0) = graft.proto.ArrowInterchange.fromIpcStream(out(0))
    assert(names0 == Seq("n", "cents"))
    assert(rows0 == Seq(Seq(4L, 150L + -25L + 200L + 50L)))
    val (names1, rows1) = graft.proto.ArrowInterchange.fromIpcStream(out(1))
    assert(names1 == Seq("id", "name", "flag", "day"))
    assert(rows1.map(r => (r(0), r(1), r(2))) == Seq(
      (1L, "alpha", true), (2L, "beta", false), (3L, "gamma", true), (4L, null, false)))
    // date survives the round trip (arrow DateDay both directions;
    // getObject is epoch-day Int in some arrow versions, LocalDate in others)
    assert(rows1.forall(r => (r(3) match {
      case i: Int => java.time.LocalDate.ofEpochDay(i.toLong)
      case i: java.lang.Integer => java.time.LocalDate.ofEpochDay(i.longValue())
      case other => other
    }).toString == "2026-02-03"))
  }

  test("LIVE Arrow ingest: pre-1970 timestamps keep their sub-second component") {
    // The round-12 ADVICE closure (the floorDiv/floorMod split in the
    // bind loop): negative epoch micros truncate toward zero under `/`
    // and `%`, which shifts a pre-1970 instant forward a second and
    // hands setNanos a negative value. 1969-12-31 23:59:59.123456 UTC is
    // -876544 µs — the exact shape that broke.
    val jar = findDuckDbJar()
    assume(jar.isDefined, "no duckdb_jdbc jar in the offline cache — seam stays file-based")
    val df = Seq(
        (1L, "1969-12-31 23:59:59.123456"),
        (2L, "1910-02-03 04:05:06.000789"),
        (3L, "2026-01-02 03:04:05.678901"))
      .toDF("id", "s")
      .withColumn("ts", col("s").cast("timestamp"))
      .select("id", "ts")
    val ipc = graft.proto.ArrowInterchange.toIpcStream(
      df.collect().iterator, df.schema, batchSize = 2)
    val out = DuckDbBridge.ingestArrowLive(jar.get, ipc, "olden", Seq(
      "SELECT id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS s FROM olden ORDER BY id"))
    val (names, rows) = graft.proto.ArrowInterchange.fromIpcStream(out(0))
    assert(names == Seq("id", "s"))
    assert(rows.map(r => (r(0), r(1))) == Seq(
      (1L, "1969-12-31 23:59:59.123456"),
      (2L, "1910-02-03 04:05:06.000789"),
      (3L, "2026-01-02 03:04:05.678901")))
  }

  test("LIVE Arrow ingest: a nested column fails with a clear error") {
    val jar = findDuckDbJar()
    assume(jar.isDefined, "no duckdb_jdbc jar in the offline cache — seam stays file-based")
    val df = Seq((1L, Array(1L, 2L))).toDF("id", "xs")
    val ipc = graft.proto.ArrowInterchange.toIpcStream(df.collect().iterator, df.schema)
    val e = intercept[IllegalArgumentException] {
      DuckDbBridge.ingestArrowLive(jar.get, ipc, "nested", Seq("SELECT 1"))
    }
    assert(e.getMessage.contains("'xs'") && e.getMessage.contains("scalar"), e.getMessage)
  }
}

object DuckDbBridgeSpec {
  /** A duckdb_jdbc jar present in the local offline build cache, if any —
    * located by NAME GLOB only (no repository/host assumptions). The live
    * test cancels cleanly when no jar exists.
    */
  def findDuckDbJar(): Option[java.nio.file.Path] = {
    val cache = Paths.get(sys.props("user.home"), ".cache", "coursier")
    if (!Files.exists(cache)) return None
    val s = Files.walk(cache)
    try {
      val hit = s.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("duckdb_jdbc-") && n.endsWith(".jar")
      }.findFirst()
      if (hit.isPresent) Some(hit.get) else None
    } finally s.close()
  }
}
