package graft

import java.util.UUID

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.PartitionedArrow

/** DSv2 Arrow-IPC source: schema from the stream, one partition per file,
  * column pruning, full-fidelity values (≈ SURVEY §2 A2-A6). Fixtures are
  * written through the same connector's DSv2 sink.
  */
class ArrowIpcSourceSpec extends SparkSpec {

  private def writeIpcFiles(df: DataFrame, dir: String): Unit =
    df.write.format("graft.sources.ArrowIpcSource").mode("append").save(dir)

  private def writeFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val df = Tables(spark, sfDir, "supplier")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-test-${UUID.randomUUID().toString.take(8)}"
    writeIpcFiles(df.repartition(3), dir)
    (dir, df)
  }

  test("round-trips a table through IPC files with inferred schema") {
    val (dir, df) = writeFixture()
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    assert(back.schema == df.schema)
    assert(back.count() == df.count())
    val a = back.orderBy("s_suppkey").collect()
    val b = df.orderBy("s_suppkey").collect()
    assert(a.sameElements(b))
  }

  test("one input partition per IPC file (every 'stream' is consumed)") {
    val (dir, df) = writeFixture()
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    assert(back.rdd.getNumPartitions == 3)
    assert(back.count() == df.count()) // all partitions read, not just streams[0]
  }

  test("column pruning reaches the scan (pruned read schema in the plan)") {
    val (dir, _) = writeFixture()
    val pruned = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
      .select("s_suppkey")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("cols=s_suppkey"), s"scan not pruned:\n$p")
    assert(pruned.collect().length > 0)
  }

  test("DSv2 batch write: append commits atomically-promoted staged files") {
    val df = Tables(spark, sfDir, "supplier")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-w-${UUID.randomUUID().toString.take(8)}"
    df.repartition(3).write.format("graft.sources.ArrowIpcSource").mode("append").save(dir)
    // no staging residue; one part file per partition
    val files = new java.io.File(dir).list().toSeq
    assert(!files.exists(_.startsWith("_staging")), files.toString)
    assert(files.count(_.endsWith(".arrow")) == 3)
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    assert(back.orderBy("s_suppkey").collect()
      .sameElements(df.orderBy("s_suppkey").collect()))
    // second append adds rows without clobbering the first commit
    df.limit(10).write.format("graft.sources.ArrowIpcSource").mode("append").save(dir)
    assert(spark.read.format("graft.sources.ArrowIpcSource").load(dir).count() ==
      df.count() + 10)
  }

  test("files with permuted column order read correctly (by-name resolution)") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-perm-${UUID.randomUUID().toString.take(8)}"
    // two single-partition writes with opposite column orders
    writeIpcFiles(
      Seq((1L, "a")).toDF("id", "name").coalesce(1), dir)
    val second = s"$dir/zz-permuted.arrow" // sorts after the first file
    val tmp2 = s"$dir-tmp"
    writeIpcFiles(
      Seq(("b", 2L)).toDF("name", "id").coalesce(1), tmp2)
    val f2 = new java.io.File(tmp2).listFiles().filter(_.getName.endsWith(".arrow")).head
    java.nio.file.Files.move(f2.toPath, java.nio.file.Paths.get(second))
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
      .orderBy("id").collect()
    assert(back.map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a file missing a required column fails fast, not silently") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-miss-${UUID.randomUUID().toString.take(8)}"
    writeIpcFiles(
      Seq((1L, "a")).toDF("id", "name").coalesce(1), dir)
    val tmp2 = s"$dir-tmp"
    writeIpcFiles(Seq(Tuple1(2L)).toDF("id").coalesce(1), tmp2)
    val f2 = new java.io.File(tmp2).listFiles().filter(_.getName.endsWith(".arrow")).head
    java.nio.file.Files.move(f2.toPath, java.nio.file.Paths.get(s"$dir/zz-short.arrow"))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.sources.ArrowIpcSource").load(dir).select("name").collect()
    }
    assert(
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.getMessage.contains("missing")),
      e.toString)
  }

  test("array<struct> and decimal columns round-trip through IPC + DSv2") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-nested-${UUID.randomUUID().toString.take(8)}"
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, CAST(12.34 AS DECIMAL(10,2)),
        |   array(named_struct('a', 1L, 'b', 'x'), named_struct('a', 2L, 'b', CAST(NULL AS STRING)))),
        |  (2L, CAST(-0.05 AS DECIMAL(10,2)), array(named_struct('a', 3L, 'b', 'z'))),
        |  (3L, CAST(NULL AS DECIMAL(10,2)), CAST(NULL AS ARRAY<STRUCT<a: BIGINT, b: STRING>>))
        |AS t(id, amount, items)""".stripMargin)
    writeIpcFiles(df.coalesce(1), dir)
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    val rows = back.orderBy("id").collect()
    val want = df.orderBy("id").collect()
    assert(rows.length == want.length)
    rows.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("zone-less DATETIME (TimestampNTZ) round-trips through IPC + DSv2") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-ntz-${UUID.randomUUID().toString.take(8)}"
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP_NTZ '2024-03-01 12:34:56.789012'),
        |  (2L, CAST(NULL AS TIMESTAMP_NTZ))
        |AS t(id, dt)""".stripMargin)
    writeIpcFiles(df.coalesce(1), dir)
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    assert(back.schema("dt").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val rows = back.orderBy("id").collect()
    assert(rows(0).getAs[java.time.LocalDateTime]("dt") ==
      java.time.LocalDateTime.parse("2024-03-01T12:34:56.789012"))
    assert(rows(1).isNullAt(1))
  }

  test("timestamps and nulls survive the DSv2 read") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), Some("2024-05-05 05:05:05.123456")),
      (2L, None, None)).toDF("id", "s", "ts_s")
      .selectExpr("id", "s", "CAST(ts_s AS TIMESTAMP) AS ts")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-test-${UUID.randomUUID().toString.take(8)}"
    writeIpcFiles(df, dir)
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
      .orderBy("id").collect()
    assert(back(0).getTimestamp(2).toString.startsWith("2024-05-05 05:05:05.123456"))
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))
  }

  test("driver listings use the session's Hadoop conf, as the tasks do") {
    val (dir, df) = writeFixture()
    val laidOut = s"$dir-by-nation"
    PartitionedArrow.write(df, laidOut, "s_nationkey")
    val session = spark.newSession()
    session.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    session.conf.set("fs.file.impl.disable.cache", "true")
    SparkSession.setActiveSession(session)
    try {
      val before = CountingLocalFs.listings.get
      val flat = session.read.format("graft.sources.ArrowIpcSource").load(dir)
      assert(flat.count() == df.count())
      val afterFlat = CountingLocalFs.listings.get
      assert(afterFlat > before, "ArrowIpcSource listed through another conf")
      val keyed = session.read.format("graft.sources.PartitionedArrowSource")
        .option("partitionCol", "s_nationkey").load(laidOut)
      assert(keyed.where(col("s_nationkey") >= 0).count() == df.count())
      assert(CountingLocalFs.listings.get > afterFlat,
        "PartitionedArrowSource listed through another conf")
    } finally SparkSession.setActiveSession(spark)
  }
}

/** A local file system that counts its directory listings. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFs {
  val listings = new AtomicInteger
}
