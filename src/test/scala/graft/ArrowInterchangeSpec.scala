package graft

import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.proto.ArrowInterchange

/** Arrow IPC round-trip (≈ the reference's Arrow-batches-out contract,
  * duck.go:190-206 consumed at duck_test.go:93-97).
  */
class ArrowInterchangeSpec extends SparkSpec {

  test("query → Arrow IPC → decode round-trips values and schema") {
    val df = Tables(spark, sfDir, "supplier")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
      .limit(10)
    val bytes = ArrowInterchange.queryArrow(df)
    val (names, rows) = ArrowInterchange.fromIpcStream(bytes)
    assert(names == Seq("s_suppkey", "s_name", "s_acctbal"))
    val want = df.collect()
    assert(rows.length == want.length)
    rows.zip(want).foreach { case (got, w) =>
      assert(got(0) == w.getLong(0))
      assert(got(1) == w.getString(1))
      assert(got(2) == w.getDouble(2))
    }
  }

  test("small batch size produces multiple record batches, same rows") {
    val df = Tables(spark, sfDir, "nation").select("n_nationkey", "n_name")
    val bytes = ArrowInterchange.toIpcStream(df.collect().iterator, df.schema, batchSize = 7)
    val (_, rows) = ArrowInterchange.fromIpcStream(bytes)
    assert(rows.length == df.count())
  }

  test("queryArrowStream: batch-at-a-time encode with one fetch job per partition") {
    val df = spark.range(0, 100)
      .selectExpr("id", "CAST(id AS STRING) AS s")
      .repartition(4)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    spark.sparkContext.addSparkListener(listener)
    val n =
      try {
        val n0 = ArrowInterchange.queryArrowStream(df, out, batchSize = 5)
        org.apache.spark.GraftListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext, 30000L)
        n0
      } finally spark.sparkContext.removeSparkListener(listener)
    // toLocalIterator fetches ONE partition per job — the O(one partition
    // + one batch) driver-memory contract. A collect-based encode (the
    // queryArrow twin) is a single job; seeing >= 4 result-fetch jobs
    // proves the full result was never resident at once.
    assert(jobs >= 4, s"expected >= 4 partition-fetch jobs, saw $jobs")
    assert(n == 100L)
    val bytes = out.toByteArray
    val (names, rows) = ArrowInterchange.fromIpcStream(bytes)
    assert(names == Seq("id", "s"))
    assert(rows.length == 100)
    // Same row multiset as the collecting twin (partition order may differ)
    val viaCollect =
      ArrowInterchange.fromIpcStream(ArrowInterchange.queryArrow(df))._2
    assert(rows.toSet == viaCollect.toSet)
    // And the stream really is batched: 100 rows at batchSize=5 must have
    // been written as many record batches, not one materialized batch.
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    var batches = 0
    try { while (rdr.loadNextBatch()) batches += 1 }
    finally { rdr.close(); alloc.close() }
    assert(batches >= 20, s"expected >= 20 record batches, saw $batches")
  }

  test("distributed encodePartitions yields one stream per partition covering all rows") {
    val df = Tables(spark, sfDir, "supplier").repartition(3)
    val streams = ArrowInterchange.encodePartitions(df).collect().map(_.getAs[Array[Byte]](0))
    assert(streams.length == 3)
    val total = streams.map(b => ArrowInterchange.fromIpcStream(b)._2.length).sum
    assert(total == df.count())
  }

  test("non-ASCII strings and binary survive both codec round trips") {
    import spark.implicits._
    import graft.proto.RowCodec
    val s = "héllo 世界 🙂 ımñ"
    val df = Seq((1L, s)).toDF("id", "s")
    // Arrow IPC
    val (_, rows) = ArrowInterchange.fromIpcStream(ArrowInterchange.queryArrow(df))
    assert(rows.head(1) == s)
    // protobuf wire
    val m = RowCodec.decodeMessage(RowCodec.encodeRow(df.head(), df.schema))
    assert(new String(m(2).head.asInstanceOf[Array[Byte]], "UTF-8") == s)
  }

  test("nulls and timestamps survive the round trip") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), Some("2024-03-01 10:30:00")),
      (2L, None, None)).toDF("id", "s", "ts_s")
      .selectExpr("id", "s", "CAST(ts_s AS TIMESTAMP) AS ts")
    val (_, rows) = ArrowInterchange.fromIpcStream(ArrowInterchange.queryArrow(df))
    assert(rows(0)(1) == "a" && rows(1)(1) == null)
    assert(rows(1)(2) == null && rows(0)(2) != null)
  }

  test("toIpcStream bytes of the all-types fixture are pinned (SHA-256)") {
    val item = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("s", StringType),
      StructField("flag", BooleanType), StructField("bin", BinaryType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("day", DateType), StructField("amt", DecimalType(12, 3)),
      StructField("items", ArrayType(item)),
      StructField("meta", StructType(Seq(
        StructField("x", IntegerType), StructField("tags", ArrayType(StringType)))))))
    def ts(s: String) = java.sql.Timestamp.from(Instant.parse(s))
    def day(s: String) = java.sql.Date.valueOf(LocalDate.parse(s))
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row(1L, 7, 3.toShort, 1.5, 0.25f, "plain", true, Array[Byte](1, 2, 3),
        ts("1969-12-31T23:59:59.123456Z"), LocalDateTime.parse("1969-07-20T20:17:40.000001"),
        day("1960-02-29"), dec("-12.345"),
        Seq(Row(1L, "x"), null, Row(null, "y"), Row(2L, null)),
        Row(5, Seq("a", null, "b"))),
      Row(2L, null, null, null, null, null, null, null, null, null, null, null, null, null),
      Row(3L, -1, (-32768).toShort, -0.0, Float.MaxValue, "astral \ud834\udd1e \ud83d\ude42 héllo",
        false, Array.emptyByteArray, ts("1910-02-03T04:05:06.000789Z"),
        LocalDateTime.parse("2024-03-01T12:34:56.789012"), day("2026-02-03"),
        dec("999999999.999"), Seq.empty, Row(null, null)),
      Row(4L, Int.MaxValue, 1.toShort, Double.MinPositiveValue, -1.0f, "", true,
        Array[Byte](0), ts("2026-01-02T03:04:05.678901Z"), null, null, dec("0.000"),
        Seq(null), null),
      Row(5L, 0, 0.toShort, 1e300, 3.5f, "fifth", null, Array[Byte](-1, 127),
        ts("1901-01-01T00:00:00Z"), LocalDateTime.parse("1901-01-01T00:00:00"),
        day("1969-12-31"), null, Seq(Row(3L, "z")), Row(9, Seq.empty)),
      Row(6L, 6, 6.toShort, 6.0, 6.0f, "six", false, null, null,
        LocalDateTime.parse("2100-12-31T23:59:59.999999"), day("2100-12-31"),
        dec("0.001"), null, Row(-7, null)),
      Row(7L, 7, 7.toShort, -7.25, -7.5f, "seven 𝄞", true, Array[Byte](7),
        ts("1970-01-01T00:00:00.000001Z"), LocalDateTime.parse("1970-01-01T00:00:00"),
        day("1970-01-01"), dec("7.5"), Seq(Row(null, null), Row(7L, "7")), Row(null, Seq(null))),
      Row(8L, 8, 8.toShort, 8.0, 8.0f, "eight", false, Array[Byte](8, 8),
        ts("1969-01-01T00:00:00.5Z"), LocalDateTime.parse("1969-01-01T00:00:00.5"),
        day("1969-01-01"), dec("-0.008"), Seq(Row(8L, "eight")), Row(8, Seq("8"))),
      Row(9L, 9, 9.toShort, 9.0, 9.0f, "nine", true, Array[Byte](9), null, null,
        day("1999-09-09"), dec("9.999"), Seq(null, null), Row(9, null)))
    val bytes = ArrowInterchange.toIpcStream(rows.iterator, schema, batchSize = 4)
    val sha = MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
    val got = s"${bytes.length} bytes, sha256 $sha"
    assert(got == "6096 bytes, sha256 e2fe1512d6ffdcfe5dd796ae6382ae7b856d1c5db29b486373832f725e880c23")
  }
}
