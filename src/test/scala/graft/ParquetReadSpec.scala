package graft

import java.io.File
import java.util.UUID

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{lit, rand}
import org.apache.spark.sql.types.LongType

import graft.sinks.{ManagedWriter, StreamType}
import graft.sources.Parquet

/** Pins for the one parquet read path (`sources.Parquet`) and the
  * one-job managed write: the driver-side footer schema is exactly the
  * schema Spark infers, every layout it does not handle gets Spark's own
  * answer, a table read launches no job, and a managed batch is one job
  * whose returned count is the rows it wrote.
  */
class ParquetReadSpec extends SparkSpec {

  private def tmp(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-pq-${UUID.randomUUID().toString.take(8)}"

  /** The helper reads the schema from the footer, and its frame's schema
    * is Spark's inferred one (both reads make every field nullable).
    */
  private def assertSparkSchema(path: String): Unit = {
    assert(Parquet.footerSchema(spark, path).nonEmpty, path)
    assert(Parquet.read(spark, path).schema == spark.read.parquet(path).schema, path)
  }

  /** The helper defers: same schema and rows as Spark's own read. */
  private def assertDefers(path: String): Unit = {
    assert(Parquet.footerSchema(spark, path).isEmpty, path)
    val (ours, theirs) = (Parquet.read(spark, path), spark.read.parquet(path))
    assert(ours.schema == theirs.schema, path)
    assert(ours.collect().map(_.toString).sorted.toSeq ==
      theirs.collect().map(_.toString).sorted.toSeq, path)
  }

  test("footer schema equals Spark's inferred schema for every fixture table at every scale") {
    val scales = new File(sfDir).getParentFile.listFiles().filter(_.isDirectory)
    val tables = scales.flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(scales.length >= 1 && tables.length >= Tables.all.size)
    tables.sortBy(_.getPath).foreach(t => assertSparkSchema(t.getPath))
  }

  test("footer schema of a Spark-written directory with nested, decimal, NTZ and binary columns") {
    val dest = tmp()
    spark.range(0, 40, 1, 3).selectExpr(
      "id",
      "named_struct('a', id, 'b', cast(id AS string), 'c', array(id)) AS s",
      "array(id, id + 1) AS arr",
      "array(named_struct('x', id)) AS arr_s",
      "map(cast(id AS string), id * 2) AS m",
      "cast(id AS decimal(9, 2)) AS dec_small",
      "cast(id AS decimal(28, 6)) AS dec_big",
      "cast(timestamp_micros(id) AS timestamp_ntz) AS ntz",
      "timestamp_micros(id) AS ts",
      "date_add(date'2020-01-01', cast(id AS int)) AS d",
      "cast(cast(id AS string) AS binary) AS bin")
      .write.parquet(dest)
    assertSparkSchema(dest)
    assert(Parquet.read(spark, dest).count() == 40)
  }

  test("footer schema of a non-Spark file: nanos timestamps read as longs") {
    val dest = tmp()
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional int64 ts_utc (TIMESTAMP(NANOS, true));
        |  optional int64 ts_local (TIMESTAMP(NANOS, false));
        |  optional binary name (STRING);
        |  optional binary raw;
        |  optional int64 amount (DECIMAL(18, 3));
        |  optional group g { optional int32 x; }
        |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dest/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val gf = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      val g = gf.newGroup().append("id", i.toLong)
        .append("ts_utc", 1000000001L * i).append("ts_local", 7L * i)
        .append("name", s"n$i").append("raw", Binary.fromString(s"r$i"))
        .append("amount", 1234L * i)
      g.addGroup("g").append("x", i)
      w.write(g)
    } finally w.close()
    assertSparkSchema(dest)
    assert(Parquet.read(spark, dest).schema("ts_utc").dataType == LongType)
    assert(Parquet.read(spark, dest).selectExpr("sum(ts_utc)").head().getLong(0) ==
      1000000001L * 10)
  }

  test("a directory whose files differ takes the first file's schema, as Spark does") {
    val dest = tmp()
    spark.range(3).write.parquet(dest)
    spark.range(3).selectExpr("id", "id * 2 AS extra").write.mode("append").parquet(dest)
    assertSparkSchema(dest)
  }

  test("partitioned, data-less and mergeSchema reads get exactly Spark's answer") {
    val part = tmp()
    spark.range(0, 20, 1, 2).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(part)
    assertDefers(part)

    val empty = tmp()
    assert(new File(empty).mkdirs())
    assert(Parquet.footerSchema(spark, empty).isEmpty)
    val ours = intercept[Exception](Parquet.read(spark, empty))
    val theirs = intercept[Exception](spark.read.parquet(empty))
    assert(ours.getClass == theirs.getClass && ours.getMessage == theirs.getMessage)

    val merged = tmp()
    spark.range(3).write.parquet(merged)
    spark.range(3).selectExpr("id", "id * 2 AS extra").write.mode("append").parquet(merged)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertDefers(merged)
      assert(Parquet.read(spark, merged).schema.fieldNames.toSeq == Seq("id", "extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("Tables reads launch no Spark job") {
    Tables(spark, sfDir, "lineitem") // warm class loading
    assert(jobsOf("tables-lineitem")(Tables(spark, sfDir, "lineitem")) == 0)
    assert(jobsOf("tables-events")(Tables(spark, sfDir, "events")) == 0)
  }

  test("ManagedWriter.write is one Spark job per batch") {
    val df = spark.range(0, 500, 1, 3).selectExpr("id", "id % 7 AS k")
    val w = new ManagedWriter(spark, tmp(), df.schema, StreamType.Pending)
    for (b <- 0 until 3) {
      var n = -1L
      val jobs = jobsOf(s"mw-batch-$b") { n = w.write(df) }
      assert(jobs == 1, s"batch $b launched $jobs jobs")
      assert(n == 500L)
    }
    assert(w.finalizeCommit() == 3L)
  }

  test("ManagedWriter.write counts what it wrote: empty and non-deterministic batches") {
    val df = spark.range(0, 2000, 1, 4).toDF("id")
    val dest = tmp()
    val w = new ManagedWriter(spark, dest, df.schema, StreamType.Pending)
    // An observation that never completes must fail here, not stall the suite.
    val empty = Future(w.write(df.where(lit(false))))(ExecutionContext.global)
    assert(Await.result(empty, 120.seconds) == 0L)
    val n = w.write(df.where(rand() < 0.5))
    assert(n > 0L && n < 2000L)
    w.finalizeCommit()
    assert(ManagedWriter.read(spark, dest).count() == n)
  }
}
