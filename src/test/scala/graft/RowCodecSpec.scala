package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.proto.RowCodec

/** Round-trip tests mirroring the reference's proto tests
  * (duck_test.go:192-295: rows → serialized messages → decode → field
  * compare).
  */
class RowCodecSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("ok", BooleanType)))

  test("encodeRow round-trips scalar fields through the wire format") {
    val bytes = RowCodec.encodeRow(Row(42L, "Alice", 95.5, true), schema)
    val m = RowCodec.decodeMessage(bytes)
    assert(m(1) == Seq(42L))
    assert(new String(m(2).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8) == "Alice")
    assert(m(3) == Seq(95.5))
    assert(m(4) == Seq(1L))
  }

  test("null fields are absent (proto3 semantics)") {
    val bytes = RowCodec.encodeRow(Row(7L, null, 1.0, false), schema)
    val m = RowCodec.decodeMessage(bytes)
    assert(!m.contains(2))
    assert(m(1) == Seq(7L))
  }

  test("repeated (array) fields emit one tagged value per element") {
    val s = StructType(Seq(StructField("xs", ArrayType(LongType))))
    val m = RowCodec.decodeMessage(RowCodec.encodeRow(Row(Seq(1L, 2L, 3L)), s))
    assert(m(1) == Seq(1L, 2L, 3L))
  }

  test("nested structs encode as length-delimited sub-messages") {
    val s = StructType(Seq(
      StructField("id", LongType),
      StructField("inner", StructType(Seq(StructField("v", LongType))))))
    val m = RowCodec.decodeMessage(RowCodec.encodeRow(Row(1L, Row(9L)), s))
    val inner = RowCodec.decodeMessage(m(2).head.asInstanceOf[Array[Byte]])
    assert(inner(1) == Seq(9L))
  }

  test("one message per row, distributed encode matches driver-side encode") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val dist = RowCodec.encode(df).collect().map(_.getAs[Array[Byte]](0))
    val drv = RowCodec.encodeCollect(df)
    assert(dist.length == 3 && drv.length == 3) // 3 rows -> 3 messages (duck_test.go:232)
    assert(dist.map(_.mkString(",")).sorted.sameElements(drv.map(_.mkString(",")).sorted))
  }

  test("file descriptor is itself parseable protobuf with expected fields") {
    val fd = RowCodec.decodeMessage(RowCodec.fileDescriptor(schema))
    assert(new String(fd(2).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8) == "graft")
    val msg = RowCodec.decodeMessage(fd(4).head.asInstanceOf[Array[Byte]])
    assert(new String(msg(1).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8) == "Row")
    assert(msg(2).size == schema.fields.length) // one FieldDescriptorProto per column
  }

  test("zone-less timestamps encode as UTC micros, plain and wrapped") {
    import org.apache.spark.sql.functions.{col, expr}
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_shipdate"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("micros"))
      .limit(200)
    assert(df.schema("l_shipdate").dataType == TimestampNTZType)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val tsSchema = StructType(Seq(df.schema("l_shipdate")))
    val wrap = graft.proto.CodecConfig(useWrapperTypes = true)
    rows.foreach { r =>
      val want = r.getLong(1)
      val plain = RowCodec.encodeRow(Row(r.get(0)), tsSchema)
      assert(RowCodec.decodeMessage(plain)(1) == Seq(want))
      val wrapped = RowCodec.encodeRow(Row(r.get(0)), tsSchema, wrap)
      val sub = RowCodec.decodeMessage(
        RowCodec.decodeMessage(wrapped)(1).head.asInstanceOf[Array[Byte]])
      def part(f: Int): Long = sub.get(f).map(_.head.asInstanceOf[Long]).getOrElse(0L)
      assert(part(1) * 1000000L + part(2) / 1000L == want)
    }
    assert(RowCodec.encode(df.select("l_shipdate")).count() == rows.length)
  }
}
