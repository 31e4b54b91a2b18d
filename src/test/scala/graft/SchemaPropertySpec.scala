package graft

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.proto.{ArrowInterchange, RowCodec}

/** Property tests for the schema converters (SURVEY §5: round-trip
  * StructType → external schema → StructType over the supported type
  * lattice) and for the Arrow value codec over the same nested schemas.
  * Generator-driven sampling (100 random schemas per schema property).
  */
class SchemaPropertySpec extends SparkSpec {

  private val scalarTypes: Gen[DataType] = Gen.oneOf(
    LongType, IntegerType, ShortType, DoubleType, FloatType,
    StringType, BooleanType, BinaryType, TimestampType, TimestampNTZType,
    DateType)

  private val fieldName: Gen[String] =
    for {
      head <- Gen.alphaChar
      tail <- Gen.listOfN(5, Gen.alphaNumChar)
    } yield (head :: tail).mkString

  private val schemaGen: Gen[StructType] =
    for {
      n <- Gen.choose(1, 8)
      names <- Gen.listOfN(n, fieldName).suchThat(l => l.distinct.size == l.size)
      types <- Gen.listOfN(n, scalarTypes)
    } yield StructType(names.zip(types).map { case (nm, t) => StructField(nm, t) })

  // Nested lattice for the Arrow converter: decimals plus recursive
  // LIST/STRUCT to bounded depth (the reference's read path is fully
  // nested, bigquery_write.go:205-211).
  private val decimalGen: Gen[DataType] =
    for { p <- Gen.choose(1, 38); s <- Gen.choose(0, p) } yield DecimalType(p, s)

  private def typeGen(depth: Int): Gen[DataType] =
    if (depth == 0) Gen.oneOf(scalarTypes, decimalGen)
    else
      Gen.frequency(
        6 -> scalarTypes,
        1 -> decimalGen,
        1 -> Gen.lzy(typeGen(depth - 1).map(t => ArrayType(t))),
        1 -> Gen.lzy(nestedStructGen(depth - 1).map(t => t: DataType)))

  private def nestedStructGen(depth: Int): Gen[StructType] =
    for {
      n <- Gen.choose(1, 4)
      names <- Gen.listOfN(n, fieldName).suchThat(l => l.distinct.size == l.size)
      types <- Gen.listOfN(n, typeGen(depth))
    } yield StructType(names.zip(types).map { case (nm, t) => StructField(nm, t) })

  private def samples(n: Int): Seq[StructType] =
    Iterator.continually(schemaGen.sample).flatten.take(n).toSeq

  test("StructType -> Arrow schema -> StructType is the identity") {
    samples(100).foreach { schema =>
      val arrow = ArrowInterchange.toArrowSchema(schema)
      val back = ArrowInterchange.roundTripSchema(arrow)
      assert(back == schema, s"round-trip mismatch for ${schema.simpleString}")
    }
  }

  test("nested/decimal StructType -> Arrow schema -> StructType is the identity") {
    Iterator.continually(nestedStructGen(2).sample).flatten.take(100).foreach { schema =>
      val arrow = ArrowInterchange.toArrowSchema(schema)
      val back = ArrowInterchange.roundTripSchema(arrow)
      assert(back == schema, s"round-trip mismatch for ${schema.simpleString}")
    }
  }

  test("proto descriptor carries one field per column with stable numbering") {
    samples(100).foreach { schema =>
      val fd = RowCodec.decodeMessage(RowCodec.fileDescriptor(schema))
      val msg = RowCodec.decodeMessage(fd(4).head.asInstanceOf[Array[Byte]])
      val fields = msg(2).map(b => RowCodec.decodeMessage(b.asInstanceOf[Array[Byte]]))
      assert(fields.size == schema.fields.length)
      fields.zipWithIndex.foreach { case (f, i) =>
        assert(new String(f(1).head.asInstanceOf[Array[Byte]], "UTF-8") == schema.fields(i).name)
        assert(f(3) == Seq((i + 1).toLong)) // field number = ordinal + 1
      }
    }
  }

  // ---- value round trips over nestedStructGen(2) schemas

  private val microsRange = (-2177452800000000L, 4102444799999999L) // 1901-01-01 .. 2099-12-31

  private def valueGen(dt: DataType): Gen[Any] = {
    val value: Gen[Any] = dt match {
      case LongType => Gen.choose(Long.MinValue, Long.MaxValue)
      case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue)
      case ShortType => Gen.choose(Short.MinValue, Short.MaxValue)
      case DoubleType => Gen.choose(-1e12, 1e12)
      case FloatType => Gen.choose(-1e6f, 1e6f)
      case StringType => Gen.oneOf(Gen.alphaNumStr, Gen.const(""), Gen.const("é 世界 \ud83d\ude42"))
      case BooleanType => Gen.oneOf(true, false)
      case BinaryType => Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
      case TimestampType =>
        Gen.choose(microsRange._1, microsRange._2)
          .map(us => java.sql.Timestamp.from(Instant.EPOCH.plus(us, ChronoUnit.MICROS)))
      case TimestampNTZType =>
        Gen.choose(microsRange._1, microsRange._2).map(us =>
          LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC))
      case DateType =>
        Gen.choose(-25202, 47481).map(d => java.sql.Date.valueOf(LocalDate.ofEpochDay(d.toLong)))
      case d: DecimalType =>
        for {
          neg <- Gen.oneOf(true, false)
          digits <- Gen.listOfN(d.precision, Gen.numChar)
        } yield {
          val unscaled = new java.math.BigInteger(digits.mkString)
          new java.math.BigDecimal(if (neg) unscaled.negate() else unscaled, d.scale)
        }
      case ArrayType(elem, _) => Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, valueGen(elem)))
      case st: StructType => rowGen(st)
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }
    Gen.frequency(1 -> Gen.const(null), 4 -> value)
  }

  private def rowGen(schema: StructType): Gen[Row] =
    Gen.sequence[Seq[Any], Any](schema.fields.toSeq.map(f => valueGen(f.dataType))).map(Row.fromSeq)

  /** Values in a form with structural equality (bytes, instants, days). */
  private def canon(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toList
    case r: Row => r.toSeq.map(canon).toList
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case t: java.sql.Timestamp => t.toInstant
    case d: java.sql.Date => d.toLocalDate
    case other => other
  }

  /** (schema, rows) for fixed seeds, so a failure names a reproducible case. */
  private def cases(n: Int, rows: Int): Seq[(StructType, Seq[Row])] =
    (0 until n).map { i =>
      val p = Gen.Parameters.default
      val schema = nestedStructGen(2).pureApply(p, Seed(1000L + i))
      (schema, Gen.listOfN(rows, rowGen(schema)).pureApply(p, Seed(2000L + i)))
    }

  private def sameRows(schema: StructType, got: Seq[Row], want: Seq[Row]): Unit = {
    def counts(rows: Seq[Row]) = rows.map(canon).groupMapReduce(identity)(_ => 1)(_ + _)
    assert(counts(got) == counts(want), s"value round-trip mismatch for ${schema.simpleString}")
  }

  test("nested rows -> toIpcStream -> ArrowColumnVector come back equal") {
    cases(100, rows = 9).foreach { case (schema, rows) =>
      val bytes = ArrowInterchange.toIpcStream(rows.iterator, schema, batchSize = 4)
      // Spark plans a projection to UnsafeRow over any row-based scan;
      // the same projection reads the columnar rows here
      val toUnsafe = UnsafeProjection.create(schema)
      val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      val alloc = new RootAllocator()
      val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
      val back =
        try {
          val root = reader.getVectorSchemaRoot
          val out = Seq.newBuilder[Row]
          while (reader.loadNextBatch()) {
            val vectors = root.getFieldVectors.asScala.map(v => new ArrowColumnVector(v): ColumnVector)
            new ColumnarBatch(vectors.toArray, root.getRowCount).rowIterator().asScala
              .foreach(r => out += toRow(toUnsafe(r)))
          }
          out.result()
        } finally { reader.close(); alloc.close() }
      assert(back.map(canon) == rows.map(canon), s"value round-trip mismatch for ${schema.simpleString}")
    }
  }

  test("nested rows -> DSv2 sink -> DSv2 source come back equal") {
    cases(20, rows = 9).foreach { case (schema, rows) =>
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-prop-${UUID.randomUUID().toString.take(8)}"
      spark.createDataFrame(rows.asJava, schema)
        .write.format("graft.sources.ArrowIpcSource").mode("append").save(dir)
      val back = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
      assert(back.schema == schema, s"schema drift for ${schema.simpleString}")
      sameRows(schema, back.collect().toSeq, rows)
    }
  }
}
