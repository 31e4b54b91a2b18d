package graft.proto

import java.io.{ByteArrayOutputStream, OutputStream}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.types._

/** The one Spark⇄Arrow codec — the Spark twin of the reference's
  * Arrow-everywhere surface: `Query` returns Arrow record batches
  * (duck.go:190-206) and the write path serializes records to Arrow IPC
  * (bigquery_write.go:426-440). It holds both type maps
  * ([[toArrowSchema]], [[toSparkField]]) and the one IPC stream writer
  * ([[IpcStreamWriter]]); values cross the boundary through Spark's own
  * `ArrowWriter` (write) and `ArrowColumnVector` (read), so no value
  * conversion is hand-written here or anywhere else.
  *
  * Scale note: `toIpcStream` is driver-side (API parity with the
  * reference's in-process RecordReader loop, bigquack.go:99-133);
  * `encodePartitions` and the DSv2 sink keep the conversion distributed —
  * one IPC stream per partition, no driver materialization.
  */
object ArrowInterchange {

  /** Recursive StructType → Arrow schema: nested STRUCT/LIST and DECIMAL
    * covered to match the reference's fully-recursive read path
    * (bigquery_write.go:205-211; type enumeration :160-193) — round 2
    * shipped flat scalars only while the sibling RowCodec already nested.
    */
  def toArrowSchema(schema: StructType): ArrowSchema =
    new ArrowSchema(
      schema.fields.map(f => toArrowField(f.name, f.dataType)).toSeq.asJava)

  private def toArrowField(name: String, dt: DataType): Field = dt match {
    case ArrayType(elem, _) =>
      new Field(
        name,
        FieldType.nullable(ArrowType.List.INSTANCE),
        Seq(toArrowField("element", elem)).asJava)
    case StructType(fields) =>
      new Field(
        name,
        FieldType.nullable(ArrowType.Struct.INSTANCE),
        fields.map(f => toArrowField(f.name, f.dataType)).toSeq.asJava)
    case d: DecimalType =>
      new Field(
        name,
        FieldType.nullable(new ArrowType.Decimal(d.precision, d.scale, 128)),
        null)
    case scalar =>
      val t: ArrowType = scalar match {
        case LongType => new ArrowType.Int(64, true)
        case IntegerType => new ArrowType.Int(32, true)
        case ShortType => new ArrowType.Int(16, true)
        case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
        case StringType => ArrowType.Utf8.INSTANCE
        case BooleanType => ArrowType.Bool.INSTANCE
        case BinaryType => ArrowType.Binary.INSTANCE
        case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
        // zone-less DATETIME (the reference's DATETIME; TypeMapping §1.3)
        case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
        case DateType => new ArrowType.Date(DateUnit.DAY)
        case other => throw new IllegalArgumentException(s"unsupported type $other")
      }
      new Field(name, FieldType.nullable(t), null)
  }

  /** Arrow schema → StructType, the inverse of [[toArrowSchema]]. */
  def roundTripSchema(s: ArrowSchema): StructType =
    StructType(s.getFields.asScala.map(toSparkField).toSeq)

  /** Arrow field → Spark field, recursing through LIST/STRUCT (the
    * reference's read path is fully nested, bigquery_write.go:205-211).
    */
  def toSparkField(f: Field): StructField = {
    val dt: DataType = f.getType match {
      case t: ArrowType.Int if t.getBitWidth == 64 => LongType
      case t: ArrowType.Int if t.getBitWidth == 32 => IntegerType
      case t: ArrowType.Int if t.getBitWidth == 16 => ShortType
      case t: ArrowType.FloatingPoint if t.getPrecision == FloatingPointPrecision.DOUBLE =>
        DoubleType
      case _: ArrowType.FloatingPoint => FloatType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Bool => BooleanType
      case _: ArrowType.Binary => BinaryType
      case t: ArrowType.Timestamp if t.getTimezone == null => TimestampNTZType
      case _: ArrowType.Timestamp => TimestampType
      case _: ArrowType.Date => DateType
      case t: ArrowType.Decimal => DecimalType(t.getPrecision, t.getScale)
      case _: ArrowType.List =>
        ArrayType(toSparkField(f.getChildren.get(0)).dataType)
      case _: ArrowType.Struct =>
        StructType(f.getChildren.asScala.map(toSparkField).toSeq)
      case other => throw new IllegalArgumentException(s"unsupported arrow type $other")
    }
    StructField(f.getName, dt)
  }

  /** The one Arrow IPC stream writer: Catalyst rows in, a schema message
    * plus record batches of `batchSize` rows out (the reference's
    * batch-at-a-time granularity, bigquack.go:113-132). Spark's
    * `ArrowWriter` fills the vectors, and each full batch is written
    * immediately, so the only resident Arrow state is one batch whatever
    * the stream's length. `finish` writes the end-of-stream marker;
    * `close` frees the Arrow memory. The caller owns `out`.
    */
  final class IpcStreamWriter(schema: StructType, out: OutputStream, batchSize: Int = 4096)
      extends AutoCloseable {
    private val allocator = new RootAllocator()
    private val root = VectorSchemaRoot.create(toArrowSchema(schema), allocator)
    private val vectors = ArrowWriter.create(root)
    private val stream = new ArrowStreamWriter(root, null, out)
    private var inBatch = 0
    private var rows = 0L
    stream.start()

    def write(row: InternalRow): Unit = {
      vectors.write(row)
      inBatch += 1
      rows += 1
      if (inBatch == batchSize) flush()
    }

    private def flush(): Unit = if (inBatch > 0) {
      vectors.finish()
      stream.writeBatch()
      vectors.reset()
      inBatch = 0
    }

    /** Write the last partial batch and the end marker; returns rows written. */
    def finish(): Long = {
      flush()
      stream.end()
      rows
    }

    override def close(): Unit =
      try root.close() finally allocator.close()
  }

  /** Encode Catalyst rows as one complete IPC stream into `out`. */
  private def writeStream(
      rows: Iterator[InternalRow], schema: StructType, out: OutputStream, batchSize: Int): Long = {
    val w = new IpcStreamWriter(schema, out, batchSize)
    try {
      rows.foreach(w.write)
      w.finish()
    } finally w.close()
  }

  /** External rows → Catalyst rows, through Spark's own serializer. */
  private def serialized(rows: Iterator[Row], schema: StructType): Iterator[InternalRow] = {
    val toInternal = ExpressionEncoder(schema, lenient = true).createSerializer()
    rows.map(toInternal)
  }

  /** Encode rows as one Arrow IPC stream (schema message + record batches
    * of `batchSize` rows).
    */
  def toIpcStream(rows: Iterator[Row], schema: StructType, batchSize: Int = 4096): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeStream(serialized(rows, schema), schema, out, batchSize)
    out.toByteArray
  }

  /** Driver-side query → Arrow IPC (≈ Query + consumer loop,
    * duck_test.go:93-97). Tests / small results only — materializes the
    * whole result; use [[queryArrowStream]] for large results.
    */
  def queryArrow(df: DataFrame): Array[Byte] =
    toIpcStream(df.collect().iterator, df.schema)

  /** STREAMING driver-side query → Arrow IPC: the shape of the
    * reference's `Query`, which hands back an ITERATING RecordReader the
    * caller drains batch by batch (duck.go:190-206) rather than a
    * materialized result. Rows are pulled through `toLocalIterator` —
    * Spark fetches one partition at a time, running one job per
    * partition — and encoded straight into `out` per `batchSize` group,
    * so driver memory is O(one partition + one Arrow batch) at any
    * result size (the [[queryArrow]] twin collects everything first).
    * Returns the number of rows written. The caller owns `out`.
    */
  def queryArrowStream(
      df: DataFrame,
      out: java.io.OutputStream,
      batchSize: Int = 4096): Long =
    writeStream(serialized(df.toLocalIterator().asScala, df.schema), df.schema, out, batchSize)

  /** Distributed encode: one IPC stream per partition (binary column). */
  def encodePartitions(df: DataFrame, batchSize: Int = 4096): DataFrame = {
    val schema = df.schema
    df.mapPartitions(it => Iterator.single(toIpcStream(it, schema, batchSize)))(
        org.apache.spark.sql.Encoders.BINARY)
      .toDF("arrow_ipc")
  }

  /** Decode an IPC stream back to (columnNames, rows) for round-trip
    * tests. Values come back as Arrow java objects (Long/Int/Double/Text…).
    */
  def fromIpcStream(bytes: Array[Byte]): (Seq[String], Seq[Seq[Any]]) = {
    val allocator = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), allocator)
    try {
      val root = reader.getVectorSchemaRoot
      val names = root.getSchema.getFields.asScala.map(_.getName).toSeq
      val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (reader.loadNextBatch()) {
        (0 until root.getRowCount).foreach { i =>
          rows += root.getFieldVectors.asScala.map { v =>
            val o = v.getObject(i)
            o match {
              case t: org.apache.arrow.vector.util.Text => t.toString
              case other => other
            }
          }.toSeq
        }
      }
      (names, rows.toSeq)
    } finally {
      reader.close()
      allocator.close()
    }
  }
}
