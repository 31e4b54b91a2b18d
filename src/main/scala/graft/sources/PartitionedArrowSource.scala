package graft.sources

import java.util

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.proto.ArrowInterchange.IpcStreamWriter

/** Storage-partitioned Arrow IPC source: a `key=value/` directory layout
  * whose scan REPORTS its clustering to Catalyst, so an equi-join of two
  * tables laid out on the same key plans WITHOUT a shuffle on either side
  * — Spark's storage-partitioned join (SPARK-37375, the mechanism Iceberg
  * uses to kill exchanges at 100 TB), fed here by this repo's own IPC
  * connector machinery.
  *
  * Read contract:
  *   - `option("partitionCol", k)` names the layout key; one
  *     `InputPartition` per distinct directory value, each implementing
  *     `HasPartitionKey` with the value decoded to the key column's type;
  *   - the scan's `outputPartitioning` is
  *     `KeyGroupedPartitioning(identity(k), #values)` — with
  *     `spark.sql.sources.v2.bucketing.enabled=true`, a join whose keys
  *     cover `k` against a co-laid-out table skips BOTH exchanges (the
  *     in-partition sort remains, as in any SMJ); the conf off, the same
  *     plan simply shuffles — reporting is advisory, never a correctness
  *     dependence;
  *   - files keep ALL columns (the directory key is also in the file), so
  *     readers are the plain per-file IPC readers and column pruning is
  *     unchanged.
  *
  * [[PartitionedArrow.write]] produces the layout executor-side: one
  * repartition on the key, each task streaming one `.arrow` file per key
  * value it holds into that value's directory — the dynamic-partitioning
  * writer shape. It is a LAYOUT utility (last-write-wins, no atomic
  * commit, assumes no speculative duplicate attempts); the atomic-commit
  * story lives in [[graft.sinks.ManagedWriter]].
  */
class PartitionedArrowSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = PartitionedArrow.listPartitionFiles(
      options.get("path"), options.get("partitionCol"))
    require(files.nonEmpty, s"no key=value/*.arrow files under ${options.get("path")}")
    ArrowIpcSource.readSchema(files.head._2.head)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PartitionedArrowTable(
      schema, properties.get("path"), properties.get("partitionCol"))

  override def supportsExternalMetadata(): Boolean = true
}

private class PartitionedArrowTable(schema: StructType, path: String, partitionCol: String)
    extends Table with SupportsRead {
  require(partitionCol != null, "option 'partitionCol' is required")
  override def name(): String = s"partitioned-arrow:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def partitioning(): Array[Transform] =
    Array(Expressions.identity(partitionCol))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PartitionedArrowScanBuilder(schema, path, partitionCol)
}

private class PartitionedArrowScanBuilder(
    fullSchema: StructType, path: String, partitionCol: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(
      fullSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan =
    new PartitionedArrowScan(fullSchema, required, path, partitionCol)
}

private class PartitionedArrowScan(
    fullSchema: StructType,
    required: StructType,
    path: String,
    partitionCol: String)
    extends Scan with Batch with SupportsReportPartitioning {

  private val keyType: DataType = fullSchema(partitionCol).dataType

  private lazy val groups: Seq[(String, Seq[String])] =
    PartitionedArrow.listPartitionFiles(path, partitionCol)

  override def readSchema(): StructType = required
  override def description(): String =
    s"PartitionedArrowScan($path, key=$partitionCol)"
  override def toBatch: Batch = this

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.identity(partitionCol)), groups.size)

  override def planInputPartitions(): Array[InputPartition] =
    groups.map { case (value, files) =>
      PartitionedArrowInputPartition(
        files, PartitionedArrow.decodeKeyCatalyst(value, keyType))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionedArrowReaderFactory(required, ArrowIpcSource.sessionConf())
}

/** All of one key value's files, keyed for storage-partitioned planning.
  * `key` must be the Catalyst-internal value (Long / Int / UTF8String…),
  * matching what the identity transform's data type promises.
  */
private case class PartitionedArrowInputPartition(
    files: Seq[String], key: Any)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(key)
}

private class PartitionedArrowReaderFactory(
    required: StructType, conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[PartitionedArrowInputPartition].files
    new PartitionReader[InternalRow] {
      private var idx = 0
      private var current: ArrowIpcPartitionReader = _
      override def next(): Boolean = {
        while (true) {
          if (current == null) {
            if (idx >= files.length) return false
            current = new ArrowIpcPartitionReader(files(idx), required, conf)
            idx += 1
          }
          if (current.next()) return true
          current.close()
          current = null
        }
        false
      }
      override def get(): InternalRow = current.get()
      override def close(): Unit = if (current != null) current.close()
    }
  }
}

object PartitionedArrow {

  /** `(value, files)` per `partitionCol=value` subdirectory, value-sorted
    * for deterministic planning.
    */
  private[sources] def listPartitionFiles(
      dir: String, partitionCol: String): Seq[(String, Seq[String])] = {
    require(partitionCol != null, "option 'partitionCol' is required")
    val p = new Path(dir)
    val fs = p.getFileSystem(ArrowIpcSource.sessionConf().value)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
      .map { d =>
        val value = d.getPath.getName.stripPrefix(s"$partitionCol=")
        val files = fs.listStatus(d.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".arrow"))
          .map(_.getPath.toString).sorted.toSeq
        (value, files)
      }
      .filter(_._2.nonEmpty)
      .sortBy(_._1)
      .toSeq
  }

  /** Directory-name string → Catalyst-internal key value. */
  private[sources] def decodeKeyCatalyst(value: String, dt: DataType): Any = dt match {
    case LongType => value.toLong
    case IntegerType => value.toInt
    case ShortType => value.toShort
    case StringType => UTF8String.fromString(value)
    case other =>
      throw new IllegalArgumentException(s"unsupported partition key type $other")
  }

  /** Key value (external) → path-safe directory fragment. */
  private def encodeKey(v: Any): String = {
    val s = String.valueOf(v)
    require(
      s.nonEmpty && !s.exists(c => c == '/' || c == '\\' || c.isWhitespace),
      s"partition value '$s' is not path-safe")
    s
  }

  /** Lay `df` out as `dir/keyCol=value/part-*.arrow`: ONE hash shuffle on
    * the key, then every task streams one IPC file per key value it holds
    * into that value's directory — the dynamic-partitioning writer shape,
    * executor-side, nothing driver-materialized. NULL keys are rejected
    * up front (a directory layout has nowhere to put them — filter or
    * coalesce first).
    */
  def write(df: DataFrame, dir: String, keyCol: String): Unit = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val keyDt = schema(keyIdx).dataType
    require(
      df.where(col(keyCol).isNull).isEmpty,
      s"null $keyCol values cannot be laid out into $keyCol=value directories")
    val conf = ArrowIpcSource.sessionConf()
    df.repartition(col(keyCol)).queryExecution.toRdd.foreachPartition { rows =>
      val taskId = org.apache.spark.TaskContext.get().taskAttemptId()
      val open = scala.collection.mutable.Map.empty[String, (FSDataOutputStream, IpcStreamWriter)]
      try {
        rows.foreach { row =>
          val keyStr = encodeKey(keyDt match {
            case StringType => row.getUTF8String(keyIdx).toString
            case LongType => row.getLong(keyIdx)
            case IntegerType => row.getInt(keyIdx)
            case ShortType => row.getShort(keyIdx)
            case other =>
              throw new IllegalArgumentException(s"unsupported partition key type $other")
          })
          open.getOrElseUpdate(keyStr, {
            val path = new Path(s"$dir/$keyCol=$keyStr/part-$taskId.arrow")
            val out = path.getFileSystem(conf.value).create(path, true)
            (out, new IpcStreamWriter(schema, out))
          })._2.write(row)
        }
        open.values.foreach(_._2.finish())
      } finally open.values.foreach { case (out, w) => try w.close() finally out.close() }
    }
  }
}
