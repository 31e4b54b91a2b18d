package graft.sources

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one parquet read path of the program.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job (one task
  * that opens a footer on an executor) before any query over the table is
  * planned. Here the driver reads that footer itself and hands the schema
  * to `spark.read.schema(s).parquet(path)`, which launches no job.
  *
  * 100 TB posture: one footer per read, read on the driver with its row
  * groups skipped, plus one `listStatus` of the table directory — O(1) in
  * the table's size, the same single file Spark's own inference opens when
  * schema merging is off (the lexicographically first data file). The
  * scan itself is unchanged.
  *
  * The schema is the one Spark infers: the footer's
  * `org.apache.spark.sql.parquet.row.metadata` key when Spark wrote the
  * file, otherwise the footer's parquet schema through Spark's
  * [[ParquetToSparkSchemaConverter]] under the session's conf
  * (`nanosAsLong`, `inferTimestampNTZ`, binary-as-string, ...). Every
  * layout whose inference does more than read one footer defers to
  * `spark.read.parquet(path)`: a glob, a missing path, a directory with
  * subdirectories (Hive `k=v` partitions) or without a data file, a
  * `_metadata`/`_common_metadata` summary file, `mergeSchema` on, and a
  * footer that cannot be read or whose Spark key does not parse.
  */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark would infer for `path`, read from one footer on the
    * driver; None where [[read]] defers to Spark.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = Try(fs.getFileStatus(p)).toOption.toSeq.flatMap { st =>
        if (st.isDirectory) fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName))
        else Seq(st)
      }
      val flat = entries.forall(s => s.isFile && !isSummary(s.getPath.getName))
      if (!flat) None
      else entries.sortBy(_.getPath.toString).headOption.flatMap { first =>
        try schemaOf(first, fs.getConf, new ParquetToSparkSchemaConverter(conf))
        catch { case NonFatal(_) => None }
      }
    }
  }

  private def schemaOf(
      file: FileStatus,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      converter: ParquetToSparkSchemaConverter): Option[StructType] = {
    val opts = HadoopReadOptions.builder(hadoopConf, file.getPath)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, hadoopConf), opts)
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)) match {
      case Some(json) => Try(DataType.fromJson(json)).toOption.collect { case s: StructType => s }
      case None => Some(converter.convert(meta.getSchema))
    }
  }

  /** Names Spark's file index leaves out (`HadoopFSUtils.shouldFilterOutPathName`),
    * except the summary files, which it keeps and which make [[read]] defer.
    */
  private def hidden(name: String): Boolean =
    !isSummary(name) &&
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_"))

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")
}
