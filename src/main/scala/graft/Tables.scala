package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.Parquet

/** Fixture-table loader over the driver-generated parquet dirs
  * (TESTDATA.md). One parquet directory per table: `$dir/$name.parquet`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two physical encodings across fixture
      // generations: parquet TIMESTAMP(NANOS) (no native Spark type —
      // surfaces as raw long nanos under the session-level
      // spark.sql.legacy.parquet.nanosAsLong=true that every Graft
      // session builder sets) and TIMESTAMP(MICROS) isAdjustedToUTC=false
      // (surfaces as TIMESTAMP_NTZ). Branch on the resolved type and
      // normalize both to session-zone TimestampType truncated to micros —
      // the session zone is UTC in every builder, so the NTZ cast is
      // value-preserving and both engines (Spark here, DuckDB reading the
      // same file as a naive timestamp) see identical values.
      val df = Parquet.read(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => // raw nanos via nanosAsLong — truncate to micros
          df.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => df
        case other =>
          throw new IllegalStateException(s"events.ts: unexpected type $other")
      }
    } else Parquet.read(spark, s"$dir/$name.parquet")

  /** Register every PRESENT fixture table as a temp view (for the SQL
    * surface). Presence-checked per table: derived benchmark datasets
    * (ScaleUp) ship only the tables they replicate, and an eager read of
    * an absent one must not take down queries that never touch it.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    all.foreach { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n.parquet")
      if (p.getFileSystem(conf).exists(p)) apply(spark, dir, n).createOrReplaceTempView(n)
    }
  }
}
