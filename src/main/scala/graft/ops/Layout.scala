package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Storage-layout operators: the data-management side of a 100 TB corpus
  * (north-star extension; the reference delegates layout entirely to its
  * warehouse — duck.go stores whatever Arrow hands it).
  *
  * Three layout levers, each mapping to a Spark-native mechanism so every
  * downstream read benefits without custom readers:
  *   - **Partitioned writes** (`partitionBy`): a filter on the partition
  *     column prunes whole directories at planning time — the scan never
  *     opens non-matching files. This is the first-order win at scale:
  *     partition on the columns queries gate on (language, date, source).
  *   - **Range clustering** (`repartitionByRange` + `sortWithinPartitions`):
  *     within each file, parquet row-group min/max stats become selective,
  *     so point/range predicates on the cluster key skip row groups
  *     (data skipping) even where directory pruning can't apply.
  *   - **Compaction**: many small files → few target-sized files. Small
  *     files are a silent scale killer (footer-open cost per file,
  *     scheduler pressure: 10 M × 1 MB files is metadata DoS); compaction
  *     reads once and writes ceil(bytes / target) files, preserving the
  *     partition directory structure when asked.
  */
object Layout {

  /** Hive-style partitioned parquet write. Returns the written path. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): String = {
    df.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    path
  }

  /** Range-clustered write: rows range-partitioned then sorted on
    * `clusterCols`, so each output file covers a narrow, non-overlapping
    * key range and row-group min/max stats prune aggressively.
    */
  def writeClustered(
      df: DataFrame,
      path: String,
      clusterCols: Seq[String],
      numFiles: Int): String = {
    val cols = clusterCols.map(col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write
      .mode("overwrite")
      .parquet(path)
    path
  }

  /** Interleaved (Z-order-style) clustered write for N-column predicate
    * sets. Lexicographic clustering ([[writeClustered]]) makes row-group
    * stats selective on the leading column only — every later column spans
    * its full range in every file. Interleaving fixes that: each column is
    * quantile-bucketed into 2^`bucketBits` ranks (boundaries from ONE
    * multi-column `approxQuantile` sampling pass — driver holds a small
    * boundary array per column, never data), the rank bits are interleaved
    * into a Morton code (bit i of column j lands at position i*N + j), and
    * files are range-partitioned + sorted on that code, so EVERY cluster
    * column gets a narrow per-file min/max range and row-group skipping
    * works for predicates on any of them.
    *
    * Everything stays declarative: bucket lookup is a filter-count over a
    * literal boundary array, bit interleave is integer arithmetic, and
    * the write is one range shuffle — the same cost shape as
    * [[writeClustered]].
    */
  /** The Morton (Z-order) interleave key as a COLUMN over `df`: each
    * cluster column quantile-bucketed into `2^bucketBits` ranks (one
    * approxQuantile sampling pass — driver-bounded, the standard layout
    * practice), ranks bit-interleaved LSB-first. Shared by
    * [[writeInterleaved]] and the managed table's OPTIMIZE-ZORDER
    * compaction so both layouts cluster identically.
    */
  def mortonZ(df: DataFrame, clusterCols: Seq[String], bucketBits: Int): Column = {
    val n = clusterCols.size
    require(n >= 1, "clusterCols empty")
    require(n * bucketBits <= 63,
      s"$n cols x $bucketBits bits = ${n * bucketBits} Morton bits; max 63")
    val nb = 1 << bucketBits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    // One sampling pass computes every column's boundaries.
    val doubled = df.select(clusterCols.map(c => col(c).cast("double").as(c)): _*)
    val allBounds = doubled.stat.approxQuantile(clusterCols.toArray, probs, 0.001)
    def rank(c: String, bs: Array[Double]) =
      size(filter(
        typedLit(bs.toSeq),
        b => col(c).cast("double") >= b)).cast("long")
    val ranks = clusterCols.zip(allBounds).map { case (c, bs) => rank(c, bs) }
    (for {
      i <- 0 until bucketBits
      (r, j) <- ranks.zipWithIndex
    } yield shiftright(r, i).bitwiseAND(lit(1L)) * lit(1L << (i * n + j)))
      .reduce(_ + _)
  }

  def writeInterleaved(
      df: DataFrame,
      path: String,
      clusterCols: Seq[String],
      numFiles: Int,
      bucketBits: Int): String = {
    val n = clusterCols.size
    require(n >= 1, "clusterCols empty")
    require(clusterCols.distinct.size == n, s"duplicate cluster columns: $clusterCols")
    require(n * bucketBits <= 63,
      s"$n cols x $bucketBits bits = ${n * bucketBits} Morton bits; max 63")
    val z = mortonZ(df, clusterCols, bucketBits)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write
      .mode("overwrite")
      .parquet(path)
    path
  }

  /** Two-column convenience overload (bit layout identical to the N-column
    * form with `Seq(colA, colB)`).
    */
  def writeInterleaved(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      numFiles: Int,
      bucketBits: Int = 6): String =
    writeInterleaved(df, path, Seq(colA, colB), numFiles, bucketBits)

  /** Total bytes and file count of the parquet data files under `path`
    * (recursive; ignores _SUCCESS/metadata).
    */
  def dataFileStats(spark: SparkSession, path: String): (Long, Int) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; n += 1 }
    }
    (bytes, n)
  }

  /** Compact the parquet dataset at `inPath` into ceil(bytes/target)
    * files at `outPath`. One distributed read, one round-robin
    * repartition (even file sizes), one write — no driver-side data
    * movement. Returns the output file count.
    *
    * Flattens any Hive partition directories into plain files — for a
    * partitioned dataset use the `partitionCols` overload, which sizes
    * files per partition and keeps the directory structure.
    */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetFileBytes: Long): Int = {
    val (bytes, _) = dataFileStats(spark, inPath)
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    Parquet.read(spark, inPath).repartition(nOut).write.mode("overwrite").parquet(outPath)
    dataFileStats(spark, outPath)._2
  }

  /** Partition-preserving compaction: the Hive directory layout under
    * `inPath` survives intact at `outPath`, and each partition is
    * compacted independently toward `targetFileBytes`.
    *
    * Per-partition file counts come from per-partition row counts scaled
    * by the dataset's average bytes/row. Rows are salted into that many
    * buckets and shuffled on (partition cols, salt) so a hot partition's
    * write spreads across several tasks, and `maxRecordsPerFile`
    * (target bytes / avg bytes-per-row) makes the writer roll files at
    * the target size even when two buckets hash into the same task — a
    * hot partition gets many ≈target files, a cold one gets one, which
    * is exactly how real compaction jobs run. Returns the output
    * data-file count.
    */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetFileBytes: Long,
      partitionCols: Seq[String]): Int = {
    require(partitionCols.nonEmpty, "partitionCols empty — use the non-partitioned overload")
    val df = Parquet.read(spark, inPath)
    val (bytes, _) = dataFileStats(spark, inPath)
    val pCols = partitionCols.map(col)
    val counts = df.groupBy(pCols: _*).agg(count(lit(1)).as("_rows"))
    val totalRows = math.max(1L, counts.agg(sum("_rows")).head().getLong(0))
    val bytesPerRow = bytes.toDouble / totalRows
    val nFiles = counts.withColumn(
      "_nf",
      greatest(lit(1L), ceil(col("_rows") * bytesPerRow / targetFileBytes)))
    val totalFiles = math.max(1L, nFiles.agg(sum("_nf")).head().getLong(0))
    val rowsPerFile = math.max(1L, (targetFileBytes / bytesPerRow).toLong)
    df.join(broadcast(nFiles.drop("_rows")), partitionCols)
      .withColumn("_salt", monotonically_increasing_id() % col("_nf"))
      .repartition(totalFiles.toInt, pCols :+ col("_salt"): _*)
      .drop("_salt", "_nf")
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(outPath)
    dataFileStats(spark, outPath)._2
  }
}
