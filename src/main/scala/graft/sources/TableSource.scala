package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Scan pushdown options ≈ `BigQueryReaderOptions` (bigquery.go:78-81):
  *
  *   - selectedFields ≈ TableReadOptions.SelectedFields (column pruning, A6)
  *   - rowRestriction ≈ TableReadOptions.RowRestriction (predicate pushdown, A7)
  *   - maxStreamCount ≈ MaxStreamCount (scan parallelism request, A8)
  *
  * In Spark the first two become `.select`/`.filter` on the scan, which
  * Catalyst pushes into the file source (verify via `PushedFilters` /
  * `ReadSchema` in the formatted plan). `maxStreamCount` is a *minimum
  * parallelism request*: Spark already schedules one task per file split —
  * fixing the reference's consume-only-streams[0] bug (bigquery.go:191) by
  * construction — so the option only matters when a table has fewer splits
  * than the requested fan-out.
  */
final case class ScanOptions(
    selectedFields: Seq[String] = Nil,
    rowRestriction: Option[String] = None,
    maxStreamCount: Option[Int] = None,
    sessionRetry: RetryPolicy = RetryPolicy.createReadSession,
    rowsRetry: RetryPolicy = RetryPolicy.readRows)

object ScanOptions {
  val default: ScanOptions = ScanOptions()
}

/** Connector-channel retry/backoff policy ≈ the reference's gax call
  * options (bigquery.go:35-62): exponential backoff between attempts,
  * retry only on a declared set of status codes, optional overall
  * deadline. Spark's own `spark.task.maxFailures` covers EXECUTION
  * retries; this is the CHANNEL policy a swapped-in gRPC read-session
  * source applies around `CreateReadSession`/`ReadRows` calls — carried
  * on [[ScanOptions]] so the documented swap-in contract is complete.
  *
  * Deterministic by construction: `backoffMs(n)` is a pure schedule and
  * `run` takes an injectable sleeper, so policy behavior is spec-pinned
  * without wall-clock waits. The deadline bounds TOTAL backoff slept
  * (the gax `WithTimeout` shape collapsed to the part that is
  * deterministic without a wall clock).
  */
final case class RetryPolicy(
    timeoutMs: Option[Long],
    initialBackoffMs: Long,
    maxBackoffMs: Long,
    multiplier: Double,
    retryableCodes: Set[String]) {
  require(initialBackoffMs > 0, "initialBackoffMs must be positive")
  require(maxBackoffMs >= initialBackoffMs, "maxBackoffMs < initialBackoffMs")
  require(multiplier >= 1.0, "multiplier must be >= 1")

  /** Backoff before retry `attempt` (0-based): initial·multiplier^attempt,
    * capped at the max (gax.Backoff semantics, bigquery.go:43-47).
    */
  def backoffMs(attempt: Int): Long =
    math.min(
      maxBackoffMs.toDouble,
      initialBackoffMs * math.pow(multiplier, attempt.toDouble)).toLong

  /** Run `op`, retrying failures whose `codeOf` is in `retryableCodes`
    * with the `backoffMs` schedule, up to `maxAttempts` total attempts or
    * until the deadline's worth of backoff has been slept. Non-retryable
    * codes propagate immediately.
    */
  def run[T](
      op: () => T,
      codeOf: Throwable => String,
      maxAttempts: Int = 5,
      sleep: Long => Unit = Thread.sleep): T = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 0
    var slept = 0L
    while (true) {
      try return op()
      catch {
        // NonFatal only: VirtualMachineError / InterruptedException etc.
        // must propagate immediately, never be classified and slept on
        case scala.util.control.NonFatal(e) =>
          val retryable = retryableCodes.contains(codeOf(e))
          val next = backoffMs(attempt)
          val overDeadline = timeoutMs.exists(t => slept + next > t)
          if (!retryable || attempt + 1 >= maxAttempts || overDeadline) throw e
          sleep(next)
          slept += next
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object RetryPolicy {

  /** `CreateReadSession` defaults (bigquery.go:37-48): 600 s deadline,
    * retry DEADLINE_EXCEEDED + UNAVAILABLE, 100 ms → 60 s ×1.30.
    */
  val createReadSession: RetryPolicy = RetryPolicy(
    timeoutMs = Some(600000L),
    initialBackoffMs = 100L,
    maxBackoffMs = 60000L,
    multiplier = 1.30,
    retryableCodes = Set("DEADLINE_EXCEEDED", "UNAVAILABLE"))

  /** `ReadRows` defaults (bigquery.go:50-60): no overall deadline, retry
    * UNAVAILABLE only, same backoff curve.
    */
  val readRows: RetryPolicy = RetryPolicy(
    timeoutMs = None,
    initialBackoffMs = 100L,
    maxBackoffMs = 60000L,
    multiplier = 1.30,
    retryableCodes = Set("UNAVAILABLE"))
}

/** A pluggable table source (≈ `BigQueryReadClient`, bigquery.go:64-82).
  * The production analogue would be a DSv2 connector; the test-rig
  * implementation reads the driver's Parquet fixtures with the same options
  * surface.
  */
trait TableSource {

  /** Scan a table with pushdown options (≈ NewBigQueryReader + the Read loop,
    * bigquery.go:85-212, collapsed into one declarative plan).
    */
  def read(spark: SparkSession, table: String, opts: ScanOptions = ScanOptions.default): DataFrame

  /** Source-side schema (≈ BigQueryReader.Schema(), bigquery.go:243-248). */
  def schema(spark: SparkSession, table: String): StructType =
    read(spark, table).schema
}

/** Parquet-directory-backed source: table `t` lives at `$dir/t.parquet`.
  * This is the zero-egress stand-in for the BigQuery Storage read session;
  * pushdown happens through Catalyst into the vectorized Parquet reader
  * (row-group and page-index filtering).
  */
final class ParquetTableSource(dir: String) extends TableSource {

  override def read(spark: SparkSession, table: String, opts: ScanOptions): DataFrame = {
    val path = s"$dir/$table.parquet"
    var df = Parquet.read(spark, path)
    if (opts.selectedFields.nonEmpty) {
      df = df.select(opts.selectedFields.map(col): _*)
    }
    opts.rowRestriction.foreach(pred => df = df.filter(expr(pred)))
    // A parallelism *floor*: when the table is too small to yield >= n file
    // splits, repartition(n) (a round-robin shuffle) raises the fan-out to
    // the requested stream count. At scale the scan already has >= n splits
    // and the plan is left untouched — no shuffle. The split estimate comes
    // from a driver-side file listing (mirroring FilePartition.maxSplitBytes)
    // rather than df.rdd, which would force eager non-AQE physical planning.
    opts.maxStreamCount.foreach { n =>
      if (estimatedSplits(spark, path) < n) df = df.repartition(n)
    }
    df
  }

  /** Estimate the scan's split count the way Spark's FilePartition does:
    * splittable files are cut at maxSplitBytes = min(maxPartitionBytes,
    * max(openCostInBytes, totalBytes / defaultParallelism)).
    */
  private def estimatedSplits(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.conf
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(p) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case st   => st.flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath) else Array(s))
    }
    val dataFiles = files.filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val openCost = conf.filesOpenCostInBytes
    val totalBytes = dataFiles.map(_.getLen + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
    dataFiles.map(f => math.max(1L, (f.getLen + maxSplit - 1) / math.max(1L, maxSplit))).sum
  }
}
