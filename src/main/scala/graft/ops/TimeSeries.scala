package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Time-series regularization for event streams (north-star extension):
  * resample onto a fixed grid and carry observations forward across empty
  * buckets — the shape feature pipelines need before windowed training
  * (every (key, bucket) cell present, no NULL holes).
  *
  * Scale design:
  *   - The grid is generated per key with `sequence()` + `explode` —
  *     scan-local codegen'd expressions, no driver loop, no cross join
  *     against a calendar table. Grid size is bounded by each key's own
  *     [min, max] span, not the global one.
  *   - One hash exchange on the key serves the min/max aggregation; the
  *     per-bucket aggregation shuffles (key, bucket) partial aggregates
  *     (map-side combined). The final left join and the forward-fill
  *     window both hash on the key again — AQE typically reuses the
  *     exchange; at 100 TB the dominant cost is the (key, bucket) shuffle,
  *     which carries one aggregated row per occupied bucket, never raw
  *     events.
  *   - Keys with pathological spans (one event in 2010, one in 2024)
  *     inflate their own grid only; cap with a max-buckets guard upstream
  *     if the domain allows such outliers.
  */
object TimeSeries {

  /** Per-key exponentially-weighted moving average (α = 1/2) over the
    * key's full event series in (ts, id) order — the classic smoothing
    * statistic behind drift/anomaly monitors ("is this user's latest
    * activity far from their smoothed history?").
    *
    * Determinism contract: the fold runs in EXPLICIT (ts, id) position
    * order with `EWMA ← acc·0.5 + x·0.5` — one IEEE multiply-add chain
    * whose every operation is correctly rounded, so the result is
    * BIT-identical across partitionings, reruns, and engines (DuckDB:
    * `list_reduce(list(v ORDER BY ts, id), (a,x) -> a*0.5 + x*0.5)`).
    * α is fixed at 1/2 for that reason; other smoothing factors via
    * per-bucket pre-aggregation upstream.
    *
    * Scale shape: one hash exchange on the key (map-side collect_list
    * partials); per-key state is the key's own event list — the same
    * bound as any per-key sessionize/sort, with the usual hot-key caveat.
    * The fold itself is a scan-local codegen'd `aggregate` over the
    * assembled array; nothing is collected to the driver.
    *
    * Output: key, n_events, last_value, ewma — ordered fold over
    * (tsCol, idCol)-sorted values.
    */
  def ewma(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valCol: String): DataFrame = {
    val series = sort_array(collect_list(struct(
      unix_micros(col(tsCol)).as("t"),
      col(idCol).cast("long").as("i"),
      col(valCol).cast("double").as("v"))))
    // The codegen'd one-pass kernel: the same arithmetic as the
    // interpreted HOF fold (equivalence-pinned in FunctionsSpec), without
    // lambda interpretation on the hot path.
    def fold(s: org.apache.spark.sql.Column) =
      Graft.kernel(df.sparkSession, "graft_ewma", transform(s, _.getField("v")))
    df.groupBy(col(keyCol))
      .agg(series.as("_s"))
      .select(
        col(keyCol),
        size(col("_s")).cast("long").as("n_events"),
        element_at(col("_s"), size(col("_s"))).getField("v").as("last_value"),
        fold(col("_s")).as("ewma"))
  }

  /** Resample `df` onto a `stepSec`-second grid per `keyCol`: one row per
    * (key, bucket) between the key's first and last event. Output columns:
    * key, bucket_ts, n (events in bucket), last_value (most recent
    * observation in the bucket by (ts, idCol), NULL for empty buckets)
    * and filled_value (last_value carried forward).
    *
    * Bucket arithmetic is integer epoch math (`unix DIV step * step`) —
    * exact, and identical to DuckDB's `time_bucket`.
    */
  def gapFillForward(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      stepSec: Long): DataFrame = {
    val epoch = unix_timestamp(col(tsCol))
    val bucket = timestamp_seconds(epoch - pmod(epoch, lit(stepSec)))

    // Per-bucket aggregate: count + the value of the latest (ts, id) row.
    // max_by is order-insensitive given the (ts, id) tie-break key is
    // unique, so the result is deterministic under any partitioning.
    val perBucket = df
      .withColumn("_b", bucket)
      .groupBy(col(keyCol), col("_b").as("bucket_ts"))
      .agg(
        count(lit(1)).as("n"),
        max_by(col(valueCol), struct(col(tsCol), col(idCol))).as("last_value"))

    // Each key's own grid: sequence of bucket timestamps over [min, max].
    val grid = df
      .withColumn("_b", bucket)
      .groupBy(col(keyCol))
      .agg(min("_b").as("b0"), max("_b").as("b1"))
      .select(
        col(keyCol),
        explode(sequence(col("b0"), col("b1"), expr(s"INTERVAL $stepSec SECONDS")))
          .as("bucket_ts"))

    val fillW = Window
      .partitionBy(col(keyCol))
      .orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    grid
      .join(perBucket, Seq(keyCol, "bucket_ts"), "left")
      .select(
        col(keyCol),
        col("bucket_ts"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("last_value"),
        last(col("last_value"), ignoreNulls = true).over(fillW).as("filled_value"))
  }

  /** [[gapFillForward]]'s sibling with LINEAR interpolation: empty
    * buckets get `v0 + (v1 − v0) · ((tb − t0) / (t1 − t0))` between the
    * surrounding observations (times in exact micros; one double
    * division, multiply, add — in this exact operation order, so the
    * result is bit-reproducible in any engine applying the same tree:
    * identical operand bits + correctly-rounded IEEE ops need no
    * epsilon). Observed buckets keep their own latest value. Every empty
    * bucket lies strictly between two observed buckets (the grid spans
    * [first, last] observation), so both anchors always exist — no
    * boundary NULL semantics to drift.
    *
    * Output: key, bucket_ts, n, interp. Scale shape = gapFillForward's
    * plus one forward-looking window over the same (key, bucket) frame.
    */
  def resampleInterpolated(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      stepSec: Long): DataFrame = {
    val epoch = unix_timestamp(col(tsCol))
    val bucket = timestamp_seconds(epoch - pmod(epoch, lit(stepSec)))
    val perBucket = df
      .withColumn("_b", bucket)
      .groupBy(col(keyCol), col("_b").as("bucket_ts"))
      .agg(
        count(lit(1)).as("n"),
        max_by(
          struct(col(valueCol).as("v"), unix_micros(col(tsCol)).as("t")),
          struct(col(tsCol), col(idCol))).as("o"))
    val grid = df
      .withColumn("_b", bucket)
      .groupBy(col(keyCol))
      .agg(min("_b").as("b0"), max("_b").as("b1"))
      .select(
        col(keyCol),
        explode(sequence(col("b0"), col("b1"), expr(s"INTERVAL $stepSec SECONDS")))
          .as("bucket_ts"))
    val wb = Window.partitionBy(col(keyCol)).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col(keyCol)).orderBy(col("bucket_ts"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .join(perBucket, Seq(keyCol, "bucket_ts"), "left")
      .select(col(keyCol), col("bucket_ts"),
        coalesce(col("n"), lit(0L)).as("n"), col("o.v").as("v"), col("o.t").as("t"))
      .withColumn("v0", last(col("v"), ignoreNulls = true).over(wb))
      .withColumn("t0", last(col("t"), ignoreNulls = true).over(wb))
      .withColumn("v1", first(col("v"), ignoreNulls = true).over(wf))
      .withColumn("t1", first(col("t"), ignoreNulls = true).over(wf))
      .select(
        col(keyCol), col("bucket_ts"), col("n"),
        when(col("n") > 0, col("v"))
          .otherwise(col("v0") + (col("v1") - col("v0")) *
            ((unix_micros(col("bucket_ts")) - col("t0")) / (col("t1") - col("t0"))))
          .as("interp"))
  }

  /** Rolling z-score anomaly flags in EXACT integer arithmetic: a value
    * is anomalous when it deviates from its own trailing `window`-row
    * mean by more than `k` sample standard deviations. The float-free
    * trick: with S1 = Σv, S2 = Σv² over the window (current row
    * inclusive),
    *
    *   (v − S1/n)² > k²·(S2/n − (S1/n)²)  ⇔  (n·v − S1)² > k²·(n·S2 − S1²)
    *
    * so the test is a comparison of exact BIGINTs — bit-identical in any
    * engine, no sqrt, no float variance. `valCol` must already be an
    * integral (e.g. cents-scaled) column; magnitudes must keep
    * n²·max(v)² below 2⁶³ (true for any cents-scaled measurement with
    * small windows). Rows without a full trailing window are not
    * evaluated (a 3-row history cannot witness a 3σ deviation honestly).
    *
    * Scale shape: one hash exchange on the key for the trailing-rows
    * window (per-key partition bound — the sessionize caveat); the flag
    * itself is a scan-local long comparison. Output: the anomalous rows
    * (key, id, v), ordered by the caller.
    */
  def rollingAnomalies(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valCol: String,
      window: Int,
      k: Int): DataFrame = {
    require(window > 1, "window must exceed 1")
    require(k > 0, "non-positive k")
    val n = lit(window.toLong)
    val base = df
      .where(col(valCol).isNotNull)
      .select(col(keyCol), col(idCol), col(valCol).cast("long").as("v"),
        unix_micros(col(tsCol)).as("__t"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__t"), col(idCol))
      .rowsBetween(-(window - 1), 0)
    base
      .withColumn("s1", sum("v").over(w))
      .withColumn("s2", sum(col("v") * col("v")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .where(col("cnt") === window &&
        (n * col("v") - col("s1")) * (n * col("v") - col("s1")) >
          lit(k.toLong * k) * (n * col("s2") - col("s1") * col("s1")))
      .select(col(keyCol), col(idCol), col("v"))
  }

  /** Per-key ordinary-least-squares trend (slope + intercept) over an
    * event series — the "is this metric drifting, and how fast" primitive
    * behind capacity planning and burn-rate alerts.
    *
    * Exactness: x = whole HOURS since the key's own first event (integer
    * floor division of non-negative micros — Spark `div` ≡ DuckDB `//`),
    * y = the caller's exact long (cents). The five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) are exact long sums, the closed-form
    * numerators/denominator
    *   slope_num = n·Σxy − Σx·Σy,  den = n·Σx² − (Σx)²,
    *   icept_num = Σy·Σx² − Σx·Σxy
    * are exact long products, and the reported doubles are ONE correctly
    * rounded IEEE division each — bit-identical across engines and
    * partitionings. Overflow budget (documented, not checked per row):
    * |y|·span_hours²·n must stay below 2⁶³ — at cents×fixture scale the
    * worst term (Σy·Σx²) sits near 10¹⁸ with single-digit headroom, and
    * the per-key re-centering of x is what keeps it there (absolute epoch
    * hours would overflow Σy·Σx² by three orders of magnitude).
    *
    * Scale shape: one hash exchange on the key serves both the min-ts
    * window and the final aggregation (the grouping preserves the window's
    * partitioning, so Catalyst plans a single exchange); the statistics
    * map-side combine into one row per key. Keys with a single distinct
    * hour have den = 0 and report NULL slope/intercept.
    */
  def groupTrend(df: DataFrame, keyCol: String, tsCol: String, valCol: String): DataFrame = {
    val wk = Window.partitionBy(col(keyCol))
    val base = df
      .where(col(valCol).isNotNull)
      .select(col(keyCol), unix_micros(col(tsCol)).as("__t"), col(valCol).cast("long").as("y"))
      .withColumn("xm", col("__t") - min("__t").over(wk))
      .withColumn("x", expr("xm div 3600000000"))
    base
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("icept_num", col("sy") * col("sxx") - col("sx") * col("sxy"))
      .withColumn(
        "slope",
        when(col("den") =!= 0L, col("slope_num").cast("double") / col("den").cast("double")))
      .withColumn(
        "icept",
        when(col("den") =!= 0L, col("icept_num").cast("double") / col("den").cast("double")))
      .select(keyCol, "n", "slope_num", "den", "slope", "icept")
  }

  /** Per-key TIME-weighted average (TWAP): each observation's value holds
    * until the next observation, and the average weights each plateau by
    * its duration — the statistic that is correct where a plain mean
    * over-counts bursts of samples (financial TWAP, sensor duty cycles).
    *
    * Exactness: value = caller's exact long (cents), duration = exact
    * micros from the per-key lead; numerator Σ v·dt and denominator Σ dt
    * are exact long sums, the reported double is ONE IEEE division.
    * Overflow budget: max|v| · key_span_micros < 2⁶³ (cents × a
    * multi-year span sits near 10¹⁷). The LAST observation of each key
    * has no successor and contributes no plateau (the integral runs over
    * the observed span); same-timestamp duplicates contribute dt = 0 and
    * tie deterministically on the id column. Keys with a single
    * observation have no plateau at all and are absent from the output.
    *
    * Scale shape: one hash exchange on the key for the lead window (the
    * sessionize per-key bound); the aggregation reuses the window's
    * partitioning — map-side-combined, one row per key.
    */
  def timeWeightedAverage(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__t"), col(idCol))
    df.where(col(valCol).isNotNull)
      .select(col(keyCol), col(idCol), col(valCol).cast("long").as("v"),
        unix_micros(col(tsCol)).as("__t"))
      .withColumn("__dt", lead(col("__t"), 1).over(w) - col("__t"))
      .where(col("__dt").isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(col("v") * col("__dt")).as("num"), sum(col("__dt")).as("den"))
      .withColumn(
        "twap",
        when(col("den") > 0L, col("num").cast("double") / col("den").cast("double")))
  }

  /** Per-UTC-day PEAK concurrency of a set of half-open intervals
    * `[start, end)` — "max concurrent sessions/users that day", the
    * capacity number behind sizing dashboards.
    *
    * Construction (sweep line, fully distributed):
    *   1. every interval emits (+1 at start, −1 at end);
    *   2. boundaries COLLAPSE per distinct timestamp (groupBy micros →
    *      net delta) — this both bounds the data and makes the sweep
    *      deterministic: at one instant all ends and starts take effect
    *      together (half-open semantics), so intermediate orderings
    *      within a timestamp never materialize;
    *   3. the running sum of net deltas over the global timestamp order
    *      is the concurrency ON [t, next_t) — computed by
    *      [[Prefix.runningSum]]'s two-phase range-partitioned scan, NOT a
    *      single-task global window;
    *   4. a day's peak is the max over its boundary rows of
    *      greatest(value_after, value_before) — value_before (= running −
    *      net) covers the carry-in plateau that entered the day from an
    *      earlier boundary.
    * Days with no boundary (fully inside one plateau) are not emitted —
    * changelog semantics, same as any event-driven monitor.
    *
    * Output: (day [epoch days], peak, n_changes), exact longs end to end.
    */
  def peakConcurrency(intervals: DataFrame, startCol: String, endCol: String): DataFrame = {
    val starts = intervals.select(unix_micros(col(startCol)).as("t"), lit(1L).as("d"))
    val ends = intervals.select(unix_micros(col(endCol)).as("t"), lit(-1L).as("d"))
    val collapsed = starts.unionAll(ends).groupBy("t").agg(sum("d").as("net"))
    Prefix.runningSum(collapsed, "t", "net", "running")
      .withColumn("day", expr("t div 86400000000"))
      .groupBy("day")
      .agg(
        max(greatest(col("running"), col("running") - col("net"))).as("peak"),
        count(lit(1)).as("n_changes"))
  }

  /** SLO burn rate over trailing hourly windows: per hour bucket, the
    * error fraction over the short and long windows divided by the error
    * budget — the standard multi-window alert shape (page when BOTH the
    * fast and slow burn exceed 1: the fast window catches the spike, the
    * slow one proves it isn't noise).
    *
    * Exactness: counts are exact longs; burn = (err·1000) / (tot·budget‰)
    * is ONE IEEE division of exact integer products. Hours with no events
    * are absent from the output (changelog semantics, like
    * [[peakConcurrency]]) — their trailing windows still see earlier
    * hours through the RANGE frame, which spans value distance, not rows.
    *
    * Scale shape: event volume collapses to the HOURLY table in one
    * map-side-combined aggregation; the trailing RANGE windows run over
    * that bucket-cardinality frame (8.8k rows/year — driver-trivial at
    * any event scale, same class as the contingency margins). The
    * unpartitioned window is deliberate: a global SLO is a global order —
    * shard by service upstream when there is a service key.
    */
  def burnRate(
      df: DataFrame,
      tsCol: String,
      isError: Column,
      shortHours: Int,
      longHours: Int,
      budgetPerMille: Long): DataFrame =
    burnRateFromHourly(
      hourlyErrorCounts(df, tsCol, isError), shortHours, longHours, budgetPerMille)

  /** Per-key run-length encoding of a state column: consecutive
    * identical states in (ts, id) order collapse to one row with the
    * run's span and length — the "what state was this device/user in,
    * and for how long" compression behavior logs get before storage or
    * duration analytics (state-machine dwell times fall out directly).
    *
    * Determinism: (ts, id) is a total order (unique id); a run breaks on
    * ANY state change, and runs are numbered per key in order. Exact
    * micros.
    *
    * Scale shape: one key exchange; the change flag (lag), the run id
    * (running sum), and the run aggregation all share the window
    * partitioning — the sessionize skeleton and its hot-key bound.
    *
    * Output: (key, run_id, state, run_start_micros, run_end_micros,
    * n_events).
    */
  def runLengthStates(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_t"), col("_i"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(
        col(keyCol), col(stateCol).as("state"),
        unix_micros(col(tsCol)).as("_t"), col(idCol).cast("long").as("_i"))
      .withColumn("_prev", lag(col("state"), 1).over(w))
      .withColumn("_chg",
        when(col("_prev").isNull || col("_prev") =!= col("state"), 1L).otherwise(0L))
      .withColumn("run_id", sum("_chg").over(run))
      .groupBy(col(keyCol), col("run_id"), col("state"))
      .agg(
        min("_t").as("run_start_micros"),
        max("_t").as("run_end_micros"),
        count(lit(1)).as("n_events"))
  }

  /** Per-key inter-arrival statistics — the burstiness profile ("is this
    * key a steady heartbeat or a bursty clump?") monitoring and
    * bot-detection pipelines compute per entity: exact integer
    * sufficient statistics of the consecutive-gap series (n, Σ, Σ²,
    * min, max in micros) plus the squared coefficient of variation as
    * ONE rational-over-rational IEEE expression — cv² ≈ 1 is Poisson,
    * ≪ 1 periodic, ≫ 1 bursty.
    *
    * cv²'s closed form over exact longs: (n·Σg² − (Σg)²) / (Σg)² —
    * numerator and denominator are exact; the division is the only
    * float op. Gaps are measured in WHOLE SECONDS (floor of the micro
    * difference) — the micro-squared term would overflow 2⁶³ on
    * week-scale gaps, while second-granularity burstiness keeps the
    * n·Σg² budget safe to ~year-long gaps × 10³ events and loses
    * nothing a burstiness verdict cares about.
    *
    * Scale shape: one key exchange (lag window + aggregation share it);
    * keys with fewer than 2 events are absent (no gaps exist).
    */
  def interArrivalStats(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_t"), col("_i"))
    df.select(col(keyCol), unix_micros(col(tsCol)).as("_t"),
        col(idCol).cast("long").as("_i"))
      .withColumn("_prev", lag(col("_t"), 1).over(w))
      .withColumn("_gap", expr("(_t - _prev) div 1000000"))
      .where(col("_gap").isNotNull)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum("_gap").as("sum_gap_s"),
        sum(col("_gap") * col("_gap")).as("sum_gap2_s"),
        min("_gap").as("min_gap_s"),
        max("_gap").as("max_gap_s"))
      .withColumn("cv2",
        when(col("sum_gap_s") > 0L,
          (col("n_gaps") * col("sum_gap2_s") - col("sum_gap_s") * col("sum_gap_s")).cast("double") /
            (col("sum_gap_s") * col("sum_gap_s")).cast("double")))
  }

  /** Per-key UNION-OF-INTERVALS covered time: total duration covered by
    * at least one interval, overlaps merged — billable hours, device
    * uptime, SLA coverage ("how long was the user actually active",
    * which Σ durations over-counts whenever sessions overlap).
    *
    * Classic island sweep, exact micros end to end: in (start, end)
    * order, an interval starts a NEW island when its start exceeds the
    * running max end of everything before it (touching intervals —
    * start == previous end — merge, closed-interval semantics); each
    * island contributes max(end) − min(start).
    *
    * Scale shape: one hash exchange on the key + the per-key sort (the
    * island flag, the running max, and the island aggregation all ride
    * the same window partitioning) — sessionize's exact skeleton and
    * hot-key bound.
    *
    * Output: (key, covered_micros, n_islands, n_intervals).
    */
  def coveredTime(
      intervals: DataFrame,
      keyCol: String,
      startCol: String,
      endCol: String): DataFrame = {
    val base = intervals.select(
      col(keyCol),
      unix_micros(col(startCol)).as("_s"),
      unix_micros(col(endCol)).as("_e"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_s"), col("_e"))
    val prevMax = max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    base
      .withColumn("_new", when(prevMax.isNull || col("_s") > prevMax, 1L).otherwise(0L))
      .withColumn("_island",
        sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_island"))
      .agg((max("_e") - min("_s")).as("_len"), count(lit(1)).as("_n"))
      .groupBy(col(keyCol))
      .agg(
        sum("_len").as("covered_micros"),
        count(lit(1)).as("n_islands"),
        sum("_n").as("n_intervals"))
  }

  /** Per-key Holt double-exponential smoothing (level + trend, α = β =
    * 1/2) over the key's event series in (ts, id) order — [[ewma]]'s
    * sibling for TRENDING series (a plain EWMA lags a ramp forever; the
    * trend term closes the gap), with the one-step-ahead forecast
    * `level + trend` that capacity monitors alert on.
    *
    * Recurrence (classic Holt, seeds l₁ = v₁, b₁ = 0):
    *   l_t = ½·v_t + ½·(l + b);   b_t = ½·(l_t − l) + ½·b
    * Determinism contract is [[ewma]]'s: the fold runs in explicit
    * (ts, id) order as ONE struct-accumulator chain whose every operation
    * is a correctly rounded IEEE op on identical operands — the l_t
    * expression is spelled once and reused inside b_t on both engines, so
    * the bits match. The DuckDB twin is a RECURSIVE CTE replay of the
    * same recurrence, NOT a `list_reduce` struct fold: DuckDB's
    * struct_pack-in-lambda mutates accumulator fields SEQUENTIALLY (a
    * later field expression observes the earlier field already
    * overwritten — measured empirically), which silently changes the
    * recurrence. α = β = 1/2 is fixed for the same reason as ewma's α.
    *
    * Scale shape: identical to [[ewma]] — one hash exchange on the key,
    * per-key state is the key's own series (sessionize bound), the fold
    * is a scan-local expression over the assembled array.
    */
  def holtLinear(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valCol: String): DataFrame = {
    val series = sort_array(collect_list(struct(
      unix_micros(col(tsCol)).as("t"),
      col(idCol).cast("long").as("i"),
      col(valCol).cast("double").as("v"))))
    def step(acc: Column, x: Column): Column = {
      val l = acc.getField("l")
      val b = acc.getField("b")
      val lNext = x.getField("v") * 0.5 + (l + b) * 0.5
      struct(lNext.as("l"), ((lNext - l) * 0.5 + b * 0.5).as("b"))
    }
    // The per-key smoothing fold is an interpreted HOF chain — far
    // heavier per byte than the collect_list agg below it, which is all
    // AQE's byte-based coalescing can see (the ns225 class: the sibling
    // Holt-Winters fold ran on numCoalescedPartitions=2). Spread between
    // the agg and the fold; fanout ≈ 64× (one l/b struct rebuild per
    // ~24-byte series element through interpreted eval).
    Par.spread(df.groupBy(col(keyCol)).agg(series.as("_s")), fanout = 64)
      .select(
        col(keyCol),
        size(col("_s")).cast("long").as("n_events"),
        aggregate(
          slice(col("_s"), lit(2), size(col("_s")) - 1),
          struct(element_at(col("_s"), 1).getField("v").as("l"), lit(0.0).as("b")),
          step).as("_hb"))
      .select(
        col(keyCol), col("n_events"),
        col("_hb.l").as("level"), col("_hb.b").as("trend"),
        (col("_hb.l") + col("_hb.b")).as("forecast"))
  }

  /** Holt–Winters ADDITIVE triple-exponential smoothing (α=β=γ=1/2 —
    * the dyadic-rational convention every smoothing fold here uses):
    * level + trend + an m-slot additive seasonal profile, per key over
    * the (ts, id)-ordered value series. Textbook deterministic init:
    * `l₀ = mean(y₁..yₘ)` (one fixed sum-then-divide), `b₀ = 0`,
    * `sᵢ = yᵢ − l₀`; then for t > m with slot `j = (t−1) mod m`:
    * `l ← (y − s_j)/2 + (l + b)/2`, `b ← (l' − l)/2 + b/2`,
    * `s_j ← (y − l')/2 + s_j/2`. Keys with fewer than m observations
    * cannot initialize a season and are excluded.
    *
    * Forecast = `l + b + s_(next slot)` — one step ahead. Every chain is
    * a fixed IEEE sequence over exact inputs, replayed step-for-step by
    * the oracle's RECURSIVE CTE (the coupled-recurrence rule: DuckDB's
    * struct-accumulator list_reduce mutates fields sequentially, so
    * recursion is the only faithful replay).
    *
    * Scale shape: one key exchange; per-key state is the (l, b,
    * m-vector) fold over the key's own series (the sessionize bound).
    */
  def holtWintersAdditive(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valCol: String,
      period: Int): DataFrame = {
    require(period >= 2, "period must be >= 2")
    val m = period
    val series = sort_array(collect_list(struct(
      unix_micros(col(tsCol)).as("t"),
      col(idCol).cast("long").as("i"),
      col(valCol).cast("double").as("v"))))
    def step(acc: Column, x: Column): Column = {
      val l = acc.getField("l")
      val b = acc.getField("b")
      val s = acc.getField("s")
      val idx = acc.getField("n") // 0-based index of THIS element
      val j = idx % m
      val sOld = element_at(s, (j + 1).cast("int"))
      val v = x.getField("v")
      val lNext = (v - sOld) * 0.5 + (l + b) * 0.5
      val bNext = (lNext - l) * 0.5 + b * 0.5
      val sNext = (v - lNext) * 0.5 + sOld * 0.5
      val sArr = concat(
        slice(s, lit(1), j.cast("int")),
        array(sNext),
        slice(s, (j + 2).cast("int"), (lit(m) - j - 1).cast("int")))
      struct(lNext.as("l"), bNext.as("b"), sArr.as("s"), (idx + 1).as("n"))
    }
    // Same post-agg widening as holtLinear, weighted for the heavier
    // step: each element rebuilds the m-slot season array (slice +
    // concat through interpreted eval) on top of the l/b chain —
    // ~m·24 B of array traffic per 24-byte element ≈ 64·(m/2)×.
    Par.spread(
        df.groupBy(col(keyCol)).agg(series.as("_s")).where(size(col("_s")) >= m),
        fanout = 32.0 * m)
      .select(
        col(keyCol),
        size(col("_s")).cast("long").as("n_events"),
        aggregate(
          slice(col("_s"), lit(m + 1), size(col("_s")) - m),
          struct(
            aggregate(slice(col("_s"), 1, m), lit(0.0), (a, x) => a + x.getField("v"))
              ./(lit(m.toDouble)).as("l"),
            lit(0.0).as("b"),
            transform(slice(col("_s"), 1, m), x =>
              x.getField("v") -
                aggregate(slice(col("_s"), 1, m), lit(0.0), (a, y) => a + y.getField("v")) /
                  lit(m.toDouble)).as("s"),
            lit(m.toLong).as("n")),
          step).as("_hw"))
      .select(
        col(keyCol), col("n_events"),
        col("_hw.l").as("level"), col("_hw.b").as("trend"),
        (col("_hw.l") + col("_hw.b") +
          element_at(col("_hw.s"), (col("_hw.n") % m + 1).cast("int")))
          .as("forecast"))
  }

  /** [[burnRate]]'s first stage alone: exact (hour, total, errors) counts
    * — the mergeable form (counts add across partial tables), which is
    * what the streaming twin accumulates across triggers.
    */
  def hourlyErrorCounts(df: DataFrame, tsCol: String, isError: Column): DataFrame =
    df.select(expr(s"unix_micros($tsCol) div 3600000000").as("h"),
        isError.cast("long").as("e"))
      .groupBy("h")
      .agg(count(lit(1)).as("tot"), sum("e").as("err"))

  /** [[burnRate]]'s window stage over an already-aggregated hourly table
    * (columns h, tot, err) — shared by the batch op and the streaming
    * accumulator.
    */
  def burnRateFromHourly(
      hourly: DataFrame,
      shortHours: Int,
      longHours: Int,
      budgetPerMille: Long): DataFrame = {
    require(shortHours >= 1 && longHours > shortHours, "need 1 <= short < long")
    require(budgetPerMille >= 1 && budgetPerMille <= 1000, "budget out of (0, 1000]")
    def trailing(n: Int) = Window.orderBy("h").rangeBetween(-(n - 1).toLong, 0L)
    def burn(err: Column, tot: Column) =
      (err * 1000L).cast("double") / (tot * budgetPerMille).cast("double")
    hourly
      .withColumn("err_s", sum("err").over(trailing(shortHours)))
      .withColumn("tot_s", sum("tot").over(trailing(shortHours)))
      .withColumn("err_l", sum("err").over(trailing(longHours)))
      .withColumn("tot_l", sum("tot").over(trailing(longHours)))
      .select(col("h"), col("err_s"), col("tot_s"), col("err_l"), col("tot_l"),
        burn(col("err_s"), col("tot_s")).as("burn_s"),
        burn(col("err_l"), col("tot_l")).as("burn_l"),
        (burn(col("err_s"), col("tot_s")) > 1.0d &&
          burn(col("err_l"), col("tot_l")) > 1.0d).as("page"))
  }

  /** Per-key rolling median over the trailing `window` observations — the
    * robust-smoothing twin of [[rollingAnomalies]]'s mean/variance screen
    * (a median tracker shrugs off the single spikes that drag a rolling
    * mean, which is exactly why monitoring pipelines prefer it).
    *
    * Exactness: values are the caller's longs; an odd-count frame's median
    * IS one of them, an even-count frame's is the mean of the two middle
    * values — `(a+b)/2` with a, b integers is exactly representable (one
    * IEEE halving), so the reported double is bit-identical across
    * engines and partitionings. Position order (ts, id) is total because
    * id is unique.
    *
    * Scale shape: one hash exchange on the key, one in-partition sort —
    * the same plan skeleton as every per-key ordered window here. Spark
    * refuses `median` over a framed window, so the frame materializes as
    * a `collect_list` the projection sorts scan-locally — per-row state
    * and cost are O(window)/O(window·log window), a monitoring-window
    * constant, never the key's history; the per-key sort is the usual
    * hot-key bound, shared with sessionize. Warm-up rows (fewer than
    * `window` trailing values) are emitted too — their median is over the
    * shorter prefix, the monitoring convention — with `n_in_frame`
    * reporting the actual frame population. The two-middles index
    * identity (⌈n/2⌉ = ⌊n/2⌋+1 exactly when n is odd) folds both parities
    * into one branch-free expression.
    */
  def rollingMedian(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valCol: String,
      window: Int): DataFrame = {
    require(window > 1, "window must exceed 1")
    val base = df
      .where(col(valCol).isNotNull)
      .select(col(keyCol), col(idCol), col(valCol).cast("long").as("v"),
        unix_micros(col(tsCol)).as("__t"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__t"), col(idCol))
      .rowsBetween(-(window - 1), 0)
    base
      .withColumn("__frame", sort_array(collect_list(col("v")).over(w)))
      .withColumn("n_in_frame", size(col("__frame")).cast("long"))
      .withColumn(
        "roll_med",
        (element_at(col("__frame"), ((col("n_in_frame") + 1L) / 2L).cast("int")) +
          element_at(col("__frame"), (col("n_in_frame") / 2L + 1L).cast("int")))
          .cast("double") / 2.0d)
      .select(col(keyCol), col(idCol), col("v"), col("roll_med"), col("n_in_frame"))
  }

  /** Single change-point localization per key: the split index k
    * maximizing the between-segment variance score
    * `D_k² / (k·(n−k))` with `D_k = n·P_k − k·S` (P = prefix sum,
    * S = total) — the binary-segmentation / CUSUM-squared statistic
    * ("when did this metric's level shift?"). Values arrive as exact
    * longs (cents), so every D_k is an exact integer; the score is a
    * fixed two-op IEEE chain, and the argmax tie-breaks toward the
    * SMALLEST k — bit-reproducible end to end.
    *
    * Scale shape: one exchange on the key; prefix sums and the n/S
    * totals are two frames over the same per-key sort; the argmax is a
    * max-struct aggregate (no second window pass). Per-key state bounds
    * like any sessionize (a key's series sorts within one spillable
    * task).
    *
    * Output per key: n, split_k (1-based, left segment = [1..k]),
    * split_ord (orderCol at k), score, and exact-cents segment means
    * (one IEEE division each).
    */
  def changePoint(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
    val wAll = Window.partitionBy(keyCol)
    val d = col("n") * col("p") - col("k") * col("s")
    val scored = df
      .select(col(keyCol), col(orderCol), col(valCol).cast("long").as("v"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("p", sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum("v").over(wAll))
      .where(col("k") < col("n"))
      .withColumn(
        "score",
        (d.cast("double") * d.cast("double")) / (col("k") * (col("n") - col("k"))).cast("double"))
    scored
      .groupBy(keyCol)
      .agg(max(struct(
        col("score"), (-col("k")).as("neg_k"), col("k"), col(orderCol).as("ord"),
        col("p"), col("n"), col("s"))).as("best"))
      .select(
        col(keyCol),
        col("best.n").as("n"),
        col("best.k").as("split_k"),
        col("best.ord").as("split_ord"),
        col("best.score").as("score"),
        (col("best.p").cast("double") / col("best.k").cast("double")).as("mean_left"),
        ((col("best.s") - col("best.p")).cast("double") /
          (col("best.n") - col("best.k")).cast("double")).as("mean_right"))
  }

  /** Lead–lag cross-correlation between two event streams: Pearson r of
    * the DENSE hourly count series x against y shifted by 0..maxLag
    * hours — "do views predict purchases h hours later?". Every moment
    * is an exact integer over the zero-filled hour grid; r is
    * `num / sqrt(va·vb)` — exact operands, correctly-rounded sqrt, one
    * division — NULL when either segment variance is zero.
    *
    * Scale shape: each stream collapses to its hour histogram
    * scan-locally (bounded by the time span, not the event count); the
    * per-lag alignment joins the grid against itself shifted — |lags|
    * candidate rows per hour — and aggregates map-side. Nothing scales
    * with raw event volume past the first aggregation.
    */
  def lagCrossCorrelation(
      df: DataFrame,
      tsCol: String,
      isX: Column,
      isY: Column,
      maxLag: Int): DataFrame = {
    val hours = df.select(
      expr(s"unix_micros($tsCol) div 3600000000").as("h"),
      isX.cast("long").as("ix"), isY.cast("long").as("iy"))
    val counts = hours.groupBy("h").agg(sum("ix").as("cx"), sum("iy").as("cy"))
    val grid = counts.agg(min("h").as("hmin"), max("h").as("hmax"))
      .select(explode(sequence(col("hmin"), col("hmax"))).as("h"))
    val g = grid.join(counts, Seq("h"), "left")
      .select(col("h"),
        coalesce(col("cx"), lit(0L)).as("x"), coalesce(col("cy"), lit(0L)).as("y"))
    val shifted = g.select(
      explode(array((0 to maxLag).map(l =>
        struct(lit(l.toLong).as("lag"), (col("h") - l).as("h"), col("y").as("yl"))): _*)).as("e"))
      .select(col("e.lag").as("lag"), col("e.h").as("h"), col("e.yl").as("yl"))
    val m = g.select("h", "x").join(shifted, Seq("h"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"), sum("yl").as("sy"),
        sum(col("x") * col("yl")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("yl") * col("yl")).as("sy2"))
    val num = col("m") * col("sxy") - col("sx") * col("sy")
    val va = col("m") * col("sx2") - col("sx") * col("sx")
    val vb = col("m") * col("sy2") - col("sy") * col("sy")
    m.select(
      col("lag"), col("m"), num.as("num"),
      when(va > 0L && vb > 0L,
        num.cast("double") / sqrt(va.cast("double") * vb.cast("double"))).as("r"))
  }

  /** Per-key CLAMPED running balance: fold `acc ← max(0, acc + Δ)` over
    * the key's events in (ts, id) order — the credits / stock /
    * rate-limit-token recurrence no window function can express (the
    * clamp makes each step depend on the folded value, not a prefix
    * sum). Deltas are exact longs (cents), so the fold is pure integer
    * arithmetic — bit-reproducible against DuckDB's `list_reduce` over
    * the same ordered list, with zero float semantics at all (stronger
    * than the ewma precedent: not even rounding is involved).
    *
    * Scale shape: one exchange on the key (map-side collect_list
    * partials); per-key state is the key's own event list — the
    * sessionize bound, like ewma/Holt.
    *
    * Output per key: n_events, final_balance.
    */
  def clampedRunningBalance(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      deltaCol: String): DataFrame = {
    df.select(
        col(keyCol),
        struct(col(tsCol), col(idCol), col(deltaCol).cast("long").as("__d")).as("__e"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_events"), sort_array(collect_list(col("__e"))).as("__l"))
      .select(
        col(keyCol),
        col("n_events"),
        expr("""aggregate(__l, CAST(0 AS BIGINT),
                |  (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x.__d))""".stripMargin)
          .as("final_balance"))
  }

  /** Seasonal-baseline residual anomalies: learn the hour-of-week mean
    * per key from exact cents sums, score every observation by its
    * deviation from its own seasonal slot, and keep each key's top-k
    * |residual| rows — "a spike at 3am Tuesday is an anomaly; the same
    * value at noon Friday is the baseline". The baseline mean is the
    * exact rational s/n evaluated as ONE IEEE division; the residual is
    * one subtraction of deterministic doubles; ranking tie-breaks on the
    * id — bit-reproducible.
    *
    * Scale shape: the baseline is a (key × 168)-row aggregate
    * (broadcast-sized by construction); observations join it scan-local
    * and only each key's top-k survive the rank window. The window sorts
    * per key — the usual sessionize bound; for a global-table variant at
    * extreme key cardinality the topk heap aggregate (C158) is the
    * drop-in.
    */
  def seasonalResiduals(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      tsCol: String,
      valCol: String,
      topK: Int): DataFrame = {
    val obs = df.select(
      col(keyCol), col(idCol),
      ((dayofweek(col(tsCol)) - 1) * 24 + hour(col(tsCol))).cast("long").as("how"),
      col(valCol).cast("long").as("v"))
    val base = obs.groupBy(keyCol, "how")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val w = Window.partitionBy(keyCol)
      .orderBy(abs(col("residual")).desc, col(idCol))
    obs.join(base, Seq(keyCol, "how"))
      .withColumn(
        "residual",
        col("v").cast("double") - col("s").cast("double") / col("n").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col(keyCol), col("rank"), col(idCol), col("how"), col("v"),
        col("n"), col("s"), col("residual"))
  }

  /** Same-key interval OVERLAP self-join: all pairs of half-open
    * intervals `[s, e)` under the same key that genuinely intersect
    * (`max(s) < min(e)`), with the exact overlap length — "which
    * shipments of this part were in transit together", the 1-D sibling
    * of the spatial radius join and the pairwise reading of
    * [[intervalCoverage]]'s union.
    *
    * Scale design — never a per-key cross join: intervals explode into
    * the fixed-width BUCKETS they touch and candidates meet in a (key,
    * bucket) equi-join, exactly the grid trick the spatial join uses;
    * each qualifying pair is counted ONCE by the responsibility rule
    * (only the bucket containing the overlap's START reports it), so no
    * distinct pass over the pair volume. Bucket fan-out per interval is
    * `len/bucketWidth + 1` — size the width to the typical interval.
    * Long intervals are the skew axis (an interval touching every
    * bucket pairs with everything — cap upstream if the domain allows).
    */
  def intervalOverlapPairs(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      startCol: String,
      endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val iv = df.select(
      col(keyCol).as("k"), col(idCol).as("id"),
      col(startCol).cast("long").as("s"), col(endCol).cast("long").as("e"))
      .where(col("s") <= col("e"))
    val buckets = iv.select(
      col("k"), col("id"), col("s"), col("e"),
      explode(sequence(expr(s"s div $bucketWidth"), expr(s"e div $bucketWidth")))
        .as("bk"))
    buckets.alias("a")
      .join(buckets.alias("c"),
        col("a.k") === col("c.k") && col("a.bk") === col("c.bk") &&
          col("a.id") < col("c.id") &&
          greatest(col("a.s"), col("c.s")) < least(col("a.e"), col("c.e")) &&
          // responsibility: only the bucket holding the overlap start reports
          col("a.bk") === expr(s"greatest(a.s, c.s) div $bucketWidth"))
      .select(
        col("a.k").as(keyCol), col("a.id").as("id_a"), col("c.id").as("id_b"),
        (least(col("a.e"), col("c.e")) - greatest(col("a.s"), col("c.s")))
          .as("overlap"))
  }
}
