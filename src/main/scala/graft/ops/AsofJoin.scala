package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** As-of joins — an operator the reference's SQL surface reaches only
  * through DuckDB's native ASOF JOIN (duck.go:195 pass-through; DuckDB
  * supports both `>=` backward and `<=` forward directions). Spark has no
  * built-in; this module carries BOTH custom-op tiers: the composed forms
  * below (SURVEY §2 preference (a) — union + running window, one shuffle)
  * and [[backwardNative]], a full custom logical node + planner Strategy +
  * SparkPlan (preference (c), [[graft.plans.AsofJoinBackwardPlan]]) whose
  * single merge pass also attaches the matched right row's payload.
  *
  * union the two inputs tagged by side, sort within each key partition by
  * (time, side), and carry the nearest right-side value across with a
  * running `max` (backward) or `min` (forward) window — each left row then
  * holds the greatest right timestamp ≤ its own (backward) or the smallest
  * right timestamp ≥ its own (forward).
  *
  * Scale: ONE shuffle of |L|+|R| rows on the join key (the same lower bound
  * a sort-merge join pays), then a linear in-partition pass. No range
  * explosion, no nested-loop: this is the shape that survives 100 TB —
  * skewed keys split via AQE exactly as any sort-merge join would.
  */
object AsofJoin {

  /** Helper-column names injected into the union; guarded against caller
    * collisions (round-2 ADVICE: a left input already containing one of
    * these silently corrupted match ordering).
    */
  private val HelperCols = Seq("__t", "__rts", "__side")

  private def guard(left: DataFrame, right: DataFrame, asofTsName: String): Unit = {
    val clash = (left.columns ++ right.columns).toSet.intersect(HelperCols.toSet)
    require(
      clash.isEmpty,
      s"as-of inputs must not contain reserved helper columns ${clash.mkString(", ")}")
    require(
      !left.columns.contains(asofTsName),
      s"asofTsName '$asofTsName' collides with a left column")
  }

  /** Tagged |L|+|R| union aligned to the left schema + helpers. `sideOrder`
    * breaks timestamp ties so the window frame is inclusive of equal-ts
    * right rows in the chosen direction.
    */
  private def tagged(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String): DataFrame = {
    val l = left
      .withColumn("__t", col(leftTs))
      .withColumn("__rts", lit(null).cast("timestamp"))
      .withColumn("__side", lit(1))
    val r = right
      .select(col(key), col(rightTs).as("__t"))
      .withColumn("__rts", col("__t"))
      .withColumn("__side", lit(0))
    // Align schemas: right side carries nulls for non-key left columns.
    val rAligned = l.schema.fieldNames.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(l.schema(c).dataType))
    }.select(l.schema.fieldNames.toIndexedSeq.map(col): _*)
    l.unionByName(rAligned)
  }

  /** Backward as-of join: for each left row, attach the latest `rightTs`
    * from the right side with the same key and `rightTs <= leftTs`.
    * Duplicate right rows need no pre-dedup: the running `max` is
    * duplicate-insensitive, so the union goes straight into the single
    * key-partitioned window (a pre-dedup would cost one extra shuffle of
    * the right side for nothing).
    *
    * Output: left columns + `asofTsName` (nullable timestamp of the match).
    */
  /** Null out matches farther than `toleranceSec` from the left timestamp
    * (the pandas `merge_asof(tolerance=...)` contract); None = unbounded.
    */
  private def withinTolerance(
      asof: Column, leftT: Column, toleranceSec: Option[Long], backward: Boolean): Column =
    toleranceSec match {
      case None => asof
      case Some(tol) =>
        val dist =
          if (backward) unix_micros(leftT) - unix_micros(asof)
          else unix_micros(asof) - unix_micros(leftT)
        when(dist <= tol * 1000000L, asof)
    }

  def backward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      asofTsName: String = "asof_ts",
      toleranceSec: Option[Long] = None): DataFrame = {
    guard(left, right, asofTsName)
    val lCols = left.columns
    // Right rows sort before left rows at equal __t, so the running frame
    // [unboundedPreceding, currentRow] includes equal-timestamp matches.
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged(left, right, key, leftTs, rightTs)
      .withColumn(
        asofTsName,
        withinTolerance(max(col("__rts")).over(w), col("__t"), toleranceSec, backward = true))
      .filter(col("__side") === 1)
      .select(lCols.toIndexedSeq.map(col) :+ col(asofTsName): _*)
  }

  /** Forward as-of join: for each left row, attach the EARLIEST `rightTs`
    * with the same key and `rightTs >= leftTs` (DuckDB `ASOF ... ON l.ts
    * <= r.ts`). Mirror of [[backward]]: a running `min` over the rows at
    * or after the current one — same single-shuffle plan.
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      asofTsName: String = "asof_ts",
      toleranceSec: Option[Long] = None): DataFrame = {
    guard(left, right, asofTsName)
    val lCols = left.columns
    // Left rows sort before right rows at equal __t (side desc), so the
    // frame [currentRow, unboundedFollowing] includes equal-ts matches.
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("__t"), col("__side").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tagged(left, right, key, leftTs, rightTs)
      .withColumn(
        asofTsName,
        withinTolerance(min(col("__rts")).over(w), col("__t"), toleranceSec, backward = false))
      .filter(col("__side") === 1)
      .select(lCols.toIndexedSeq.map(col) :+ col(asofTsName): _*)
  }

  /** Nearest as-of join: whichever of the backward/forward matches is
    * closer in absolute time; exact ties (including an equal-timestamp
    * right row, distance 0 on both sides) resolve to the backward match.
    * Both directional windows share the same key partitioning, so the plan
    * still pays ONE data shuffle (plus a second in-partition sort).
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      asofTsName: String = "asof_ts"): DataFrame = {
    guard(left, right, asofTsName)
    val lCols = left.columns
    val wb = Window
      .partitionBy(col(key))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window
      .partitionBy(col(key))
      .orderBy(col("__t"), col("__side").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val bwd = max(col("__rts")).over(wb)
    val fwd = min(col("__rts")).over(wf)
    val pick = when(fwd.isNull, bwd)
      .when(bwd.isNull, fwd)
      .when(
        unix_micros(col("__t")) - unix_micros(bwd) <=
          unix_micros(fwd) - unix_micros(col("__t")),
        bwd)
      .otherwise(fwd)
    tagged(left, right, key, leftTs, rightTs)
      .withColumn(asofTsName, pick)
      .filter(col("__side") === 1)
      .select(lCols.toIndexedSeq.map(col) :+ col(asofTsName): _*)
  }

  /** NATIVE backward as-of join (custom-op preference (c): logical node +
    * injected Strategy + custom SparkPlan — [[graft.plans
    * .AsofJoinBackwardPlan]]): every left row joined to the ENTIRE latest
    * right row with an equal key and `rightTs <= leftTs`, or to nulls —
    * the payload-attaching contract the composed [[backward]] needs a
    * second (key, asof_ts) join for. One exchange + sort per side, one
    * O(1)-state merge pass. Timestamps must be LongType (epoch micros);
    * right (key, ts) pairs should be unique (dedupe to snapshots first —
    * ties are otherwise order-ambiguous, the FeatureStore discipline).
    * Installs Graft on the left side's session, whose planner then has
    * the strategy that gives the node its physical form.
    */
  def backwardNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    Graft.install(left.sparkSession)
    val lp = left.queryExecution.analyzed
    // Self-joins: the analyzer's DeduplicateRelations does not visit
    // custom nodes, so a right side sharing expression ids with the left
    // (both from one source) is re-aliased through a double projection —
    // every output attribute gets a fresh id, names unchanged.
    val rp0 = right.queryExecution.analyzed
    val rp =
      if (lp.outputSet.intersect(rp0.outputSet).isEmpty) rp0
      else {
        val cols = right.columns.toIndexedSeq
        right
          .select(cols.map(c => right(c).as(s"${c}__graft_dedup")): _*)
          .select(cols.map(c =>
            org.apache.spark.sql.functions.col(s"${c}__graft_dedup").as(c)): _*)
          .queryExecution.analyzed
      }
    def attr(p: LogicalPlan, n: String, side: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side side has no column '$n'"))
    val plan = graft.plans.AsofJoinBackwardPlan(
      keys.map(attr(lp, _, "left")),
      keys.map(attr(rp, _, "right")),
      attr(lp, leftTs, "left"),
      attr(rp, rightTs, "right"),
      lp, rp)
    org.apache.spark.sql.GraftDatasetBridge.ofRows(left.sparkSession, plan)
  }

  /** NATIVE forward as-of join — [[backwardNative]] under the negation
    * identity: the EARLIEST right ts ≥ left ts is the LATEST −right ts ≤
    * −left ts, so both directions share ONE physical operator (one merge
    * pass, whole-row payload, same contracts). The negated order columns
    * ride as temporaries and never reach the output.
    */
  def forwardNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String): DataFrame = {
    val l2 = left.withColumn("__graft_negt", -col(leftTs).cast("long"))
    val r2 = right.withColumn("__graft_negt", -col(rightTs).cast("long"))
    backwardNative(l2, r2, keys, "__graft_negt", "__graft_negt")
      .drop("__graft_negt")
  }
}
