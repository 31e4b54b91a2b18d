package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** A NATIVE backward as-of join — the whole-operator extension tier the
  * composed forms can't reach: one custom logical node, one injected
  * planner [[SparkStrategy]], one custom [[SparkPlan]] whose merge pass
  * attaches the ENTIRE matched right row in a single forward scan.
  *
  * The composed [[graft.ops.AsofJoin.backward]] (union + running-max
  * window) pays the same single shuffle but can only carry the matched
  * TIMESTAMP through the window — attaching the right row's payload costs
  * it a second join back on (key, asof_ts). This operator's physical form
  * is the classic streaming merge: both children hash-cluster on the key
  * and sort by (key, ts) — EnsureRequirements inserts exactly one
  * exchange + sort per side — and `doExecute` zips co-partitioned
  * partitions with a two-pointer pass that keeps ONE buffered row (the
  * last right row at or before the current left timestamp) per key.
  * Per-partition memory is O(1); no window frame, no rejoin.
  *
  * Semantics (merge_asof/DuckDB `ASOF LEFT JOIN ... ON l.ts >= r.ts`):
  * every left row emits once, joined to the LATEST right row with an
  * equal key and `rightTs <= leftTs`, or to nulls. Right rows with NULL
  * key or timestamp never match; left rows with NULL key or timestamp
  * emit unmatched. Ties on (key, rightTs) are the caller's contract to
  * break (dedupe to snapshots first — the FeatureStore discipline);
  * timestamps are LongType by contract (epoch micros — cast upstream).
  */
final case class AsofJoinBackwardPlan(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    left: LogicalPlan,
    right: LogicalPlan)
  extends BinaryNode {

  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length, "key arity mismatch")
  // Fail fast on key-type drift: RowOrdering is built from the LEFT key
  // types and applied to both sides' projections — an int-vs-long pair
  // would compare silently wrong instead of erroring.
  require(
    leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key type mismatch — cast both sides to identical types upstream")
  require(leftTs.dataType == LongType && rightTs.dataType == LongType,
    "as-of timestamps must be LongType (epoch micros) — cast upstream")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinBackwardPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinBackwardPlan]] as [[AsofJoinBackwardExec]]; injected via
  * `GraftExtensions` (`injectPlannerStrategy`) or [[graft.engine.Graft.install]].
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinBackwardPlan(lk, rk, lts, rts, l, r) =>
      AsofJoinBackwardExec(lk, rk, lts, rts, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class AsofJoinBackwardExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Both sides hash-cluster on their key expressions (EnsureRequirements
  // co-partitions them with equal partition counts, the SortMergeJoin
  // contract) and sort by (key, ts) inside each partition.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched left rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTsB = leftTs
    val rTsB = rightTs
    val outB = output
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeysB.map(_.dataType))
      val lTsProj = UnsafeProjection.create(Seq(lTsB), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsB), rOut)
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      // bind against the NULLABLE right attributes (the output's own
      // nullability) — binding against the children's non-nullable
      // originals would codegen away the null check and read a garbage 0
      // from the all-null unmatched row
      val result = UnsafeProjection.create(outB, lOut ++ rOut.map(_.withNullability(true)))

      new Iterator[InternalRow] {
        // the current right cursor (already filtered to non-null key+ts)
        private var rRow: InternalRow = _
        private var rKey: UnsafeRow = _
        private var rTsV: Long = 0L
        private def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            val t = rTsProj(r)
            if (!k.anyNull && !t.isNullAt(0)) {
              rRow = r
              rKey = k.copy()
              rTsV = t.getLong(0)
            }
          }
        }
        advanceRight()
        // the last right row at-or-before the left cursor, with its key
        private var lastMatch: InternalRow = _
        private var lastKey: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lt = lTsProj(l)
          var matched: InternalRow = null
          if (!lKey.anyNull && !lt.isNullAt(0)) {
            val ltv = lt.getLong(0)
            while (rRow != null && keyOrd.compare(rKey, lKey) < 0) advanceRight()
            while (rRow != null && keyOrd.compare(rKey, lKey) == 0 && rTsV <= ltv) {
              lastMatch = rRow.copy()
              lastKey = rKey // advanceRight() replaces rKey, never mutates it
              advanceRight()
            }
            if (lastMatch != null && keyOrd.compare(lastKey, lKey) == 0) matched = lastMatch
          }
          numOutputRows += 1
          if (matched != null) numMatched += 1
          result(joined(l, if (matched == null) nullRight else matched))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinBackwardExec =
    copy(left = newLeft, right = newRight)
}
