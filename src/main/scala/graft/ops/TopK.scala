package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Top-N ROWS per group in O(k) state — [[graft.functions.TopKAgg]]'s
  * value heap lifted to whole rows by BIT-PACKING (value, id) into one
  * long: `packed = v·2³² + id` orders by (v, id) lexicographically, so
  * the value heap over packed longs IS a row heap, and unpacking after
  * the aggregate recovers (rank, id, value).
  *
  * This is the production "top 3 orders per customer" shape with
  * NEITHER of the usual costs: no per-group window sort (row_number
  * ships and sorts every group member) and no whole-group buffer
  * (collect_list) — k packed longs per (partition, group), map-side
  * merged.
  *
  * Domain contract (checked): 0 ≤ value < 2³¹ and 0 ≤ id < 2³² — cents
  * up to ~$21M and 32-bit row ids; re-scale or re-key upstream when a
  * domain outgrows the packing (the same class of documented budget as
  * the overflow notes on ns125/ns135). Ties on value break toward the
  * LARGER id — the packing's order, documented as the op's convention.
  */
object TopK {

  def rowsPerGroup(
      df: DataFrame,
      groupCol: String,
      valCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val guarded = df.select(
      col(groupCol),
      col(valCol).cast("long").as("_v"),
      col(idCol).cast("long").as("_i"))
      .withColumn("_packed",
        when(col("_v") >= 0L && col("_v") < (1L << 31) &&
          col("_i") >= 0L && col("_i") < (1L << 32),
          shiftleft(col("_v"), 32) + col("_i"))
          .otherwise(raise_error(lit(
            "TopK.rowsPerGroup packing domain violated: need 0 <= value < 2^31 and 0 <= id < 2^32"))))
    guarded
      .groupBy(col(groupCol))
      .agg(Graft.kernel(df.sparkSession, "graft_topk", col("_packed"), lit(k)).as("_top"))
      .select(col(groupCol), posexplode(col("_top")).as(Seq("_pos", "_p")))
      .select(
        col(groupCol),
        (col("_pos") + 1).cast("long").as("rank"),
        shiftright(col("_p"), 32).as(valCol),
        col("_p").bitwiseAND(lit(0xffffffffL)).as(idCol))
  }
}
