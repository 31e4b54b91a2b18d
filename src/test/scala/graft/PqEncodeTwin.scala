package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The interpreted twin of `PQ.pqEncode`, the kernel path's equivalence
  * oracle: all m codebooks packed into ONE broadcast row of (sub, cid, c)
  * structs sorted by (sub, cid), and each code an exact-long argmin fold
  * over that subspace's structs — strict `<`, so ties keep the lowest cid.
  */
object PqEncodeTwin {

  def apply(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dims: Int,
      m: Int): DataFrame = {
    val dsub = dims / m
    val packed = codebooks.agg(
      array_sort(collect_list(struct(col("sub"), col("cid"), col("c")))).as("_books"))
    val codes = (0 until m).map { j =>
      argminCode(
        slice(transform(col(vecCol), _.cast("long")), j * dsub + 1, dsub),
        filter(col("_books"), b => b.getField("sub") === j))
    }
    quantized
      .crossJoin(broadcast(packed)) // exactly one row — justified hint
      .select(col(idCol), array(codes: _*).as("codes"))
  }

  private def argminCode(sub: Column, books: Column): Column =
    aggregate(
      books,
      struct(lit(Long.MaxValue).as("d"), lit(-1L).as("cid")),
      (acc, b) => {
        val d = aggregate(
          zip_with(sub, b.getField("c"), (x, y) => (x - y) * (x - y)), lit(0L), (s, x) => s + x)
        when(d < acc.getField("d"), struct(d.as("d"), b.getField("cid").as("cid")))
          .otherwise(acc)
      }).getField("cid")
}
