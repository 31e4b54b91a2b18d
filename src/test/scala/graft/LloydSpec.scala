package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, PQ, Quantize}

/** Pins for the driver-held integer Lloyd loop that `Clustering` and `PQ`
  * share: its Spark job count, the equivalence of the fused PQ fit with
  * per-slice k-means, and PQ's codebook and input contracts.
  */
class LloydSpec extends SparkSpec {

  import spark.implicits._

  private def qz: DataFrame =
    Quantize.quantizeInt8(Tables(spark, sfDir, "embeddings"), "vec_id", "embedding")

  test("Lloyd job count: no per-round checkpoint or broadcast jobs") {
    val q = qz
    q.count() // warm the file listing
    // Measured: one seed collect, then one shuffle-map job and one result
    // job per round. The retired loop also checkpointed the input, the
    // seeds and every round's centroids.
    val want = Map(0 -> 1, 1 -> 3, 2 -> 5)
    for (r <- Seq(0, 1, 2)) {
      val pq = jobsOf(s"pq$r")(PQ.pqFit(q, "vec_id", "qvec", 64, 2, 8, r))
      val km = jobsOf(s"km$r")(Clustering.kmeansIntCentroids(q, "vec_id", "qvec", 8, r))
      assert(pq == want(r), s"pqFit iterations=$r launched $pq jobs")
      assert(km == want(r), s"kmeansIntCentroids iterations=$r launched $km jobs")
    }
  }

  test("pqFit fits the first dims elements, as pqEncode encodes them") {
    val (dims, m) = (64, 2)
    val q = qz.select(col("vec_id"), col("qvec").cast("array<bigint>").as("v"))
    val wide = q.select(col("vec_id"), concat(col("v"), array(lit(5L), lit(-7L))).as("v"))
    def fit(df: DataFrame) =
      PQ.pqFit(df, "vec_id", "v", dims, m, 8, 2).as[(Long, Long, Seq[Long])].collect().toSet
    val books = PQ.pqFit(q, "vec_id", "v", dims, m, 8, 2)
    assert(fit(wide) == fit(q))
    assert(PQ.pqEncode(wide, "vec_id", "v", books, dims, m).collect().toSet ==
      PQ.pqEncode(q, "vec_id", "v", books, dims, m).collect().toSet)
    val narrow = q.select(col("vec_id"), slice(col("v"), 1, 40).as("v"))
    val e = intercept[IllegalArgumentException](fit(narrow))
    assert(e.getMessage.contains("vectors must be 64 wide"), e.getMessage)
  }

  test("pqFit's codebook for subspace j is kmeansIntCentroids on slice j") {
    val (dims, m, ksub, rounds) = (64, 2, 8, 2)
    val dsub = dims / m
    val q = qz
    val books = PQ.pqFit(q, "vec_id", "qvec", dims, m, ksub, rounds)
      .as[(Long, Long, Seq[Long])].collect()
    for (j <- 0 until m) {
      val slice_j = q.select(col("vec_id"),
        slice(col("qvec").cast("array<bigint>"), j * dsub + 1, dsub).as("v"))
      val want = Clustering.kmeansIntCentroids(slice_j, "vec_id", "v", ksub, rounds)
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      val got = books.filter(_._1 == j).map(b => (b._2, b._3)).sortBy(_._1).toSeq
      assert(got == want, s"subspace $j")
    }
  }

  test("PQ checks the collected codebook on the driver") {
    val (dims, m) = (64, 2)
    val q = qz
    val books = PQ.pqFit(q, "vec_id", "qvec", dims, m, 8, 1)
    def rejects(bad: DataFrame, why: String): Unit = {
      val e1 = intercept[IllegalArgumentException](PQ.pqEncode(q, "vec_id", "qvec", bad, dims, m))
      assert(e1.getMessage.contains(why), e1.getMessage)
      val codes = PQ.pqEncode(q, "vec_id", "qvec", books, dims, m)
      val e2 = intercept[IllegalArgumentException](
        PQ.pqTopK(codes, "vec_id", q.filter(col("vec_id") < 3), "vec_id", "qvec", bad, dims, m, 5))
      assert(e2.getMessage.contains(why), e2.getMessage)
    }
    rejects(books.withColumn("cid", when(col("cid") === 3L, lit(9L)).otherwise(col("cid"))),
      "cids must be exactly 0..7")
    rejects(books.withColumn("sub", when(col("sub") === 1L, lit(2L)).otherwise(col("sub"))),
      "sub outside [0, 2)")
    rejects(books.withColumn("c", slice(col("c"), 1, 31)), "not 32")
    rejects(books.withColumn("c",
      when(col("cid") === 0L, array(lit(null).cast("bigint"))).otherwise(col("c"))), "null")
    intercept[IllegalArgumentException](PQ.pqEncode(q, "vec_id", "qvec", books, dims, 3))
  }

  test("pqEncode reads only (id, vec): caller columns named like internals cannot collide") {
    val (dims, m) = (64, 2)
    val q = qz
    val books = PQ.pqFit(q, "vec_id", "qvec", dims, m, 8, 1)
    val bare = PQ.pqEncode(q.select("vec_id", "qvec"), "vec_id", "qvec", books, dims, m)
      .as[(Long, Seq[Long])].collect().toMap
    val noisy = q.withColumn("_css", lit("x")).withColumn("_vl", lit(1))
      .withColumn("_id", lit(0L)).withColumn("_lut", lit(2.0)).withColumn("_books", lit(null))
    val got = PQ.pqEncode(noisy, "vec_id", "qvec", books, dims, m)
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == bare && bare.nonEmpty)
  }

  test("a null vector element is a clear error, never a wrong code") {
    val (dims, m) = (4, 2)
    val df = Seq(
      (1L, Seq[java.lang.Long](0L, 0L, 0L, 0L)), (2L, Seq[java.lang.Long](9L, 9L, 9L, 9L)),
      (3L, Seq[java.lang.Long](1L, null, 8L, 8L))).toDF("id", "v")
    val books = PQ.pqFit(df.filter(col("id") < 3), "id", "v", dims, m, 2, 1)
    val e = intercept[Exception](PQ.pqEncode(df, "id", "v", books, dims, m).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(_.contains("null vector element at position 1")), chain(e))
    // Without the null row, encode agrees with the declarative twin.
    val ok = df.filter(col("id") < 3)
    assert(PQ.pqEncode(ok, "id", "v", books, dims, m).as[(Long, Seq[Long])].collect().toSet ==
      PqEncodeTwin(ok, "id", "v", books, dims, m).as[(Long, Seq[Long])].collect().toSet)
  }
}
