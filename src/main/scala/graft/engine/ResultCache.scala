package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.sources.Parquet

/** Query result cache keyed by the CANONICALIZED analyzed plan — the
  * BigQuery result-cache behavior (the reference's host system serves
  * repeated queries from cached result sets) re-expressed on Spark: the
  * cache key is `md5(plan.canonicalized)`, so two queries that normalize
  * to the same plan (different aliases, literal spellings, expression-id
  * numbering) share one entry, and a query over a DIFFERENT source path
  * or filter never collides (the canonical form embeds relation paths and
  * predicates).
  *
  * A hit replays the persisted parquet without executing the query; a
  * miss executes ONCE (the write is the execution) and the caller gets
  * the read-back frame, so hit and miss return byte-identical result
  * sets. Staleness is the caller's contract, exactly as in BigQuery: the
  * key covers the plan, not the bytes under it — invalidate by cache-dir
  * rotation, or read through [[graft.sinks.ManagedWriter.readVersion]]
  * (whose version pin lands in the plan and therefore in the key).
  *
  * Scale shape: the cache adds one parquet write of the RESULT (usually
  * orders of magnitude smaller than the input) on miss and a pure
  * metadata probe on hit.
  */
object ResultCache {

  /** (result, hit): `hit = true` when the result came from the cache
    * without executing `df`'s plan.
    */
  def cached(df: DataFrame, cacheDir: String): (DataFrame, Boolean) = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed.canonicalized
    // The default TreeNode rendering truncates expression lists at
    // spark.sql.debug.maxToStringFields (25) — two plans differing only
    // past the 25th projection/aggregate would share a key and a false
    // hit would silently serve the other query's result. Render with an
    // effectively-unbounded field budget and fold in the semantic hash
    // plus the full output schema so the key always covers the whole plan.
    val key = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      plan.semanticHash().toString + "|" + df.schema.catalogString + "|" +
        plan.treeString(false, false, Int.MaxValue, false, false))
    val path = new Path(cacheDir, s"rc-$key")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(path, "_SUCCESS")
    if (fs.exists(marker)) (Parquet.read(spark, path.toString), true)
    else {
      df.write.mode("overwrite").parquet(path.toString)
      (Parquet.read(spark, path.toString), false)
    }
  }
}
