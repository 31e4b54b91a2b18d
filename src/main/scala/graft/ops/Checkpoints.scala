package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage-truncation strategy for the iterative operators (connected
  * components, PageRank, funnel stages, streaming signature
  * accumulation). Each round's state frame must be cut from its growing
  * lineage or the plan (and any recompute) grows with the round count.
  * Integer k-means and PQ are not users: their round state is a k·d-long
  * centroid table held on the driver ([[Clustering]]). That is safe at
  * 100 TB — a broadcast of the table passed the same longs through the
  * driver — and no lost executor can take it, so it needs no `reliable`
  * mode.
  *
  * Two modes, selected per-session by `spark.graft.checkpoint.mode`:
  *   - `local` (default): `localCheckpoint` — state blocks live in
  *     executor storage. Fastest, right for single-node and short jobs,
  *     but the lineage is truncated so a LOST EXECUTOR loses blocks that
  *     cannot be recomputed: at 100 TB / 1000 executors an executor loss
  *     kills the job.
  *   - `reliable`: `Dataset.checkpoint` against the cluster's checkpoint
  *     directory (`sparkContext.setCheckpointDir`, or set
  *     `spark.graft.checkpoint.dir` and this helper applies it once) —
  *     rounds survive executor loss; the cost is one write+read of O(state)
  *     per round to reliable storage. Checkpoint files are reclaimed by
  *     Spark's ContextCleaner when
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true`, else at
  *     application end.
  *
  * A FINAL round's frame must never be unpersisted — the returned
  * DataFrame reads from that RDD and a truncated lineage cannot recompute
  * it.
  */
private[graft] object Checkpoints {
  /** `local` (default) | `reliable`. */
  val ModeKey = "spark.graft.checkpoint.mode"

  /** Convenience: when mode is `reliable` and the context has no
    * checkpoint dir yet, this value is applied via `setCheckpointDir`.
    */
  val DirKey = "spark.graft.checkpoint.dir"

  /** Cut `df` from its lineage under the session's configured mode.
    * `eager=false` defers materialization to the frame's first job (the
    * convergence-probe pattern: one job per round) — honored in local
    * mode; reliable mode materializes eagerly regardless (see below).
    */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          val dir = spark.conf.get(DirKey, "")
          require(
            dir.nonEmpty,
            s"$ModeKey=reliable requires sparkContext.setCheckpointDir(...) or $DirKey")
          spark.sparkContext.setCheckpointDir(dir)
        }
        // A bare Dataset.checkpoint computes the plan TWICE — once for the
        // materializing action and once more when the checkpoint-write job
        // re-runs the unpersisted lineage (Spark's documented behavior).
        // Persisting first makes the write job read the cached blocks, so
        // each round is computed once; the cache is dropped as soon as the
        // files are down (the returned frame reads the files). This is
        // also why reliable mode is always eager: a deferred
        // materialization could not release the staging cache.
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint(eager = true)
        finally df.unpersist()
      case other =>
        throw new IllegalArgumentException(s"$ModeKey=$other (expected local | reliable)")
    }
  }

  /** Free the storage blocks behind a checkpointed frame that no later
    * plan references. No-op on non-checkpointed plans; on reliable
    * checkpoints this drops any in-memory replica while the checkpoint
    * FILES remain owned by the ContextCleaner.
    */
  def unpersist(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false); ()
      case _ => ()
    }
}
