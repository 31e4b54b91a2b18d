package graft.sinks

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Stream visibility mode (≈ storagepb stream types, bigquery_write.go:384-394):
  *   - Committed: each append is immediately visible.
  *   - Pending: appends are staged invisibly; `finalizeCommit()` makes them
  *     all visible (≈ FinalizeWriteStream + BatchCommitWriteStreams,
  *     bigquery_write.go:466-485).
  */
sealed trait StreamType
object StreamType {
  case object Committed extends StreamType
  case object Pending extends StreamType
}

/** Managed batch writer to a Parquet destination directory.
  *
  * ≈ `BigQueryManagedRecordWriter` (bigquery_write.go:327-485), re-expressed
  * over Spark's file-commit protocol:
  *
  *   - construction fixes the expected schema (≈ descriptor creation,
  *     bigquery_write.go:372-382);
  *   - `write(df)` schema-guards (≈ `Schema.Equal` check,
  *     bigquery_write.go:422-424) and appends — to the visible destination in
  *     Committed mode, to an invisible staging area in Pending mode
  *     (≈ AppendRows into a pending stream);
  *   - `finalizeCommit()` promotes staged files and refuses further writes
  *     (≈ Finalize → BatchCommitWriteStreams).
  *
  * Each individual `write` inherits task-level exactly-once from Spark's
  * FileCommitProtocol (task attempts write to attempt paths, the job commit
  * publishes exactly one). Pending mode adds multi-append deferred
  * visibility on top, and the multi-batch commit is ATOMIC the same way the
  * reference's `BatchCommitWriteStreams` is (bigquery_write.go:473-484):
  * promoted data files are not the commit point — the commit point is ONE
  * same-directory rename publishing the next version of the
  * `_graft_manifest` snapshot (the file list readers consult via
  * [[ManagedWriter.read]]). A crash anywhere mid-promotion leaves the
  * previous manifest as the newest one, so a manifest-consulting reader
  * sees ZERO new rows — never a prefix of the batches. (Plain
  * parquet-directory readers of `dest` ignore the underscore-prefixed
  * manifest directory and keep working, but only get the weaker
  * prefix-visible guarantee under mid-commit crashes.)
  */
final class ManagedWriter(
    spark: SparkSession,
    destDir: String,
    expectedSchema: StructType,
    streamType: StreamType = StreamType.Pending,
    allowSchemaEvolution: Boolean = false,
    bloomColumns: Seq[String] = Nil,
    txn: Option[(String, Long)] = None,
    checks: Seq[graft.ops.Validate.Check] = Nil,
    partitionCols: Seq[String] = Nil) {

  require(partitionCols.forall(expectedSchema.fieldNames.contains),
    s"partition columns ${partitionCols.filterNot(expectedSchema.fieldNames.contains).mkString(", ")} absent from the schema")

  private val stagingDir = s"$destDir-staging-${UUID.randomUUID().toString.take(8)}"
  private var finalized = false
  private var appended = 0L
  private var currentSchema: StructType = expectedSchema

  /** Test hook: simulate a crash after this many batch promotions inside
    * `finalizeCommit` (before the manifest publish). Proves atomicity: the
    * promoted files exist physically but no manifest version names them.
    */
  private[graft] var crashAfterBatches: Int = Int.MaxValue

  /** Test hook: simulate a crash AFTER the streaming-txn sidecar lands
    * but BEFORE the manifest publish — the exact seam the sidecar's
    * manifest-md5 binding exists to make safe.
    */
  private[graft] var crashAfterTxn: Boolean = false

  private def fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append one batch. Returns rows in the batch (offset-advance analogue,
    * bigquery_write.go:460).
    *
    * One Spark job per batch: the input plan is executed exactly once, the
    * batch lands in its own directory, and the returned row count is
    * observed on that same write job ([[graft.engine.Engine.countedWrite]]).
    * Nothing is read back, and the count is of the rows the committed task
    * attempts wrote, so a non-deterministic source cannot make it diverge
    * from what was written.
    */
  def write(df: DataFrame): Long = {
    require(!finalized, "writer already finalized (bigquery_write.go:466 contract)")
    if (allowSchemaEvolution) {
      // Delta mergeSchema posture: a batch may APPEND new nullable columns
      // (widening the table — older files read them back as NULL through
      // the manifest reader's allowMissingColumns union); it may never
      // drop or retype what the table already has.
      val have = currentSchema.fields.map(f => f.name -> f.dataType).toMap
      df.schema.fields.foreach { f =>
        have.get(f.name).foreach { dt =>
          require(dt == f.dataType,
            s"schema evolution cannot retype column '${f.name}': " +
              s"table has ${dt.simpleString}, batch has ${f.dataType.simpleString}")
        }
      }
      val missing = currentSchema.fieldNames.filterNot(df.schema.fieldNames.contains)
      require(missing.isEmpty,
        s"schema evolution cannot drop columns: batch lacks ${missing.mkString(", ")}")
      currentSchema = StructType(currentSchema.fields ++
        df.schema.fields.filterNot(f => have.contains(f.name)))
    } else {
      require(
        df.schema == expectedSchema,
        s"schema mismatch: got ${df.schema.simpleString}, want ${expectedSchema.simpleString}")
    }
    // CHECK constraints (the Delta table-constraint shape): a batch that
    // violates any declared check is REJECTED whole before a byte stages —
    // the write-path data-quality gate, evaluated per batch (corpus-level
    // checks like Unique therefore hold within the batch; cross-batch
    // uniqueness belongs to merge keys). One extra aggregation pass over
    // the batch, paid only when checks are declared.
    if (checks.nonEmpty) {
      val failed = graft.ops.Validate.validate(df, checks)
        .where(org.apache.spark.sql.functions.col("violations") > 0L)
        .collect()
      require(failed.isEmpty,
        "CHECK constraint(s) violated, batch rejected: " +
          failed.map(r => s"${r.getString(0)} (${r.getLong(1)} rows)").mkString(", "))
    }
    val batchDir = s"$stagingDir/batch-$appended"
    // `bloomColumns` ride as parquet writer properties: the writer embeds a
    // split-block Bloom filter per named column INSIDE each produced file —
    // no extra data pass, no sidecar; DataSkipping.readSkippingBloom probes
    // them at plan time for point-lookup pruning beyond min/max zone maps.
    // Hive-partitioned managed layout: the staged batch (and therefore
    // the destination) carries key=value directories; the manifest holds
    // the NESTED relative names and the read path's basePath option
    // re-infers the partition columns, so partition PRUNING works on
    // every managed read with zero extra machinery.
    val n = graft.engine.Engine.countedWrite(df) { d =>
      val writer = d.write.options(DataSkipping.bloomWriteOptions(bloomColumns))
      (if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*))
        .mode("errorifexists").parquet(batchDir)
    }
    appended += 1
    if (streamType == StreamType.Committed) {
      ManagedWriter.ensureBaseManifest(fs, destDir)
      val promoted = promote(new Path(batchDir))
      val v = ManagedWriter.publishManifest(fs, destDir, promoted)
      ManagedWriter.writeSchemaSidecar(fs, destDir, v, currentSchema)
      DataSkipping.writeStats(fs, destDir, promoted)
    }
    n
  }

  /** Move every data file of one staged batch into the destination;
    * returns the promoted file names (destination-relative).
    *
    * A name collision at the destination aborts the commit with the
    * staged data still intact — checked explicitly BEFORE the rename
    * (Hadoop's LocalFileSystem rename onto an existing directory silently
    * moves the source *into* it and returns true, so the return value
    * alone is not a sufficient guard), and the return value is still
    * verified for filesystems that signal failure that way (HDFS). Staged
    * files are only ever deleted by the caller after *all* renames
    * succeeded.
    */
  private def promote(batchPath: Path): Seq[String] =
    ManagedWriter.promoteDir(fs, batchPath, destDir)

  /** Make all pending appends visible ATOMICALLY; returns number of batches
    * committed (≈ Finalize's return, bigquery_write.go:466-485). Data-file
    * renames happen first (invisible to manifest readers); the single
    * manifest rename at the end is the commit point — before it, a crash
    * leaves the destination's previous manifest authoritative and zero new
    * rows visible, matching BatchCommitWriteStreams' all-or-nothing
    * semantics (bigquery_write.go:473-484). Committed-mode streams have
    * nothing left to promote. The staging directory is deleted only after
    * the manifest has been published.
    */
  def finalizeCommit(): Long = {
    require(!finalized, "already finalized")
    finalized = true
    val staging = new Path(stagingDir)
    if (streamType == StreamType.Pending && fs.exists(staging)) {
      // The base manifest must exist BEFORE any promotion: otherwise a
      // crash mid-promotion on a never-committed destination would leave
      // no manifest at all, and the plain-directory fallbacks (read's and
      // visibleFiles') would expose — and a later commit would adopt —
      // the orphaned prefix.
      ManagedWriter.ensureBaseManifest(fs, destDir)
      val batches = fs.listStatus(staging)
        .filter(_.isDirectory)
        .sortBy(_.getPath.getName)
      val promoted = Seq.newBuilder[String]
      batches.zipWithIndex.foreach { case (b, i) =>
        if (i >= crashAfterBatches)
          throw new java.io.IOException(
            s"simulated crash after $i promoted batches (test hook)")
        promoted ++= promote(b.getPath)
      }
      // Streaming-transaction sidecar (the Delta txn action's shape):
      // written BEFORE the manifest rename and BOUND to the intended
      // file list's md5, so a sidecar whose commit never published can
      // never be mistaken for a committed batch (same binding discipline
      // as the DV sidecars) — this is what makes foreachBatch appends
      // idempotent across RESTARTS, not just within one query run.
      txn.foreach { case (queryId, batchId) =>
        val prevFiles = ManagedWriter.latestManifest(fs, destDir)
          .map(_._2).getOrElse(Seq.empty)
        val nextV = ManagedWriter.latestManifest(fs, destDir).map(_._1).getOrElse(0L) + 1
        ManagedWriter.writeTxnSidecar(
          fs, destDir, nextV, prevFiles ++ promoted.result(), queryId, batchId)
      }
      if (crashAfterTxn)
        throw new java.io.IOException(
          "simulated crash after txn sidecar, before manifest publish (test hook)")
      val v = ManagedWriter.publishManifest(fs, destDir, promoted.result())
      ManagedWriter.writeSchemaSidecar(fs, destDir, v, currentSchema)
      DataSkipping.writeStats(fs, destDir, promoted.result())
    }
    if (fs.exists(staging)) fs.delete(staging, true)
    appended
  }
}

object ManagedWriter {

  /** Move every data file of one staged batch into the destination;
    * returns the promoted file names (destination-relative).
    *
    * A name collision at the destination aborts the commit with the
    * staged data still intact — checked explicitly BEFORE the rename
    * (Hadoop's LocalFileSystem rename onto an existing directory silently
    * moves the source *into* it and returns true, so the return value
    * alone is not a sufficient guard), and the return value is still
    * verified for filesystems that signal failure that way (HDFS). Staged
    * files are only ever deleted by the caller after *all* renames
    * succeeded.
    */
  private def promoteDir(fs: FileSystem, batchPath: Path, destDir: String): Seq[String] = {
    val dest = new Path(destDir)
    if (!fs.exists(dest)) fs.mkdirs(dest)
    // Recursive walk so Hive-partitioned staged batches promote with
    // their key=value directory structure intact; the returned names are
    // destination-RELATIVE (nested for partitioned data), which is
    // exactly what the manifest records and manifestRead resolves.
    val baseUri = fs.makeQualified(batchPath).toUri
    val files = Seq.newBuilder[(Path, String)]
    val it = fs.listFiles(batchPath, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) {
        val rel = baseUri.relativize(fs.makeQualified(f.getPath).toUri).getPath
        files += ((f.getPath, rel))
      }
    }
    files.result().map { case (from, rel) =>
      val to = new Path(dest, rel)
      if (fs.exists(to)) {
        throw new java.io.IOException(
          s"commit failed: destination $to already exists; staged data left in place")
      }
      val parent = to.getParent
      if (!fs.exists(parent)) fs.mkdirs(parent)
      if (!fs.rename(from, to)) {
        throw new java.io.IOException(
          s"commit failed: rename $from -> $to returned false; " +
            "staged data left in place")
      }
      rel
    }
  }

  /** Delta-style versioned MERGE: apply a CDC changeset
    * ([[graft.ops.Merge.applyChanges]] semantics — op `D` deletes, any
    * other op upserts) to the destination's LATEST committed snapshot and
    * publish the merged table as the next manifest version — the
    * updatable-table step the reference's append-only managed write
    * (`bigquery_write.go:327-485`) stops short of. The commit
    * point is the same single manifest rename every batch commit uses:
    * merged data files land first (invisible to manifest readers), then
    * one atomic rename makes version N+1 the newest — a crash anywhere
    * before it leaves version N authoritative and the merge invisible.
    *
    * Unlike append commits (which publish a superset manifest), the merge
    * manifest names ONLY the merged snapshot's files — but no physical
    * file is ever deleted, so every earlier version stays readable via
    * [[readVersion]]: `readVersion(dest, v-1)` vs `readVersion(dest, v)`
    * is the audit diff of what the changeset did.
    *
    * Concurrency is optimistic, Delta-style: the merge was computed
    * against version N and claims exactly version N+1; if a concurrent
    * committer takes N+1 first, the merge FAILS with the merged files
    * left unreferenced (never a silent lost update — an append's
    * publish-retry would instead resurrect rows this merge deleted).
    * Re-run the merge against the new snapshot on conflict.
    *
    * @return the published manifest version.
    */
  def merge(
      spark: SparkSession,
      destDir: String,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String = "op"): Long =
    mergeImpl(spark, destDir, changes, keyCols, opCol, crashBeforePublish = false)

  /** Test seams for [[merge]]: `crashBeforePublish` dies after the merged
    * files are promoted but before the manifest rename — proving the
    * commit point's atomicity (files physically present, zero rows
    * visible, versions unchanged); `beforePublish` runs just before the
    * version claim — a competing commit placed there forces the
    * optimistic-concurrency conflict path deterministically.
    */
  private[graft] def mergeImpl(
      spark: SparkSession,
      destDir: String,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String,
      crashBeforePublish: Boolean,
      beforePublish: () => Unit = () => ()): Long = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Adopt pre-manifest destinations first so the merge input and the
    // version claim both come from manifest state, never a raw listing.
    ensureBaseManifest(fs, destDir)
    val (baseVersion, baseFiles) = latestManifest(fs, destDir).get
    val baseDeclared = schemaSidecar(fs, destDir, baseVersion)
    val baseDv = effectiveDv(fs, destDir, baseVersion)
    val base =
      if (baseFiles.nonEmpty)
        applyDv(spark,
          manifestRead(spark, destDir, baseFiles, baseDeclared, keepMeta = baseDv.nonEmpty),
          baseDv, keepMeta = false)
      else emptySnapshot(spark, fs, destDir, baseDeclared)
    val merged = graft.ops.Merge.applyChanges(base, changes, keyCols, opCol)
    // Materialize the merged snapshot OUTSIDE the destination, then move
    // the files in: the write both executes the plan (while the base files
    // are still the authoritative snapshot) and keeps half-written output
    // out of the destination directory.
    val staging = new Path(s"$destDir-merge-${UUID.randomUUID().toString.take(8)}")
    // The staging dir must not outlive the call on ANY outcome: after
    // promoteDir the part files have moved into the destination, so only
    // the _SUCCESS marker (and, on a pre-promote failure, partial output)
    // remains — but it sits BESIDE destDir where no vacuum ever lists, so
    // a conflict-path leak would accumulate one orphan dir per failed
    // merge forever.
    try {
      merged.write.mode("errorifexists").parquet(staging.toString)
      val promoted = promoteDir(fs, staging, destDir)
      if (crashBeforePublish)
        throw new java.io.IOException("simulated crash before merge publish (test hook)")
      beforePublish()
      publishExactManifest(fs, destDir, baseVersion, promoted)
      writeSchemaSidecar(fs, destDir, baseVersion + 1, merged.schema)
      DataSkipping.writeStats(fs, destDir, promoted)
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    baseVersion + 1
  }

  /** Publish version `baseVersion + 1` containing EXACTLY `files` —
    * [[merge]]'s replacement commit. One fail-if-exists [[commitFile]],
    * no retry loop: a taken version number means the snapshot this merge
    * was computed from is stale, which must surface as a conflict (see
    * [[merge]]'s concurrency note), not re-resolve by unioning.
    */
  private def publishExactManifest(
      fs: FileSystem,
      destDir: String,
      baseVersion: Long,
      files: Seq[String]): Unit = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) fs.mkdirs(md)
    val prev = latestManifest(fs, destDir, Some(baseVersion)).map(_._2)
    val tmp = new Path(md, s".tmp-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(
      encodeManifest(baseVersion + 1, files, prev).getBytes("UTF-8"))
    finally out.close()
    val target = new Path(md, f"v-${baseVersion + 1}%08d.txt")
    if (!commitFile(fs, tmp, target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"merge commit conflict: ${target.getName} was published concurrently; " +
          "merged files left unreferenced — re-run the merge against the new snapshot")
    }
  }

  /** Change feed between two committed versions (Delta CDF's read shape,
    * derived post-hoc from the snapshots instead of logged at write time):
    * per key — `insert` (in `toVersion` only), `delete` (in `fromVersion`
    * only), or an `update_preimage`/`update_postimage` row pair (key in
    * both, any non-key column differing under null-safe equality).
    * Unchanged keys emit nothing. Output: the table's columns plus
    * `_change_type`, deterministic given the two snapshots.
    *
    * Scale shape: ONE co-partitioned full-outer join on the key — the
    * same cost [[merge]] already paid to produce the new version; struct
    * comparison is scan-local on the joined rows.
    */
  def changes(
      spark: SparkSession,
      destDir: String,
      fromVersion: Long,
      toVersion: Long,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "need key columns to line up rows across versions")
    val pre = readVersion(spark, destDir, fromVersion)
    val post = readVersion(spark, destDir, toVersion)
    val cols = pre.columns.toSeq
    require(post.columns.toSeq == cols,
      s"schema drift between versions: ${cols.mkString(",")} vs ${post.columns.mkString(",")}")
    val o = pre.select(
      keyCols.map(col) :+ struct(cols.map(col): _*).as("_o"): _*)
    val n = post.select(
      keyCols.map(col) :+ struct(cols.map(col): _*).as("_n"): _*)
    val joined = o.join(n, keyCols, "full_outer")
    val inserts = joined.where(col("_o").isNull).select(
      cols.map(c => col(s"_n.$c").as(c)) :+ lit("insert").as("_change_type"): _*)
    val deletes = joined.where(col("_n").isNull).select(
      cols.map(c => col(s"_o.$c").as(c)) :+ lit("delete").as("_change_type"): _*)
    val updatedKeys = joined.where(
      col("_o").isNotNull && col("_n").isNotNull && !(col("_o") <=> col("_n")))
    val upPre = updatedKeys.select(
      cols.map(c => col(s"_o.$c").as(c)) :+ lit("update_preimage").as("_change_type"): _*)
    val upPost = updatedKeys.select(
      cols.map(c => col(s"_n.$c").as(c)) :+ lit("update_postimage").as("_change_type"): _*)
    inserts.unionByName(deletes).unionByName(upPre).unionByName(upPost)
  }

  /** Deletion-vector MERGE: [[merge]]'s semantics WITHOUT rewriting
    * untouched files — the Delta deletion-vector shape, the difference
    * between an O(changeset) and an O(table) merge at 100 TB. Deleted and
    * updated rows are marked by POSITION (`_metadata.file_name`,
    * `_metadata.row_index`) in a `dv-v-*.txt` sidecar; post-image rows
    * append as new files; the new manifest is the old file list PLUS the
    * appended files, and every read anti-joins the position set. The
    * position set stays DISTRIBUTED end-to-end: small sets (≤
    * [[DvInlineMax]]) inline into the txt sidecar and broadcast — an O(1)
    * driver materialization by the cap — while larger sets are written by
    * executors to a `dv-v-*.pos/` parquet directory and never touch the
    * driver at all. Per-position rows here; the production upgrade is a
    * roaring bitmap per file behind the same validity rule.
    * Same changeset contract as [[graft.ops.Merge.applyChanges]]: at most
    * one change row per key; a NULL/unknown op upserts, never deletes.
    *
    * Commit protocol: the DV sidecar lands BEFORE the manifest rename and
    * carries an md5 binding to the EXACT manifest content this merge
    * intends to publish. A crash between the two leaves an orphan DV that
    * a later committer's same-numbered manifest can never satisfy — the
    * binding check ignores it, so orphaned deletions can neither apply to
    * someone else's commit nor resurrect (ManagedWriterSpec pins this).
    * Deletions persist across later appends (newest VALID dv ≤ version
    * applies); [[compact]] and [[merge]] read DV-aware and so MATERIALIZE
    * them — their rewritten snapshots need no sidecar.
    *
    * @return the published manifest version.
    */
  def mergeDV(
      spark: SparkSession,
      destDir: String,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String = "op"): Long =
    mergeDVImpl(spark, destDir, changes, keyCols, opCol, crashBeforePublish = false)

  private[graft] def mergeDVImpl(
      spark: SparkSession,
      destDir: String,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String,
      crashBeforePublish: Boolean): Long = {
    import org.apache.spark.sql.functions._
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensureBaseManifest(fs, destDir)
    val (baseVersion, baseFiles) = latestManifest(fs, destDir).get
    require(baseFiles.nonEmpty, "mergeDV against an empty table: use merge/write")
    val baseDeclared = schemaSidecar(fs, destDir, baseVersion)
    val oldDv = effectiveDv(fs, destDir, baseVersion)
    val base = applyDv(
      spark,
      manifestRead(spark, destDir, baseFiles, baseDeclared, keepMeta = true),
      oldDv, keepMeta = true)
    // one co-partitioned join classifies the changeset against the base
    val keyed = changes.select(
      keyCols.map(col) :+ struct(changes.columns.filterNot(_ == opCol).map(col): _*).as("_row")
        :+ col(opCol).as("_op"): _*)
    val joined = base.join(keyed, keyCols, "inner")
    // positions of every changed row — STAYS distributed: unioned with
    // the prior DV and persisted by writeDv, which only materializes on
    // the driver under the O(1) DvInlineMax cap
    val newDeletes = joined.select(col(MetaFileCol), col(MetaPosCol))
    val allDv = oldDv.df(spark)
      .map(_.unionByName(newDeletes)).getOrElse(newDeletes)
      .distinct()
    val dataCols = base.columns.filterNot(c => c == MetaFileCol || c == MetaPosCol)
    // null-safe op test, matching Merge.applyChanges: a NULL/typo'd op
    // must upsert, never silently become a delete
    val newRows = changes.where(!(col(opCol) <=> "D")).drop(opCol)
      .select(dataCols.map(col): _*)
    val intended = Seq.newBuilder[String]
    intended ++= baseFiles
    val staging = new Path(s"$destDir-dvmerge-${UUID.randomUUID().toString.take(8)}")
    try {
      val promoted =
        if (newRows.isEmpty) Seq.empty[String]
        else {
          newRows.write.mode("errorifexists").parquet(staging.toString)
          promoteDir(fs, staging, destDir)
        }
      intended ++= promoted
      val manifestContent = serializeManifest(intended.result())
      writeDv(spark, fs, destDir, baseVersion + 1, manifestContent, allDv)
      if (crashBeforePublish)
        throw new java.io.IOException("simulated crash before mergeDV publish (test hook)")
      publishExactManifest(fs, destDir, baseVersion, intended.result())
      writeSchemaSidecar(fs, destDir, baseVersion + 1, StructType(
        baseDeclared.getOrElse(
          StructType(base.schema.fields.filterNot(f =>
            f.name == MetaFileCol || f.name == MetaPosCol))).fields))
      DataSkipping.writeStats(fs, destDir, intended.result().diff(baseFiles))
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    baseVersion + 1
  }

  private val MetaFileCol = "_graft_dv_file"
  private val MetaPosCol = "_graft_dv_pos"

  /** Inline cap for a deletion vector's position set. At or below it the
    * positions travel inside the txt sidecar and anti-join as an explicit
    * broadcast — ONE bounded driver materialization, O(1) by the cap.
    * Above it they are written from EXECUTORS to a parquet sidecar
    * directory (`dv-v-NNNNNNNN.pos/`) and never exist on the driver at
    * all: the 10⁹-position changeset that would have OOM'd the former
    * collect()-based path streams from the classification shuffle
    * straight to parquet.
    */
  private[graft] val DvInlineMax = 10000
  private val DvPosMarker = "@pos"

  /** Sidecar-directory row layout — the bitmap-per-file DV shape (Delta
    * uses roaring; the JDK bitset + an explicit run list are the
    * zero-dependency analogues of roaring's array/bitmap/run containers),
    * chosen ADAPTIVELY per file by encoded size:
    *   - run-structured files (few contiguous deletion spans — the shape
    *     compaction and range deletes produce) → ONE
    *     `(file, card, NULL, NULL, runs)` row where `runs` is the sorted
    *     `[start, len]` span list; reads test span membership
    *     scan-locally with a bounded `exists` over the tiny array.
    *   - dense files → ONE `(file, card, NULL, bitmap, NULL)` row whose
    *     bitmap is `java.util.BitSet.toByteArray` (bit k of byte k/8 =
    *     position k deleted). Reads then join the TINY per-file row set
    *     and test the bit scan-locally — table rows never shuffle for
    *     the DV.
    *   - sparse files (bitmap and runs would both out-size the raw
    *     positions) → one `(file, 1, pos, NULL, NULL)` row per position,
    *     anti-joined as before.
    * `card` sums to the live deletion count in every shape (bitmap/run
    * rows carry their cardinality, position rows carry 1), so history()
    * needs one metadata-cheap SUM, never an expansion.
    */
  private val DvRunType = org.apache.spark.sql.types.ArrayType(StructType(Seq(
    org.apache.spark.sql.types.StructField("start", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("len", org.apache.spark.sql.types.LongType))))
  private val DvDirSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("card", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bitmap", org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("runs", DvRunType)))

  /** Handle to a version's effective deletion vector: positions inline
    * (small DVs) or in a parquet sidecar directory (large DVs; see
    * [[DvDirSchema]]).
    */
  private[sinks] final case class DvRef(
      inline: Seq[(String, Long)], posDir: Option[Path]) {
    def isEmpty: Boolean = inline.isEmpty && posDir.isEmpty
    def nonEmpty: Boolean = !isEmpty
    private[sinks] def dirDf(spark: SparkSession): Option[DataFrame] =
      posDir.map(d => spark.read.schema(DvDirSchema).parquet(d.toString))
    /** The FULL position set as a (MetaFileCol, MetaPosCol) frame (bitmap
      * rows expanded through a lazy per-file iterator); None when empty.
      * The expansion is only paid where a position-level set is really
      * needed (mergeDV's union with the new changeset) — the read path
      * never calls this for dir-based DVs.
      */
    def df(spark: SparkSession): Option[DataFrame] = posDir match {
      case Some(_) =>
        import org.apache.spark.sql.functions.{col, expr}
        val all = dirDf(spark).get
        val posRows = all.where(col("pos").isNotNull)
          .select(col("file").as(MetaFileCol), col("pos").as(MetaPosCol))
        import spark.implicits._
        val bmRows = all.where(col("bitmap").isNotNull)
          .select(col("file"), col("bitmap")).as[(String, Array[Byte])]
          .flatMap { case (f, b) =>
            val it = java.util.BitSet.valueOf(b).stream().iterator()
            new Iterator[(String, Long)] {
              def hasNext: Boolean = it.hasNext
              def next(): (String, Long) = (f, it.next().toLong)
            }
          }.toDF(MetaFileCol, MetaPosCol)
        // run rows expand lazily per span (an iterator, like the bitmap
        // branch — a single million-position span never materializes an
        // in-memory array)
        val runRows = all.where(col("runs").isNotNull)
          .select(col("file"),
            expr("transform(runs, r -> struct(r.start AS _1, r.len AS _2))").as("runs"))
          .as[(String, Seq[(Long, Long)])]
          .flatMap { case (f, spans) =>
            // long-stepped iterator: Iterator.range takes Ints, and a
            // whole-file span over a 2^31-row file has len = 2^31, which
            // toInt wraps negative (silently emitting zero positions)
            spans.iterator.flatMap { case (s, l) =>
              new Iterator[(String, Long)] {
                private var k = 0L
                def hasNext: Boolean = k < l
                def next(): (String, Long) = { val p = s + k; k += 1; (f, p) }
              }
            }
          }.toDF(MetaFileCol, MetaPosCol)
        Some(posRows.unionByName(bmRows).unionByName(runRows))
      case None if inline.isEmpty => None
      case None => Some(spark.createDataFrame(
        spark.sparkContext.parallelize(
          inline.map(t => org.apache.spark.sql.Row(t._1, t._2)), 1),
        StructType(Seq(
          org.apache.spark.sql.types.StructField(
            MetaFileCol, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(
            MetaPosCol, org.apache.spark.sql.types.LongType)))))
    }
    /** Live position count — metadata-only for inline, one SUM(card) job
      * for dirs (never a bitmap expansion).
      */
    def count(spark: SparkSession): Long =
      if (posDir.isDefined) {
        import org.apache.spark.sql.functions.sum
        dirDf(spark).get.agg(sum("card")).head().getLong(0)
      } else inline.size.toLong
  }

  private[sinks] object DvRef { val empty: DvRef = DvRef(Seq.empty, None) }

  /** Persist the deletion vector for `version`, bound to
    * `manifestContent`. `limit(cap + 1).collect()` proves the small case
    * complete without a separate count job: fewer than cap+1 rows back
    * means that IS the whole set (written sorted into the txt sidecar,
    * deterministic); otherwise the positions shuffle ONCE by file and
    * each file group streams into its [[DvDirSchema]] encoding (dense
    * bitmap or sparse position rows) written by the executors — the
    * driver never sees a position.
    */
  private def writeDv(
      spark: SparkSession,
      fs: FileSystem,
      destDir: String,
      version: Long,
      manifestContent: String,
      positions: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val md = manifestDir(destDir)
    if (!fs.exists(md)) fs.mkdirs(md)
    val posTarget = new Path(md, f"dv-v-$version%08d.pos")
    // a leftover pos dir at this version is a PROVEN orphan (its merge
    // never published); clear it whichever encoding this write takes
    if (fs.exists(posTarget)) fs.delete(posTarget, true)
    val head = positions.limit(DvInlineMax + 1).collect()
    if (head.length <= DvInlineMax) {
      val lines = head.map(r => (r.getString(0), r.getLong(1))).distinct.sorted
        .map { case (f, p) => s"$f\t$p" }
      writeDvSidecar(fs, destDir, version, manifestContent, lines.toSeq)
    } else {
      import spark.implicits._
      val encoded = positions
        .select(col(MetaFileCol).as("f"), col(MetaPosCol).as("p")).as[(String, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (f, it) =>
          // one streaming pass per file: dedup + cardinality + max in a
          // growable bitset (parquet row indexes fit int by format limits)
          val bs = new java.util.BitSet()
          var card = 0L
          var maxPos = -1L
          it.foreach { t =>
            val p = t._2
            require(p >= 0 && p <= Int.MaxValue, s"row index $p out of bitmap range")
            if (!bs.get(p.toInt)) {
              bs.set(p.toInt); card += 1
              if (p > maxPos) maxPos = p
            }
          }
          // runs of consecutive set bits (roaring's run containers): the
          // natural encoding for compaction/range deletes, where a file's
          // deletions are a handful of contiguous spans
          val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var i = bs.nextSetBit(0)
          while (i >= 0) {
            val j = bs.nextClearBit(i)
            runs += ((i.toLong, (j - i).toLong))
            i = bs.nextSetBit(j)
          }
          val bitmapBytes = maxPos / 8 + 1
          val runBytes = 16L * runs.length // two longs per span
          val posBytes = 8L * card
          if (runBytes < math.min(bitmapBytes, posBytes)) {
            Iterator.single((f, card, Option.empty[Long], Option.empty[Array[Byte]],
              Option(runs.toSeq)))
          } else if (bitmapBytes <= posBytes) {
            Iterator.single((f, card, Option.empty[Long], Option(bs.toByteArray),
              Option.empty[Seq[(Long, Long)]]))
          } else {
            val pit = bs.stream().iterator()
            new Iterator[(String, Long, Option[Long], Option[Array[Byte]],
                Option[Seq[(Long, Long)]])] {
              def hasNext: Boolean = pit.hasNext
              def next(): (String, Long, Option[Long], Option[Array[Byte]],
                  Option[Seq[(Long, Long)]]) = (f, 1L, Option(pit.next().toLong),
                Option.empty[Array[Byte]], Option.empty[Seq[(Long, Long)]])
            }
          }
        }
        .toDF("file", "card", "pos", "bitmap", "runs")
        // name the span fields: downstream membership tests read r.start/r.len
        .withColumn("runs",
          org.apache.spark.sql.functions.expr(
            "transform(runs, r -> struct(r._1 AS start, r._2 AS len))"))
      val tmp = new Path(md, s".tmp-dvpos-${UUID.randomUUID().toString.take(8)}")
      encoded.write.parquet(tmp.toString)
      if (!fs.rename(tmp, posTarget)) {
        fs.delete(tmp, true)
        throw new java.io.IOException(
          s"could not stage deletion-vector positions $posTarget")
      }
      writeDvSidecar(fs, destDir, version, manifestContent, Seq(DvPosMarker))
    }
  }

  /** The exact byte serialization [[publishExactManifest]]/[[publishManifest]]
    * write — also the content a DV sidecar binds to.
    */
  private def serializeManifest(files: Seq[String]): String =
    files.distinct.sorted.mkString("\n") + "\n"

  /** DV sidecar format: first line `md5-of-bound-manifest-content`, then
    * one `fileName\trowIndex` per deleted position.
    */
  private def writeDvSidecar(
      fs: FileSystem,
      destDir: String,
      version: Long,
      manifestContent: String,
      lines: Seq[String]): Unit = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) fs.mkdirs(md)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(manifestContent.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val tmp = new Path(md, s".tmp-dv-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(((digest +: lines).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val target = new Path(md, f"dv-v-$version%08d.txt")
    // a leftover dv at this version is a PROVEN orphan (its merge never
    // published — a published one would have made this version the base)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not stage deletion vector $target")
    }
  }

  /** Deleted positions effective at `version`: the NEWEST dv sidecar
    * ≤ `version` whose content binding matches its own version's actual
    * manifest (orphans from crashed merges fail the binding and are
    * skipped; deletions persist across appends by the ≤ rule).
    */
  private def effectiveDv(
      fs: FileSystem,
      destDir: String,
      version: Long): DvRef = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) return DvRef.empty
    val dvs = fs.listStatus(md)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("dv-v-") && p.getName.endsWith(".txt"))
      .map(p => (p.getName.stripPrefix("dv-v-").stripSuffix(".txt").toLong, p))
      .filter(_._1 <= version)
      .sortBy(-_._1)
    dvs.foreach { case (v, path) =>
      latestManifest(fs, destDir, Some(v)).foreach { case (_, files) =>
        val actual = java.security.MessageDigest.getInstance("MD5")
          .digest(serializeManifest(files).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val lines = readLines(fs, path)
        if (lines.headOption.contains(actual)) {
          val body = lines.tail
          if (body.headOption.contains(DvPosMarker))
            return DvRef(Seq.empty, Some(new Path(md, f"dv-v-$v%08d.pos")))
          return DvRef(body.flatMap { l =>
            l.split("\t", -1) match {
              case Array(f, p) => scala.util.Try((f, p.toLong)).toOption
              case _ => None
            }
          }, None)
        }
      }
    }
    DvRef.empty
  }

  /** Filter `df` (read with position metadata when `dv` is nonempty)
    * down to undeleted rows; `keepMeta` retains the position columns for
    * callers that need them (mergeDV's own classification).
    */
  private def applyDv(
      spark: SparkSession,
      df: DataFrame,
      dv: DvRef,
      keepMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val filtered = dv.posDir match {
      case None => dv.df(spark) match {
        case None => df
        case Some(d) => // inline DVs are cap-bounded — broadcast outright
          df.join(broadcast(d), Seq(MetaFileCol, MetaPosCol), "left_anti")
      }
      case Some(_) =>
        val all = dv.dirDf(spark).get
        // sparse files' position rows: plain anti-join, AQE-planned
        val posRows = all.where(col("pos").isNotNull)
          .select(col("file").as(MetaFileCol), col("pos").as(MetaPosCol))
        // dense files' bitmaps: join ONE tiny row per file, then test the
        // bit scan-locally — table rows never shuffle for the bitmap part
        // (BitSet.toByteArray puts position k at bit k%8 of byte k/8; a
        // position past the bitmap's last byte reads as not-deleted via
        // the coalesce)
        val bmRows = all.where(col("bitmap").isNotNull).select(col("file"), col("bitmap"))
        // run-encoded files: same one-tiny-row-per-file join; membership
        // is a bounded `exists` over the span array (runs encoding only
        // wins when the span count is small, so the per-row scan is O(few))
        val runRows = all.where(col("runs").isNotNull)
          .select(col("file").as("rfile"), col("runs"))
        val afterPos = df.join(posRows, Seq(MetaFileCol, MetaPosCol), "left_anti")
        val afterBm = afterPos
          .join(bmRows, afterPos(MetaFileCol) === bmRows("file"), "left_outer")
          .where(expr(
            s"""NOT coalesce((CAST(conv(hex(substring(bitmap,
               |  CAST($MetaPosCol DIV 8 AS INT) + 1, 1)), 16, 10) AS INT)
               |  & shiftleft(1, CAST($MetaPosCol % 8 AS INT))) > 0, false)""".stripMargin))
          .drop("file", "bitmap")
        afterBm.join(runRows, afterBm(MetaFileCol) === runRows("rfile"), "left_outer")
          .where(expr(
            s"""NOT coalesce(exists(runs,
               |  r -> $MetaPosCol >= r.start AND $MetaPosCol < r.start + r.len), false)"""
              .stripMargin))
          .drop("rfile", "runs")
    }
    if (keepMeta) filtered else filtered.drop(MetaFileCol, MetaPosCol)
  }

  /** OPTIMIZE for the versioned table: rewrite the LATEST snapshot's
    * small files into ≈`targetFileBytes` files and publish the compacted
    * layout as the next manifest version — same row set, fewer/larger
    * files, fresh skipping stats. The commit point is [[merge]]'s single
    * manifest rename: a crash anywhere before it leaves the uncompacted
    * version authoritative (compacted files orphaned, invisible, swept
    * by a later vacuum). Old versions stay readable until vacuumed —
    * compaction is a LAYOUT change, so time travel across it is exact.
    *
    * Returns the published version. The rewrite is one job whose
    * parallelism is the output file count; like any OPTIMIZE it trades
    * one bounded rewrite now for every future scan's open-file count.
    */
  def compact(spark: SparkSession, destDir: String, targetFileBytes: Long): Long =
    compactImpl(spark, destDir, targetFileBytes, crashBeforePublish = false)

  /** RESTORE: roll the table back to `version`'s content as a NEW
    * commit (Delta RESTORE semantics — history moves forward, nothing is
    * erased; the bad head stays time-travelable for forensics). Pure
    * metadata: the restored version's file list republishes at the next
    * version, its declared schema re-sidecars, and the single-rename
    * commit point makes the rollback atomic. DV correctness rides on the
    * same name-binding property every layout op here uses: the restored
    * manifest is byte-identical (serializeManifest is canonical) to the
    * original's, so the original version's DV sidecar VALIDATES against
    * the new head and deletions stay applied.
    */
  def restore(spark: SparkSession, destDir: String, version: Long): Long = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (head, _) = latestManifest(fs, destDir).getOrElse(
      throw new IllegalArgumentException(s"restore: no committed versions at $destDir"))
    val files = latestManifest(fs, destDir, Some(version)).collect {
      case (`version`, fl) => fl
    }.getOrElse(throw new IllegalArgumentException(
      s"restore: version $version does not exist (vacuumed or never committed)"))
    val dv = effectiveDv(fs, destDir, version)
    publishExactManifest(fs, destDir, head, files)
    schemaSidecar(fs, destDir, version).foreach(sch =>
      writeSchemaSidecar(fs, destDir, head + 1, sch))
    // re-bind the restored version's DV to the new head explicitly (the
    // canonical-manifest argument makes the OLD sidecar validate too, but
    // an explicit binding survives a later vacuum of the old version)
    if (dv.nonEmpty) {
      dv.posDir match {
        case Some(src) =>
          val dst = new Path(manifestDir(destDir), f"dv-v-${head + 1}%08d.pos")
          if (!fs.exists(dst))
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, fs.getConf)
          writeDvSidecar(fs, destDir, head + 1, serializeManifest(files), Seq(DvPosMarker))
        case None =>
          writeDvSidecar(fs, destDir, head + 1, serializeManifest(files),
            dv.inline.map { case (f, p) => s"$f\t$p" })
      }
    }
    head + 1
  }

  /** OPTIMIZE ZORDER: compaction that also CLUSTERS the rewritten files
    * on the Morton interleave of `clusterCols`
    * ([[graft.ops.Layout.mortonZ]] — the same code path as the plain
    * Z-order write, so both layouts cluster identically), refreshing the
    * skipping stats so range predicates on ANY cluster column decide
    * whole files afterward. Values never change; same single-rename
    * atomic commit, DV-aware read, time-travelable prior layout —
    * everything [[compact]] guarantees, plus the layout.
    */
  def compactZorder(
      spark: SparkSession,
      destDir: String,
      targetFileBytes: Long,
      clusterCols: Seq[String],
      bucketBits: Int = 6): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensureBaseManifest(fs, destDir)
    val (baseVersion, baseFiles) = latestManifest(fs, destDir).get
    if (baseFiles.isEmpty) return baseVersion
    val dv = effectiveDv(fs, destDir, baseVersion)
    val base = applyDv(spark,
      manifestRead(spark, destDir, baseFiles, schemaSidecar(fs, destDir, baseVersion),
        keepMeta = dv.nonEmpty),
      dv, keepMeta = false)
    val bytes = baseFiles.map(f => fs.getFileStatus(new Path(destDir, f)).getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val staging = new Path(s"$destDir-zorder-${UUID.randomUUID().toString.take(8)}")
    try {
      import org.apache.spark.sql.functions.col
      base
        .withColumn("_graft_z", graft.ops.Layout.mortonZ(base, clusterCols, bucketBits))
        .repartitionByRange(nOut, col("_graft_z"))
        .sortWithinPartitions("_graft_z")
        .drop("_graft_z")
        .write.mode("errorifexists").parquet(staging.toString)
      val promoted = promoteDir(fs, staging, destDir)
      publishExactManifest(fs, destDir, baseVersion, promoted)
      writeSchemaSidecar(fs, destDir, baseVersion + 1, base.schema)
      DataSkipping.writeStats(fs, destDir, promoted)
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    baseVersion + 1
  }

  /** SCOPED compaction — the Delta `OPTIMIZE ... WHERE` shape the full
    * [[compact]] scaladoc names as the petabyte answer: only the files
    * whose SKIPPING STATS might satisfy `filters` are rewritten (a
    * `false` from the stats is a proof, so exclusion is always safe;
    * files without stats rewrite conservatively); every other file rides
    * into the new manifest untouched. The rewrite is DV-aware — the
    * selected files' deletions MATERIALIZE — while untouched files keep
    * their existing deletion vectors: DV entries bind to file NAMES,
    * names are never reused, so the prior sidecar keeps applying to the
    * survivors and the rewritten files' stale entries can never match a
    * read (same mechanism plain compact relies on). Same single-rename
    * atomic commit; a crash mid-compact orphans invisible files only.
    *
    * Scale shape: cost is O(selected bytes) — the point of the WHERE —
    * and each scoped run is its own committed, time-travelable version,
    * so a petabyte table compacts partition-range by partition-range
    * without one giant commit.
    */
  def compactWhere(
      spark: SparkSession,
      destDir: String,
      targetFileBytes: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Long =
    compactWhereImpl(spark, destDir, targetFileBytes, filters, crashBeforePublish = false)

  private[graft] def compactWhereImpl(
      spark: SparkSession,
      destDir: String,
      targetFileBytes: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      crashBeforePublish: Boolean): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(filters.nonEmpty, "compactWhere without filters is compact()")
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensureBaseManifest(fs, destDir)
    val (baseVersion, baseFiles) = latestManifest(fs, destDir).get
    if (baseFiles.isEmpty) return baseVersion
    val stats = DataSkipping.readStats(fs, destDir)
    val selected = baseFiles.filter { f =>
      stats.get(f).forall(st => filters.forall(fl => DataSkipping.mightMatch(st, fl)))
    }
    if (selected.isEmpty) return baseVersion
    val untouched = baseFiles.diff(selected)
    val dv = effectiveDv(fs, destDir, baseVersion)
    val subset = applyDv(spark,
      manifestRead(spark, destDir, selected, schemaSidecar(fs, destDir, baseVersion),
        keepMeta = dv.nonEmpty),
      dv, keepMeta = false)
    val bytes = selected.map(f => fs.getFileStatus(new Path(destDir, f)).getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val staging = new Path(s"$destDir-compactw-${UUID.randomUUID().toString.take(8)}")
    try {
      subset.repartition(nOut).write.mode("errorifexists").parquet(staging.toString)
      val promoted = promoteDir(fs, staging, destDir)
      if (crashBeforePublish)
        throw new java.io.IOException("simulated crash before compactWhere publish (test hook)")
      publishExactManifest(fs, destDir, baseVersion, untouched ++ promoted)
      writeSchemaSidecar(fs, destDir, baseVersion + 1, subset.schema)
      DataSkipping.writeStats(fs, destDir, promoted)
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    baseVersion + 1
  }

  private[graft] def compactImpl(
      spark: SparkSession,
      destDir: String,
      targetFileBytes: Long,
      crashBeforePublish: Boolean): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensureBaseManifest(fs, destDir)
    val (baseVersion, baseFiles) = latestManifest(fs, destDir).get
    if (baseFiles.isEmpty) return baseVersion // nothing to lay out
    val bytes = baseFiles.map(f => fs.getFileStatus(new Path(destDir, f)).getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val compactDv = effectiveDv(fs, destDir, baseVersion)
    val base = applyDv(spark,
      manifestRead(spark, destDir, baseFiles, schemaSidecar(fs, destDir, baseVersion),
        keepMeta = compactDv.nonEmpty),
      compactDv, keepMeta = false)
    val staging = new Path(s"$destDir-compact-${UUID.randomUUID().toString.take(8)}")
    try {
      base.repartition(nOut).write.mode("errorifexists").parquet(staging.toString)
      val promoted = promoteDir(fs, staging, destDir)
      if (crashBeforePublish)
        throw new java.io.IOException("simulated crash before compact publish (test hook)")
      publishExactManifest(fs, destDir, baseVersion, promoted)
      writeSchemaSidecar(fs, destDir, baseVersion + 1, base.schema)
      DataSkipping.writeStats(fs, destDir, promoted)
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    baseVersion + 1
  }

  /** One row per committed version — the DESCRIBE HISTORY analogue,
    * assembled purely from manifest-directory metadata (no data files
    * opened): file count, total bytes (absent files — vacuumed versions
    * — count what remains), live deleted-position count under the
    * version's effective DV, and whether a declared schema governs it.
    */
  def history(spark: SparkSession, destDir: String): DataFrame = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = versions(spark, destDir).map { v =>
      val files = latestManifest(fs, destDir, Some(v)).map(_._2).getOrElse(Seq.empty)
      val bytes = files.map { f =>
        val p = new Path(destDir, f)
        if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
      }.sum
      org.apache.spark.sql.Row(
        v, files.size, bytes,
        effectiveDv(fs, destDir, v).count(spark),
        schemaSidecar(fs, destDir, v).isDefined)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("num_files", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("deleted_positions", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("has_declared_schema", org.apache.spark.sql.types.BooleanType))))
  }

  /** Storage reclamation for the versioned table: keep the newest
    * `keepVersions` manifest versions, delete every older manifest AND
    * every physical data file no kept manifest references. The Delta/
    * Iceberg VACUUM analogue — appends never delete and [[merge]] only
    * supersedes, so without this a long-lived 100 TB table accumulates
    * every version's files forever.
    *
    * Safety order: old MANIFESTS are deleted FIRST, then unreferenced
    * files — a crash between the two phases leaves harmless orphaned data
    * files (invisible to manifest readers, never adopted — ensureBase only
    * seeds manifests on never-committed destinations, and a later vacuum
    * sweeps them), never a manifest naming a deleted file. Time travel to
    * vacuumed versions fails by construction; that is the retention
    * trade-off being bought.
    *
    * Concurrency caveat (same as Delta's): don't vacuum concurrently with
    * a writer whose commit could land between the manifest scan and the
    * file deletes. Returns (versions deleted, data files deleted).
    */
  def vacuum(spark: SparkSession, destDir: String, keepVersions: Int = 1): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = versions(spark, destDir)
    if (all.isEmpty) return (0, 0)
    val keep = all.takeRight(keepVersions)
    val drop = all.dropRight(keepVersions)
    val referenced: Set[String] = keep
      .flatMap(v => latestManifest(fs, destDir, Some(v)).map(_._2).getOrElse(Seq.empty))
      .toSet
    val md = manifestDir(destDir)
    // Delta-encoded kept manifests would dangle once the base versions
    // they replay against are dropped: materialize every kept version to
    // a full snapshot FIRST (logically identical content — DV bindings
    // hash the logical list via serializeManifest, so they are
    // unaffected). Replace-in-place via tmp + rename; vacuum is already
    // documented as not safe against concurrent readers/writers.
    keep.foreach { v =>
      val p = new Path(md, f"v-$v%08d.txt")
      if (fs.exists(p) && readLines(fs, p).headOption.contains(DeltaHeader)) {
        val files = latestManifest(fs, destDir, Some(v)).map(_._2).getOrElse(Seq.empty)
        val tmp = new Path(md, s".tmp-${UUID.randomUUID().toString.take(8)}")
        val out = fs.create(tmp, false)
        try out.write(serializeManifest(files).getBytes("UTF-8"))
        finally out.close()
        fs.delete(p, false)
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"vacuum could not materialize $p")
        }
      }
    }
    // Deletion vectors bind to their OWN version's manifest; dropping that
    // manifest would orphan them and silently resurrect deleted rows in
    // kept versions. Re-bind each kept version's effective DV to the kept
    // version itself BEFORE any manifest is dropped (idempotent: a valid
    // same-version DV is left alone; writes-before-deletes keeps a crash
    // harmless).
    keep.foreach { v =>
      val dvRef = effectiveDv(fs, destDir, v)
      if (dvRef.nonEmpty && !fs.exists(new Path(md, f"dv-v-$v%08d.txt"))) {
        latestManifest(fs, destDir, Some(v)).foreach { case (_, files) =>
          dvRef.posDir match {
            case Some(src) =>
              // dir-based DV: re-bind by copying the position directory to
              // the kept version (driver never reads the positions)
              val dst = new Path(md, f"dv-v-$v%08d.pos")
              if (!fs.exists(dst))
                org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, fs.getConf)
              writeDvSidecar(fs, destDir, v, serializeManifest(files), Seq(DvPosMarker))
            case None =>
              writeDvSidecar(fs, destDir, v, serializeManifest(files),
                dvRef.inline.map { case (f, p) => s"$f\t$p" })
          }
        }
      }
    }
    // Streaming-txn watermarks bind to their own version's manifest the
    // same way DVs do; a dropped binding target would silently REGRESS
    // the exactly-once watermark and let a replayed batch double-append.
    // Re-anchor every queryId whose newest valid watermark rides a
    // to-be-dropped version onto the newest kept version BEFORE the drop
    // (writes-before-deletes: a crash in between leaves both valid).
    locally {
      val dropSet = drop.toSet
      val latestKept = keep.last
      val keptFiles =
        latestManifest(fs, destDir, Some(latestKept)).map(_._2).getOrElse(Seq.empty)
      val strays = txnWatermarks(fs, destDir).filter { case (_, (v, _)) => dropSet.contains(v) }
      if (strays.nonEmpty) {
        val target = new Path(md, f"txn-v-$latestKept%08d.txt")
        val existing = if (fs.exists(target)) readLines(fs, target) else Nil
        val md5 = manifestMd5(keptFiles)
        val lines = existing ++ strays.toSeq.sortBy(_._1).map {
          case (qid, (_, bid)) => s"$md5\t$qid\t$bid"
        }
        val tmp = new Path(md, s".tmp-txn-${UUID.randomUUID().toString.take(8)}")
        val out = fs.create(tmp, false)
        try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        if (fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(tmp, target)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"vacuum could not re-anchor txn watermarks $target")
        }
      }
    }
    drop.foreach(v => fs.delete(new Path(md, f"v-$v%08d.txt"), false))
    drop.foreach(v => fs.delete(new Path(md, f"txn-v-$v%08d.txt"), false))
    val deleted = physicalFiles(fs, destDir).count { rel =>
      !referenced.contains(rel) && fs.delete(new Path(destDir, rel), false)
    }
    // Drop skipping stats of vacuumed files alongside (new sidecar first,
    // old ones after — a crash in between duplicates lines, never loses them).
    DataSkipping.compactStats(fs, destDir, referenced)
    (drop.size, deleted)
  }

  private val ManifestDirName = "_graft_manifest"

  private def manifestMd5(files: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(serializeManifest(files).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Persist the streaming-transaction record for the (about to publish)
    * `version`: one line `md5-of-bound-manifest \t queryId \t batchId`.
    * Validity = the md5 matches the file list actually published at that
    * version — a crashed commit's sidecar never validates.
    */
  private[sinks] def writeTxnSidecar(
      fs: FileSystem,
      destDir: String,
      version: Long,
      intendedFiles: Seq[String],
      queryId: String,
      batchId: Long): Unit = {
    require(!queryId.contains("\t") && !queryId.contains("\n"),
      "queryId must not contain tabs/newlines")
    val md = manifestDir(destDir)
    if (!fs.exists(md)) fs.mkdirs(md)
    val tmp = new Path(md, s".tmp-txn-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(s"${manifestMd5(intendedFiles)}\t$queryId\t$batchId\n".getBytes("UTF-8"))
    finally out.close()
    val target = new Path(md, f"txn-v-$version%08d.txt")
    if (fs.exists(target)) fs.delete(target, false) // orphan of a crashed commit
    if (!commitFile(fs, tmp, target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not stage txn sidecar $target")
    }
  }

  /** Every queryId's newest VALID watermark: qid → (carrying version,
    * batchId). A sidecar line counts only if its bound md5 matches the
    * file list actually published at its version — a txn written by a
    * commit that crashed before its manifest rename is invisible, so the
    * batch correctly replays. (Sidecars may hold several lines: one from
    * their own commit plus re-anchored watermarks vacuum migrated off
    * dropped versions.)
    */
  private def txnWatermarks(
      fs: FileSystem,
      destDir: String): Map[String, (Long, Long)] = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) return Map.empty
    fs.listStatus(md).map(_.getPath)
      .filter(p => p.getName.startsWith("txn-v-") && p.getName.endsWith(".txt"))
      .flatMap { p =>
        val v = p.getName.stripPrefix("txn-v-").stripSuffix(".txt").toLong
        val bound = latestManifest(fs, destDir, Some(v)).collect {
          case (`v`, files) => manifestMd5(files)
        }
        readLines(fs, p).flatMap { line =>
          line.split("\t", -1) match {
            case Array(md5, qid, bid) if bound.contains(md5) =>
              Some((qid, v, bid.toLong))
            case _ => None
          }
        }
      }
      .groupBy(_._1)
      .map { case (qid, rows) =>
        val best = rows.maxBy(_._3)
        qid -> (best._2, best._3)
      }
  }

  /** Highest batch id `queryId` has DURABLY committed to `destDir` (−1 if
    * none): the restart-safe idempotence watermark of the exactly-once
    * streaming sink ([[graft.streaming.Streams.streamingManagedAppend]]).
    */
  def lastCommittedBatch(spark: SparkSession, destDir: String, queryId: String): Long = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    txnWatermarks(fs, destDir).get(queryId).map(_._2).getOrElse(-1L)
  }

  private def manifestDir(destDir: String) = new Path(destDir, ManifestDirName)

  /** Delta-log manifest segmentation (the Delta/Iceberg shape, closing the
    * documented O(appends x files) lifetime cost of full-snapshot-only
    * manifests): a version file is EITHER a full snapshot (plain sorted
    * file list — doubles as a checkpoint) or, between checkpoints, a
    * `#delta` header followed by `+file`/`-file` lines against the
    * previous version. Every `ManifestCheckpointEvery`-th version is
    * forced full, so resolution replays at most CheckpointEvery-1 deltas
    * — commit bytes are O(changed files), resolution reads are O(1).
    * The commit point is unchanged: one fail-if-exists [[commitFile]] of
    * the version file, whatever its encoding. DV binding is unaffected —
    * sidecars bind to [[serializeManifest]] of the LOGICAL list, not to
    * the physical encoding. [[vacuum]] materializes every kept version
    * to a full snapshot before dropping older ones, so a delta can never
    * outlive its base.
    */
  private val ManifestCheckpointEvery = 10L
  private val DeltaHeader = "#delta"

  private def encodeManifest(
      version: Long,
      files: Seq[String],
      prev: Option[Seq[String]]): String = {
    val full = files.distinct.sorted
    prev match {
      case Some(p) if version % ManifestCheckpointEvery != 0 =>
        val prevSet = p.toSet
        val curSet = full.toSet
        val adds = full.filterNot(prevSet)
        val removes = p.filter(f => !curSet.contains(f)).distinct.sorted
        (DeltaHeader +: (adds.map("+" + _) ++ removes.map("-" + _)))
          .mkString("\n") + "\n"
      case _ => serializeManifest(full)
    }
  }

  private def readLines(fs: FileSystem, path: Path): List[String] = {
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The LOGICAL file list of manifest `version`: the file itself when it
    * is a full snapshot, else the previous version's resolution with this
    * version's delta applied (bounded by the checkpoint spacing).
    */
  private def resolveManifest(fs: FileSystem, md: Path, version: Long): Seq[String] = {
    val path = new Path(md, f"v-$version%08d.txt")
    val lines = readLines(fs, path)
    if (lines.headOption.contains(DeltaHeader)) {
      val prevPath = new Path(md, f"v-${version - 1}%08d.txt")
      if (!fs.exists(prevPath))
        throw new java.io.IOException(
          s"manifest v$version at $md is a delta but v${version - 1} is gone " +
            "(vacuum materializes kept versions — was the directory hand-edited?)")
      val base = resolveManifest(fs, md, version - 1)
      val adds = lines.tail.collect { case l if l.startsWith("+") => l.drop(1) }
      val removes = lines.tail.collect { case l if l.startsWith("-") => l.drop(1) }.toSet
      (base.filterNot(removes) ++ adds).distinct.sorted
    } else lines.filter(_.nonEmpty)
  }

  /** Latest committed manifest (or a specific `version` when asked):
    * (version, destination-relative file names). None when the destination
    * has never been written through a manifest (pre-manifest directories,
    * or plain `df.write.parquet` output) or the requested version does not
    * exist.
    */
  private def latestManifest(
      fs: FileSystem,
      destDir: String,
      version: Option[Long] = None): Option[(Long, Seq[String])] = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) return None
    val versions = fs.listStatus(md)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("v-") && p.getName.endsWith(".txt"))
    val chosen = version match {
      case Some(v) => versions.find(
        _.getName.stripPrefix("v-").stripSuffix(".txt").toLong == v)
      case None if versions.isEmpty => None
      case None => Some(versions.maxBy(p =>
        p.getName.stripPrefix("v-").stripSuffix(".txt").toLong))
    }
    chosen.map { path =>
      val v = path.getName.stripPrefix("v-").stripSuffix(".txt").toLong
      (v, resolveManifest(fs, md, v))
    }
  }

  /** Committed manifest versions at `destDir`, ascending (empty when the
    * destination has no manifest).
    */
  def versions(spark: SparkSession, destDir: String): Seq[Long] = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = manifestDir(destDir)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v-") && n.endsWith(".txt"))
      .map(_.stripPrefix("v-").stripSuffix(".txt").toLong)
      .sorted
      .toSeq
  }

  /** Time-travel read: the snapshot exactly as manifest `version` committed
    * it. Commits never delete or rewrite previously-committed files
    * (appends promote NEW files and publish a superset manifest; [[merge]]
    * publishes a replacement manifest but leaves the old files on disk),
    * so every historical version stays readable until files are physically
    * vacuumed.
    */
  def readVersion(spark: SparkSession, destDir: String, version: Long): DataFrame = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestManifest(fs, destDir, Some(version)) match {
      case Some((_, files)) if files.nonEmpty =>
        val dv = effectiveDv(fs, destDir, version)
        applyDv(spark,
          manifestRead(spark, destDir, files, schemaSidecar(fs, destDir, version),
            keepMeta = dv.nonEmpty),
          dv, keepMeta = false)
      case Some(_) => emptySnapshot(spark, fs, destDir, schemaSidecar(fs, destDir, version))
      case None => throw new java.io.FileNotFoundException(
        s"no manifest version $version at $destDir (have: ${versions(spark, destDir).mkString(",")})")
    }
  }

  /** Change feed between two committed versions — the Delta
    * `table_changes` / CDF view computed from the two snapshots: one row
    * per key whose state differs, with `change_type` ∈ insert / delete /
    * update. Keys must be unique within each snapshot (the [[merge]]
    * table contract — this is the diff of a keyed table, not a multiset
    * diff; for multisets see the b89-style (value, count) spelling).
    * Update detection compares the non-key columns the two versions
    * SHARE (schema evolution may add columns; a row differing only in a
    * version-exclusive column is not an update of shared state), via a
    * deterministic per-row digest so wide rows never shuffle their
    * payload twice.
    *
    * Scale shape: two manifest reads, each collapsed to (key, digest)
    * scan-locally, one full-outer sort-merge join on the key — the
    * minimum possible data movement for a snapshot diff. Time-travel
    * reads are file-list lookups, not log replays.
    */
  def versionDiff(
      spark: SparkSession,
      destDir: String,
      fromVersion: Long,
      toVersion: Long,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readVersion(spark, destDir, fromVersion)
    val b = readVersion(spark, destDir, toVersion)
    val shared = a.columns.filterNot(keyCols.contains).filter(b.columns.contains).sorted
    def digested(df: DataFrame, out: String) = df.select(
      keyCols.map(col) :+
        md5(to_json(struct(shared.map(c => col(c).as(c)): _*))).as(out): _*)
    digested(a, "_ha")
      .join(digested(b, "_hb"), keyCols, "full_outer")
      .withColumn(
        "change_type",
        when(col("_ha").isNull, "insert")
          .when(col("_hb").isNull, "delete")
          .when(col("_ha") =!= col("_hb"), "update"))
      .where(col("change_type").isNotNull)
      .select(keyCols.map(col) :+ col("change_type"): _*)
  }

  /** Iceberg-style `files` metadata table: one row per LIVE data file of
    * the current snapshot — name, on-disk bytes, footer row count, and
    * (when `statsCol` is given) that column's min/max/null-count bounds —
    * answered ENTIRELY from the manifest and the commit-time skipping
    * sidecar: no data pages open, no scan jobs run. Files committed
    * before stats existed (or adopted externally) report NULL row counts
    * and bounds rather than forcing a footer re-read — the conservative
    * posture the skipping reader already takes.
    *
    * Bounds surface as STRINGS in the sidecar's encoding (integral /
    * double / utf8-prefix per the column's physical type) — cast at the
    * call site; a NULL bound on a nonzero-row file means every value in
    * the file is NULL.
    */
  def filesTable(
      spark: SparkSession,
      destDir: String,
      statsCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = latestManifest(fs, destDir).map(_._2).getOrElse(Seq.empty)
    val stats = DataSkipping.readStats(fs, destDir)
    val rows = files.map { f =>
      val size = fs.getFileStatus(new Path(destDir, f)).getLen
      val st = stats.getOrElse(f, Map.empty)
      val rc = st.values.headOption.map(_.rowCount)
      val cs = statsCol.flatMap(st.get)
      (f, size, rc.map(java.lang.Long.valueOf).orNull,
        cs.flatMap(_.lo).map(_.toString).orNull,
        cs.flatMap(_.hi).map(_.toString).orNull,
        cs.map(c => java.lang.Long.valueOf(c.nullCount)).orNull)
    }
    import spark.implicits._
    rows.toDF("file", "size_bytes", "row_count", "lo", "hi", "null_count")
      .select(col("file"), col("size_bytes"), col("row_count").cast("long"),
        col("lo"), col("hi"), col("null_count").cast("long"))
  }

  /** Part files physically present in the destination (pre-manifest
    * state; used only to seed the base manifest). RECURSIVE, with
    * destination-relative paths, so adopting a pre-existing PARTITIONED
    * dataset (`df.write.partitionBy(...).parquet(dest)` → files under
    * `col=value/` subdirectories) captures every row — a top-level-only
    * listing would publish a base manifest that silently dropped them
    * from all subsequent manifest reads.
    */
  private def physicalFiles(fs: FileSystem, destDir: String): Seq[String] = {
    val dest = new Path(destDir)
    if (!fs.exists(dest)) return Seq.empty
    val destUri = fs.makeQualified(dest).toUri
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(dest, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = destUri.relativize(fs.makeQualified(f.getPath).toUri).getPath
      // the manifest directory's own parquet content (dir-based DV
      // position sets) is metadata, never table data: adopting it would
      // corrupt base manifests and vacuum's unreferenced-file sweep would
      // delete live positions
      if (f.getPath.getName.startsWith("part-") &&
          !rel.startsWith(ManifestDirName + "/"))
        out += rel
    }
    out.result().sorted
  }

  /** Guarantee a manifest exists BEFORE the first promotion touches the
    * destination: on a never-committed directory this publishes a base
    * version adopting whatever part files are already there (possibly
    * none). After this point the manifest — never a directory listing —
    * is the source of truth, so files orphaned by a crashed commit can
    * neither be read nor adopted by a later commit.
    */
  private[sinks] def ensureBaseManifest(fs: FileSystem, destDir: String): Unit =
    if (latestManifest(fs, destDir).isEmpty)
      publishManifest(fs, destDir, physicalFiles(fs, destDir))

  /** Publish the next manifest version containing the latest version's
    * files plus `newFiles`: write to a dot-prefixed temp file, then ONE
    * same-directory rename — atomic on HDFS-like filesystems — makes it
    * the newest version. This rename IS the batch-commit point
    * (≈ bigquery_write.go:473-484's atomic BatchCommitWriteStreams).
    *
    * The latest-files union is computed immediately before the commit
    * attempt, and the commit primitive REFUSES an existing target — on
    * HDFS-like filesystems `rename` does that natively; on the local
    * filesystem POSIX `rename()` silently OVERWRITES, so the primitive is
    * a hard link (`link()` fails with EEXIST atomically, no
    * check-then-act window). A concurrent writer's commit landing in
    * between therefore surfaces as a retry (its files are picked up by
    * the re-read), not a silently clobbered manifest version.
    * Manifests are full snapshots — simple and atomic, at the cost of
    * O(appends x files) manifest bytes over a table's lifetime; a
    * production variant would add log-segment deltas + periodic
    * checkpoint compaction (the Delta/Iceberg shape) behind the same
    * commit point.
    */
  private[sinks] def publishManifest(
      fs: FileSystem,
      destDir: String,
      newFiles: Seq[String]): Long = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) fs.mkdirs(md)
    var attempts = 0
    while (true) {
      attempts += 1
      val prev = latestManifest(fs, destDir)
      val (version, existing) = prev.getOrElse((0L, Seq.empty[String]))
      val files = (existing ++ newFiles).distinct.sorted
      val tmp = new Path(md, s".tmp-${UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(
        encodeManifest(version + 1, files, prev.map(_._2)).getBytes("UTF-8"))
      finally out.close()
      val target = new Path(md, f"v-${version + 1}%08d.txt")
      if (commitFile(fs, tmp, target)) return version + 1
      fs.delete(tmp, false)
      if (attempts >= 10)
        throw new java.io.IOException(
          s"manifest publish failed after $attempts attempts: $target kept appearing " +
            "(concurrent committers); staged data left in place")
      // another writer took this version — re-read and publish on top
    }
    -1L // unreachable
  }

  /** Record the table schema as of manifest `version` (Delta's mechanism
    * for schema evolution): with the sidecar present, readers scan under
    * the DECLARED schema — files written before a column existed fill it
    * with NULL natively, no footer-merging pass, and time travel replays
    * the schema each version actually had. Best-effort AFTER the commit
    * point: a missing sidecar degrades to schema inference from the
    * files, never to an unreadable table.
    */
  private[sinks] def writeSchemaSidecar(
      fs: FileSystem,
      destDir: String,
      version: Long,
      schema: StructType): Unit = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) fs.mkdirs(md)
    val tmp = new Path(md, s".tmp-schema-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(schema.json.getBytes("UTF-8"))
    finally out.close()
    val target = new Path(md, f"schema-v-$version%08d.json")
    if (!commitFile(fs, tmp, target)) fs.delete(tmp, false)
  }

  /** The declared schema at `version`: the sidecar for the NEWEST version
    * ≤ `version` (schema only changes when a commit records it), or None
    * on pre-sidecar tables.
    */
  private def schemaSidecar(
      fs: FileSystem,
      destDir: String,
      version: Long): Option[StructType] = {
    val md = manifestDir(destDir)
    if (!fs.exists(md)) return None
    val candidates = fs.listStatus(md)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("schema-v-") && p.getName.endsWith(".json"))
      .map(p => (p.getName.stripPrefix("schema-v-").stripSuffix(".json").toLong, p))
      .filter(_._1 <= version)
    if (candidates.isEmpty) return None
    val (_, path) = candidates.maxBy(_._1)
    val in = fs.open(path)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    scala.util.Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption
  }

  /** Fail-if-exists commit primitive behind [[publishManifest]]'s version
    * claim. Local filesystems: hard link — `link()` is specified to fail
    * with EEXIST atomically, where POSIX `rename()` would overwrite and
    * `exists() && rename()` has a race window. Everything else: Hadoop
    * `rename`, which refuses an existing destination on HDFS-like stores.
    */
  private def commitFile(fs: FileSystem, tmp: Path, target: Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    case _ =>
      !fs.exists(target) && fs.rename(tmp, target)
  }

  /** Files named by the latest committed manifest (destination-relative),
    * empty when none — the file list [[DataSkipping]] prunes.
    */
  private[sinks] def manifestFiles(fs: FileSystem, destDir: String): Seq[String] =
    latestManifest(fs, destDir).map(_._2).getOrElse(Seq.empty)

  /** Read an explicit subset of the snapshot's files (schema-preserving
    * even when the subset is empty) — [[DataSkipping.readSkipping]]'s
    * scan, after pruning decided which files survive.
    */
  private[sinks] def readFiles(spark: SparkSession, destDir: String, files: Seq[String]): DataFrame = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestManifest(fs, destDir).map(_._1)
    val declared = v.flatMap(schemaSidecar(fs, destDir, _))
    val dv = v.map(effectiveDv(fs, destDir, _)).getOrElse(DvRef.empty)
    if (files.nonEmpty)
      applyDv(spark,
        manifestRead(spark, destDir, files, declared, keepMeta = dv.nonEmpty),
        dv, keepMeta = false)
    else emptySnapshot(spark, fs, destDir, declared)
  }

  /** Manifest-consulting reader — the strict-visibility read path. Loads
    * exactly the files named by the latest committed manifest, so a crash
    * mid-`finalizeCommit` (data files promoted, manifest not published)
    * exposes zero uncommitted rows. Destinations without a manifest fall
    * back to a plain directory read.
    */
  def read(spark: SparkSession, destDir: String): DataFrame = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestManifest(fs, destDir) match {
      case Some((v, files)) if files.nonEmpty =>
        val dv = effectiveDv(fs, destDir, v)
        applyDv(spark,
          manifestRead(spark, destDir, files, schemaSidecar(fs, destDir, v),
            keepMeta = dv.nonEmpty),
          dv, keepMeta = false)
      case Some((v, _)) =>
        emptySnapshot(spark, fs, destDir, schemaSidecar(fs, destDir, v))
      case None =>
        graft.sources.Parquet.read(spark, destDir)
    }
  }

  /** Read exactly the manifested files. Flat (destination-root) and
    * nested (Hive-partitioned, `col=value/...`) files are read as two
    * groups and unioned by name: the nested group needs `basePath` so the
    * directory-encoded partition columns are re-derived, while mixing the
    * two depths under one basePath confuses partition discovery into
    * silently dropping one group's rows. `allowMissingColumns` covers
    * adopted files written before a column existed (filled with nulls —
    * the standard parquet schema-evolution posture).
    */
  private def manifestRead(
      spark: SparkSession,
      destDir: String,
      files: Seq[String],
      declared: Option[StructType] = None,
      keepMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (nested, flat) = files.partition(_.contains("/"))
    def reader = declared.foldLeft(spark.read)(_ schema _)
    // position metadata must be projected per file-relation, BEFORE the
    // groups union (hidden _metadata does not propagate through Union)
    def meta(df: DataFrame) =
      if (!keepMeta) df
      else df.select(col("*"),
        col("_metadata.file_name").as(MetaFileCol),
        col("_metadata.row_index").as(MetaPosCol))
    val groups = Seq(
      if (flat.nonEmpty) Some(meta(reader.parquet(flat.map(f => s"$destDir/$f"): _*))) else None,
      if (nested.nonEmpty)
        Some(meta(reader.option("basePath", destDir).parquet(nested.map(f => s"$destDir/$f"): _*)))
      else None).flatten
    groups.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Zero visible files: derive the empty frame from any physical file's
    * schema; a committed-but-never-written destination has no schema to
    * offer, so it reads as a 0-row 0-column frame rather than throwing
    * (a crash after `ensureBaseManifest` but before the first promotion
    * must leave the table readable — the atomicity contract).
    */
  private def emptySnapshot(
      spark: SparkSession,
      fs: FileSystem,
      destDir: String,
      declared: Option[StructType] = None): DataFrame = declared match {
    case Some(s) =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    case None =>
      val phys = physicalFiles(fs, destDir)
      if (phys.nonEmpty)
        manifestRead(spark, destDir, phys).limit(0)
      else spark.emptyDataFrame
  }
}
