package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.{Importer, MergeSpec, ParquetMergeSink}

/** The engine's keyed UPDATE ([[graft.engine.Importer]], J1/J2) as a
  * continuous operator: a streaming delta merges into a parquet target
  * one micro-batch at a time via `foreachBatch` — the CDC-shaped form
  * of the reference's import loop (`importer.py:293-359` run per
  * arriving change set instead of per user click).
  *
  * Semantics per batch are EXACTLY the batch importer's: the whole
  * validation chain runs (V1-V11 — notably V10, duplicate delta keys
  * REJECT the batch rather than picking a silent winner; upstream
  * dedups first, e.g. [[EventStreams.dedupStream]]), matched target
  * rows take the delta's subset values, unmatched rows pass through.
  *
  * Write protocol: the merged snapshot is materialized into a staging
  * directory FIRST (the merge plan reads the live target — an in-place
  * overwrite would delete its own input mid-scan), then swapped in by
  * two renames: the target aside to `<target>.old`, the stage into the
  * target; only then is the old copy deleted. A recursive delete
  * removes files one at a time, so it never touches the live target.
  * A crash between the renames leaves the target missing beside a
  * complete staging snapshot; a crash during the delete leaves a
  * partial `.old` beside the new target. The next batch (or restart)
  * completes either before merging — combined with merge idempotency
  * (re-applying a delta is a fixpoint) this makes the sink safe under
  * foreachBatch's at-least-once replay. A rename that fails throws.
  *
  * Scale: each micro-batch costs one broadcast-hash merge join (the
  * delta is the small side by construction) plus one target rewrite —
  * the parquet analogue of the reference's full-table UPDATE. For
  * high-frequency streams the rewrite amortizes by widening the
  * trigger interval; point-update economics would need a table format
  * with row-level deletes, which is out of scope here.
  */
object StreamingMerge {

  /** Suffix of the staging directory the snapshot is built in. */
  private[graft] val StagingSuffix = ".staging"

  /** Suffix the superseded target is renamed to during a swap. */
  private[graft] val OldSuffix = ".old"

  def mergeStream(
      delta: DataFrame,
      targetPath: String,
      joinOn: Seq[String],
      subset: Seq[String] = Nil,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    MicroBatch.start(delta, checkpointDir, trigger) { (batch, _) =>
      applyBatch(batch, targetPath, joinOn, subset)
    }

  /** One micro-batch: recover any interrupted swap, merge, stage the
    * new snapshot, swap it in. Returns the affected-row count (A4).
    * Package-visible so the spec can drive batches synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      targetPath: String,
      joinOn: Seq[String],
      subset: Seq[String]
  ): Long = {
    val spark = batch.sparkSession
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(targetPath)
    val stage = new Path(targetPath + StagingSuffix)
    val old = new Path(targetPath + OldSuffix)
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"StreamingMerge: could not rename '$from' to '$to'")
    // crash recovery: a missing target beside a complete staging
    // snapshot is a swap stopped between its renames — finish it; a
    // leftover old copy is one whose delete did not finish
    if (!fs.exists(dst) && fs.exists(stage)) rename(stage, dst)
    if (fs.exists(dst)) fs.delete(old, true)
    if (batch.isEmpty) 0L
    else {
      // the empty relation Spark hands a fresh foreachBatch sink is
      // unplannable for the merge join; also V1 would reject it
      val target = spark.read.parquet(targetPath)
      val result = Importer.merge(target, batch, joinOn, subset)
      fs.delete(stage, true)
      // the count is settled by the staging write itself, while the
      // target is still intact on disk: nothing reads it after the swap
      val affected = new ParquetMergeSink(targetPath + StagingSuffix).write(
        result, batch, MergeSpec("target", joinOn, subset))
      rename(dst, old)
      rename(stage, dst)
      fs.delete(old, true)
      affected
    }
  }
}
