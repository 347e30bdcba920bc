package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.KnIndex

/** Continuous language-model scoring: arriving documents are scored
  * against a persisted, FROZEN [[KnIndex]] model one micro-batch at a
  * time — the streaming twin of [[graft.ops.KnIndex.score]], and the
  * last index family to get one ([[StreamingDedup]] probes LSH,
  * [[StreamingAnn]] probes IVF, [[StreamingSketch]] folds HLL/CMS/KMV).
  *
  * Per batch: [[KnIndex.score]] runs as the `foreachBatch` body —
  * batch-tokenize, type-cardinality joins against the committed count
  * relations, never a reference-corpus scan (the
  * [[graft.ops.Filtering.qualityFilterLmBatch]] economics, pinned
  * there by plan) — and the per-document scores land under
  * `outPath/batch_id=<id>`, one overwritten directory per micro-batch
  * id, so foreachBatch's at-least-once replay re-creates the same
  * directory instead of appending duplicate score rows.
  *
  * The model is deliberately STATIC between rebuilds, like
  * [[StreamingDedup]]'s index: folding arriving text back into the
  * counts inside the hot path would make every batch's scores depend
  * on arrival order (a KN model is not a commutative sketch — its
  * smoothing renormalizes on every count change), destroying replay
  * determinism. Production shape: score against the committed
  * version, retrain/republish via [[KnIndex.build]] on a cadence, and
  * scores pick up the new version at the next batch — each batch
  * directory is internally consistent because [[KnIndex.score]]
  * resolves the current version once per call.
  */
object StreamingLm {

  def scoreStream(
      docs: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      headMax: Double = 0.95,
      middleMax: Double = 1.05,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, indexPath, outPath, headMax, middleMax, batchId)
    }

  /** One micro-batch: score against the CURRENT committed model and
    * (over)write the batch's score directory. Empty batches still
    * overwrite — a replayed batch that previously wrote scores but
    * now matches nothing must erase its stale output. Package-visible
    * so the spec can drive batches (and replays) synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      indexPath: String,
      outPath: String,
      headMax: Double,
      middleMax: Double,
      batchId: Long
  ): Unit =
    KnIndex.score(batch.sparkSession, indexPath, batch, headMax, middleMax)
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** The accumulated score table (doc_id, split, n_scored, nll,
    * bucket, batch_id) across every micro-batch written so far. A
    * stream that has processed zero batches yields an EMPTY typed
    * relation, not a path error.
    */
  def scores(s: SparkSession, outPath: String): DataFrame =
    MicroBatch.output(s, outPath,
      "doc_id BIGINT, split STRING, n_scored BIGINT, nll DOUBLE, " +
        "bucket STRING, batch_id BIGINT")
}
