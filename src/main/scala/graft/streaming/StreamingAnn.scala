package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.VectorIndex

/** Continuous ANN retrieval: arriving query vectors probe a persisted
  * IVF index ([[graft.ops.VectorIndex]]) one micro-batch at a time —
  * the vector sibling of [[StreamingDedup]], same per-batch-id
  * overwrite protocol for at-least-once replay idempotency.
  *
  * Per batch: centroid assignment is a narrow projection (centroids
  * ride the plan as literals), candidates join on the cell key, and
  * the top-k window runs per query — all batch-proportional. The
  * index stays static between [[VectorIndex.build]] refreshes;
  * [[VectorIndex.append]] is the out-of-band ingest path, exactly the
  * lambda split [[StreamingDedup]] documents.
  */
object StreamingAnn {

  def probeStream(
      queries: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      nprobe: Int = 4,
      k: Int = 10,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    MicroBatch.start(queries, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, indexPath, outPath, nprobe, k, batchId)
    }

  /** One micro-batch: probe and (over)write the batch's result
    * directory. Returns the result-row count. Package-visible so the
    * spec can drive batches and replays synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      indexPath: String,
      outPath: String,
      nprobe: Int,
      k: Int,
      batchId: Long
  ): Long = {
    val res = VectorIndex.probe(
      batch.sparkSession, indexPath, batch, nprobe, k).cache()
    try {
      res.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      res.count()
    } finally { res.unpersist(); () }
  }

  /** Default in-stream segment-compact cadence
    * ([[StreamingDedup.DefaultMaxSegments]]' reasoning). */
  val DefaultMaxSegments: Int = 16

  /** Fold a stream of (vec_id, v) vectors into the IVF index at
    * `indexPath` (which must already hold a committed
    * [[VectorIndex.build]]) — the vector member of the ingestion-
    * stream family: exactly-once via the [[BatchLedger]] batch-id
    * markers ([[VectorIndex.append]] commits a segment per call), the
    * in-stream compact cadence + superseded-only vacuum bounding
    * segments and disk, crash-window replays degrading to duplicate
    * segments that inflate candidate sets, never change ranked
    * answers beyond the documented duplicate-id caveat of ingesting
    * the same vector twice.
    */
  def maintainStream(
      vectors: DataFrame,
      indexPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSegments: Option[Int] = Some(DefaultMaxSegments),
      vacuumKeepGens: Option[Int] = Some(1)
  ): StreamingQuery = {
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens)
    MicroBatch.start(vectors, checkpointDir, trigger) { (batch, batchId) =>
      applyIngestBatch(batch, indexPath, batchId, maxSegments, vacuumKeepGens)
    }
  }

  /** One ingestion micro-batch ([[StreamingDedup.applyIngestBatch]]'s
    * shape). Package-visible for synchronous spec driving.
    */
  private[graft] def applyIngestBatch(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      maxSegments: Option[Int] = None,
      vacuumKeepGens: Option[Int] = Some(1),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast): Unit =
    BatchLedger.ingest(batch.sparkSession, indexPath, batchId,
      batch.isEmpty, BatchLedger.Segments, maxSegments, vacuumKeepGens,
      ledgerKeepLast)(
      VectorIndex.append(batch.sparkSession, indexPath, batch))(
      VectorIndex.maybeCompact(batch.sparkSession, indexPath, _))

  /** The accumulated results table across every micro-batch so far;
    * empty (typed) before the first micro-batch commits — see
    * [[StreamingDedup.pairs]].
    */
  def results(s: SparkSession, outPath: String): DataFrame =
    MicroBatch.output(s, outPath,
      "query_id BIGINT, vec_id BIGINT, score DOUBLE, rk INT, batch_id BIGINT")
}
