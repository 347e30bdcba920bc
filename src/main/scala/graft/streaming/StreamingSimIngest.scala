package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.SimSigIndex

/** Continuous EMBEDDING ingestion: arriving (vec_id, v) vectors are
  * signed batch-side and folded into the persisted hyperplane-
  * signature index ([[graft.ops.SimSigIndex]]) one micro-batch at a
  * time — the embedding member of the ingestion-stream family
  * ([[StreamingCluster]] text clusters, [[StreamingDedup]]
  * `maintainStream` text LSH, [[StreamingSigDedup]] `maintainStream`
  * media signatures), with the same exactly-once discipline: batch
  * ids ledger under the index root ([[BatchLedger]]), a replayed id
  * skips the append, and the crash window (append committed, marker
  * unwritten) degrades to a duplicate segment whose extra band
  * candidates never change verified answers
  * ([[SimSigIndex.probe]]/[[SimSigIndex.clusters]] verify exact
  * cosine over `distinct` candidates).
  *
  * Batch consumers compose without coordination: each micro-batch
  * lands as a regular committed segment, so a concurrent
  * [[SimSigIndex.probe]] resolves one committed segment list for its
  * whole read.
  */
object StreamingSimIngest {

  /** Default in-stream segment-compact cadence
    * ([[StreamingDedup.DefaultMaxSegments]]' reasoning). */
  val DefaultMaxSegments: Int = 16

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
      applyBatch(batch, indexPath, batchId, maxSegments, vacuumKeepGens)
    }
  }

  /** One micro-batch: ledger-skip replayed ids, skip empty batches,
    * else [[SimSigIndex.append]] (batch-only signing under the frozen
    * plane count) then mark. The compact cadence rides outside the
    * ledger ([[StreamingDedup.applyIngestBatch]]'s rationale).
    * Package-visible for synchronous spec driving.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      maxSegments: Option[Int] = None,
      vacuumKeepGens: Option[Int] = Some(1),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast): Unit =
    BatchLedger.ingest(batch.sparkSession, indexPath, batchId,
      batch.isEmpty, BatchLedger.Segments, maxSegments, vacuumKeepGens,
      ledgerKeepLast)(
      SimSigIndex.append(batch.sparkSession, indexPath, batch))(
      SimSigIndex.maybeCompact(batch.sparkSession, indexPath, _))

  /** Continuous PROBE-THEN-INGEST in one stream — the embedding twin
    * of [[StreamingDedup.probeAndMaintainStream]] (text) and
    * [[StreamingSigDedup.probeAndMaintainStream]] (media), completing
    * the composed-stream symmetry across the three near-dup families:
    * each micro-batch's verified cosine pairs against everything
    * indexed BEFORE it land under `outPath/batch_id=<id>`, then the
    * batch folds into the index, so the next batch probes a corpus
    * that includes this one. The batch is signed exactly once per
    * micro-batch (probe signs it; append re-signs batch-only — both
    * batch-proportional), the committed corpus is never re-projected.
    *
    * Exactly-once: the batch-id ledger guards the WHOLE body. Crash
    * windows degrade one-sidedly, never lose pairs: a crash between
    * the pair write and the append re-probes an unchanged index (same
    * pairs overwritten); a crash between the append and the marker
    * re-probes an index that now CONTAINS the batch (and any batches
    * ingested since) — self-pairs are filtered unconditionally, and
    * the only delta is true pairs among the streamed vectors
    * appearing early (the at-least-once direction; spec-pinned by
    * marker-removal replay). Compact cadence + superseded vacuum +
    * ledger prune ride outside the ledger as everywhere
    * ([[BatchLedger.cadence]]).
    */
  def probeAndMaintainStream(
      vectors: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      threshold: Double = 0.9,
      numBands: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSegments: Option[Int] = Some(DefaultMaxSegments),
      vacuumKeepGens: Option[Int] = Some(1),
      maxBandFreq: Option[Long] = None
  ): StreamingQuery = {
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens)
    MicroBatch.start(vectors, checkpointDir, trigger) { (batch, batchId) =>
      applyProbeIngestBatch(batch, indexPath, outPath, threshold,
        numBands, batchId, maxSegments, vacuumKeepGens, maxBandFreq)
    }
  }

  /** One probe-then-ingest micro-batch (see
    * [[probeAndMaintainStream]]). Package-visible for synchronous
    * spec driving.
    */
  private[graft] def applyProbeIngestBatch(
      batch: DataFrame,
      indexPath: String,
      outPath: String,
      threshold: Double,
      numBands: Int,
      batchId: Long,
      maxSegments: Option[Int] = None,
      vacuumKeepGens: Option[Int] = Some(1),
      maxBandFreq: Option[Long] = None,
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast): Unit = {
    val s = batch.sparkSession
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens, ledgerKeepLast)
    BatchLedger.appliedOnce(s, indexPath, batchId) {
      // persist: the micro-batch lineage feeds at least three actions
      // (requireProbeSized's bounded count, the probe/pair write, the
      // append's re-sign) — cache once, release in finally, as the
      // probe-then-ingest media stream does for its signatures
      val b = batch.persist()
      try {
        // empty micro-batches still (over)write their directory: a
        // replayed batch that previously wrote pairs must erase stale
        // output, not keep it
        SimSigIndex.probe(s, indexPath, b, threshold, numBands,
            maxBandFreq = maxBandFreq)
          .filter(col("vec_new") =!= col("vec_idx"))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        if (!b.isEmpty) {
          SimSigIndex.append(s, indexPath, b)
          BatchLedger.cadence(s, indexPath, BatchLedger.Segments,
            maxSegments, vacuumKeepGens, ledgerKeepLast)(
            SimSigIndex.maybeCompact(s, indexPath, _))
        }
      } finally {
        b.unpersist()
        ()
      }
    }
  }

  /** The accumulated pairs table (vec_new, vec_idx, score, batch_id)
    * across every micro-batch written so far; an empty typed relation
    * before the first commit ([[StreamingDedup.pairs]]' convention).
    */
  def pairs(s: SparkSession, outPath: String): DataFrame =
    MicroBatch.output(s, outPath,
      "vec_new BIGINT, vec_idx BIGINT, score DOUBLE, batch_id BIGINT")
}
