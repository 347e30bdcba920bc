package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{PerceptualHash, SigIndex}

/** Continuous MEDIA near-duplicate detection: arriving clips probe a
  * persisted perceptual-signature index ([[graft.ops.SigIndex]]) one
  * micro-batch at a time — the media twin of [[StreamingDedup]]
  * (which probes the text LSH index). Each batch is decoded + hashed
  * BATCH-SIDE ONLY (`sigsOf`, defaulting to the image dHash path;
  * pass [[PerceptualHash.audioSignatures]] /
  * [[PerceptualHash.videoSignatures]] for the other codecs); the
  * committed corpus signatures are never re-decoded.
  *
  * Output and replay semantics are [[StreamingDedup]]'s verbatim: the
  * verified pairs land under `outPath/batch_id=<id>` — one
  * OVERWRITTEN directory per micro-batch id, so foreachBatch's
  * at-least-once replay re-creates the same directory instead of
  * appending duplicates. The index is deliberately STATIC between
  * rebuilds ([[StreamingDedup]]'s lambda-split rationale); out-of-band
  * [[SigIndex.append]]s interleave safely — a probe reads one
  * committed segment list for its whole batch.
  *
  * [[maintainStream]] is the INGESTION half: arriving clips are
  * decoded batch-side and their signatures FOLDED into the index —
  * exactly-once via the [[BatchLedger]] batch-id markers
  * ([[StreamingCluster]]'s proven pattern), because
  * [[SigIndex.append]] is not naturally idempotent (each call commits
  * a segment). The ledger's crash window (append committed, marker
  * unwritten) degrades safely: the re-append stages a duplicate
  * signature segment, which inflates band candidates only — probe
  * output is `distinct` over verified pairs, so answers are unchanged
  * (spec-pinned by replaying with the marker removed).
  */
object StreamingSigDedup {

  def probeStream(
      clips: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      maxHamming: Int = 3,
      trigger: Trigger = Trigger.AvailableNow(),
      sigsOf: DataFrame => DataFrame = PerceptualHash.signatures,
      maxBandFreq: Option[Long] = None
  ): StreamingQuery =
    MicroBatch.start(clips, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, indexPath, outPath, maxHamming, batchId, sigsOf,
        maxBandFreq)
    }

  /** One micro-batch: decode+hash the batch, probe, (over)write its
    * pair directory. Returns the pair count. Package-visible so the
    * spec can drive batches (and replays) synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      indexPath: String,
      outPath: String,
      maxHamming: Int,
      batchId: Long,
      sigsOf: DataFrame => DataFrame = PerceptualHash.signatures,
      maxBandFreq: Option[Long] = None
  ): Long = {
    // empty micro-batches still (over)write their directory: a
    // replayed batch that previously wrote pairs but now matches
    // nothing must erase its stale output, not keep it
    val pairs = SigIndex.probe(
      batch.sparkSession, indexPath, sigsOf(batch), maxHamming,
      maxBandFreq = maxBandFreq)
    pairs.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    batch.sparkSession.read
      .parquet(s"$outPath/batch_id=$batchId").count()
  }

  /** Default in-stream segment-compact cadence
    * ([[StreamingDedup.DefaultMaxSegments]]' reasoning). */
  val DefaultMaxSegments: Int = 16

  /** Fold a stream of (doc_id, payload) clips into the signature
    * index at `indexPath` (which must already hold a committed
    * [[SigIndex.build]]): decode + hash BATCH-SIDE ONLY, then
    * [[SigIndex.append]] under the batch-id ledger — the media
    * ingestion twin of [[StreamingCluster.maintainStream]]. Batch
    * consumers ([[SigIndex.probe]], [[SigIndex.clusters]]) read the
    * evolving index without coordination (every micro-batch lands as
    * a regular committed segment).
    */
  def maintainStream(
      clips: DataFrame,
      indexPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      sigsOf: DataFrame => DataFrame = PerceptualHash.signatures,
      maxSegments: Option[Int] = Some(DefaultMaxSegments),
      vacuumKeepGens: Option[Int] = Some(1)
  ): StreamingQuery = {
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens)
    MicroBatch.start(clips, checkpointDir, trigger) { (batch, batchId) =>
      applyIngestBatch(batch, indexPath, batchId, sigsOf, maxSegments,
        vacuumKeepGens)
    }
  }

  /** One ingestion micro-batch: skip ids the ledger holds
    * (exactly-once under replay), skip empty batches (an empty append
    * would commit a contentless segment per replayed empty trigger),
    * else append then mark. The compact cadence rides outside the
    * ledger ([[StreamingDedup.applyIngestBatch]]'s rationale).
    * Package-visible so the spec can drive batches (and replays)
    * synchronously.
    */
  private[graft] def applyIngestBatch(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      sigsOf: DataFrame => DataFrame = PerceptualHash.signatures,
      maxSegments: Option[Int] = None,
      vacuumKeepGens: Option[Int] = Some(1),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast
  ): Unit =
    BatchLedger.ingest(batch.sparkSession, indexPath, batchId,
      batch.isEmpty, BatchLedger.Segments, maxSegments, vacuumKeepGens,
      ledgerKeepLast)(
      SigIndex.append(batch.sparkSession, indexPath, sigsOf(batch)))(
      SigIndex.maybeCompact(batch.sparkSession, indexPath, _))

  /** Continuous PROBE-THEN-INGEST in one stream — the media twin of
    * [[StreamingDedup.probeAndMaintainStream]]: each micro-batch is
    * decoded+hashed ONCE (the signatures feed both the probe and the
    * append), its Hamming pairs against everything indexed before it
    * land under `outPath/batch_id=<id>`, then the signatures fold
    * into the index. Same ledger discipline and one-sided crash
    * degrade (self-pairs filtered; a post-append replay can only ADD
    * true pairs among the streamed clips — spec-pinned on the text
    * twin).
    */
  def probeAndMaintainStream(
      clips: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      maxHamming: Int = 3,
      trigger: Trigger = Trigger.AvailableNow(),
      sigsOf: DataFrame => DataFrame = PerceptualHash.signatures,
      maxSegments: Option[Int] = Some(DefaultMaxSegments),
      vacuumKeepGens: Option[Int] = Some(1),
      maxBandFreq: Option[Long] = None
  ): StreamingQuery = {
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens)
    MicroBatch.start(clips, checkpointDir, trigger) { (batch, batchId) =>
      applyProbeIngestBatch(batch, indexPath, outPath, maxHamming,
        batchId, sigsOf, maxSegments, vacuumKeepGens, maxBandFreq)
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
      maxHamming: Int,
      batchId: Long,
      sigsOf: DataFrame => DataFrame = PerceptualHash.signatures,
      maxSegments: Option[Int] = None,
      vacuumKeepGens: Option[Int] = Some(1),
      maxBandFreq: Option[Long] = None,
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast): Unit = {
    val s = batch.sparkSession
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens, ledgerKeepLast)
    BatchLedger.appliedOnce(s, indexPath, batchId) {
      // one decode for both legs: the cached signatures feed the
      // probe's batch side AND the appended segment
      val sigs = sigsOf(batch).cache()
      try {
        SigIndex.probe(s, indexPath, sigs, maxHamming,
            maxBandFreq = maxBandFreq)
          .filter(col("doc_new") =!= col("doc_idx"))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        if (!batch.isEmpty) {
          SigIndex.append(s, indexPath, sigs)
          BatchLedger.cadence(s, indexPath, BatchLedger.Segments,
            maxSegments, vacuumKeepGens, ledgerKeepLast)(
            SigIndex.maybeCompact(s, indexPath, _))
        }
      } finally sigs.unpersist()
    }
  }

  /** The accumulated pairs table (doc_new, doc_idx, hamming,
    * batch_id) across every micro-batch written so far; EMPTY typed
    * relation before the first batch commits ([[StreamingDedup.pairs]]
    * convention).
    */
  def pairs(s: SparkSession, outPath: String): DataFrame =
    MicroBatch.output(s, outPath,
      "doc_new BIGINT, doc_idx BIGINT, hamming INT, batch_id BIGINT")
}
