package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{CacheScope, LshIndex}

/** Continuous near-duplicate detection: arriving documents probe a
  * persisted MinHash-LSH index ([[graft.ops.LshIndex]]) one micro-batch
  * at a time — the streaming form of the index-reuse ingestion shape
  * ([[graft.ops.Dedup.incrementalDedupPairs]] is the single-job batch
  * form; here the corpus side is the persisted index and the batch
  * side arrives on a stream).
  *
  * Per batch: [[LshIndex.probe]] runs as the `foreachBatch` body
  * (batch-sized shingling + banding, bucket join against the index,
  * row-local Jaccard verification), and the verified pairs land under
  * `outPath/batch_id=<id>` — one overwritten directory per micro-batch
  * id, so foreachBatch's at-least-once replay re-creates the same
  * directory instead of appending duplicates. Readers see one
  * partitioned pairs table at `outPath`.
  *
  * The index is deliberately STATIC between rebuilds on the PROBE
  * path: folding each batch's signatures back into the index inside
  * the probe body would make replay non-idempotent (a replayed batch
  * would double-insert its bands) and turn the probe into a
  * read-modify-write race under concurrent streams. Production
  * shape: within-batch self-dups are caught by
  * [[EventStreams.dedupStream]]-style keyed state upstream,
  * batch-vs-index dups here, and the index tracks the corpus through
  * a SEPARATE [[maintainStream]] (exactly-once via the
  * [[BatchLedger]] batch-id markers) or a periodic
  * [[LshIndex.build]] compaction — the standard lambda split.
  *
  * Guard drift under long-lived appends: the hot-shingle guard stays
  * the build corpus's until someone acts ([[LshIndex.append]]'s
  * documented degrade — more candidates, never wrong answers).
  * [[probeStream]]'s opt-in `guardMaxDocFreq` cadence fires
  * [[LshIndex.refreshGuard]] every `guardEvery` micro-batches — the
  * in-stream [[StreamingCluster]] maybeCompact convention: outside
  * any ledger on purpose, because a replayed refresh publishes a
  * guard version with the same content (waste, never wrongness).
  */
object StreamingDedup {

  /** Default refresh cadence for [[probeStream]]'s opt-in guard
    * maintenance: with [[LshIndex.refreshGuard]] costing one
    * sets-relation scan, every 16 batches keeps the amortized cost
    * per batch under ~7% while bounding how long append-driven skew
    * can feed candidates ([[StreamingCluster.DefaultMaxVersions]]'
    * reasoning applied to the guard).
    */
  val DefaultGuardEvery: Int = 16

  def probeStream(
      docs: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      trigger: Trigger = Trigger.AvailableNow(),
      guardMaxDocFreq: Option[Double] = None,
      guardEvery: Int = DefaultGuardEvery
  ): StreamingQuery = {
    requireGuardEvery(guardMaxDocFreq, guardEvery)
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, indexPath, outPath, threshold, batchId)
      maybeRefreshGuard(batch.sparkSession, indexPath, batchId,
        guardMaxDocFreq, guardEvery)
    }
  }

  /** A zero cadence would throw ArithmeticException inside
    * foreachBatch and kill the query on its first micro-batch, so the
    * entry points reject it before the query starts.
    */
  private def requireGuardEvery(
      guardMaxDocFreq: Option[Double], guardEvery: Int): Unit =
    if (guardMaxDocFreq.isDefined)
      require(guardEvery >= 1, "guardEvery must be at least 1")

  /** The opt-in guard cadence: after micro-batch `batchId`, refresh
    * the hot-shingle guard when the 1-based batch count hits the
    * cadence. Relation-level idempotent (a re-fired refresh commits
    * an identical-content guard version), so it deliberately rides
    * OUTSIDE any replay ledger. Package-visible for synchronous spec
    * driving.
    */
  private[graft] def maybeRefreshGuard(
      s: SparkSession,
      indexPath: String,
      batchId: Long,
      guardMaxDocFreq: Option[Double],
      guardEvery: Int): Unit = {
    requireGuardEvery(guardMaxDocFreq, guardEvery)
    guardMaxDocFreq.foreach { f =>
      if ((batchId + 1) % guardEvery == 0)
        LshIndex.refreshGuard(s, indexPath, f)
    }
  }

  /** Default in-stream segment-compact cadence: one committed delta
    * per micro-batch means probes union ever more segments until a
    * [[LshIndex.compact]] rebounds resolution to one —
    * [[StreamingCluster.DefaultMaxVersions]]' reasoning applied to
    * segment-union indexes. `None` disables (operator-managed
    * maintenance).
    */
  val DefaultMaxSegments: Int = 16

  /** Fold a stream of (doc_id, text) documents into the LSH index at
    * `indexPath` (which must already hold a committed
    * [[LshIndex.build]]) — the text ingestion twin of
    * [[StreamingCluster.maintainStream]], for deployments that probe
    * THROUGH [[LshIndex]] without the full [[graft.ops.ClusterIndex]]
    * assignment. Exactly-once via the [[BatchLedger]] batch-id
    * markers ([[LshIndex.append]] commits a segment per call, so it
    * is not naturally idempotent); the crash window degrades safely —
    * a re-appended batch's duplicate segment inflates band candidates
    * only, and [[LshIndex.probe]]'s output is `distinct` over
    * verified pairs (spec-pinned by replaying with the marker
    * removed).
    */
  def maintainStream(
      docs: DataFrame,
      indexPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSegments: Option[Int] = Some(DefaultMaxSegments),
      vacuumKeepGens: Option[Int] = Some(1)
  ): StreamingQuery = {
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens)
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyIngestBatch(batch, indexPath, batchId, maxSegments, vacuumKeepGens)
    }
  }

  /** Continuous PROBE-THEN-INGEST in one stream — the production
    * shape [[graft.ops.LshIndex.append]]'s docs describe: each
    * micro-batch's verified pairs against everything indexed BEFORE
    * it land under `outPath/batch_id=<id>`, then the batch folds into
    * the index, so the next batch probes a corpus that includes this
    * one. Chained over batches B1..Bn this yields exactly the
    * batch↔earlier edges the one-job incremental form would produce
    * per batch (guard-coincidence caveats as ever).
    *
    * Exactly-once: the batch id ledger guards the WHOLE body. Crash
    * windows degrade one-sidedly, never lose pairs: a crash between
    * the pair write and the append re-probes an unchanged index (same
    * pairs overwritten); a crash between the append and the marker
    * re-probes an index that now CONTAINS the batch (and any batches
    * ingested since) — self-pairs are filtered unconditionally, and
    * the only delta is true pairs among the streamed docs appearing
    * (batch-internal and batch-vs-later duplicates discovered early,
    * the at-least-once direction; spec-pinned). The compact
    * cadence rides outside the ledger as in [[applyIngestBatch]].
    */
  def probeAndMaintainStream(
      docs: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSegments: Option[Int] = Some(DefaultMaxSegments),
      vacuumKeepGens: Option[Int] = Some(1),
      guardMaxDocFreq: Option[Double] = None,
      guardEvery: Int = DefaultGuardEvery
  ): StreamingQuery = {
    requireGuardEvery(guardMaxDocFreq, guardEvery)
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens)
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyProbeIngestBatch(batch, indexPath, outPath, threshold,
        batchId, maxSegments, vacuumKeepGens)
      // the guard cadence matters MOST here: this is the stream where
      // the index actually grows, so append-driven hot-shingle drift
      // actually accrues ([[probeStream]]'s knob, same
      // outside-the-ledger idempotence argument)
      maybeRefreshGuard(batch.sparkSession, indexPath, batchId,
        guardMaxDocFreq, guardEvery)
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
      batchId: Long,
      maxSegments: Option[Int] = None,
      vacuumKeepGens: Option[Int] = Some(1),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast): Unit = {
    val s = batch.sparkSession
    BatchLedger.Segments.check(maxSegments, vacuumKeepGens, ledgerKeepLast)
    BatchLedger.appliedOnce(s, indexPath, batchId) {
      val scope = new CacheScope
      try {
        LshIndex.probe(s, indexPath, batch, threshold, scope)
          .filter(col("doc_new") =!= col("doc_idx"))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      } finally scope.release()
      if (!batch.isEmpty) {
        LshIndex.append(s, indexPath, batch)
        BatchLedger.cadence(s, indexPath, BatchLedger.Segments, maxSegments,
          vacuumKeepGens, ledgerKeepLast)(LshIndex.maybeCompact(s, indexPath, _))
      }
    }
  }

  /** One ingestion micro-batch: ledger-skip replayed ids, skip empty
    * batches (an empty append would commit a contentless segment per
    * replayed empty trigger), else [[LshIndex.append]] then mark.
    * The compact cadence rides OUTSIDE the ledger guard on purpose —
    * compact is relation-idempotent (a replayed compact is waste,
    * never wrongness), and the superseded-only vacuum
    * ([[graft.ops.IndexCommit.vacuumSuperseded]]) never touches live
    * segments, so firing it at any point is safe. Package-visible for
    * synchronous spec driving.
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
      LshIndex.append(batch.sparkSession, indexPath, batch))(
      LshIndex.maybeCompact(batch.sparkSession, indexPath, _))

  /** One micro-batch: probe and write the batch's pair directory.
    * Returns the pair count. Package-visible so the spec can drive
    * batches (and replays) synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      indexPath: String,
      outPath: String,
      threshold: Double,
      batchId: Long
  ): Long = {
    val scope = new CacheScope
    try {
      // empty micro-batches still (over)write their directory: a
      // replayed batch that previously wrote pairs but now matches
      // nothing must erase its stale output, not keep it
      val pairs = scope.cache(
        LshIndex.probe(batch.sparkSession, indexPath, batch,
          threshold, scope))
      pairs.write.mode("overwrite")
        .parquet(s"$outPath/batch_id=$batchId")
      pairs.count()
    } finally scope.release()
  }

  /** The accumulated pairs table (doc_new, doc_idx, jaccard,
    * batch_id) across every micro-batch written so far. A stream that
    * has processed zero batches yields an EMPTY typed relation, not a
    * path error — `outPath` only gains `batch_id=` directories when
    * the first micro-batch commits.
    */
  def pairs(s: SparkSession, outPath: String): DataFrame =
    MicroBatch.output(s, outPath,
      "doc_new BIGINT, doc_idx BIGINT, jaccard DOUBLE, batch_id BIGINT")
}
