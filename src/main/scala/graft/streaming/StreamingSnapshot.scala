package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{CorpusSnapshot, IndexCommit}

/** Continuous corpus EXPORT: arriving documents fold into the
  * versioned snapshot one micro-batch at a time — the first batch on
  * a fresh root publishes a FULL version, every later batch a DELTA
  * ([[CorpusSnapshot.publishDelta]]), so the export stays
  * delta-proportional forever while batch consumers read any
  * committed version and [[CorpusSnapshot.readResolved]] serves the
  * current corpus. Periodic [[CorpusSnapshot.compact]] (outside the
  * stream, on a cadence) caps chain length and re-enables vacuum —
  * the table-format maintenance loop, driven by Structured Streaming.
  *
  * Exactly-once over foreachBatch's at-least-once replay: the
  * [[BatchLedger]] batch-id markers (publishes are not naturally
  * idempotent — each lands a version).
  * The crash window (version committed, marker lost) degrades
  * SAFELY: the replay publishes a duplicate delta whose documents
  * are identical, and last-writer-wins resolution returns the same
  * rows — relation-level idempotence, spec-pinned by deleting the
  * marker and replaying.
  *
  * Streamed ingestion is ADDITIVE (a document stream has no
  * tombstone rows); removals go through the batch
  * [[CorpusSnapshot.publishDelta]] API between micro-batches, which
  * interleaves safely because every publish is marker-atomic.
  */
object StreamingSnapshot {

  /** Default in-stream compact cadence: without one, a long-lived
    * stream grows the delta chain by one per micro-batch and every
    * [[CorpusSnapshot.readResolved]] pays the ever-longer walk (its
    * cost grows linearly with the chain). 16 keeps amortized compact
    * cost under ~7% of publishes while bounding resolve at a 16-delta
    * chain. Override per stream; `None` disables.
    */
  val DefaultMaxChain: Int = 16

  /** Default post-compact vacuum retention: a compact's version is
    * FULL, so vacuuming right after it is safe; keeping 2 gives
    * in-flight readers a full version of grace. Bounds DISK at
    * ≤ maxChain + vacuumKeep committed versions over any stream
    * length. `None` disables (vacuum becomes an operator action).
    */
  val DefaultVacuumKeep: Int = 2

  def ingestStream(
      docs: DataFrame,
      root: String,
      checkpointDir: String,
      nShards: Int = 8,
      maxBytes: Long = CorpusSnapshot.DefaultMaxBytes,
      trigger: Trigger = Trigger.AvailableNow(),
      maxChain: Option[Int] = Some(DefaultMaxChain),
      vacuumKeep: Option[Int] = Some(DefaultVacuumKeep),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast
  ): StreamingQuery = {
    BatchLedger.SnapshotChain.check(maxChain, vacuumKeep, ledgerKeepLast)
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, root, nShards, maxBytes, batchId, maxChain,
        vacuumKeep, ledgerKeepLast)
    }
  }

  /** One micro-batch: skip ledgered ids and empty batches (an empty
    * publish would land a contentless version per replayed empty
    * trigger), else publish — full on a virgin root, delta after —
    * and mark the ledger ([[BatchLedger.ingest]]). Package-visible so
    * the spec can drive batches (and replays) synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      root: String,
      nShards: Int,
      maxBytes: Long,
      batchId: Long,
      maxChain: Option[Int] = Some(DefaultMaxChain),
      vacuumKeep: Option[Int] = Some(DefaultVacuumKeep),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast
  ): Unit = {
    val s = batch.sparkSession
    // the compact cadence caps the resolve chain at maxChain deltas; a
    // compact's version is FULL, so the bounded vacuum after it is safe
    // and caps disk at maxChain + vacuumKeep versions
    BatchLedger.ingest(s, root, batchId, batch.isEmpty,
      BatchLedger.SnapshotChain, maxChain, vacuumKeep, ledgerKeepLast)(
      publish(s, batch.select("doc_id", "text"), root, nShards, maxBytes))(
      CorpusSnapshot.maybeCompact(s, root, _, nShards, maxBytes))
  }

  /** Publish `docs` as the next version under `root`: FULL on a root
    * with no committed version, an additive DELTA (no removals) after.
    */
  private[streaming] def publish(
      s: SparkSession, docs: DataFrame, root: String, nShards: Int,
      maxBytes: Long): Unit = {
    import s.implicits._
    if (IndexCommit.committedIds(s, root).isEmpty)
      CorpusSnapshot.publish(s, docs, root, nShards, maxBytes)
    else
      CorpusSnapshot.publishDelta(s, docs, Seq.empty[Long].toDF("doc_id"),
        root, nShards, maxBytes)
  }
}
