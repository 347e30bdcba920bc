package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.ClusterIndex

/** Continuous dedup INGESTION: arriving documents are folded into the
  * persisted [[graft.ops.ClusterIndex]] one micro-batch at a time —
  * the streaming twin of [[graft.ops.ClusterIndex.append]], and the
  * missing maintenance half of the streaming dedup story
  * ([[StreamingDedup]] PROBES the LSH index for an arriving batch's
  * near-dup pairs but leaves the cluster relation frozen; this stream
  * keeps the committed assignment current as the corpus grows).
  *
  * Exactly-once over foreachBatch's at-least-once replay: `append` is
  * NOT naturally idempotent (each call adds an LSH segment and a new
  * assignment version), so applied batch ids are recorded in a LEDGER
  * of zero-length markers under `indexPath/stream_ledger/` — the
  * [[graft.ops.IndexCommit]] marker economics applied to batch ids —
  * and a replayed id skips the append entirely. The crash window
  * (append committed, ledger marker not yet written) degrades SAFELY
  * rather than wrongly: the re-append stages a duplicate LSH segment
  * (candidate inflation only — the index's documented degrade
  * direction) and republishes an assignment with the SAME rows,
  * because the label-graph merge is a fixpoint: re-probing already-
  * indexed documents yields edges between labels that are already
  * equal, and the `left_anti` add of already-assigned docs is empty.
  * Spec-pinned by replaying a batch with its ledger marker removed.
  *
  * Ordering: micro-batches apply strictly in arrival order (Spark
  * serializes foreachBatch invocations), which [[ClusterIndex.append]]
  * requires — its label merge reads the CURRENT assignment. The
  * equality contract is the batch form's, chained:
  * stream(A; B1, B2, …) ≡ build(A ∪ B1 ∪ B2 ∪ …) whenever the
  * hot-shingle guards coincide (trivially, with no guard).
  */
object StreamingCluster {

  /** Default in-stream compact cadence: without one, a long-lived
    * stream accumulates one partial version per micro-batch and every
    * probe pays the ever-growing sidecar walk. 16 keeps the amortized
    * compact cost under ~7% of appends while bounding resolution at
    * 16 sidecar reads. Override per stream; `maxVersions = None`
    * disables (operator-managed maintenance).
    */
  val DefaultMaxVersions: Int = 16

  /** Default post-compact vacuum retention: right after a compact the
    * newest version is FULL, so vacuuming is safe (the documented
    * [[graft.ops.IndexCommit.vacuum]] caveat); keeping 2 gives
    * in-flight probes a full version of grace. With the compact
    * cadence this bounds DISK at ≤ maxVersions + vacuumKeep committed
    * versions no matter how long the stream runs. `None` disables
    * (vacuum becomes an operator action).
    */
  val DefaultVacuumKeep: Int = 2

  /** Fold a stream of (doc_id, text) documents into the index at
    * `indexPath` (which must already hold a committed
    * [[ClusterIndex.build]]). Read the evolving relation with
    * [[graft.ops.ClusterIndex.clusters]] as usual — every micro-batch
    * lands as a regular committed version, so batch consumers and the
    * stream compose without coordination.
    */
  def maintainStream(
      docs: DataFrame,
      indexPath: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      trigger: Trigger = Trigger.AvailableNow(),
      maxVersions: Option[Int] = Some(DefaultMaxVersions),
      vacuumKeep: Option[Int] = Some(DefaultVacuumKeep),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast
  ): StreamingQuery = {
    BatchLedger.ClusterVersions.check(maxVersions, vacuumKeep, ledgerKeepLast)
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, indexPath, threshold, batchId, maxVersions,
        vacuumKeep, ledgerKeepLast)
    }
  }

  /** One micro-batch: skip ids the ledger already holds (exactly-once
    * under replay), skip empty batches (an empty append would publish
    * a contentless version per replayed empty trigger), else
    * [[ClusterIndex.append]] then mark the ledger
    * ([[BatchLedger.ingest]]). Package-visible so the spec can drive
    * batches (and replays) synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      indexPath: String,
      threshold: Double,
      batchId: Long,
      maxVersions: Option[Int] = Some(DefaultMaxVersions),
      vacuumKeep: Option[Int] = Some(DefaultVacuumKeep),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast
  ): Unit = {
    val s = batch.sparkSession
    // the compact cadence caps resolution at maxVersions sidecar reads;
    // when a compact fired the newest version is FULL, so the bounded
    // vacuum is safe and caps disk at maxVersions + vacuumKeep versions
    BatchLedger.ingest(s, indexPath, batchId, batch.isEmpty,
      BatchLedger.ClusterVersions, maxVersions, vacuumKeep, ledgerKeepLast)(
      ClusterIndex.append(s, indexPath, batch, threshold))(
      ClusterIndex.maybeCompact(s, indexPath, _))
  }
}
