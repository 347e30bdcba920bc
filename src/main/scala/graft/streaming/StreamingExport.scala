package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{ClusterIndex, CorpusSnapshot, Filtering, SigIndex,
  TrainPrep}

/** The composed last mile AS A STREAM: the ingestion halves
  * ([[StreamingIngest]], [[StreamingCluster]], [[StreamingLm]],
  * [[StreamingSnapshot]]) are continuous, and so is the export
  * composition ([[graft.ops.TrainPrep.pipelineExportIndexed]] —
  * near-dup keep ∧ quality ∧ LM gate ∧ train split ∧ packing), so a
  * pipeline ingesting continuously needs no batch export job run by
  * hand. This stream scores each arriving
  * micro-batch of (doc_id, text) documents through the FROZEN models
  * and publishes the survivors as [[graft.ops.CorpusSnapshot]] deltas:
  *
  *   - near-dup keep: the committed [[ClusterIndex]] assignment,
  *     point-read via [[ClusterIndex.lookup]] for driver-small
  *     batches (only the doc-range labels partitions covering the
  *     batch's ids are opened) and via the partitioned `clusters`
  *     relation join above the crossover — identical rows, different
  *     read economics.
  *   - quality ∧ LM gate: [[Filtering.qualityFilterLmBatch]] — the
  *     delta form whose every input is the batch itself or the frozen
  *     [[graft.ops.KnIndex]] count tables (plan-pinned free of any
  *     reference-corpus scan in FilteringSpec).
  *   - split: [[TrainPrep.splitAssignOf]] — membership is a pure
  *     function of doc_id, so batch-local assignment IS the corpus
  *     assignment.
  *
  * All three verdicts depend only on the batch and committed index
  * versions, so each document's keep decision is STABLE — the
  * survivor set is additive by design and snapshot deltas (full
  * publish on a virgin root, [[StreamingSnapshot]]'s convention) are
  * the right sink: [[packedExport]] over the resolved snapshot equals
  * the batch `pipelineExportIndexed` over the same corpus whenever
  * the indexes were built on it (spec-pinned e2e — the shared-
  * relation contract, no separate oracle needed).
  *
  * Exactly-once: the [[BatchLedger]] guards the whole body. The crash
  * window (survivors published, marker unwritten) degrades safely: a
  * replay publishes the SAME survivor rows as a second delta, and
  * [[CorpusSnapshot.readResolved]]'s last-writer-wins resolution
  * returns the identical corpus (spec-pinned by marker-removal
  * replay). Compact + vacuum + ledger prune ride one cadence.
  *
  * Scale: every per-batch leg is batch-proportional — batch-side
  * tokenize + frozen-count-table joins for the LM gate, covering-
  * partition reads (or one doc-keyed join) for the dedup verdict, a
  * delta-sized publish. Nothing re-reads the corpus; the corpus-sized
  * work (index builds) happened exactly once upstream.
  */
object StreamingExport {

  /** Above this many batch docs the dedup verdict joins the
    * partitioned assignment relation instead of point-reading via
    * [[ClusterIndex.lookup]]: lookup's ids travel the driver (an
    * `isin` over driver-known ids against only the covering label
    * partitions — unbeatable for serving-sized batches), which stops
    * being the right shape once the id list itself is large.
    */
  val DefaultLookupMaxIds: Int = 10000

  def exportStream(
      docs: DataFrame,
      clusterIdx: String,
      knIdx: String,
      snapRoot: String,
      checkpointDir: String,
      headMax: Double = 0.95,
      middleMax: Double = 1.05,
      nShards: Int = 8,
      maxBytes: Long = CorpusSnapshot.DefaultMaxBytes,
      trigger: Trigger = Trigger.AvailableNow(),
      maxChain: Option[Int] = Some(StreamingSnapshot.DefaultMaxChain),
      vacuumKeep: Option[Int] = Some(StreamingSnapshot.DefaultVacuumKeep),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast,
      lookupMaxIds: Int = DefaultLookupMaxIds,
      maxBatchRows: Long = SigIndex.DefaultMaxProbeBatchRows
  ): StreamingQuery = {
    BatchLedger.SnapshotChain.check(maxChain, vacuumKeep, ledgerKeepLast)
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, clusterIdx, knIdx, snapRoot, batchId, headMax,
        middleMax, nShards, maxBytes, maxChain, vacuumKeep,
        ledgerKeepLast, lookupMaxIds, maxBatchRows)
    }
  }

  /** One export micro-batch (see [[exportStream]]). Package-visible
    * for synchronous spec driving.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      clusterIdx: String,
      knIdx: String,
      snapRoot: String,
      batchId: Long,
      headMax: Double = 0.95,
      middleMax: Double = 1.05,
      nShards: Int = 8,
      maxBytes: Long = CorpusSnapshot.DefaultMaxBytes,
      maxChain: Option[Int] = Some(StreamingSnapshot.DefaultMaxChain),
      vacuumKeep: Option[Int] = Some(StreamingSnapshot.DefaultVacuumKeep),
      ledgerKeepLast: Int = BatchLedger.DefaultKeepLast,
      lookupMaxIds: Int = DefaultLookupMaxIds,
      maxBatchRows: Long = SigIndex.DefaultMaxProbeBatchRows): Unit = {
    val s = batch.sparkSession
    BatchLedger.SnapshotChain.check(maxChain, vacuumKeep, ledgerKeepLast)
    BatchLedger.appliedOnce(s, snapRoot, batchId) {
      // the batch lineage feeds six actions (emptiness, the size
      // precondition's bounded count, ids, LM gate, split, survivor
      // join) — persist FIRST so even the preconditions hit the cache
      // (checks before persist would re-execute the lineage once each)
      val b = batch.select(col("doc_id"), col("text")).persist()
      try {
        if (!b.isEmpty) {
          // the actionable size precondition before anything touches
          // the driver ([[SigIndex.requireProbeSized]]'s bounded count)
          SigIndex.requireProbeSized(b, maxBatchRows, "StreamingExport")
          val survivors = b
            .join(dedupKeep(s, clusterIdx, b, lookupMaxIds), Seq("doc_id"))
            .join(Filtering.qualityFilterLmBatch(s, knIdx, b, headMax,
              middleMax).filter(col("keep")).select("doc_id"),
              Seq("doc_id"))
            .join(TrainPrep.splitAssignOf(b)
              .filter(col("split") === "train").select("doc_id"),
              Seq("doc_id"))
          // a batch whose docs all fail the gates publishes nothing
          // (an empty delta per filtered-out batch would grow the
          // chain for free) but still marks the ledger
          if (!survivors.isEmpty) {
            StreamingSnapshot.publish(s, survivors, snapRoot, nShards,
              maxBytes)
            BatchLedger.cadence(s, snapRoot, BatchLedger.SnapshotChain,
              maxChain, vacuumKeep, ledgerKeepLast)(
              CorpusSnapshot.maybeCompact(s, snapRoot, _, nShards, maxBytes))
          }
        }
      } finally {
        b.unpersist()
        ()
      }
    }
  }

  /** The near-dup keep verdict for a batch — doc_ids of batch members
    * that are their component's representative in the COMMITTED
    * assignment. Point-read below the crossover, partitioned join
    * above; identical rows either way (spec-pinned). Batch docs the
    * index never assigned are ABSENT (no verdict → not exported):
    * this stream is the serving half — compose
    * [[StreamingCluster.maintainStream]] upstream to ingest first.
    */
  private def dedupKeep(
      s: SparkSession, clusterIdx: String, batch: DataFrame,
      lookupMaxIds: Int): DataFrame = {
    val ids = batch.select("doc_id")
      .limit(lookupMaxIds + 1).collect().map(_.getLong(0))
    if (ids.length <= lookupMaxIds)
      ClusterIndex.lookup(s, clusterIdx, ids.toSeq)
        .filter(col("keep")).select("doc_id")
    else
      ClusterIndex.clusters(s, clusterIdx)
        .filter(col("keep")).select("doc_id")
        .join(batch.select("doc_id"), Seq("doc_id"), "leftsemi")
  }

  /** The consumable packed export over everything the stream has
    * published so far: [[TrainPrep.packSequencesOf]] over the
    * RESOLVED snapshot. The pack layout is a pure function of the
    * member set, so once the stream has seen the corpus this equals
    * the batch [[TrainPrep.pipelineExportIndexed]] row-for-row — the
    * shared-relation contract that replaces a separate oracle.
    */
  def packedExport(
      s: SparkSession, snapRoot: String,
      nShards: Int = 8, capacity: Long = 2048L): DataFrame =
    TrainPrep.packSequencesOf(
      CorpusSnapshot.readResolved(s, snapRoot), nShards, capacity)
}
