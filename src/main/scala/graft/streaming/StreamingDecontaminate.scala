package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.BloomIndex

/** Continuous benchmark decontamination: arriving corpus documents
  * probe the persisted Bloom filter ([[graft.ops.BloomIndex]]) one
  * micro-batch at a time — the streaming sibling of
  * [[StreamingDedup]] (near-dup) and [[StreamingAnn]] (ANN), closing
  * the hygiene loop: a crawl stream is tagged contaminated-or-clean
  * against the eval suites as it lands, not in a later batch sweep.
  *
  * Per batch: [[BloomIndex.probe]] runs as the `foreachBatch` body (a
  * broadcast of the 8 KB filter row plus a per-row codegen'd probe —
  * the cheapest possible micro-batch: zero shuffles at any batch
  * size), and the verdicts land under `outPath/batch_id=<id>` — one
  * overwritten directory per micro-batch id, so at-least-once replay
  * re-creates the same directory instead of appending duplicates
  * (the [[StreamingDedup]] idempotency contract).
  *
  * The filter is STATIC between [[BloomIndex.append]]s, and appends
  * are safe to interleave with a running stream in a way LSH index
  * appends are not: a Bloom filter only ever gains bits, so a batch
  * probed against a stale filter read can only under-flag documents
  * the brand-new benchmark would have caught — re-probing after the
  * append (or just replaying the batch) converges, and no verdict is
  * ever retracted. One-sidedness makes eventual consistency exact.
  */
object StreamingDecontaminate {

  def probeStream(
      docs: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch, indexPath, outPath, batchId)
    }

  /** One micro-batch: probe and write the batch's verdict directory.
    * Returns the contaminated count. Package-visible so the spec can
    * drive batches (and replays) synchronously.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      indexPath: String,
      outPath: String,
      batchId: Long
  ): Long = {
    // empty micro-batches still (over)write their directory: a
    // replayed batch that previously wrote verdicts but now matches
    // nothing must erase its stale output, not keep it
    val verdicts = BloomIndex.probe(batch.sparkSession, indexPath, batch)
    verdicts.write.mode("overwrite")
      .parquet(s"$outPath/batch_id=$batchId")
    verdicts.filter(col("contaminated")).count()
  }

  /** The accumulated verdict table (doc_id, n_flagged, contaminated,
    * batch_id) across every micro-batch written so far. A stream that
    * has processed zero batches yields an EMPTY typed relation, not a
    * path error.
    */
  def verdicts(s: SparkSession, outPath: String): DataFrame =
    MicroBatch.output(s, outPath,
      "doc_id BIGINT, n_flagged BIGINT, contaminated BOOLEAN, batch_id BIGINT")
}
