package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ExactSubstr window index — the storage form of
  * [[Dedup.substringDupStats]] (Lee et al. 2022's windowed
  * exact-substring dedup), closing the one dedup-family gap where the
  * corpus-wide structure was re-derived from text every run: the
  * md5-keyed 16-token window relation is tokenized ONCE and frozen
  * under the [[IndexCommit]] marker protocol; appends tokenize only
  * the arriving batch ([[LshIndex]]'s segment economics), and the
  * stats read derives entirely from the persisted hashes.
  *
  * Index layout (all parquet, segmented via [[IndexCommit]] — each
  * `v=<id>/` holds one batch's delta, readers union committed
  * segments):
  *   - `v=<id>/wins` — (doc_id, pos, wh): the document's sliding
  *     window hashes, the gram-keyed side of the dup-frequency
  *     aggregation.
  *   - `v=<id>/docs` — (doc_id): every document the segment ingested,
  *     INCLUDING short ones (< w tokens) that have no windows — the
  *     stats padding needs them and they are not derivable from
  *     `wins`.
  *   - `v=<id>/dfs` — (wh, df): the segment's window document
  *     frequencies, pre-aggregated at publish. Doc-disjoint segments
  *     make dfs ADDITIVE, so [[stats]] sums sidecars instead of
  *     recounting windows and [[probe]]'s committed side is a pruned
  *     fixed-width join, never a text read.
  *   - `meta` — text sidecar (w): the window width, frozen at build
  *     so an append can never mix widths (mixed-width hashes silently
  *     never collide — zero dup counts, not an error).
  *
  * Segment appends are disjoint by doc contract (a document is
  * ingested once — the [[LshIndex.append]] non-idempotence caveat):
  * because each doc's windows live in exactly one segment, window
  * document-frequencies union across segments without double
  * counting, and append ≡ build(A∪B) holds exactly (spec-pinned).
  *
  * Scale: the persisted relation is corpus-proportional but TEXT-FREE
  * (16-byte hashes + two longs per window). [[stats]] still pays the
  * window-df aggregation over the hash relation — that is the
  * operator's semantics (every document's flags can change when a
  * batch adds colliding windows) — but never re-tokenizes: at 100 TB
  * the text scan + tokenize + window explode happens once per
  * document ever, and each re-score is a hash-relation aggregation
  * (~2 shuffles over fixed-width rows).
  */
object SubstrIndex {

  /** Window width frozen at build time.
    *
    * Unlike [[LshIndex.readMeta]] / [[ClusterIndex.layout]], the read
    * names NO legacy parquet columns: SubstrIndex first shipped
    * TOGETHER WITH the text-sidecar format (and [[writeSegment]] has
    * written the per-segment `dfs` sidecars that [[stats]]/[[probe]]
    * read since its first release), so no older on-disk form was ever
    * persisted — a directory at `meta` or a missing `dfs` dir is
    * corruption, not a legacy index, and
    * [[IndexCommit.readTextSidecar]] rejects the directory loudly.
    */
  def width(s: SparkSession, path: String): Int =
    IndexCommit.readTextSidecar(s, s"$path/meta").head.toInt

  /** Fold every live delta segment into ONE full segment (`_FULL`
    * marker, [[IndexCommit.commitFull]]'s concurrent-append guard).
    * `wins` and `docs` union verbatim; the per-segment `dfs`
    * aggregates SUM into one relation — exact because segments are
    * doc-disjoint by the append contract, so the compacted sidecar
    * equals what one segment ingesting everything would have
    * published. Relation-idempotent; reclaim superseded deltas with
    * [[IndexCommit.vacuumSuperseded]] ONLY (the positional vacuum can
    * retire the full segment itself — see [[LshIndex.compact]]).
    */
  def compact(s: SparkSession, path: String): Long =
    IndexCommit.commitFull(s, path) { (segs, dir) =>
      s.read.parquet(segs.map(_ + "/wins"): _*)
        .write.mode("overwrite").parquet(s"$dir/wins")
      s.read.parquet(segs.map(_ + "/docs"): _*)
        .write.mode("overwrite").parquet(s"$dir/docs")
      s.read.parquet(segs.map(_ + "/dfs"): _*)
        .groupBy("wh").agg(sum(col("df")).as("df"))
        .write.mode("overwrite").parquet(s"$dir/dfs")
    }

  /** Compact at a live-segment cadence ([[LshIndex.maybeCompact]]). */
  def maybeCompact(
      s: SparkSession, path: String, maxSegments: Int): Option[Long] =
    IndexCommit.maybeCompactWith(s, path, maxSegments)(compact(s, path))

  private def writeSegment(
      s: SparkSession, path: String, docs: DataFrame, w: Int): Long =
    IndexCommit.publish(s, path) { (_, seg) =>
      Dedup.windowHashes(docs, w)
        .write.mode("overwrite").parquet(s"$seg/wins")
      // per-segment window document frequencies, pre-aggregated at
      // publish: segments are doc-disjoint, so dfs ADD across segments
      // — [[probe]]'s committed side and [[stats]]' df aggregation read
      // these instead of recounting the window relation. Derived from
      // the READ-BACK wins parquet, never a second tokenize.
      s.read.parquet(s"$seg/wins").groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("df"))
        .write.mode("overwrite").parquet(s"$seg/dfs")
      // a cheap second pass: doc_id-only column-pruned scan (short docs
      // carry no windows, so the doc relation is not derivable from
      // wins) — never a second tokenize
      docs.select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$seg/docs")
    }

  /** Build the index from the corpus at `dir` (optionally restricted
    * by `docFilter`): the one corpus tokenization. Destructive reset
    * by contract, like [[LshIndex.build]] — a rebuild changes the
    * width every segment is interpreted under.
    */
  def build(
      s: SparkSession, dir: String, path: String, w: Int = 16,
      docFilter: Option[Column] = None): Long = {
    require(w >= 2, "window width must be at least 2 tokens")
    val docs = docFilter.foldLeft(
      s.read.parquet(s"$dir/documents.parquet"))((d, f) => d.filter(f))
    IndexCommit.reset(s, path)
    // driver-known scalar → text sidecar (no Spark job per append)
    IndexCommit.writeTextSidecar(s, s"$path/meta", Seq(w.toString))
    writeSegment(s, path, docs, w)
  }

  /** Fold a batch of NEW documents into the index: tokenize the batch
    * only, under the frozen width. NOT idempotent under replay
    * (callers dedup upstream or ledger batch ids); atomic via the
    * commit marker.
    */
  def append(s: SparkSession, path: String, batch: DataFrame): Long =
    writeSegment(s, path, batch, width(s, path))

  /** [[Dedup.substringDupStats]]' exact rows over the indexed corpus,
    * derived from the persisted window hashes — zero text reads, zero
    * re-tokenization (plan-pinned in SubstrIndexSpec).
    */
  def stats(
      s: SparkSession, path: String,
      maxDocFreq: Int = 1, maxSpanTokens: Int = 50): DataFrame = {
    val segs = IndexCommit.liveDirs(s, path, "substring index segment")
    // df = sum of the pre-aggregated per-segment dfs (doc-disjoint
    // segments → exact), not a recount of the full window relation
    Dedup.statsWithDf(
      s.read.parquet(segs.map(_ + "/wins"): _*),
      combinedDf(s, segs),
      s.read.parquet(segs.map(_ + "/docs"): _*),
      width(s, path), maxDocFreq, maxSpanTokens)
  }

  private def combinedDf(s: SparkSession, segs: Seq[String]): DataFrame =
    s.read.parquet(segs.map(_ + "/dfs"): _*)
      .groupBy("wh").agg(sum(col("df")).as("wdf"))

  /** Batch-proportional PROBE: the [[stats]] rows a
    * [[build]](corpus ∪ batch) would produce, restricted to the
    * batch's documents, WITHOUT touching corpus text — the
    * [[LshIndex.probe]] economics for ExactSubstr. Only the batch is
    * tokenized; window document frequencies combine the persisted
    * per-segment `dfs` aggregates with the batch's own windows
    * (batch-internal duplication counts, matching the probe-covers-
    * both convention of [[LshIndex.probe]]). The committed `dfs`
    * relations stream past the batch-sized hash set in one hash-keyed
    * join — fixed-width rows, no text, no window re-aggregation.
    * Exact equality probe ≡ stats(build(A∪B))|batch is spec-pinned.
    *
    * Unlike [[append]], probing does NOT modify the index — the
    * decontamination-style read. To also ingest the batch, append
    * then stats, or probe first and append after (identical flags
    * either way, by the equality above).
    */
  def probe(
      s: SparkSession, path: String, batch: DataFrame,
      maxDocFreq: Int = 1, maxSpanTokens: Int = 50): DataFrame = {
    val w0 = width(s, path)
    val segs = IndexCommit.liveDirs(s, path, "substring index segment")
    val scope = new CacheScope
    try {
      // cached: the batch windows feed the df combine AND the
      // island scan
      val bw = scope.cache(Dedup.windowHashes(
        batch.select(col("doc_id"), col("text")), w0))
      val bdf = scope.cache(bw.groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("bdf")))
      // prune committed dfs against the batch hash set BEFORE the
      // cross-segment sum: the segment relations stream past the
      // (typically broadcastable) batch side, so the aggregation runs
      // over batch-hash-proportional survivors, never the corpus's
      // full hash universe
      val committed = s.read.parquet(segs.map(_ + "/dfs"): _*)
        .join(bdf.select("wh"), Seq("wh"))
        .groupBy("wh").agg(sum(col("df")).as("cdf"))
      val df = bdf.join(committed, Seq("wh"), "left")
        .select(col("wh"),
          (col("bdf") + coalesce(col("cdf"), lit(0L))).as("wdf"))
      Dedup.statsWithDf(bw, df, batch.select(col("doc_id")),
        w0, maxDocFreq, maxSpanTokens)
    } finally scope.release()
  }
}
