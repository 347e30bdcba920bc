package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted perceptual-signature index — the MEDIA twin of
  * [[LshIndex]], closing the symmetry gap where text near-dup had
  * persisted + incremental forms (`dedup_index_probe`,
  * `dedup_incremental`) but every media near-dup query re-decoded and
  * re-hashed the full corpus per run. The 64-bit dHash / envelope /
  * clip signatures ([[PerceptualHash]]) are decoded ONCE and frozen
  * under the [[IndexCommit]] marker protocol; an arriving batch is
  * decoded batch-side only and probed against the committed
  * signatures.
  *
  * Layout: `v=<id>/sigs` — (doc_id, sig) segments, one per
  * build/append; readers union committed segments. Nothing else is
  * persisted: the 4×16-bit band keys (pigeonhole-exhaustive at
  * Hamming ≤ 3, [[PerceptualHash]]'s banding) are derived ROW-LOCALLY
  * from the signature on both sides of the probe, so the index stores
  * 16 bytes per clip and any future band-width change needs no
  * migration.
  *
  * Segment appends are disjoint by doc contract (a clip is ingested
  * once — [[LshIndex.append]]'s non-idempotence caveat); atomic via
  * the commit marker (a killed append leaves the prior index
  * answering).
  *
  * Scale: payload bytes are decoded exactly once per clip ever —
  * at 100 TB of media the probe side reads only fixed-width
  * (doc_id, sig) rows; the band equijoin streams the committed
  * relation past the (typically broadcastable) batch side and exact
  * `bit_count` verification is candidate-set-sized, nothing
  * corpus-quadratic.
  */
object SigIndex {

  /** Fold every live delta segment into ONE full segment (`_FULL`
    * marker, [[IndexCommit.commitFull]]'s concurrent-append guard) —
    * the [[LshIndex.compact]] economics for the media index: a
    * [[graft.streaming.StreamingSigDedup.maintainStream]] feed
    * commits a segment per micro-batch, and probes union live
    * segments until a compact rebounds resolution to one dir.
    * Relation-idempotent; reclaim superseded deltas with
    * [[IndexCommit.vacuumSuperseded]] ONLY (the positional vacuum can
    * retire the full segment itself — see [[LshIndex.compact]]).
    */
  def compact(s: SparkSession, path: String): Long =
    IndexCommit.compactDistinct(s, path, "sigs")

  /** Default probe-batch ceiling: 10 M rows → ~40 M banded rows ×
    * 28 bytes ≈ 1.1 GB broadcast — comfortably inside the 8 GB hard
    * cap with margin for row-object overhead, and far above any real
    * micro-batch. A genuine backfill trips the guard and gets the
    * slice-the-batch remedy in the message instead of an executor
    * OOM.
    */
  val DefaultMaxProbeBatchRows: Long = 10000000L

  /** The batch-size precondition the probe broadcasts enforce, made
    * ACTIONABLE: the hint is unconditional, so a corpus-scale batch
    * would fail deep in the exchange as an 8 GB broadcast cap hit or
    * an executor OOM — a stack trace naming neither the cause nor the
    * remedy. This guard fails FIRST with both. `limit(n+1).count()`
    * keeps the check batch-proportional-bounded: the scan stops at
    * the ceiling instead of counting a corpus. Opt out (ceiling
    * <= 0) for callers that pre-size their batches — the opt-out is
    * ONLY the explicit non-positive sentinel: a ceiling beyond
    * Int.MaxValue-1 (the largest limit a plan can express) is CLAMPED
    * to Int.MaxValue-1 rather than silently disabling the check (a
    * caller passing 5e9 expecting a bound still gets one — two
    * billion rows is far past broadcastable anyway, so the clamped
    * check trips exactly when the unclamped one would have; ADVICE
    * r15). Cost note: the count is one extra action over the batch's
    * lineage — parquet-backed and cached batches pay ~nothing (the
    * probe-then-ingest media stream counts its already-cached
    * signatures), but a probe over an expensive UNCACHED derived
    * batch should cache it first, as that stream does.
    */
  private[graft] def requireProbeSized(
      batch: DataFrame, maxBatchRows: Long, what: String): Unit =
    if (maxBatchRows > 0) {
      val lim = math.min(maxBatchRows, Int.MaxValue - 1L).toInt
      val n = batch.limit(lim + 1).count()
      require(n <= lim,
        s"$what probe batch exceeds $lim rows: the probe " +
          "BROADCASTS the batch's banded side by design (a micro-batch " +
          "is always driver-small next to the committed index), so a " +
          "corpus-scale batch would hit the 8 GB broadcast cap or OOM " +
          "an executor. Slice the input and probe per slice, raise " +
          "maxBatchRows if the batch genuinely fits a broadcast, or " +
          "join against the committed relation without the hint.")
    }

  /** Compact at a live-segment cadence ([[LshIndex.maybeCompact]]). */
  def maybeCompact(
      s: SparkSession, path: String, maxSegments: Int): Option[Long] =
    IndexCommit.maybeCompactWith(s, path, maxSegments)(compact(s, path))

  private def writeSegment(
      s: SparkSession, path: String, sigs: DataFrame): Long =
    IndexCommit.publish(s, path) { (_, dir) =>
      sigs.select(col("doc_id"), col("sig"))
        .write.mode("overwrite").parquet(s"$dir/sigs")
    }

  /** Build the index from a (doc_id, sig) relation (one decode+hash
    * pass — the caller owns which media table feeds it). Destructive
    * reset by contract, like [[LshIndex.build]].
    *
    * `guardMaxBandFreq` commits the index's DEFAULT hot-band cap
    * ([[GuardMeta]]): readers resolve it when their own knob is
    * `None`, so the cap a deployment chose from [[guardDrift]]
    * telemetry is versioned config, not a per-call convention. `None`
    * CLEARS any predecessor's sidecar — a rebuild never silently
    * inherits a cap it didn't ask for.
    */
  def build(
      s: SparkSession, path: String, sigs: DataFrame,
      guardMaxBandFreq: Option[Long] = None): Long = {
    IndexCommit.reset(s, path)
    GuardMeta.set(s, path, guardMaxBandFreq)
    writeSegment(s, path, sigs)
  }

  /** Fold a batch of NEW clips' signatures into the index (batch-only
    * decode upstream). NOT idempotent under replay; atomic via the
    * commit marker.
    */
  def append(s: SparkSession, path: String, sigs: DataFrame): Long =
    writeSegment(s, path, sigs)

  /** The committed (doc_id, sig) relation. */
  def sigs(s: SparkSession, path: String): DataFrame =
    s.read.parquet(IndexCommit.liveDirs(s, path, "signature index segment")
      .map(_ + "/sigs"): _*).select("doc_id", "sig")

  /** 4×16-bit band keys of a signature column — row-local, the
    * pigeonhole decomposition that is exhaustive at Hamming < 4
    * ([[PerceptualHash]]'s banding).
    */
  private def banded(df: DataFrame, id: String): DataFrame =
    df.select(col("doc_id").as(id), col("sig").as(s"sig_$id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16)
            .bitwiseAND(0xffffL).as("key"))): _*)).as("bk"))
      .select(col(id), col(s"sig_$id"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  /** Duplicate-clip clusters over the COMMITTED signatures — the
    * media twin of [[ClusterIndex.clusters]]' economics applied to
    * perceptual hashes: every clip the index holds labeled with its
    * connected component over the Hamming ≤ `maxHamming` near-dup
    * graph, computed via [[PerceptualHash.nearDupClustersOfSigs]]'
    * collapse-first path (identical-signature classes cost n rows,
    * never C(n,2) pairs) WITHOUT re-decoding a single payload byte.
    * This is what the index exists for at 100 TB of media: decode
    * dominates every corpus-wide media query, the committed segments
    * already hold the 16-byte answers, and re-clustering after an
    * append is a fixed-width-relation job (plan-pinned payload-free
    * in SigIndexSpec). Rows ≡ the decode-side cluster forms
    * ([[PerceptualHash.videoClusters]] etc.) over the same corpus —
    * the shared-oracle contract.
    */
  def clusters(
      s: SparkSession, path: String, maxHamming: Int = 3,
      scope: CacheScope = new CacheScope,
      maxBandFreq: Option[Long] = None): DataFrame =
    // dropDuplicates: the crash-window safe-degrade (a replayed
    // append stages a duplicate segment) must hold for the CLUSTER
    // form too, not just probes — without it a doc whose sig row is
    // live in two segments re-expands in the final label join and the
    // relation emits duplicate (doc_id, component_id) rows while the
    // duplicate segment awaits compaction. doc_id determines sig by
    // the ingested-once contract, so the id-keyed dedup of 16-byte
    // rows is exact and cheap.
    PerceptualHash.nearDupClustersOfSigs(
      sigs(s, path).dropDuplicates("doc_id"), maxHamming, scope,
      GuardMeta.resolve(s, path, maxBandFreq))

  /** Hot-band drift telemetry over the COMMITTED media signatures —
    * the media sibling of [[SimSigIndex.guardDrift]], answered from
    * the frozen 16-byte rows (zero payload decode): band buckets
    * whose population exceeds `maxBandFreq`, as the identity-free
    * (bucket_size, n_keys, worst_case_pairs) histogram of the SHARED
    * [[Similarity.bandBucketDrift]] (media band keys are the same
    * 64-plane/4-band decomposition). A template-image/clip family —
    * DISTINCT signatures sharing band keys, which the
    * identical-signature collapse cannot touch — shows up here as hot
    * buckets; the remedy is [[clusters]]' `maxBandFreq` star-cap.
    * Pure read of committed state, nothing persists or refreshes
    * ([[SimSigIndex.guardDrift]]'s argument verbatim).
    */
  def guardDrift(
      s: SparkSession, path: String, maxBandFreq: Long): DataFrame =
    Similarity.bandBucketDrift(
      sigs(s, path).dropDuplicates("doc_id")
        .select(col("doc_id").as("vec_id"), col("sig")),
      numPlanes = 64, numBands = 4, maxBandFreq)

  /** Near-duplicate pairs between a batch's (doc_id, sig) relation
    * and the committed index at Hamming ≤ `maxHamming`: (doc_new,
    * doc_idx, hamming). Exhaustive for maxHamming < 4 by the
    * pigeonhole banding; exact `bit_count` verification. The index
    * side is never decoded — fixed-width signature rows stream past
    * the batch bands, and the batch side carries an explicit
    * broadcast hint (a micro-batch is band-rows × 28 bytes — always
    * driver-small next to a 100 TB corpus's banded index, and
    * without the hint a size-estimator miss would sort-merge the
    * FULL banded index by key; executed-plan-pinned in SigIndexSpec).
    * The hint is therefore a BATCH-SIZE PRECONDITION, not a
    * preference: `batch` must fit a broadcast (the 8 GB hard cap /
    * driver memory — comfortably millions of clips). For a
    * corpus-scale backfill, slice the input and probe per slice (or
    * read [[sigs]] and join without the hint) instead of one giant
    * probe. Works unchanged as a `foreachBatch` body.
    *
    * `maxBandFreq` is the HOT-BAND guard on the CORPUS side
    * ([[Similarity.starCapProbeSide]] — the r15 self-join star-cap's
    * probe symmetry): a committed bucket larger than the cap
    * contributes only its min-id representative, so a batch clip
    * hitting a 10M-member template family pulls 1 candidate, not 10M,
    * per micro-batch forever. Guarded output is a VERIFIED SUBSET of
    * unguarded (exact `bit_count` verification unchanged; the
    * representative pair — the canonical id — always survives).
    * `None` resolves the index's committed [[GuardMeta]] default;
    * `Some(GuardMeta.Off)` forces unguarded.
    */
  def probe(
      s: SparkSession, path: String, batch: DataFrame,
      maxHamming: Int = 3,
      maxBatchRows: Long = SigIndex.DefaultMaxProbeBatchRows,
      maxBandFreq: Option[Long] = None): DataFrame = {
    require(maxHamming < 4, "4-band pigeonhole is exhaustive only below 4")
    requireProbeSized(batch, maxBatchRows, "SigIndex")
    val bBand = banded(batch, "doc_new")
    val corpusBand = banded(sigs(s, path), "doc_idx")
    val corpusSide = GuardMeta.resolve(s, path, maxBandFreq) match {
      case None => corpusBand
      case Some(cap) =>
        Similarity.starCapProbeSide(corpusBand, "doc_idx", bBand, cap)
    }
    broadcast(bBand)
      .join(corpusSide, Seq("band", "key"))
      .select("doc_new", "doc_idx", "sig_doc_new", "sig_doc_idx")
      .distinct()
      .select(col("doc_new"), col("doc_idx"),
        expr("bit_count(sig_doc_new ^ sig_doc_idx)").cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
