package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted hyperplane-signature index for embedding near-dup — the
  * EMBEDDING twin of [[SigIndex]] (media) and [[LshIndex]] (text),
  * closing the last near-dup family gap where the corpus side was
  * re-projected against the hyperplanes on every run: the 64-bit
  * hyperplane signatures ([[Similarity.lshSignaturesDf]]'s md5-parity
  * planes) are computed ONCE per vector ever and frozen under the
  * [[IndexCommit]] marker protocol; probes and re-clusterings read
  * fixed-width rows.
  *
  * Layout under the index root (each `v=<id>/` one batch's delta,
  * readers union committed segments — the [[LshIndex]] economics):
  *   - `v=<id>/sigs` — (vec_id, sig): the packed sign bits, the
  *     band-join side. 16 bytes per vector.
  *   - `v=<id>/vecs` — (vec_id, v): the vectors themselves, read ONLY
  *     for candidate-set-sized exact-cosine verification (unlike the
  *     media index, a signature does not determine the exact score,
  *     so verification needs the vectors — the [[LshIndex]] `sets`
  *     relation's role). Kept as a separate relation so the banded
  *     join never drags kilobyte arrays through its explode.
  *   - `meta` — text sidecar (numPlanes): the signature space, frozen
  *     at build so an append can never mix plane counts (mixed-width
  *     signatures silently never collide — zero candidates, not an
  *     error). Band COUNT stays a probe-time knob: band keys derive
  *     row-locally from the signature on both sides, so any banding
  *     whose width divides numPlanes needs no migration — the
  *     [[SigIndex]] band-derivation convention.
  *
  * Segment appends are disjoint by vector contract (a vector is
  * ingested once — [[LshIndex.append]]'s non-idempotence caveat;
  * [[graft.streaming.StreamingSimIngest]] adds the batch-id ledger
  * for at-least-once replay safety), atomic via the commit marker.
  *
  * Scale: signing is the expensive corpus pass (numPlanes dots per
  * vector — at 64 planes, 4× the vector bytes in FLOPs) and happens
  * exactly once per vector ever; a probe signs only its batch, the
  * band equijoin streams the committed sigs past the broadcast batch
  * bands, and the vectors relation is touched candidate-set-sized,
  * never corpus-quadratic.
  */
object SimSigIndex {

  /** The frozen plane count. */
  def numPlanes(s: SparkSession, path: String): Int =
    // no legacy parquet meta ever shipped: a directory is rejected
    IndexCommit.readTextSidecar(s, s"$path/meta").head.toInt

  /** Fold every live delta segment into ONE full segment (`_FULL`
    * marker, [[IndexCommit.commitFull]]'s concurrent-append guard) —
    * the [[LshIndex.compact]] economics for the embedding index; a
    * [[graft.streaming.StreamingSimIngest]] feed commits a segment
    * per micro-batch. Relation-idempotent; reclaim superseded deltas
    * with [[IndexCommit.vacuumSuperseded]] ONLY (the positional
    * vacuum can retire the full segment itself — see
    * [[LshIndex.compact]]).
    */
  def compact(s: SparkSession, path: String): Long =
    IndexCommit.compactDistinct(s, path, "sigs", "vecs")

  /** Compact at a live-segment cadence ([[LshIndex.maybeCompact]]). */
  def maybeCompact(
      s: SparkSession, path: String, maxSegments: Int): Option[Long] =
    IndexCommit.maybeCompactWith(s, path, maxSegments)(compact(s, path))

  private def writeSegment(
      s: SparkSession, path: String, emb: DataFrame, planes: Int): Long =
    IndexCommit.publish(s, path) { (_, seg) =>
      Similarity.lshSignaturesDf(emb.select("vec_id", "v"), planes)
        .select("vec_id", "sig")
        .write.mode("overwrite").parquet(s"$seg/sigs")
      emb.select("vec_id", "v")
        .write.mode("overwrite").parquet(s"$seg/vecs")
    }

  /** Build from a (vec_id, v: array<double>) relation — the one
    * corpus signing. Destructive reset by contract, like
    * [[LshIndex.build]] (a rebuild changes the signature space every
    * segment is interpreted under).
    */
  def build(
      s: SparkSession, path: String, emb: DataFrame,
      planes: Int = 64,
      guardMaxBandFreq: Option[Long] = None): Long = {
    require(planes >= 1 && planes <= 64,
      "signatures pack into one long — 1 to 64 planes")
    IndexCommit.reset(s, path)
    IndexCommit.writeTextSidecar(s, s"$path/meta", Seq(planes.toString))
    // build-owned default hot-band cap ([[GuardMeta]]; SigIndex.build's
    // contract): Some commits it, None clears a predecessor's
    GuardMeta.set(s, path, guardMaxBandFreq)
    writeSegment(s, path, emb, planes)
  }

  /** Fold a batch of NEW vectors into the index under the frozen
    * plane count (batch-only signing). NOT idempotent under replay
    * (callers dedup upstream or ledger batch ids —
    * [[graft.streaming.StreamingSimIngest]]); atomic via the marker.
    */
  def append(s: SparkSession, path: String, emb: DataFrame): Long =
    writeSegment(s, path, emb, numPlanes(s, path))

  /** The committed (vec_id, sig) relation. */
  def sigs(s: SparkSession, path: String): DataFrame =
    s.read.parquet(IndexCommit.liveDirs(
      s, path, "embedding signature index segment").map(_ + "/sigs"): _*)
      .select("vec_id", "sig")

  /** The committed (vec_id, v) relation. */
  def vecs(s: SparkSession, path: String): DataFrame =
    s.read.parquet(IndexCommit.liveDirs(
      s, path, "embedding signature index segment").map(_ + "/vecs"): _*)
      .select("vec_id", "v")

  /** Row-local band keys of a signature column — width must divide
    * the frozen plane count (the [[SigIndex.banded]] derivation with
    * a configurable band count).
    */
  private def banded(
      df: DataFrame, id: String, planes: Int, numBands: Int): DataFrame = {
    val width = planes / numBands
    // width = 64 (numBands = 1): (1L << 64) silently wraps to 1L, so
    // the naive mask would be 0 and every signature would collapse to
    // key 0 — a batch x corpus cross product. The full-word mask is
    // -1L (and the shift is 0, so the key is the signature itself).
    val mask = if (width >= 64) -1L else (1L << width) - 1
    df.select(col("vec_id").as(id),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * width)
            .bitwiseAND(mask).as("key"))): _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Near-duplicate pairs between a batch's (vec_id, v) relation and
    * the committed index at cosine ≥ `threshold`: (vec_new, vec_idx,
    * score). Only the batch is signed; the committed sigs stream past
    * the broadcast batch bands (a micro-batch is always driver-small
    * next to a 100 TB corpus's index — without the hint a
    * size-estimator miss would shuffle the full banded index) — a
    * BATCH-SIZE PRECONDITION, not a preference: `batch` (and its
    * candidate set) must fit a broadcast; corpus-scale backfills
    * probe in slices ([[SigIndex.probe]]'s caveat). Exact
    * cosine verification touches the committed vectors
    * candidate-set-sized. Candidate recall is the banding's, same as
    * the one-job [[Similarity.cosineNearDupPairsDf]] — a pair the
    * banding would surface there is surfaced here (identical
    * signature derivation on both sides). Works unchanged as a
    * `foreachBatch` body.
    */
  def probe(
      s: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.9, numBands: Int = 4,
      maxBatchRows: Long = SigIndex.DefaultMaxProbeBatchRows,
      maxBandFreq: Option[Long] = None): DataFrame = {
    val planes = numPlanes(s, path)
    require(planes % numBands == 0, "band width must divide the planes")
    // actionable batch-size precondition ([[SigIndex.requireProbeSized]]):
    // fail first with the slice-the-batch remedy, not an exchange OOM
    SigIndex.requireProbeSized(batch, maxBatchRows, "SimSigIndex")
    val bSigs = Similarity.lshSignaturesDf(
      batch.select("vec_id", "v"), planes)
    val bBand = banded(bSigs, "vec_new", planes, numBands)
    val corpusBand = banded(sigs(s, path), "vec_idx", planes, numBands)
    // hot-band guard on the CORPUS side ([[Similarity.starCapProbeSide]]
    // — [[SigIndex.probe]]'s contract for embeddings): a committed
    // bucket larger than the cap contributes only its min-id rep as a
    // candidate, so a batch vector landing in a dense region of size H
    // costs 1 candidate + 1 exact-cosine verification, not H, every
    // micro-batch. Guarded output is a VERIFIED SUBSET of unguarded
    // (the rep pair always survives). None resolves the committed
    // [[GuardMeta]] default; Some(GuardMeta.Off) forces unguarded.
    val corpusSide = GuardMeta.resolve(s, path, maxBandFreq) match {
      case None => corpusBand
      case Some(cap) =>
        Similarity.starCapProbeSide(corpusBand, "vec_idx", bBand, cap)
    }
    val candIds = broadcast(bBand)
      .join(corpusSide, Seq("band", "key"))
      .select("vec_new", "vec_idx").distinct()
    broadcast(candIds
      .join(broadcast(bSigs.select(col("vec_id").as("vec_new"),
        col("v").as("v_new"))), Seq("vec_new")))
      .join(vecs(s, path).select(col("vec_id").as("vec_idx"),
        col("v").as("v_idx")), Seq("vec_idx"))
      .select(col("vec_new"), col("vec_idx"),
        Similarity.cosine(col("v_new"), col("v_idx")).as("score"))
      .filter(col("score") >= threshold)
      // per-pair dedup against crash-window duplicate segments (a
      // vector whose vecs row exists in two live segments would match
      // twice) — [[LshIndex.probe]]'s enforcement of "duplicated
      // segments never change probe output"
      .dropDuplicates("vec_new", "vec_idx")
  }

  /** Duplicate-vector clusters over the COMMITTED signatures and
    * vectors — [[Similarity.cosineNearDupClustersOfSigs]]' exact
    * rows (identical-vector collapse, banded candidates, exact
    * verification, min-label components) with the corpus signed
    * exactly once ever: the signatures come from the frozen segments,
    * never a re-projection (plan-pinned free of the hyperplane
    * literals in SimSigIndexSpec). The shared-oracle contract with
    * the one-job cluster form pins identical rows.
    */
  def clusters(
      s: SparkSession, path: String, threshold: Double = 0.9,
      numBands: Int = 4,
      scope: CacheScope = new CacheScope,
      maxBandFreq: Option[Long] = None): DataFrame = {
    val planes = numPlanes(s, path)
    // dropDuplicates: extends the crash-window safe-degrade to the
    // cluster form — a vector live in two segments (replayed append,
    // marker unwritten) would otherwise join vecs x sigs into 4
    // copies and emit duplicate (vec_id, component_id) rows. vec_id
    // determines v and sig by the ingested-once contract, so the
    // id-keyed dedup is exact; it rides the join's own shuffle key.
    Similarity.cosineNearDupClustersOfSigs(
      vecs(s, path).join(sigs(s, path), Seq("vec_id"))
        .dropDuplicates("vec_id"),
      threshold, planes, numBands, scope,
      GuardMeta.resolve(s, path, maxBandFreq))
  }

  /** Hot-band drift telemetry over the COMMITTED signatures — the
    * embedding sibling of [[LshIndex.guardDrift]], answered without
    * touching a vector byte: band buckets whose population exceeds
    * `maxBandFreq`, as the identity-free (bucket_size, n_keys,
    * worst_case_pairs) histogram of [[Similarity.bandBucketDrift]].
    * A dense region of near-identical (not bit-identical, so never
    * collapsed) vectors accreted through appends shows up here as
    * one bucket per band holding the region — the signal to pass
    * `maxBandFreq` to [[clusters]] (star-capped candidates, same
    * components for true near-dup cliques) or to re-cluster with a
    * tighter threshold. Unlike the text guard there is NOTHING to
    * refresh or persist: band keys derive row-locally from the frozen
    * signatures and the cap never skews a score (verification is
    * exact cosine either way), so drift telemetry and cap are both
    * pure reads of committed state.
    *
    * Cost: one scan of the fixed-width sigs relation + kilobyte
    * aggregation. The crash-window dropDuplicates keeps a live
    * duplicate segment from double-counting a bucket.
    */
  def guardDrift(
      s: SparkSession, path: String, maxBandFreq: Long,
      numBands: Int = 4): DataFrame =
    Similarity.bandBucketDrift(
      sigs(s, path).dropDuplicates("vec_id"),
      numPlanes(s, path), numBands, maxBandFreq)
}
