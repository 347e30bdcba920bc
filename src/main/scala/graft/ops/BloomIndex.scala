package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted Bloom decontamination filter — the storage half of
  * continuous benchmark hygiene, completing the index symmetry with
  * [[LshIndex]] (near-dup) and [[VectorIndex]] (ANN): eval suites are
  * ingested ONCE into an mBits-bit filter on disk, and every arriving
  * corpus batch probes it without touching benchmark text again.
  *
  * Index layout (versioned via [[IndexCommit]] — every
  * `<path>/v=<id>/` is a COMPLETE snapshot, published by marker, and
  * readers resolve the max committed id):
  *   - `v=<id>/words` — (w, bits): the filter as mBits/64 packed
  *     64-bit words, DENSE (every word index present, zeros included)
  *     so the on-disk layout is fixed-size and byte-stable at any
  *     content.
  *   - `v=<id>/meta`  — text sidecar (n_gram, m_bits, k_hash): the hash
  *     configuration, read back at probe/append time so neither can
  *     ever run with a mismatched gram width, filter size, or hash
  *     count — any of which would silently zero the hit rate.
  * Full snapshots are the right versioning unit here because a
  * version is mBits/8 bytes at ANY benchmark size — rewriting it per
  * publish is free, and every publish doubles as compaction.
  *
  * Append is where the Bloom representation earns the index form:
  * set-membership unions are exactly word-wise OR, so
  * `append(build(A), B)` produces the same words as `build(A ∪ B)`
  * bit-for-bit — no rebuild, no approximation creep, and the oracle
  * for the incremental query is the one-job query's oracle unchanged
  * (the equality LSH index appends can only claim under
  * guard-coincidence caveats is EXACT here). The filter never grows:
  * a production deployment sizes mBits for the final expected gram
  * count up front (false-positive rate degrades gracefully toward
  * saturation, never correctness — the one-sided guarantee is
  * load-independent).
  *
  * Scale: the index is mBits/8 bytes at ANY benchmark size — the
  * whole point. Both append sides and the probe's filter side are
  * driver-bounded by construction (mBits/64 longs), so the
  * `collect`s here are 8 KB, not data; the probed batch is the only
  * corpus-proportional relation and it never shuffles
  * ([[Dedup.bloomProbe]] is a broadcast + per-row codegen'd call).
  */
object BloomIndex {

  final case class Meta(nGram: Int, mBits: Int, kHash: Int)

  /** The current committed version's dir — loud failure on an index
    * with no committed version (never built, or killed mid-build:
    * either way there is nothing safe to probe).
    */
  private def cur(s: SparkSession, path: String): String =
    IndexCommit.requireCurrent(s, path, "bloom index version")

  def readMeta(s: SparkSession, path: String): Meta =
    metaIn(s, cur(s, path))

  /** One version's hash-config sidecar; pre-r13 versions wrote it as
    * a one-row parquet dir — read those too.
    */
  private def metaIn(s: SparkSession, dir: String): Meta = {
    val lines = IndexCommit.readTextSidecar(s, s"$dir/meta",
      "n_gram", "m_bits", "k_hash")
    Meta(lines(0).toInt, lines(1).toInt, lines(2).toInt)
  }

  /** Write a complete filter snapshot (words + meta) into version dir
    * `dir`. Because every version is self-contained at mBits/8 bytes,
    * the full-snapshot form costs the same as a delta would — each
    * publish is also a compaction.
    */
  private def writeVersion(
      s: SparkSession, dir: String,
      words: Seq[(Long, Long)], n: Int, mBits: Int, kHash: Int): Unit = {
    import s.implicits._
    words.toDF("w", "bits").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/words")
    // driver-known scalars → text sidecar (no Spark job per probe)
    IndexCommit.writeTextSidecar(s, s"$dir/meta",
      Seq(n, mBits, kHash).map(_.toString))
  }

  /** Ingest the benchmark documents (`doc_id`, `text`) into a fresh
    * filter version at `path`. Crash-safe: the new version only
    * becomes visible with its commit marker, so a killed build leaves
    * either no index (fresh path — probes fail loudly) or the
    * previous version (existing path — probes keep answering from it).
    */
  def build(
      s: SparkSession, bench: DataFrame, path: String,
      n: Int = 8, mBits: Int = 1 << 16, kHash: Int = 4): Unit = {
    require(mBits % 64 == 0 && kHash >= 1 && kHash <= 8,
      s"kHash must be in [1, 8]: $kHash (see Dedup.bloomWords overflow note)")
    val sparse = Dedup.bloomWords(Dedup.bloomGramSets(bench, n), mBits, kHash)
      .collect().map(r => r.getAs[Long]("w") -> r.getAs[Long]("bits")).toMap
    // dense layout: every word present, zeros included
    val dense = (0L until (mBits / 64).toLong)
      .map(w => (w, sparse.getOrElse(w, 0L)))
    IndexCommit.publish(s, path) { (_, dir) =>
      writeVersion(s, dir, dense, n, mBits, kHash)
    }
  }

  /** Fold additional benchmark documents into the filter: word-wise OR
    * into a NEW version, bit-identical to having built from the union.
    * The read side (current version's words, mBits/8 bytes — bounded
    * by construction, not by data) is never overwritten: probes
    * resolve the old version until the new marker lands, so a killed
    * append can never leave a missing or partial filter, and a
    * concurrently-running streaming probe crosses the publish without
    * ever seeing torn files.
    *
    * Appends serialize behind the root writer lock
    * ([[IndexCommit.withLock]], the [[ClusterIndex.append]]
    * convention): two appends racing from the same base version would
    * each publish a union missing the other's bits (the lost-update
    * anomaly full snapshots can't merge away). The stale-base check
    * stays as defense-in-depth (it catches a writer that slipped past
    * a broken stale lock) and still fails LOUDLY rather than
    * publishing silently.
    */
  def append(s: SparkSession, batch: DataFrame, path: String): Unit =
    IndexCommit.withLock(s, path, "append.lock") {
      appendLocked(s, batch, path)
    }

  private def appendLocked(
      s: SparkSession, batch: DataFrame, path: String): Unit = {
    val baseIds = IndexCommit.committedIds(s, path)
    require(baseIds.nonEmpty, s"no committed bloom index version at $path")
    val base = baseIds.last
    val meta = readMeta(s, path)
    val old = s.read
      .parquet(s"${IndexCommit.versionDir(path, base)}/words").collect()
      .map(r => r.getAs[Long]("w") -> r.getAs[Long]("bits")).toMap
    val add = Dedup.bloomWords(
      Dedup.bloomGramSets(batch, meta.nGram), meta.mBits, meta.kHash)
      .collect().map(r => r.getAs[Long]("w") -> r.getAs[Long]("bits")).toMap
    IndexCommit.publish(s, path) { (_, dir) =>
      val merged = (0L until (meta.mBits / 64).toLong)
        .map(w => (w, old.getOrElse(w, 0L) | add.getOrElse(w, 0L)))
      if (IndexCommit.committedIds(s, path).last != base)
        throw new IllegalStateException(
          s"concurrent append detected at $path: base v=$base is no " +
            "longer current — retry from the new version (bits published " +
            "by the winner would otherwise be lost)")
      writeVersion(s, dir, merged, meta.nGram, meta.mBits, meta.kHash)
    }
  }

  /** Probe a corpus batch (`doc_id`, `text`) against the persisted
    * filter: per doc, the count of benchmark-positive n-grams and the
    * contaminated verdict — same schema and semantics as
    * [[Dedup.bloomContamination]]'s probe half. Reads one committed
    * version for both meta and words (a torn meta/words pair across a
    * concurrent publish is impossible by construction).
    */
  def probe(s: SparkSession, path: String, batch: DataFrame): DataFrame = {
    val dir = cur(s, path)
    val meta = metaIn(s, dir)
    val dense = Dedup.bloomDenseRow(
      s.read.parquet(s"$dir/words").select("w", "bits"), meta.mBits)
    Dedup.bloomProbe(
      Dedup.bloomGramSets(batch, meta.nGram), dense, meta.kHash)
  }
}
