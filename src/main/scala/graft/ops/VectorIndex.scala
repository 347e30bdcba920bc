package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (coarse-quantizer) vector index — the ANN sibling of
  * [[LshIndex]]: the corpus side is k-means-partitioned ONCE and
  * written to parquet; query batches probe it without touching corpus
  * embeddings again. Together the two close the index-reuse story for
  * both modalities a training pipeline dedups/retrieves over: token
  * shingles ([[LshIndex]]) and embeddings (here).
  *
  * Index layout (parquet; `vectors`/`codes` are SEGMENTED via
  * [[IndexCommit]] — each `<path>/v=<id>/` holds one batch's delta
  * published by commit marker; readers union committed segments, so a
  * killed append is invisible and a running probe never sees partial
  * files):
  *   - `centroids` — (cell, cv: array<double>): the Lloyd-refined
  *     coarse quantizer. numCells rows — driver-resident by
  *     construction at any corpus size (numCells ~ √N is MBs).
  *     Build-owned and immutable between rebuilds (appends never move
  *     a centroid), outside the segment protocol.
  *   - `v=<id>/vectors` — (vec_id, cell, v): every indexed vector
  *     with its cell assignment. A production deployment would
  *     bucketBy(cell); plain parquet keeps the layout engine-portable
  *     and the probe's cell join is candidate-sized anyway.
  *   - `v=<id>/codes`   — (vec_id, cell, scale, q): the SQ8 serving
  *     copy.
  *
  * Scale: build is the [[Similarity.ivfTopK]] prefix (narrow argmax
  * assignment, zero vector shuffle; Lloyd means decimal-mediated and
  * bit-reproducible). Probe cost per batch is
  * O(batch · nprobe / numCells · N) candidate scores — the coarse-
  * quantizer economics — with centroids broadcast-joined (they ride
  * `typedLit` into the plan) and members joined on the cell key.
  */
object VectorIndex {

  /** Build the index over the embeddings at `dir` (optionally
    * restricted by `vecFilter`) and write it under `path`. Seeds are
    * the `numCells` lowest vec_ids of the (filtered) corpus — the
    * deterministic rule the DuckDB oracle mirrors with
    * `ORDER BY vec_id LIMIT n`.
    */
  def build(
      s: SparkSession, dir: String, path: String,
      numCells: Int = 16, lloydIters: Int = 2,
      vecFilter: Option[Column] = None
  ): Unit = {
    val emb = vecFilter
      .foldLeft(Similarity.load(s, dir).select(col("vec_id"), col("v")))(
        (d, f) => d.filter(f))
      .cache()
    try {
      val seeds = Similarity.seedCentroids(emb, numCells)
      val cents = (1 to lloydIters)
        .foldLeft(seeds)((c, _) => Similarity.lloydStep(emb, c))
      // rebuild = reset + base segment: destructive by contract (a
      // rebuild moves the quantizer every segment is assigned under,
      // so it runs on a fresh path or during downtime; APPEND is the
      // hot-path-safe operation)
      IndexCommit.reset(s, path)
      import s.implicits._
      cents.toDF("cell", "cv").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/centroids")
      writeSegment(s, path, emb, cents)
    } finally { emb.unpersist(); () }
  }

  /** Publish one segment: `vecs` (vec_id, v) assigned to the centroids
    * `cents`, as the float `vectors` and the SQ8 `codes` under ONE
    * marker, so the two serving copies can never drift apart.
    */
  private def writeSegment(
      s: SparkSession, path: String, vecs: DataFrame,
      cents: Seq[(Long, Seq[Double])]): Long =
    IndexCommit.publish(s, path) { (_, dir) =>
      Similarity.assignCells(vecs, "v", cents, 1)
        .select("vec_id", "cell", "v")
        .write.mode("overwrite").parquet(s"$dir/vectors")
      // SQ8 serving copy: same assignment, int8 codes instead of
      // floats — 4x smaller, and the ADC probe reads ONLY this file
      Similarity.assignCells(Similarity.withInt8Codes(vecs), "v", cents, 1)
        .select("vec_id", "cell", "scale", "q")
        .write.mode("overwrite").parquet(s"$dir/codes")
    }

  /** Fold every live delta segment into ONE full segment (`_FULL`
    * explicit-supersedes protocol, [[IndexCommit.commitFull]]) — the
    * [[LshIndex.compact]] economics for the vector index: each
    * [[append]] commits a segment, so a long ingestion feed grows
    * probe resolution and file counts until a compact rebounds them.
    * Vectors and codes land under ONE marker, as in [[append]].
    * Relation-idempotent; follow with
    * [[IndexCommit.vacuumSuperseded]] to reclaim superseded deltas.
    */
  def compact(s: SparkSession, path: String): Long =
    IndexCommit.compactDistinct(s, path, "vectors", "codes")

  /** Compact at a live-segment cadence ([[LshIndex.maybeCompact]]). */
  def maybeCompact(
      s: SparkSession, path: String, maxSegments: Int): Option[Long] =
    IndexCommit.maybeCompactWith(s, path, maxSegments)(compact(s, path))

  /** Fold a new batch of vectors (vec_id, v) into an existing index:
    * assign them to the PERSISTED centroids and append to `vectors`.
    * The quantizer deliberately stays the build corpus's — appending
    * never moves a centroid, so existing assignments stay valid and
    * the operation is append-only (same drift/compaction economics as
    * [[LshIndex.append]]: distribution drift degrades cell balance,
    * never correctness, and the periodic [[build]] re-fits). NOT
    * idempotent under replay — callers dedup upstream or track batch
    * ids.
    *
    * Atomic and concurrency-safe: the batch lands as a fresh segment
    * published by marker — a killed append's unmarked segment is
    * invisible forever, a running probe crosses the publish cleanly,
    * and concurrent appends commit disjoint segments with no lost
    * update. Vectors and codes publish under ONE marker, so the two
    * serving copies can never drift apart.
    */
  def append(s: SparkSession, path: String, batch: DataFrame): Unit =
    writeSegment(s, path, batch.select(col("vec_id"), col("v")),
      readCentroids(s, path))

  /** The persisted coarse quantizer, driver-resident (numCells rows by
    * construction).
    */
  def readCentroids(s: SparkSession, path: String): Seq[(Long, Seq[Double])] =
    s.read.parquet(s"$path/centroids")
      .select(col("cell").cast("long"), col("cv"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)

  /** Probe the index with a query batch (query_id, qv): cosine top-`k`
    * per query over the `nprobe` nearest cells. Ties and null algebra
    * match [[Similarity.ivfTopK]] (score desc, vec_id asc; zero-norm
    * cosines sort last).
    */
  def probe(
      s: SparkSession, path: String, queries: DataFrame,
      nprobe: Int = 4, k: Int = 10
  ): DataFrame = {
    val cents = readCentroids(s, path)
    val probes = Similarity.assignCells(
      queries.select(col("query_id"), col("qv")), "qv", cents, nprobe)
    val members = s.read.parquet(IndexCommit.liveDirs(
      s, path, "vector index segment").map(_ + "/vectors"): _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id"))
    probes.join(members, "cell")
      .select(col("query_id"), col("vec_id"),
        Similarity.cosine(col("v"), col("qv")).as("score"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"), col("score"),
        row_number().over(w).cast("int").as("rk"))
      .filter(col("rk") <= k)
  }

  /** ADC probe: identical probing to [[probe]] but candidates are
    * scored against their SQ8 codes — the `codes` parquet is the ONLY
    * corpus file touched (its ReadSchema carries int8 codes, never the
    * float vectors), which is the 4×-smaller serving footprint that
    * makes a 100 TB corpus RAM-feasible. For cosine the per-vector
    * dequantization factor cancels exactly (see
    * [[Similarity.ivfAdcTopK]]), so the score is the cosine against
    * the integer code vector.
    */
  def probeAdc(
      s: SparkSession, path: String, queries: DataFrame,
      nprobe: Int = 4, k: Int = 10
  ): DataFrame = {
    val cents = readCentroids(s, path)
    val probes = Similarity.assignCells(
      queries.select(col("query_id"), col("qv")), "qv", cents, nprobe)
    val members = s.read.parquet(IndexCommit.liveDirs(
      s, path, "vector index segment").map(_ + "/codes"): _*)
      .select(col("vec_id"), col("cell"),
        expr("transform(q, x -> CAST(x AS DOUBLE))").as("qd"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id"))
    probes.join(members, "cell")
      .select(col("query_id"), col("vec_id"),
        Similarity.cosine(col("qd"), col("qv")).as("score"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"), col("score"),
        row_number().over(w).cast("int").as("rk"))
      .filter(col("rk") <= k)
  }
}
