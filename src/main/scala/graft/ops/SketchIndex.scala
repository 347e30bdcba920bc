package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The cardinality/frequency sketches as PERSISTED, versioned indexes
  * — the [[BloomIndex]]/[[KnIndex]] economics applied to
  * [[Sketches]]: sketch the reference corpus once, freeze the tiny
  * state (registers / counter grid — kilobytes at ANY corpus size),
  * and fold arriving batches in WITHOUT re-reading the corpus. This
  * is what makes corpus-health telemetry (distinct-shingle mass,
  * heavy-hitter drift) a per-batch cost instead of a per-batch rescan
  * at 100 TB.
  *
  * Both merges are the sketches' own union semantics, so the
  * append path is BIT-IDENTICAL to one-job-over-the-union
  * (spec-pinned, and both index queries share their one-job query's
  * DuckDB oracle):
  *   - HLL: per-register MAX. Max is idempotent — re-appending the
  *     same batch is harmless (the Bloom filter's monotonicity
  *     argument), so at-least-once delivery needs no dedup.
  *   - CMS: per-cell ADD. Addition is NOT idempotent — appends must
  *     be exactly-once. The streaming twin
  *     ([[graft.streaming.StreamingSketch]]) restores idempotence by
  *     staging per-batch-id grids and summing at read, so a replayed
  *     micro-batch overwrites itself instead of double-counting.
  *
  * Layout under each index root ([[IndexCommit]] marker protocol — a
  * torn publish is invisible, versions are additive, old versions
  * keep answering until vacuum):
  * {{{
  *   hll:  v=<id>/regs   (source, j, mj) parquet   ≤ sources·1024 rows
  *   cms:  v=<id>/grid   (i, b, cnt) parquet       d·w rows
  *         meta          (depth, width) — build-owned, append/probe
  *                       refuse a mismatched grid shape
  * }}}
  */
object SketchIndex {

  /** Publish `state` as the one relation `rel` of a new version. */
  private def publish(
      s: SparkSession, path: String, rel: String, state: DataFrame): Long =
    IndexCommit.publish(s, path) { (_, dir) =>
      state.write.mode("overwrite").parquet(s"$dir/$rel")
    }

  /** Relation `rel` of the current committed version. */
  private def load(
      s: SparkSession, path: String, what: String, rel: String): DataFrame =
    s.read.parquet(s"${IndexCommit.requireCurrent(s, path, what)}/$rel")

  // ---- HLL ----------------------------------------------------------

  /** Sketch `docs` and publish version 0's register relation. */
  def buildHll(s: SparkSession, docs: DataFrame, path: String): Long =
    publish(s, path, "regs", Sketches.hllRegistersOf(docs))

  /** Fold a batch into the current registers by per-register max and
    * publish the merge as a new version. Returns the committed id.
    */
  def appendHll(s: SparkSession, path: String, batch: DataFrame): Long =
    // read-modify-write: serialize appenders or the later commit's
    // registers miss the earlier batch's maxima (IndexCommit.withLock,
    // the ClusterIndex.append convention)
    IndexCommit.withLock(s, path, "append.lock") {
      publish(s, path, "regs",
        load(s, path, "HLL index", "regs")
          .unionByName(Sketches.hllRegistersOf(batch))
          .groupBy("source", "j").agg(max("mj").as("mj")))
    }

  /** Finalize the CURRENT committed registers — identical rows to
    * [[Sketches.hllDistinctShingles]] over everything ever folded in.
    */
  def hllSketch(s: SparkSession, path: String): DataFrame =
    Sketches.hllFinalize(load(s, path, "HLL index", "regs"))

  // ---- CMS ----------------------------------------------------------

  /** Grid-shape sidecar: build-owned (outside the version protocol,
    * immutable for the index's lifetime) — an append or probe with a
    * different (depth, width) would silently mis-bucket, so both load
    * and `require` it.
    */
  private def writeCmsMeta(
      s: SparkSession, path: String, depth: Int, width: Int): Unit =
    IndexCommit.writeTextSidecar(s, s"$path/meta",
      Seq(depth, width).map(_.toString))

  /** The grid shape; pre-r13 builds froze it as a one-row parquet
    * DIRECTORY, which the sidecar reader still reads.
    */
  private def cmsMeta(s: SparkSession, path: String): (Int, Int) = {
    val lines =
      IndexCommit.readTextSidecar(s, s"$path/meta", "depth", "width")
    (lines(0).toInt, lines(1).toInt)
  }

  def buildCms(s: SparkSession, docs: DataFrame, path: String,
      depth: Int = 4, width: Int = 64): Long = {
    require(depth >= 1 && width >= 2, s"bad CMS shape: $depth x $width")
    writeCmsMeta(s, path, depth, width)
    publish(s, path, "grid",
      Sketches.cmsGridOf(Sketches.cmsTokensOf(docs), depth, width))
  }

  /** Fold a batch into the current grid by per-cell addition and
    * publish the sum as a new version. Exactly-once by contract (see
    * the object doc); returns the committed id.
    */
  def appendCms(s: SparkSession, path: String, batch: DataFrame): Long =
    // serialized like appendHll — lost-update on the grid otherwise
    IndexCommit.withLock(s, path, "append.lock") {
      val (depth, width) = cmsMeta(s, path)
      publish(s, path, "grid",
        load(s, path, "CMS index", "grid")
          .unionByName(
            Sketches.cmsGridOf(Sketches.cmsTokensOf(batch), depth, width))
          .groupBy("i", "b").agg(sum("cnt").as("cnt")))
    }

  /** Estimate the probe tokens' counts off the CURRENT committed grid
    * — identical rows to [[Sketches.cmsHeavyHitters]]'s probe stage
    * when `top` is the same (rank, tok, exact_cnt) relation.
    */
  def cmsProbe(s: SparkSession, path: String, top: DataFrame): DataFrame = {
    val (depth, width) = cmsMeta(s, path)
    Sketches.cmsProbe(load(s, path, "CMS index", "grid"), top, depth, width)
  }

  // ---- KMV ----------------------------------------------------------

  /** KMV completes the persisted-sketch family: the state is the
    * per-source k-minima set (≤ k·sources hash rows), the merge is
    * "k smallest of the union of the parts' minima" — a set union +
    * re-rank, idempotent like the HLL max (re-appending the same batch
    * adds nothing new to a set), so at-least-once delivery is safe.
    * `k` lives in a build-owned meta sidecar like the CMS grid shape.
    */
  private def writeKmvMeta(s: SparkSession, path: String, k: Int): Unit =
    IndexCommit.writeTextSidecar(s, s"$path/meta", Seq(k.toString))

  private def kmvK(s: SparkSession, path: String): Int =
    IndexCommit.readTextSidecar(s, s"$path/meta", "k").head.toInt

  def buildKmv(s: SparkSession, docs: DataFrame, path: String,
      k: Int = 64): Long = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    writeKmvMeta(s, path, k)
    publish(s, path, "minima",
      Sketches.kmvMinima(Sketches.kmvHashesOf(docs), k).select("source", "h"))
  }

  /** Union the batch's minima into the current state, re-rank, publish
    * as a new version. Returns the committed id.
    */
  def appendKmv(s: SparkSession, path: String, batch: DataFrame): Long =
    // serialized like appendHll — lost-update on the minima otherwise
    IndexCommit.withLock(s, path, "append.lock") {
      val k = kmvK(s, path)
      publish(s, path, "minima",
        Sketches.kmvMinima(
          load(s, path, "KMV index", "minima")
            .unionByName(
              Sketches.kmvMinima(Sketches.kmvHashesOf(batch), k)
                .select("source", "h"))
            .distinct(), k)
          .select("source", "h"))
    }

  /** Finalize the CURRENT committed minima — identical rows to
    * [[Sketches.kmvDistinctTokens]] over everything ever folded in.
    */
  def kmvSketch(s: SparkSession, path: String): DataFrame = {
    val k = kmvK(s, path)
    Sketches.kmvFinalize(
      Sketches.kmvMinima(load(s, path, "KMV index", "minima"), k), k)
  }
}
