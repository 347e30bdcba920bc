package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Sketches

/** Continuous corpus-health sketching: arriving documents are folded
  * into HLL registers / a CMS counter grid one micro-batch at a time —
  * the streaming form of [[graft.ops.SketchIndex]]'s append path.
  *
  * Idempotence is by LAYOUT, not by merge algebra: each micro-batch
  * writes ITS OWN sketch state under `outPath/batch_id=<id>`
  * (overwrite per id), and readers merge across batch directories at
  * read time (register max / counter sum — both order-independent).
  * foreachBatch's at-least-once replay therefore overwrites the same
  * directory with the same deterministic content. For HLL the max
  * merge is idempotent anyway; for CMS the addition is NOT — the
  * per-batch staging is precisely what lets a replayed batch correct
  * itself instead of double-counting, the same per-batch-id discipline
  * every streaming twin in this engine uses.
  *
  * Out-of-order and concurrent-batch safety come free: both merges
  * are commutative and associative, so the read-side fold doesn't
  * care which order micro-batches landed in. State volume: each
  * batch directory is register/grid-sized (kilobytes), and a periodic
  * [[graft.ops.SketchIndex]] build compacts the history into one
  * committed version — the standard lambda split.
  */
object StreamingSketch {

  // ---- HLL ----------------------------------------------------------

  def hllStream(
      docs: DataFrame,
      outPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyHllBatch(batch, outPath, batchId)
    }

  /** One micro-batch: (over)write its register directory. Empty
    * batches still overwrite — a replayed batch that previously wrote
    * registers but now matches nothing must erase its stale state.
    * Package-visible so the spec can drive batches (and replays)
    * synchronously.
    */
  private[graft] def applyHllBatch(
      batch: DataFrame, outPath: String, batchId: Long): Unit =
    Sketches.hllRegistersOf(batch).write.mode("overwrite")
      .parquet(s"$outPath/batch_id=$batchId")

  /** The merged registers across everything that has arrived. */
  private[graft] def hllRegisters(
      s: SparkSession, outPath: String): DataFrame =
    s.read.parquet(outPath)
      .groupBy("source", "j").agg(max("mj").as("mj"))

  /** Finalized sketch rows — identical to
    * [[Sketches.hllDistinctShingles]] over the union of all arrived
    * batches (spec-pinned, including across a replay).
    */
  def hllSketch(s: SparkSession, outPath: String): DataFrame =
    Sketches.hllFinalize(hllRegisters(s, outPath))

  // ---- CMS ----------------------------------------------------------

  // CMS and KMV carry a SHAPE parameter ((depth, width) / k) that the
  // read-side merge must agree with the writer on: a reader re-ranking
  // per-batch TRUNCATED k-minima at a larger k than they were written
  // with would produce a sketch equal to neither the writer-k nor the
  // one-job result, silently. So both streams persist their shape in
  // a `meta` sidecar under outPath at first write (the
  // [[graft.ops.SketchIndex]] writeKmvMeta/cmsMeta discipline),
  // subsequent batches REQUIRE an identical shape, and readers take
  // the shape from the sidecar instead of trusting a caller. State
  // therefore lives under `outPath/state/batch_id=<id>` — a meta
  // directory next to bare `batch_id=` partitions would break
  // partition discovery. HLL has no shape parameter and keeps the
  // flat layout.

  def cmsStream(
      docs: DataFrame,
      outPath: String,
      checkpointDir: String,
      depth: Int = 4,
      width: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyCmsBatch(batch, outPath, depth, width, batchId)
    }

  /** The stream's frozen meta ints, or None if nothing durable yet.
    * Text sidecar going forward (no Spark job per micro-batch; write
    * is stage-then-rename, so a torn write reads as absent); streams
    * started before the text sidecar froze it as a one-row parquet
    * DIR, read via `legacyCols` — a zero-row dir (that format's torn
    * write) reads as no values, hence None.
    */
  private def readMetaVals(
      s: SparkSession, outPath: String,
      legacyCols: String*): Option[Seq[Int]] = {
    val p = new org.apache.hadoop.fs.Path(s"$outPath/meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(graft.ops.IndexCommit.readTextSidecar(
      s, p.toString, legacyCols: _*).map(_.toInt)).filter(_.nonEmpty)
  }

  private def writeMetaVals(
      s: SparkSession, outPath: String, vals: Seq[Int]): Unit =
    graft.ops.IndexCommit.writeTextSidecar(
      s, s"$outPath/meta", vals.map(_.toString))

  private[graft] def cmsMeta(
      s: SparkSession, outPath: String): (Int, Int) = {
    val v = readMetaVals(s, outPath, "depth", "width").getOrElse(
      sys.error(s"no CMS stream meta under $outPath — nothing written yet"))
    (v(0), v(1))
  }

  private def ensureCmsMeta(
      s: SparkSession, outPath: String, depth: Int, width: Int): Unit =
    readMetaVals(s, outPath, "depth", "width") match {
      case Some(Seq(d0, w0)) =>
        require(d0 == depth && w0 == width,
          s"CMS stream at $outPath was started with shape ${d0}x$w0; " +
            s"cannot fold batches at ${depth}x$width")
      // present-but-malformed meta (wrong line count — truncated, or
      // another sketch kind's sidecar) must FAIL, not silently
      // re-initialize past the shape guard; only None (nothing
      // durable yet) may write
      case Some(other) =>
        sys.error(s"malformed CMS stream meta under $outPath " +
          s"(${other.mkString(",")}) — expected 2 values (depth, width); " +
          "refusing to overwrite")
      case None => writeMetaVals(s, outPath, Seq(depth, width))
    }

  private[graft] def applyCmsBatch(batch: DataFrame, outPath: String,
      depth: Int, width: Int, batchId: Long): Unit = {
    ensureCmsMeta(batch.sparkSession, outPath, depth, width)
    Sketches.cmsGridOf(Sketches.cmsTokensOf(batch), depth, width)
      .write.mode("overwrite").parquet(s"$outPath/state/batch_id=$batchId")
  }

  /** The summed counter grid across everything that has arrived —
    * identical to one-pass [[Sketches.cmsGridOf]] over the union
    * (spec-pinned, including across a replay: a re-run batch
    * overwrites its own partition, so nothing double-counts). The
    * grid shape is whatever the WRITER persisted in the meta sidecar.
    */
  def cmsGrid(s: SparkSession, outPath: String): DataFrame = {
    cmsMeta(s, outPath) // loud failure on an un-written stream dir
    s.read.parquet(s"$outPath/state")
      .groupBy("i", "b").agg(sum("cnt").as("cnt"))
  }

  // ---- KMV ----------------------------------------------------------

  def kmvStream(
      docs: DataFrame,
      outPath: String,
      checkpointDir: String,
      k: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyKmvBatch(batch, outPath, k, batchId)
    }

  private[graft] def kmvK(s: SparkSession, outPath: String): Int =
    readMetaVals(s, outPath, "k").getOrElse(
      sys.error(s"no KMV stream meta under $outPath — nothing written yet")
    ).head

  private def ensureKmvMeta(
      s: SparkSession, outPath: String, k: Int): Unit =
    readMetaVals(s, outPath, "k") match {
      case Some(Seq(k0)) =>
        require(k0 == k,
          s"KMV stream at $outPath was started with k=$k0; " +
            s"cannot fold batches at k=$k")
      // same strictness as ensureCmsMeta: malformed ≠ absent
      case Some(other) =>
        sys.error(s"malformed KMV stream meta under $outPath " +
          s"(${other.mkString(",")}) — expected 1 value (k); " +
          "refusing to overwrite")
      case None => writeMetaVals(s, outPath, Seq(k))
    }

  /** One micro-batch: its own k-minima under `state/batch_id=<id>`.
    * The read-side re-rank makes the union's minima exact (KMV's
    * merge property), and the set semantics make replay a no-op like
    * HLL's max. First write persists `k` to the meta sidecar; later
    * batches must match it.
    */
  private[graft] def applyKmvBatch(
      batch: DataFrame, outPath: String, k: Int, batchId: Long): Unit = {
    ensureKmvMeta(batch.sparkSession, outPath, k)
    Sketches.kmvMinima(Sketches.kmvHashesOf(batch), k)
      .select("source", "h")
      .write.mode("overwrite").parquet(s"$outPath/state/batch_id=$batchId")
  }

  /** Finalized sketch rows — identical to
    * [[Sketches.kmvDistinctTokens]] over the union of all arrived
    * batches (spec-pinned, including across a replay). `k` comes from
    * the WRITER's persisted meta: per-batch minima are truncated at
    * the writer's k, so re-ranking at any larger k would be a sketch
    * equal to nothing well-defined — the reader has no k to choose.
    */
  def kmvSketch(s: SparkSession, outPath: String): DataFrame = {
    val k = kmvK(s, outPath)
    Sketches.kmvFinalize(
      Sketches.kmvMinima(
        s.read.parquet(s"$outPath/state")
          .select("source", "h").distinct(), k), k)
  }
}
