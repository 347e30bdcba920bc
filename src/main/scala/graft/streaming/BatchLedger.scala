package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.ops.IndexCommit

/** Applied-batch-id ledger: zero-length markers under
  * `<root>/stream_ledger/<batchId>` — the [[graft.ops.IndexCommit]]
  * marker economics applied to micro-batch ids. Every stream whose
  * per-batch apply is NOT naturally idempotent uses it, so it is
  * exactly-once under foreachBatch's at-least-once replay (a replayed
  * id skips the apply entirely):
  *   - the segment-union ingestion streams, each of whose appends adds
  *     a segment ([[StreamingDedup]] over [[graft.ops.LshIndex]],
  *     [[StreamingSigDedup]] over [[graft.ops.SigIndex]],
  *     [[StreamingSimIngest]] over [[graft.ops.SimSigIndex]],
  *     [[StreamingAnn]] over [[graft.ops.VectorIndex]]), including
  *     their probe-then-ingest forms;
  *   - [[StreamingCluster]], whose [[graft.ops.ClusterIndex.append]]
  *     publishes an assignment version per call;
  *   - [[StreamingSnapshot]] and [[StreamingExport]], whose publishes
  *     each land a [[graft.ops.CorpusSnapshot]] version.
  *
  * The crash window (apply committed, marker not yet written) is the
  * streams' documented SAFE degrade: a re-applied batch stages a
  * duplicate segment or version, which for every stream here inflates
  * candidates or chain length without changing verified answers
  * (probe outputs are `distinct` over verified pairs,
  * [[StreamingCluster]]'s label merge is a fixpoint, and snapshot
  * resolution is last-writer-wins) — spec-pinned per stream by
  * replaying with the marker removed.
  *
  * Scale: one `exists` + one `createNewFile` of an empty marker per
  * micro-batch — O(1) metadata calls, nothing data-proportional.
  */
private[graft] object BatchLedger {

  /** Default marker-retention window for [[prune]] — the assumed
    * MAXIMUM replay depth: foreachBatch re-delivers ids at or after
    * the checkpoint's last uncommitted batch (reach-back of one,
    * maybe two ids in practice), so 64 is a ~32× margin. The one
    * operation that can exceed it is a checkpoint ROLLED BACK (or
    * hand-edited) more than 64 batches behind the ledger head: its
    * replayed ids would be pruned already and re-apply as duplicate
    * segments until compaction collapses them. Operators planning
    * deeper rollbacks widen the window via the `ledgerKeepLast` knob
    * on [[cadence]]/[[ingest]] and the stream entry points that
    * expose it.
    */
  val DefaultKeepLast: Int = 64

  private def path(root: String, batchId: Long): Path =
    new Path(s"$root/stream_ledger/$batchId")

  def has(s: SparkSession, root: String, batchId: Long): Boolean = {
    val p = path(root, batchId)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  def mark(s: SparkSession, root: String, batchId: Long): Unit = {
    val p = path(root, batchId)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    fs.createNewFile(p)
  }

  /** Run `body` at most once per batch id: skip when the ledger holds
    * the id, mark after `body` returns. The crash window (body's
    * effects durable, marker unwritten) is each caller's documented
    * safe degrade.
    */
  def appliedOnce(
      s: SparkSession, root: String, batchId: Long)(body: => Unit): Unit =
    if (!has(s, root, batchId)) {
      body
      mark(s, root, batchId)
    }

  /** The shared ingestion-micro-batch shape: ledger-guard, skip empty
    * batches (an empty append would commit a contentless segment or
    * version per replayed empty trigger), run `append`, then fire
    * [[cadence]]. The cadence is EFFECTIVELY outside the ledger
    * (compact is relation-idempotent — a replay that skips it loses
    * nothing but deferral; the next batch's cadence re-checks the same
    * live count).
    */
  def ingest(
      s: SparkSession, indexPath: String, batchId: Long,
      batchIsEmpty: => Boolean, family: Family,
      maxSegments: Option[Int], vacuumKeepGens: Option[Int],
      ledgerKeepLast: Int = DefaultKeepLast)(
      append: => Unit)(
      maybeCompact: Int => Option[Long]): Unit = {
    family.check(maxSegments, vacuumKeepGens, ledgerKeepLast)
    appliedOnce(s, indexPath, batchId) {
      if (!batchIsEmpty) {
        append
        cadence(s, indexPath, family, maxSegments, vacuumKeepGens,
          ledgerKeepLast)(maybeCompact)
      }
    }
  }

  /** How an index family is maintained on the [[cadence]]: the vacuum
    * it runs after a compact, and the smallest compact bound and
    * vacuum keep that its `maybeCompact` and `vacuum` accept.
    */
  final case class Family(
      vacuum: (SparkSession, String, Int) => Seq[Long],
      minCompact: Int, minKeep: Int) {

    /** Reject maintenance values the cadence would refuse only AFTER
      * a batch is appended: the append commits, the cadence throws,
      * the ledger never marks the id, and every restart appends the
      * batch again and dies the same way. [[ingest]] runs this before
      * its append, and every maintain, ingest or export entry point
      * before its query starts.
      */
    def check(
        compactAt: Option[Int], vacuumKeep: Option[Int],
        ledgerKeepLast: Int = DefaultKeepLast): Unit = {
      compactAt.foreach(n => require(n >= minCompact,
        s"compact cadence must be at least $minCompact, got $n"))
      vacuumKeep.foreach(k => require(k >= minKeep,
        s"vacuum keep must be at least $minKeep, got $k"))
      require(ledgerKeepLast >= 1, "ledgerKeepLast must be positive")
    }
  }

  /** Segment-union indexes: a compact needs two live segments, and
    * the generations-graced [[graft.ops.IndexCommit.vacuumSuperseded]]
    * may keep none.
    */
  val Segments = Family(IndexCommit.vacuumSuperseded, 2, 0)

  /** [[graft.ops.ClusterIndex]] versions: a compact needs two versions;
    * the positional [[graft.ops.IndexCommit.vacuum]] (safe right after
    * a compact, whose version is FULL) keeps at least one.
    */
  val ClusterVersions = Family(IndexCommit.vacuum, 2, 1)

  /** [[graft.ops.CorpusSnapshot]] delta chains: a compact may fire at
    * one delta; the positional vacuum keeps at least one version.
    */
  val SnapshotChain = Family(IndexCommit.vacuum, 1, 1)

  /** Retire markers older than the newest `keepLast` batch ids.
    *
    * Without pruning the ledger grows one empty file per micro-batch
    * forever — a year of 10 s triggers is ~3 M files in one directory,
    * a real namenode/listing liability on the index filesystem even
    * though each marker is zero bytes. Pruning is safe because
    * foreachBatch's at-least-once replay only re-delivers ids at or
    * after the checkpoint's last UNCOMMITTED batch — by the time a
    * marker is `keepLast` batches old, the checkpoint has committed
    * far past it and the id can never be offered again. `keepLast`
    * defaults far above any real replay depth (replays reach back
    * one, maybe two ids) so the margin costs nothing.
    *
    * O(listing) once per call; callers invoke it on the COMPACT
    * cadence ([[cadence]]), not per batch, so the listing itself is
    * amortized over `maxSegments` micro-batches.
    */
  def prune(
      s: SparkSession, root: String,
      keepLast: Int = DefaultKeepLast): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be positive")
    val dir = new Path(s"$root/stream_ledger")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else {
      val ids = fs.listStatus(dir).toSeq
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
        .sorted
      val drop = ids.dropRight(keepLast)
      drop.foreach(id => fs.delete(path(root, id), false))
      drop
    }
  }

  /** The compact-cadence tail of [[ingest]], reusable where the batch
    * body has extra legs (the probe-then-ingest streams, the export
    * stream): fire the index's `maybeCompact` at the live-segment
    * bound, then the family's vacuum with `vacuumKeepGens`, then the
    * marker prune — all three maintenance legs share one cadence so a
    * long-lived stream bounds segments, superseded disk, AND ledger
    * file count together.
    */
  def cadence(
      s: SparkSession, indexPath: String, family: Family,
      maxSegments: Option[Int], vacuumKeepGens: Option[Int],
      ledgerKeepLast: Int = DefaultKeepLast)(
      maybeCompact: Int => Option[Long]): Unit =
    maxSegments.foreach { ms =>
      maybeCompact(ms).foreach { _ =>
        vacuumKeepGens.foreach(family.vacuum(s, indexPath, _))
        prune(s, indexPath, ledgerKeepLast)
      }
    }
}
