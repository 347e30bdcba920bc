package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.col

/** Commit-marker versioning for the engine's persisted state: writers
  * stage a complete `v=<id>` directory and only then create a
  * zero-length marker under `commits/<id>`; readers resolve the
  * committed id set and never list data directories directly. The
  * callers: the segment-union indexes ([[LshIndex]], [[SigIndex]],
  * [[SimSigIndex]], [[SubstrIndex]], [[VectorIndex]]), the
  * full-snapshot indexes ([[BloomIndex]], [[SketchIndex]],
  * [[KnIndex]]), the partial-version [[ClusterIndex]], and the
  * [[CorpusSnapshot]] versions an export publishes. They go through
  * [[publish]], [[liveDirs]], [[requireCurrent]] and
  * [[compactDistinct]], so the rule "no marker unless the version is
  * complete" lives here alone. Replaces the in-place
  * `mode("overwrite")`/`mode("append")` writes, whose torn states
  * (missing `words` mid-overwrite, half a batch's part-files visible
  * to a concurrently-running streaming probe) were the one crash
  * hazard the engine had left.
  *
  * Why markers instead of [[graft.streaming.StreamingMerge]]'s
  * stage-then-swap: the swap pattern exists to REPLACE a relation in
  * place, so it needs two renames (target aside, stage in) and
  * read-side recovery of a swap stopped between them. Index publishes
  * are ADDITIVE — a new version never invalidates the previous one —
  * so the marker design has no unsafe window at all: a reader between
  * "data written" and "marker created" simply resolves the previous
  * committed id, and a writer killed at ANY point leaves either the
  * old index (no marker → staged files invisible forever) or the new
  * one (marker durable → data was already complete). This is the same
  * commit-log economics as a table format's snapshot pointer, shrunk
  * to the two operations indexes need.
  *
  * Reservation (`locks/<id>`, atomic create-new) keeps concurrent
  * writers off the same staging directory: each writer owns the id it
  * won and retries upward on collision. Orphaned reservations from
  * killed writers permanently retire their id — readers only consult
  * `commits/`, so a skipped id is invisible.
  *
  * Layout under the index root:
  * {{{
  *   commits/<id>   zero-length markers; max id = current version
  *   locks/<id>     reservations (superset of commits)
  *   v=<id>/...     the staged relations for id
  *   <immutable>    build-owned relations outside the protocol
  *                  (meta, hot, centroids) — see the callers
  * }}}
  *
  * Scale: marker and reservation operations are O(1) metadata calls;
  * `committedIds` is one directory listing of integer-named empty
  * files. Nothing here touches data volume.
  */
object IndexCommit {

  private def hfs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  def versionDir(path: String, id: Long): String = s"$path/v=$id"

  private def idsIn(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)

  /** Ids whose marker exists — every one names a complete `v=<id>`. */
  def committedIds(s: SparkSession, path: String): Seq[Long] =
    idsIn(hfs(s, path), new Path(s"$path/commits")).sorted

  /** The current version's data dir, or None for an index that has no
    * committed version (never built, or killed mid-build).
    */
  def currentDir(s: SparkSession, path: String): Option[String] =
    committedIds(s, path).lastOption.map(versionDir(path, _))

  private def noneCommitted(what: String, path: String) =
    new IllegalStateException(s"no committed $what at $path")

  /** [[currentDir]] for readers that need a version: throws
    * `no committed <what> at <path>` when there is none.
    */
  def requireCurrent(s: SparkSession, path: String, what: String): String =
    currentDir(s, path).getOrElse(throw noneCommitted(what, path))

  /** Whether `fs` resolves to the driver's local disk. Classified by
    * the RESOLVED filesystem, not the raw URI: a scheme-less path
    * under `fs.defaultFS=hdfs://...` resolves remote, and treating it
    * as local would create lock/reservation files via NIO on the
    * driver while every other operation (mkdirs, stat, delete) goes
    * through the Hadoop FileSystem — mutual exclusion silently void.
    */
  private def isLocalFs(fs: FileSystem): Boolean =
    fs.getUri.getScheme == "file"

  /** Atomic create-new, the primitive both [[reserve]] and
    * [[withLock]] acquire through. Hadoop's
    * `LocalFileSystem.createNewFile` is check-then-act (two same-host
    * PROCESSES can both "win" — a JVM monitor can't help), so local
    * filesystems go through NIO `createFile` (O_EXCL, atomic on
    * POSIX); everything else gets `create(overwrite=false)`, which
    * HDFS-like filesystems serialize at the namenode. The path is
    * qualified against `fs` first so the NIO leg and the Hadoop legs
    * always name the same file. Returns false when the file already
    * exists (lost the race).
    */
  private def atomicCreate(fs: FileSystem, p: Path): Boolean =
    try {
      val q = fs.makeQualified(p)
      if (isLocalFs(fs))
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(q.toUri.getPath))
      else fs.create(q, false).close()
      true
    } catch { case _: java.io.IOException => false }

  /** Reserve the next id: atomically create `locks/<id>`, scanning
    * upward past ids other writers (live or dead) already own.
    */
  def reserve(s: SparkSession, path: String): Long = {
    val fs = hfs(s, path)
    val locks = new Path(s"$path/locks")
    fs.mkdirs(locks)
    var id = (idsIn(fs, locks) ++ committedIds(s, path))
      .foldLeft(-1L)(math.max) + 1
    while (!atomicCreate(fs, new Path(locks, id.toString))) id += 1
    id
  }

  /** Publish a reserved id: the marker is created only after the
    * caller finished writing `v=<id>`, so a committed id is always a
    * complete directory.
    */
  def commit(s: SparkSession, path: String, id: Long): Unit = {
    val fs = hfs(s, path)
    val commits = new Path(s"$path/commits")
    fs.mkdirs(commits)
    fs.create(new Path(commits, id.toString), false).close()
  }

  /** The one writer protocol: reserve an id, run `write` on that
    * version (its id and its `v=<id>` dir), then commit the marker.
    * If `write` throws, no marker is written and the id stays retired.
    * Returns the committed id.
    */
  def publish(s: SparkSession, path: String)(
      write: (Long, String) => Unit): Long = {
    val id = reserve(s, path)
    write(id, versionDir(path, id))
    commit(s, path, id)
    id
  }

  /** Write a tiny metadata sidecar (version part-lists, frozen layout
    * scalars) as ONE text file via the driver's FileSystem handle —
    * no Spark job on either side. These values are driver-known
    * scalars; round-tripping them through a one-row parquet write +
    * a read job costs two cluster round-trips per access, which
    * dominated the small-fixture latency of partial-version appends
    * (each resolves several sidecars). One line per element, UTF-8,
    * atomically visible under the caller's commit-marker protocol
    * (the sidecar lands inside `v=<id>` before the marker).
    */
  def writeTextSidecar(
      s: SparkSession, path: String, lines: Seq[String]): Unit = {
    val fs = hfs(s, path)
    val p = new Path(path)
    fs.mkdirs(p.getParent)
    // stage-then-rename: a writer killed mid-write leaves a .tmp
    // file, never a half-written sidecar at the published name
    // (readers outside a commit-marker protocol — the streaming
    // sketch meta — treat an absent sidecar as "nothing yet")
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // Replace semantics: only a legacy one-row parquet DIRECTORY
    // (pre-r13 layout) is cleared up front — rename cannot replace a
    // directory on any filesystem. A plain FILE at the published name
    // is replaced by the rename itself where the filesystem supports
    // atomic replace (POSIX rename(2) on local disks): deleting it
    // first would open a window where a concurrent reader sees the
    // sidecar ABSENT, and readers outside the commit-marker protocol
    // (StreamingSketch meta) treat absence as "nothing written yet" —
    // a racing ensure*Meta could then silently re-initialize the
    // shape meta past its own guard.
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      fs.delete(p, true)
    if (!fs.rename(tmp, p)) {
      // filesystems whose rename refuses to replace an existing
      // destination (HDFS semantics): fall back to delete+rename.
      // The absence window returns, but only on filesystems that
      // offer no atomic file replace at all — and only for sidecars
      // being REWRITTEN, which the commit-marker protocol's sidecars
      // never are mid-read.
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        sys.error(s"could not publish sidecar $p")
    }
  }

  /** Read a [[writeTextSidecar]] file: the lines, empty-file → Nil.
    *
    * Before the text format, sidecars were one-row parquet
    * DIRECTORIES. A reader that knows such a layout names its columns
    * in `legacyCols` and gets their non-null values as strings, in row
    * then column order; a zero-row or unreadable directory (that
    * format's torn write) reads as Nil. A directory read without
    * `legacyCols` is rejected: that sidecar never had a parquet form.
    */
  def readTextSidecar(
      s: SparkSession, path: String, legacyCols: String*): Seq[String] = {
    val fs = hfs(s, path)
    if (fs.getFileStatus(new Path(path)).isDirectory) {
      require(legacyCols.nonEmpty, s"$path is a directory, not a sidecar")
      try s.read.parquet(path).select(legacyCols.map(col): _*).collect()
        .toSeq.flatMap(r =>
          legacyCols.indices.filterNot(r.isNullAt).map(r.get(_).toString))
      catch { case _: AnalysisException => Nil }
    } else {
      val in = fs.open(new Path(path))
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        val text = new String(bytes.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8)
        if (text.isEmpty) Nil else text.split("\n", -1).toSeq
      } finally in.close()
    }
  }

  /** FULL-segment marker for segment-UNION indexes ([[LshIndex]],
    * [[SigIndex]], [[SimSigIndex]], [[SubstrIndex]]): their committed
    * versions are DELTAS that readers union, so a compaction cannot
    * simply add the union as another segment — between that commit
    * and any cleanup, readers would see every document TWICE (which
    * deduplicating probes shrug off but [[LshIndex.probe]]'s
    * set-attach join would turn into duplicated output rows). The
    * `_FULL` file inside `v=<id>` (written BEFORE the commit marker,
    * so it appears atomically with the version) declares "this
    * version supersedes everything older": [[liveIds]] resolves to
    * the newest FULL version plus every version after it, so the
    * moment a compact's marker lands, older deltas stop being read —
    * no double-visibility window, no torn state on a killed compact
    * (unmarked staging is invisible as ever). Versions older than the
    * newest FULL are then safe to [[vacuum]] (their data lives in the
    * full segment), with the usual in-flight-reader grace.
    */
  private def fullFlag(path: String, id: Long): Path =
    new Path(s"${versionDir(path, id)}/_FULL")

  /** Declare version `id` FULL, superseding exactly the listed ids —
    * an EXPLICIT list rather than "everything positionally older",
    * because id order is reservation order, not commit order: an
    * appender that reserved a lower id before the compact resolved
    * its inputs can commit its delta AFTER the compact commits, and a
    * positional rule would silently swallow that delta's data. With
    * the list, anything not named stays live no matter how the ids
    * interleave. One line per superseded id ([[writeTextSidecar]]).
    */
  def markFull(
      s: SparkSession, path: String, id: Long,
      supersedes: Seq[Long] = Nil): Unit =
    writeTextSidecar(s, fullFlag(path, id).toString,
      supersedes.map(_.toString))

  def isFull(s: SparkSession, path: String, id: Long): Boolean =
    hfs(s, path).exists(fullFlag(path, id))

  private def liveIdsOf(
      s: SparkSession, path: String, ids: Seq[Long]): Seq[Long] = {
    val superseded = ids.filter(isFull(s, path, _))
      .flatMap(f =>
        readTextSidecar(s, fullFlag(path, f).toString).map(_.toLong))
      .toSet
    ids.filterNot(superseded)
  }

  /** The version ids a segment-union reader must read: every
    * committed id not named in a committed FULL version's supersedes
    * list. O(versions) metadata probes + one tiny sidecar read per
    * full version — bounded by the compact/vacuum cadence, not total
    * history.
    */
  def liveIds(s: SparkSession, path: String): Seq[Long] =
    liveIdsOf(s, path, committedIds(s, path))

  /** The data dirs of [[liveIds]], the segments a union reader reads;
    * throws `no committed <what> at <path>` when there are none (never
    * built, or killed mid-build).
    */
  def liveDirs(s: SparkSession, path: String, what: String): Seq[String] = {
    val ids = liveIds(s, path)
    if (ids.isEmpty) throw noneCommitted(what, path)
    ids.map(versionDir(path, _))
  }

  /** Stage and commit a FULL segment: snapshots the committed id set,
    * hands the caller the LIVE subset's data dirs plus a reserved
    * staging dir to write the union into, then marks `_FULL` (naming
    * the snapshot) and commits. Concurrent DELTAS are free by
    * construction: a delta committed concurrently — whatever its
    * reserved id — is absent from the snapshot, so it is not named in
    * the supersedes list and stays live next to the full segment; the
    * next compact folds it in. Concurrent COMPACTS are NOT free (two
    * racing fulls would neither name the other, leaving two live
    * copies of the corpus that double every probe row and get baked
    * in by the next compact), so compaction serializes behind the
    * root-level `compact.lock` ([[withLock]] — same-JVM monitor plus
    * cross-process create-new file). The supersedes list records the
    * WHOLE observed snapshot (live AND already-superseded ids), not
    * just the inputs: a later [[vacuumSuperseded]] may delete an
    * older full version — sidecar included — while deltas IT
    * superseded are still committed under the grace window, and those
    * must stay excluded through this full's list.
    */
  def commitFull(s: SparkSession, path: String)(
      write: (Seq[String], String) => Unit): Long =
    withLock(s, path, "compact.lock") {
      val observed = committedIds(s, path)
      val live = liveIdsOf(s, path, observed)
      require(live.nonEmpty, s"nothing to compact at $path")
      publish(s, path) { (id, dir) =>
        write(live.map(versionDir(path, _)), dir)
        markFull(s, path, id, observed)
      }
    }

  /** [[commitFull]] whose body rewrites each of `relations` as the
    * `distinct` union of the live segments' copies. Distinct because a
    * crash-window duplicate segment (an ingestion stream killed
    * between append and ledger mark) must collapse here, not be baked
    * verbatim into every later full segment.
    */
  def compactDistinct(
      s: SparkSession, path: String, relations: String*): Long =
    commitFull(s, path) { (segs, dir) =>
      relations.foreach(r =>
        s.read.parquet(segs.map(d => s"$d/$r"): _*).distinct()
          .write.mode("overwrite").parquet(s"$dir/$r"))
    }

  /** The live-segment compact cadence shared by the five
    * segment-union indexes: run `compactFn` once the live count
    * reaches `maxSegments`. The gate self-resets (a compact leaves
    * exactly one live segment plus any raced deltas). Returns the
    * compacted id when it fired.
    */
  def maybeCompactWith(
      s: SparkSession, path: String, maxSegments: Int)(
      compactFn: => Long): Option[Long] = {
    require(maxSegments >= 2, "maxSegments must be at least 2")
    if (liveIds(s, path).size >= maxSegments) Some(compactFn) else None
  }

  /** Vacuum for segment-UNION indexes: retires superseded versions,
    * deferred by `keepGenerations` FULL generations of grace.
    *
    * Why generations and not a count of segments: an in-flight reader
    * that resolved its segment list just before a compact committed
    * holds paths to the ENTIRE pre-compact live set — keeping "the
    * newest N superseded segments" protects no such reader (it needs
    * all of them). With `keepGenerations = 1` (the default and what
    * the in-stream cadences use), a compact's own inputs survive
    * until the NEXT compact: only ids named by an OLDER full's
    * supersedes list are deleted, so any reader that resolved after
    * the previous compact committed — at least a whole compact
    * cadence ago, ≥16 micro-batches under the stream defaults — finds
    * every path it holds. `keepGenerations = 0` deletes everything
    * superseded immediately (downtime maintenance, specs). Disk stays
    * bounded at ~2 full copies + ≤2 cadences of deltas.
    *
    * Safe w.r.t. live data at ANY time — unlike the positional
    * [[vacuum]], which keeps "newest keep" versions and would happily
    * retire the full segment itself once enough post-compact deltas
    * accumulate (silent live-data loss). Marker first, data second,
    * as in [[vacuum]]. Returns the retired ids.
    */
  def vacuumSuperseded(
      s: SparkSession, path: String, keepGenerations: Int = 1): Seq[Long] = {
    require(keepGenerations >= 0, "keepGenerations must be non-negative")
    val fs = hfs(s, path)
    val ids = committedIds(s, path)
    val fulls = ids.filter(isFull(s, path, _))
    val effective =
      if (keepGenerations == 0) fulls else fulls.dropRight(keepGenerations)
    val dropSet = effective.flatMap(f =>
      readTextSidecar(s, fullFlag(path, f).toString).map(_.toLong)).toSet
    val drop = ids.filter(dropSet)
    drop.foreach { id =>
      fs.delete(new Path(s"$path/commits/$id"), false)
      fs.delete(new Path(versionDir(path, id)), true)
    }
    drop
  }

  /** Retire all but the newest `keep` committed versions. For indexes
    * whose versions are full snapshots this is always safe; for
    * PARTIAL-version layouts ([[ClusterIndex]]'s range partitions,
    * [[CorpusSnapshot]]'s delta chains) an old version can hold live
    * state, so vacuum only after the owner's `compact` has placed a
    * full version inside the kept window (both owners document and
    * spec-pin this). Without vacuuming, an append-heavy index retains
    * every historical copy — O(appends × index size) disk.
    * Order is the safety argument: the MARKER goes first (the
    * version becomes unresolvable before any data byte disappears),
    * then the data directory; a vacuum killed between the two leaves
    * an invisible orphan, not a torn version. Reservations are
    * deliberately kept — `locks/` is zero-length files, and keeping
    * them means a retired id can never be re-reserved into a
    * half-deleted directory. Readers that resolved a now-vacuumed
    * version mid-probe are the same staleness window as any table
    * format's VACUUM: run with `keep ≥ 2` to give in-flight probes a
    * full version of grace. Returns the retired ids.
    */
  def vacuum(s: SparkSession, path: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "vacuum must keep at least the current version")
    val fs = hfs(s, path)
    val drop = committedIds(s, path).dropRight(keep)
    drop.foreach { id =>
      fs.delete(new Path(s"$path/commits/$id"), false)
      fs.delete(new Path(versionDir(path, id)), true)
    }
    drop
  }

  /** One monitor per (root, lock-name): same-JVM writers (the
    * realistic driver case — a streaming foreachBatch interleaving
    * with a batch publisher in one Spark driver) serialize here
    * without touching the filesystem; the lock FILE below covers
    * cross-process writers.
    */
  private val lockMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Break a lock previously judged stale at `observedMtime`: re-stat
    * (a lock whose mtime moved is a NEW writer's — leave it), then
    * RENAME to a unique tombstone before deleting. Rename is the
    * arbiter: of two waiters that both judged the same lock stale,
    * exactly one rename succeeds; the loser returns false and goes
    * back to waiting instead of deleting the winner's fresh lock.
    * Returns whether this caller won the break.
    */
  private[graft] def breakStale(
      fs: FileSystem, lock: Path, observedMtime: Long): Boolean = {
    val stillStale =
      try fs.getFileStatus(lock).getModificationTime == observedMtime
      catch { case _: java.io.FileNotFoundException => false }
    val tomb = new Path(lock.getParent,
      s"${lock.getName}.stale.${java.util.UUID.randomUUID()}")
    val won = stillStale &&
      (try fs.rename(lock, tomb)
      catch { case _: java.io.IOException => false })
    if (won) fs.delete(tomb, false)
    won
  }

  /** Serialize a read-modify-write critical section behind a
    * root-level lock file (atomic create-new). The marker protocol
    * alone makes individual publishes atomic but cannot order two
    * writers that each read state and publish a successor — delta
    * chains ([[CorpusSnapshot.publishDelta]]) would fork and
    * partial-version assignments ([[ClusterIndex.append]]) would lose
    * one writer's rewrite. Used by both, by the read-merge-publish
    * appends of [[BloomIndex]] and [[SketchIndex]], and by
    * [[commitFull]]; full snapshot publishes and segment appends stay
    * lock-free (self-contained / disjoint).
    *
    * Atomicity: acquisition goes through [[atomicCreate]] (NIO O_EXCL
    * on local filesystems, namenode-serialized create-new elsewhere —
    * classified by the RESOLVED filesystem, so a scheme-less path
    * under a remote defaultFS locks remotely, where every other
    * operation already goes). A writer killed inside the critical
    * section leaves a stale lock; waiters break locks older than
    * `staleMs` (safe — an uncommitted reservation is invisible
    * forever). Breaking is arbitrated: the waiter re-stats the lock,
    * and only if its mtime still matches the one judged stale RENAMES
    * it to a unique tombstone before deleting — two waiters that both
    * saw the same stale lock race on the rename, exactly one wins,
    * and the loser goes back to waiting instead of deleting the
    * winner's fresh lock (the lost-update the lock exists to
    * prevent). Bounded wait, then a clear error naming the lock file.
    */
  private[graft] def withLock[T](
      s: SparkSession, root: String, name: String,
      timeoutMs: Long = 120000L, staleMs: Long = 600000L)(f: => T): T = {
    val fs = hfs(s, root)
    val lock = fs.makeQualified(new Path(s"$root/$name"))
    fs.mkdirs(lock.getParent)
    def mtimeOf(): Option[Long] =
      try Some(fs.getFileStatus(lock).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    val monitor =
      lockMonitors.computeIfAbsent(s"$root#$name", _ => new Object)
    monitor.synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      var held = false
      while (!held) {
        held = atomicCreate(fs, lock)
        if (!held) {
          val stale = mtimeOf().filter(
            System.currentTimeMillis() - _ > staleMs)
          stale match {
            case Some(m) =>
              breakStale(fs, lock, m)
            case None =>
              if (System.currentTimeMillis() > deadline)
                sys.error(s"timed out waiting for writer lock $lock; " +
                  "if no writer is live, delete the lock file to recover")
              else Thread.sleep(50)
          }
        }
      }
      try f finally fs.delete(lock, false)
    }
  }

  /** Drop every version, marker, and reservation — the destructive
    * reset a rebuild starts from. Exclusive by contract: rebuilds run
    * on a fresh path (or during downtime), never under live readers.
    *
    * The stream ledger goes too: a rebuild-in-place followed by a
    * restarted ingestion stream with a FRESH checkpoint restarts
    * micro-batch ids at 0, and stale [[graft.streaming.BatchLedger]]
    * markers from the pre-rebuild stream would make `appliedOnce`
    * silently skip the first batches' appends — silent data loss in
    * the rebuilt index. Wiping it here keeps the contract simple:
    * reset = the index path is as-new, ledger included. (A restart
    * that REUSES its checkpoint continues from the old batch ids and
    * never needed the stale markers anyway.)
    */
  def reset(s: SparkSession, path: String): Unit = {
    val fs = hfs(s, path)
    (idsIn(fs, new Path(s"$path/locks"))
      .map(id => new Path(versionDir(path, id))) ++
      Seq(new Path(s"$path/commits"), new Path(s"$path/locks"),
        new Path(s"$path/stream_ledger")))
      .foreach(p => fs.delete(p, true))
  }
}
