package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.{BloomIndex, IndexCommit, LshIndex, Similarity, VectorIndex}
import graft.streaming.StreamingDecontaminate

/** Crash-atomicity pins for the versioned persisted indexes: a killed
  * append leaves the previous version fully probe-able, the
  * staged-but-unmarked window reads as the OLD index (not an error,
  * not a partial), a stream keeps answering across a publish, and
  * write races either merge (disjoint segments) or fail loudly (Bloom
  * snapshot re-base) — never lose bits silently.
  */
class IndexCommitSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Simulate a writer killed mid-write: a reserved id whose data dir
    * holds garbage/partial files and whose commit marker never landed.
    */
  private def killMidWrite(path: String, relations: Seq[String]): Long = {
    val id = IndexCommit.reserve(spark, path)
    val dir = IndexCommit.versionDir(path, id)
    relations.foreach { rel =>
      val d = new java.io.File(s"$dir/$rel")
      d.mkdirs()
      // half-written parquet: a real torn file, unreadable as a footer
      val f = new java.io.FileOutputStream(s"$d/part-00000.parquet")
      f.write("PAR1garbage-with-no-footer".getBytes); f.close()
    }
    id
  }

  private def bloomVerdicts(path: String) =
    BloomIndex.probe(spark, path, docs.filter(col("doc_id") % 50 =!= 0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bloom: killed append is invisible; the old version answers every probe") {
    val idx = tmp("ic_bloom_kill")
    BloomIndex.build(spark, docs.filter(col("doc_id") % 100 === 0), idx)
    val before = bloomVerdicts(idx)
    killMidWrite(idx, Seq("words", "meta"))
    assert(bloomVerdicts(idx) == before,
      "unmarked garbage version must never be resolved")
    // and a subsequent real append still works, skipping the dead id
    BloomIndex.append(spark,
      docs.filter(col("doc_id") % 100 === 50), idx)
    val after = bloomVerdicts(idx)
    assert(before.forall { case (id, n) => after(id) >= n },
      "bits only accumulate across an append")
    assert(after != before, "the appended benchmark must add hits")
  }

  test("bloom: the staged-but-unmarked window reads as the OLD index") {
    val idx = tmp("ic_bloom_window")
    val benchA = docs.filter(col("doc_id") % 100 === 0)
    BloomIndex.build(spark, benchA, idx)
    val before = bloomVerdicts(idx)
    // stage a complete NEW version by hand (what append writes before
    // its marker): a probe in this window must still resolve v=old
    val id = IndexCommit.reserve(spark, idx)
    val dir = IndexCommit.versionDir(idx, id)
    val cur = IndexCommit.currentDir(spark, idx).get
    spark.read.parquet(s"$cur/words").write.parquet(s"$dir/words")
    // meta is a text sidecar since r13 — copy it byte-for-byte
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$cur/meta"),
      java.nio.file.Paths.get(s"$dir/meta"))
    assert(bloomVerdicts(idx) == before)
    // marker lands → the new (here: identical) version takes over
    IndexCommit.commit(spark, idx, id)
    assert(IndexCommit.currentDir(spark, idx).get == dir)
    assert(bloomVerdicts(idx) == before)
  }

  test("bloom: probing an index with no committed version fails loudly") {
    val idx = tmp("ic_bloom_none")
    killMidWrite(idx, Seq("words", "meta")) // killed BUILD
    val e = intercept[IllegalStateException] { bloomVerdicts(idx) }
    assert(e.getMessage.contains("no committed bloom index version"))
  }

  test("streaming decontamination never errors across an append publish") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmp("ic_stream_idx")
    val out = tmp("ic_stream_out")
    val ckpt = tmp("ic_stream_ckpt")
    BloomIndex.build(spark, docs.filter(col("doc_id") % 100 === 0), idx)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), r.getString(1)))
    val (first, second) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[Doc]
    input.addData(first.toIndexedSeq)
    StreamingDecontaminate.probeStream(input.toDF(), idx, out, ckpt)
      .awaitTermination()
    val flaggedBefore = StreamingDecontaminate.verdicts(spark, out)
      .filter(col("contaminated")).count()
    // an append publishes mid-stream (between micro-batches) AND a
    // killed append leaves garbage beside it — the next micro-batch
    // must see exactly the new committed version, no errors
    BloomIndex.append(spark, docs.filter(col("doc_id") % 100 === 50), idx)
    killMidWrite(idx, Seq("words", "meta"))
    input.addData(second.toIndexedSeq)
    StreamingDecontaminate.probeStream(input.toDF(), idx, out, ckpt)
      .awaitTermination()
    val verdicts = StreamingDecontaminate.verdicts(spark, out)
    assert(verdicts.count() == corpus.length.toLong)
    // the second half probed the grown filter: flags can only grow
    assert(verdicts.filter(col("contaminated")).count() >= flaggedBefore)
  }

  test("lsh: killed append is invisible; probe equals the pre-append index") {
    val isBatch = col("doc_id") % 10 === 0
    val idx = tmp("ic_lsh_kill")
    LshIndex.build(spark, sf(), idx, docFilter = Some(!isBatch))
    val batch = docs.filter(isBatch)
    def pairs() = LshIndex.probe(spark, idx, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    assert(before.nonEmpty)
    killMidWrite(idx, Seq("bands", "sets"))
    assert(pairs() == before,
      "a torn segment with no marker must not join the probe")
  }

  test("vector: killed append is invisible to both float and ADC probes") {
    val isQuery = col("vec_id") % 10 === 0
    val idx = tmp("ic_vec_kill")
    VectorIndex.build(spark, sf(), idx, vecFilter = Some(!isQuery))
    val queries = Similarity.load(spark, sf()).filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk")) ->
        r.getAs[Long]("vec_id")).toMap
    val before = top(VectorIndex.probe(spark, idx, queries))
    val beforeAdc = top(VectorIndex.probeAdc(spark, idx, queries))
    killMidWrite(idx, Seq("vectors", "codes"))
    assert(top(VectorIndex.probe(spark, idx, queries)) == before)
    assert(top(VectorIndex.probeAdc(spark, idx, queries)) == beforeAdc)
  }

  test("vacuum retires old versions; probes and future appends unaffected") {
    val idx = tmp("ic_vacuum")
    BloomIndex.build(spark, docs.filter(col("doc_id") % 100 === 0), idx)
    BloomIndex.append(spark, docs.filter(col("doc_id") % 100 === 50), idx)
    BloomIndex.append(spark, docs.filter(col("doc_id") % 100 === 25), idx)
    val ids = IndexCommit.committedIds(spark, idx)
    assert(ids.size == 3, s"expected three full snapshots, got $ids")
    val before = bloomVerdicts(idx)
    val retired = IndexCommit.vacuum(spark, idx, keep = 1)
    assert(retired == ids.dropRight(1))
    // the newest version alone remains, and it answers identically
    assert(IndexCommit.committedIds(spark, idx) == Seq(ids.last))
    assert(bloomVerdicts(idx) == before)
    retired.foreach { id =>
      assert(!new java.io.File(IndexCommit.versionDir(idx, id)).exists(),
        s"v=$id data must be gone")
    }
    // idempotent: nothing left to retire
    assert(IndexCommit.vacuum(spark, idx, keep = 1).isEmpty)
    // retired ids are never re-reserved (locks survive the vacuum),
    // so a later append cannot stage into a half-deleted directory
    val next = IndexCommit.reserve(spark, idx)
    assert(next > ids.max, s"id $next must advance past retired $ids")
    // a vacuum killed between marker-delete and data-delete leaves an
    // invisible orphan: simulate by re-staging data WITHOUT a marker
    val orphan = IndexCommit.versionDir(idx, next)
    val cur = IndexCommit.currentDir(spark, idx).get
    spark.read.parquet(s"$cur/words").write.parquet(s"$orphan/words")
    assert(bloomVerdicts(idx) == before, "orphan data must stay invisible")
    // and the index keeps working end-to-end after all of it
    BloomIndex.append(spark, docs.filter(col("doc_id") % 100 === 75), idx)
    val after = bloomVerdicts(idx)
    assert(before.forall { case (id, n) => after(id) >= n })
  }

  test("reserve never hands two writers the same id") {
    val idx = tmp("ic_reserve")
    val ids = (1 to 8).map(_ => IndexCommit.reserve(spark, idx))
    assert(ids.distinct.size == ids.size)
    // and ids skip past committed AND dead-reserved ones
    IndexCommit.commit(spark, idx, ids.max)
    assert(IndexCommit.reserve(spark, idx) > ids.max)
  }

  test("reserve under contention: concurrent reservers get distinct ids") {
    // the O_EXCL pin: Hadoop's LocalFileSystem.createNewFile is
    // check-then-act, so before reserve routed through the NIO
    // create-new path two racing reservers could both win an id and
    // co-stage into one v=<id> directory; 64 concurrent reserves must
    // come back pairwise distinct
    val idx = tmp("ic_reserve_race")
    val won = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val dup = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 16).map { _ =>
      new Thread(() => (1 to 4).foreach { _ =>
        if (!won.add(IndexCommit.reserve(spark, idx)))
          dup.incrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(dup.get() == 0, "two reservers won the same id")
    assert(won.size == 64)
  }

  test("breakStale: concurrent breakers of one stale lock — exactly one wins") {
    val root = tmp("ic_break")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = fs.makeQualified(new org.apache.hadoop.fs.Path(s"$root/x.lock"))
    val f = new java.io.File(lock.toUri.getPath)
    assert(f.createNewFile())
    val staleAt = System.currentTimeMillis() - 3600000L
    assert(f.setLastModified(staleAt))
    val observed = fs.getFileStatus(lock).getModificationTime
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() =>
        if (IndexCommit.breakStale(fs, lock, observed)) wins.incrementAndGet())
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1, s"expected exactly one break winner, got ${wins.get()}")
    assert(!f.exists(), "the stale lock must be gone")
    // and a breaker that observed a DIFFERENT mtime must refuse: the
    // lock it judged stale no longer exists — this is the fresh lock
    // of the writer that re-acquired
    assert(f.createNewFile())
    assert(!IndexCommit.breakStale(fs, lock, observed - 1),
      "mtime mismatch must never break a live writer's lock")
    assert(f.exists())
  }

  test("withLock: breaks a dead writer's stale lock, serializes, cleans up") {
    val root = tmp("ic_lock")
    // a dead process's lock, planted old enough to be stale
    val lockFile = new java.io.File(s"$root/append.lock")
    lockFile.getParentFile.mkdirs()
    assert(lockFile.createNewFile())
    assert(lockFile.setLastModified(System.currentTimeMillis() - 3600000L))
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlap = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        IndexCommit.withLock(spark, root, "append.lock",
          timeoutMs = 30000L, staleMs = 1000L) {
          if (inside.incrementAndGet() > 1) overlap.incrementAndGet()
          Thread.sleep(20)
          inside.decrementAndGet()
          ran.incrementAndGet()
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(ran.get() == 4, "every waiter must eventually run")
    assert(overlap.get() == 0, "critical sections overlapped")
    assert(!lockFile.exists(), "the lock must be released after the last writer")
  }

  test("writeTextSidecar: rewrite replaces a plain file in place and " +
    "clears a legacy parquet directory") {
    val root = tmp("ic_sidecar")
    val p = s"$root/meta"
    IndexCommit.writeTextSidecar(spark, p, Seq("1", "2"))
    assert(IndexCommit.readTextSidecar(spark, p) == Seq("1", "2"))
    // the replace path: rename-over-file (atomic where the FS supports
    // it; the delete+rename fallback covers the rest) — new content
    // must land, and at no point may the sidecar read as ABSENT to a
    // reader that treats absence as "nothing written yet"
    IndexCommit.writeTextSidecar(spark, p, Seq("3"))
    assert(IndexCommit.readTextSidecar(spark, p) == Seq("3"))
    // legacy layout: a parquet DIRECTORY at the sidecar name (pre-r13
    // one-row parquet) is cleared before publish
    val legacy = s"$root/legacy"
    spark.range(1).toDF("w").write.parquet(legacy)
    IndexCommit.writeTextSidecar(spark, legacy, Seq("16"))
    assert(IndexCommit.readTextSidecar(spark, legacy) == Seq("16"))
  }

  test("publish: a body that throws leaves no marker, and the id stays " +
    "retired") {
    val root = tmp("ic_publish")
    val first = IndexCommit.publish(spark, root) { (_, dir) =>
      spark.range(3).write.parquet(s"$dir/rel")
    }
    assert(IndexCommit.committedIds(spark, root) == Seq(first))
    val current = IndexCommit.currentDir(spark, root)
    var failedId = -1L
    val e = intercept[IllegalStateException] {
      IndexCommit.publish(spark, root) { (id, dir) =>
        failedId = id
        spark.range(5).write.parquet(s"$dir/rel")
        throw new IllegalStateException("writer died")
      }
    }
    assert(e.getMessage == "writer died")
    assert(failedId > first)
    assert(IndexCommit.committedIds(spark, root) == Seq(first),
      "a failed body must commit no marker")
    assert(IndexCommit.currentDir(spark, root) == current)
    val next = IndexCommit.publish(spark, root) { (_, dir) =>
      spark.range(7).write.parquet(s"$dir/rel")
    }
    assert(next > failedId, "the failed body's id is never reused")
    assert(IndexCommit.committedIds(spark, root) == Seq(first, next))
  }

  test("readTextSidecar: pre-r13 parquet directories read through " +
    "legacyCols; a directory without them is rejected") {
    import spark.implicits._
    val root = tmp("ic_legacy")
    // one row with a null column (a CorpusSnapshot full-version
    // lineage): non-null values only
    Seq(("full", None: Option[Long])).toDF("kind", "parent")
      .coalesce(1).write.parquet(s"$root/meta")
    assert(IndexCommit.readTextSidecar(
      spark, s"$root/meta", "kind", "parent") == Seq("full"))
    Seq(("delta", Some(4L))).toDF("kind", "parent")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    assert(IndexCommit.readTextSidecar(
      spark, s"$root/meta", "kind", "parent") == Seq("delta", "4"))
    // many rows of one column (a ClusterIndex part list), row order
    Seq(3, 0, 7).toDF("part").coalesce(1).write.parquet(s"$root/partlist")
    assert(IndexCommit.readTextSidecar(spark, s"$root/partlist", "part")
      == Seq("3", "0", "7"))
    // zero rows: that format's torn write reads as nothing
    Seq.empty[Int].toDF("k").coalesce(1).write.parquet(s"$root/empty")
    assert(IndexCommit.readTextSidecar(spark, s"$root/empty", "k") == Nil)
    new java.io.File(s"$root/bare").mkdirs()
    assert(IndexCommit.readTextSidecar(spark, s"$root/bare", "k") == Nil)
    // no legacy form known: the directory is rejected by name
    val e = intercept[IllegalArgumentException] {
      IndexCommit.readTextSidecar(spark, s"$root/partlist")
    }
    assert(e.getMessage.contains("is a directory, not a sidecar"))
  }
}
