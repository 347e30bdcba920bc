package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.{CorpusSnapshot, IndexCommit}
import graft.streaming.{StreamingCluster, StreamingSnapshot}

/** End-to-end pin for continuous snapshot ingestion: the first batch
  * publishes full, later batches publish deltas, the resolved read
  * equals the union with last-writer-wins, a replayed id is a ledger
  * no-op, the torn window republishes the same rows, and compact
  * still collapses the streamed chain.
  */
final case class SnapDoc(doc_id: Long, text: String)

class StreamingSnapshotSpec extends SparkSpec {

  private def tmpRoot(name: String): String = {
    val p = Files.createTempDirectory(s"graft-ssnap-$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def m(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("in-stream compact cadence caps the resolve chain at maxChain") {
    val root = tmpRoot("cadence")
    val expected = scala.collection.mutable.Map.empty[Long, String]
    for (k <- 0 to 9) {
      StreamingSnapshot.applyBatch(df(Seq(k.toLong -> s"doc$k")),
        root, 8, CorpusSnapshot.DefaultMaxBytes, k.toLong,
        maxChain = Some(3))
      expected(k.toLong) = s"doc$k"
      assert(CorpusSnapshot.chain(spark, root).length - 1 <= 3,
        "the in-stream cadence must cap the delta chain")
    }
    assert(m(CorpusSnapshot.readResolved(spark, root)) == expected.toMap)
  }

  test("default cadence + post-compact vacuum bound DISK: committed " +
    "version count stays ≤ maxChain + vacuumKeep over a long stream") {
    val root = tmpRoot("disk")
    val expected = scala.collection.mutable.Map.empty[Long, String]
    for (k <- 0 to 11) {
      StreamingSnapshot.applyBatch(df(Seq(k.toLong -> s"doc$k")),
        root, 8, CorpusSnapshot.DefaultMaxBytes, k.toLong,
        maxChain = Some(3), vacuumKeep = Some(2))
      expected(k.toLong) = s"doc$k"
      assert(IndexCommit.committedIds(spark, root).length <= 5,
        "version count must stay ≤ maxChain + vacuumKeep without " +
          "any operator-side vacuum")
      assert(CorpusSnapshot.chain(spark, root).length - 1 <= 3)
    }
    assert(m(CorpusSnapshot.readResolved(spark, root)) == expected.toMap,
      "no batch's documents may be lost to the vacuum")
  }

  test("first batch publishes full, later deltas; LWW resolve; ledger " +
    "no-op; torn replay keeps the rows; compact collapses the chain") {
    val root = tmpRoot("ingest")
    StreamingSnapshot.applyBatch(df(Seq(1L -> "one", 2L -> "two")),
      root, 8, CorpusSnapshot.DefaultMaxBytes, 0L)
    StreamingSnapshot.applyBatch(df(Seq(2L -> "two-v2", 3L -> "three")),
      root, 8, CorpusSnapshot.DefaultMaxBytes, 1L)
    val want = Map(1L -> "one", 2L -> "two-v2", 3L -> "three")
    assert(m(CorpusSnapshot.readResolved(spark, root)) == want)
    // batch 0 landed as a FULL version (virgin root), batch 1 a delta:
    // the delta version's plain read carries only its own rows
    val ids = IndexCommit.committedIds(spark, root)
    assert(ids.size == 2)
    assert(m(CorpusSnapshot.read(spark, root, Some(ids.head)))
      == Map(1L -> "one", 2L -> "two"))
    assert(m(CorpusSnapshot.read(spark, root, Some(ids.last)))
      == Map(2L -> "two-v2", 3L -> "three"))
    // exactly-once: a ledgered id republishes nothing
    StreamingSnapshot.applyBatch(df(Seq(2L -> "two-v2", 3L -> "three")),
      root, 8, CorpusSnapshot.DefaultMaxBytes, 1L)
    assert(IndexCommit.committedIds(spark, root) == ids)
    // torn window: marker lost after a committed publish — the replay
    // lands a duplicate delta, but LWW over identical rows resolves
    // to the same relation
    val marker = new org.apache.hadoop.fs.Path(s"$root/stream_ledger/1")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    StreamingSnapshot.applyBatch(df(Seq(2L -> "two-v2", 3L -> "three")),
      root, 8, CorpusSnapshot.DefaultMaxBytes, 1L)
    assert(IndexCommit.committedIds(spark, root).size == 3,
      "a torn replay re-publishes (the safe degrade)")
    assert(m(CorpusSnapshot.readResolved(spark, root)) == want,
      "a torn replay must resolve to the same relation")
    // empty batches ledger without publishing
    StreamingSnapshot.applyBatch(df(Nil), root, 8,
      CorpusSnapshot.DefaultMaxBytes, 2L)
    assert(IndexCommit.committedIds(spark, root).size == 3)
    assert(graft.streaming.BatchLedger.has(spark, root, 2L))
    // the streamed chain compacts like any other
    val cid = CorpusSnapshot.compact(spark, root)
    assert(m(CorpusSnapshot.read(spark, root, Some(cid))) == want)
  }

  test("end-to-end through a real AvailableNow stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpRoot("e2e")
    val ckpt = Files.createTempDirectory("ssnap_ckpt").toString
    val input = MemoryStream[SnapDoc]
    input.addData(Seq(SnapDoc(1L, "one"), SnapDoc(2L, "two")))
    StreamingSnapshot.ingestStream(input.toDF(), root, ckpt)
      .awaitTermination()
    input.addData(Seq(SnapDoc(2L, "two-v2"), SnapDoc(3L, "three")))
    StreamingSnapshot.ingestStream(input.toDF(), root, ckpt)
      .awaitTermination()
    assert(m(CorpusSnapshot.readResolved(spark, root))
      == Map(1L -> "one", 2L -> "two-v2", 3L -> "three"),
      "two real micro-batches must resolve to the streamed union")
  }
}
