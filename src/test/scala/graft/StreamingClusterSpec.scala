package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.{ClusterIndex, IndexCommit}
import graft.streaming.StreamingCluster

/** End-to-end pin for continuous cluster maintenance: documents
  * stream in, the committed assignment evolves, the streamed result
  * equals a one-job build over everything, a replayed batch id is a
  * ledger no-op, and the torn crash window (append committed, ledger
  * marker lost) republishes the SAME assignment rows.
  */
final case class ClDoc(doc_id: Long, text: String)

class StreamingClusterSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = Files.createTempDirectory(s"graft-sclx-$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = tmp("docs")
    import spark.implicits._
    rows.map { case (id, t) =>
      (id, t, "en", "spec", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(a: Int, b: Int): String =
    (a to b).map(i => s"w$i").mkString(" ")

  private def clusterMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("component_id"), r.getAs[Boolean]("keep"))).toMap

  // base corpus: two far-apart near-dup clusters {1,2} and {5,6} plus
  // a singleton; streamed batches add a member to one cluster and then
  // a BRIDGE doc that merges the two (the append path's hard case,
  // now arriving over the wire). The bridge is the concat of both
  // clusters' text: 28 shared trigrams of its 58 against each side,
  // Jaccard 28/58 = 0.483 >= the 0.45 threshold
  private val base = Seq(
    1L -> words(1, 30), 2L -> words(1, 30),
    5L -> words(101, 130), 6L -> words(101, 130),
    9L -> words(501, 530))
  private val batch1 = Seq(3L -> words(1, 30))
  private val batch2 = Seq(7L -> (words(1, 30) + " " + words(101, 130)))

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("streamed batches equal one-job build over the union; a " +
    "replayed id is a ledger no-op; a torn replay keeps the rows") {
    val dir = writeDocs(base)
    val idx = tmp("idx")
    ClusterIndex.build(spark, dir, idx, threshold = 0.45)
    StreamingCluster.applyBatch(df(batch1), idx, 0.45, 0L)
    StreamingCluster.applyBatch(df(batch2), idx, 0.45, 1L)
    val got = clusterMap(ClusterIndex.clusters(spark, idx))
    val allDir = writeDocs(base ++ batch1 ++ batch2)
    val oneIdx = tmp("onejob")
    ClusterIndex.build(spark, allDir, oneIdx, threshold = 0.45)
    val want = clusterMap(ClusterIndex.clusters(spark, oneIdx))
    assert(got == want,
      "streamed maintenance must equal build over the union")
    // the bridge actually bridged: one merged component spans both
    // old clusters (else the fixture went vacuous)
    assert(got(5L)._1 == got(1L)._1,
      "batch 2's bridge doc must merge the two base clusters")
    // exactly-once: replaying an applied batch id must not publish a
    // new version or change the relation
    val versions = IndexCommit.committedIds(spark, idx)
    StreamingCluster.applyBatch(df(batch2), idx, 0.45, 1L)
    assert(IndexCommit.committedIds(spark, idx) == versions,
      "a ledgered batch id must be a no-op")
    assert(clusterMap(ClusterIndex.clusters(spark, idx)) == want)
    // torn window: marker lost after a committed append — the replay
    // re-appends (a new version appears) but the assignment rows are
    // a fixpoint, so the relation is unchanged
    val marker = new org.apache.hadoop.fs.Path(s"$idx/stream_ledger/1")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    StreamingCluster.applyBatch(df(batch2), idx, 0.45, 1L)
    assert(IndexCommit.committedIds(spark, idx).size > versions.size,
      "a torn replay re-appends (the safe degrade)")
    assert(clusterMap(ClusterIndex.clusters(spark, idx)) == want,
      "a torn replay must republish the same assignment rows")
    // empty batches mark the ledger without publishing a version
    val afterTorn = IndexCommit.committedIds(spark, idx)
    StreamingCluster.applyBatch(df(Nil), idx, 0.45, 2L)
    assert(IndexCommit.committedIds(spark, idx) == afterTorn,
      "an empty batch must not publish a contentless version")
    assert(graft.streaming.BatchLedger.has(spark, idx, 2L),
      "an empty batch still ledgers its id")
  }

  test("in-stream compact cadence caps resolution distance while the " +
    "streamed state stays correct") {
    val dir = writeDocs(base)
    val idx = tmp("cadence")
    ClusterIndex.build(spark, dir, idx, threshold = 0.45, numParts = 4)
    for (k <- 0 to 5) {
      StreamingCluster.applyBatch(
        df(Seq((100L + k) -> words(1000 + 40 * k, 1030 + 40 * k))),
        idx, 0.45, k.toLong, maxVersions = Some(3))
      // after any compact the newest version is FULL, so resolution
      // never walks more than maxVersions sidecars; structurally,
      // every partition resolves within the newest 3 versions
      val ids = IndexCommit.committedIds(spark, idx)
      val resolved = ClusterIndex.partDirs(spark, idx)
        .map(_.split("/v=")(1).split("/")(0).toLong).distinct
      assert(resolved.forall(v => ids.reverse.take(3).contains(v)),
        s"resolution must stay within the newest 3 versions: $resolved of $ids")
    }
    val got = clusterMap(ClusterIndex.clusters(spark, idx))
    assert((100L to 105L).forall(id => got(id) == ((id, true))),
      s"streamed singletons must all be present post-cadence: $got")
    assert(got(1L)._1 == 1L && got(5L)._1 == 5L)
  }

  test("default cadence + post-compact vacuum bound DISK: committed " +
    "version count stays ≤ maxVersions + vacuumKeep over a long stream") {
    val dir = writeDocs(base)
    val idx = tmp("disk")
    ClusterIndex.build(spark, dir, idx, threshold = 0.45, numParts = 4)
    for (k <- 0 to 9) {
      StreamingCluster.applyBatch(
        df(Seq((200L + k) -> words(2000 + 40 * k, 2030 + 40 * k))),
        idx, 0.45, k.toLong, maxVersions = Some(3), vacuumKeep = Some(2))
      assert(IndexCommit.committedIds(spark, idx).length <= 5,
        "version count must stay ≤ maxVersions + vacuumKeep without " +
          "any operator-side vacuum")
      assert(ClusterIndex.versionsSinceFull(spark, idx) <= 2,
        "resolution distance must stay bounded")
    }
    val got = clusterMap(ClusterIndex.clusters(spark, idx))
    assert((200L to 209L).forall(id => got(id) == ((id, true))),
      s"no streamed doc may be lost to the vacuum: $got")
  }

  test("end-to-end through a real AvailableNow stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = writeDocs(base)
    val idx = tmp("e2e")
    val ckpt = Files.createTempDirectory("sclx_ckpt").toString
    ClusterIndex.build(spark, dir, idx, threshold = 0.45)
    val input = MemoryStream[ClDoc]
    input.addData(batch1.map { case (i, t) => ClDoc(i, t) })
    StreamingCluster.maintainStream(input.toDF(), idx, ckpt, 0.45)
      .awaitTermination()
    input.addData(batch2.map { case (i, t) => ClDoc(i, t) })
    StreamingCluster.maintainStream(input.toDF(), idx, ckpt, 0.45)
      .awaitTermination()
    val allDir = writeDocs(base ++ batch1 ++ batch2)
    val oneIdx = tmp("e2e-onejob")
    ClusterIndex.build(spark, allDir, oneIdx, threshold = 0.45)
    assert(clusterMap(ClusterIndex.clusters(spark, idx))
      == clusterMap(ClusterIndex.clusters(spark, oneIdx)),
      "two real micro-batches must equal one-job build over the union")
  }
}
