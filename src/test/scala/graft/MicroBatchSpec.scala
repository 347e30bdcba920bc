package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.{BloomIndex, IndexCommit, LshIndex}
import graft.streaming.{BatchLedger, StreamingAnn, StreamingCluster,
  StreamingDecontaminate, StreamingDedup, StreamingExport,
  StreamingSigDedup, StreamingSimIngest, StreamingSnapshot}

/** Pins for the shared micro-batch scaffolding: batch output read back
  * through the writer's filesystem, and stream arguments rejected
  * before a query starts rather than inside its first micro-batch.
  */
class MicroBatchSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(s"graft-microbatch-$prefix").toString

  private def verdictSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_flagged", "contaminated").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  test("batch output written to a file:// outPath reads back its rows") {
    val idx = tmp("bloom")
    val dir = tmp("out")
    val out = s"file://$dir"
    BloomIndex.build(spark, docs.filter(col("doc_id") % 50 === 0), idx)
    assert(StreamingDecontaminate.verdicts(spark, out).count() == 0,
      "no batch written yet: the empty typed relation")
    val probe = docs.filter(col("doc_id") % 50 =!= 0)
      .select("doc_id", "text")
    StreamingDecontaminate.applyBatch(
      probe.filter(col("doc_id") % 2 === 0), idx, out, batchId = 0L)
    StreamingDecontaminate.applyBatch(
      probe.filter(col("doc_id") % 2 === 1), idx, out, batchId = 1L)

    val got = StreamingDecontaminate.verdicts(spark, out)
    val want = verdictSet(BloomIndex.probe(spark, idx, probe))
    assert(want.nonEmpty)
    assert(got.count() == want.size, "both batches read back, once each")
    assert(verdictSet(got) == want)
    assert(got.schema("batch_id").dataType == LongType)
    assert(got.select("batch_id").distinct().collect().map(_.getLong(0))
      .toSet == Set(0L, 1L))
    // the scheme-less spelling of the same directory reads the same rows
    assert(verdictSet(StreamingDecontaminate.verdicts(spark, dir)) == want)
  }

  test("guardEvery < 1 is rejected before the probe streams start") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    val idx = tmp("lsh")
    val out = tmp("pairs")
    val before = spark.streams.active.map(_.id).toSet
    def started = spark.streams.active.filterNot(q => before(q.id))
    try {
      for (every <- Seq(0, -1)) {
        val e1 = intercept[IllegalArgumentException](
          StreamingDedup.probeStream(stream, idx, out, tmp("ck"),
            guardMaxDocFreq = Some(0.1), guardEvery = every))
        assert(e1.getMessage.contains("guardEvery"))
        val e2 = intercept[IllegalArgumentException](
          StreamingDedup.probeAndMaintainStream(stream, idx, out, tmp("ck"),
            guardMaxDocFreq = Some(0.1), guardEvery = every))
        assert(e2.getMessage.contains("guardEvery"))
      }
      assert(started.isEmpty, "no query may start with a zero cadence")
    } finally started.foreach(_.stop())
  }

  test("bad maintenance values fail before a batch is appended or a " +
    "query starts") {
    import spark.implicits._
    // the ingest path: before the check, the segment committed first
    // and only the cadence threw, so every replay appended it again
    val idx = tmp("lsh_maint")
    LshIndex.build(spark, sf(), idx,
      docFilter = Some(col("doc_id") % 50 === 0))
    val ids = IndexCommit.committedIds(spark, idx)
    val batch = docs.filter(col("doc_id") % 50 === 1).select("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      StreamingDedup.applyIngestBatch(batch, idx, 0L, maxSegments = Some(1)))
    assert(IndexCommit.committedIds(spark, idx) == ids,
      "a rejected batch must commit no segment")
    assert(!BatchLedger.has(spark, idx, 0L))
    assert(e.getMessage.contains("compact cadence"))

    // the entry points reject before MicroBatch.start
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    val before = spark.streams.active.map(_.id).toSet
    def started = spark.streams.active.filterNot(q => before(q.id))
    val p = tmp("paths")
    val starts: Seq[(String, () => Any)] = Seq(
      "dedup maintain" -> (() => StreamingDedup.maintainStream(
        stream, p, tmp("ck"), maxSegments = Some(1))),
      "dedup probe+maintain" -> (() => StreamingDedup.probeAndMaintainStream(
        stream, p, p, tmp("ck"), vacuumKeepGens = Some(-1))),
      "sig maintain" -> (() => StreamingSigDedup.maintainStream(
        stream, p, tmp("ck"), maxSegments = Some(0))),
      "sig probe+maintain" -> (() =>
        StreamingSigDedup.probeAndMaintainStream(
          stream, p, p, tmp("ck"), vacuumKeepGens = Some(-1))),
      "sim maintain" -> (() => StreamingSimIngest.maintainStream(
        stream, p, tmp("ck"), maxSegments = Some(1))),
      "sim probe+maintain" -> (() =>
        StreamingSimIngest.probeAndMaintainStream(
          stream, p, p, tmp("ck"), vacuumKeepGens = Some(-1))),
      "ann maintain" -> (() => StreamingAnn.maintainStream(
        stream, p, tmp("ck"), maxSegments = Some(1))),
      "cluster maintain" -> (() => StreamingCluster.maintainStream(
        stream, p, tmp("ck"), maxVersions = Some(1))),
      "cluster vacuum" -> (() => StreamingCluster.maintainStream(
        stream, p, tmp("ck"), vacuumKeep = Some(0))),
      "snapshot ingest" -> (() => StreamingSnapshot.ingestStream(
        stream, p, tmp("ck"), maxChain = Some(0))),
      "snapshot ledger" -> (() => StreamingSnapshot.ingestStream(
        stream, p, tmp("ck"), ledgerKeepLast = 0)),
      "export" -> (() => StreamingExport.exportStream(
        stream, p, p, p, tmp("ck"), vacuumKeep = Some(0))))
    try {
      for ((name, start) <- starts)
        withClue(name)(intercept[IllegalArgumentException](start()))
      assert(started.isEmpty, "no query may start with a bad value")
    } finally started.foreach(_.stop())
  }
}
