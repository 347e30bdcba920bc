package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.BloomIndex
import graft.streaming.{StreamingDecontaminate, StreamingDedup}

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
}
