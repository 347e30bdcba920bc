package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingMerge

final case class Delta(k: Long, v: String)

class StreamingMergeSpec extends SparkSpec {

  private def freshTarget(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("smerge").toString
    val target = dir + "/target"
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "v", "w").write.parquet(target)
    target
  }

  private def state(target: String): Map[Long, (String, Long)] =
    spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("v"), r.getAs[Long]("w"))).toMap

  test("applyBatch merges matched keys, passes unmatched rows through") {
    import spark.implicits._
    val target = freshTarget()
    val batch = Seq(Delta(1L, "A"), Delta(9L, "X")).toDF()
    val n = StreamingMerge.applyBatch(batch, target, Seq("k"), Seq("v"))
    assert(n == 1L) // key 9 matches nothing; A4 counts matched target rows
    assert(state(target) == Map(
      1L -> ("A", 10L), 2L -> ("b", 20L), 3L -> ("c", 30L)))
  }

  test("applyBatch counts in its staging write: no job reads the target after the swap") {
    import spark.implicits._
    val target = freshTarget()
    val batch = Seq(Delta(1L, "A"), Delta(3L, "C"), Delta(9L, "X")).toDF()
    val (n, events) = SparkEvents.during(spark)(
      StreamingMerge.applyBatch(batch, target, Seq("k"), Seq("v")))
    assert(n == 2L)
    // the only execution that scans the target is the one writing the
    // staging snapshot, which runs before the swap deletes the target
    val scans = events.plans.filter(_.contains(s"file:$target]"))
    assert(scans.size == 1, events.plans.mkString("\n---\n"))
    assert(scans.head.contains(s"file:$target${StreamingMerge.StagingSuffix}"), scans.head)
  }

  test("applyBatch is idempotent under at-least-once replay") {
    import spark.implicits._
    val target = freshTarget()
    val batch = Seq(Delta(2L, "B")).toDF()
    StreamingMerge.applyBatch(batch, target, Seq("k"), Seq("v"))
    val once = state(target)
    StreamingMerge.applyBatch(batch, target, Seq("k"), Seq("v"))
    assert(state(target) == once)
    assert(once(2L) == ("B", 20L))
  }

  test("an interrupted swap is recovered before the next batch merges") {
    import spark.implicits._
    val target = freshTarget()
    StreamingMerge.applyBatch(
      Seq(Delta(3L, "C")).toDF(), target, Seq("k"), Seq("v"))
    // simulate the crash window: snapshot staged, target deleted
    val fs = new org.apache.hadoop.fs.Path(target).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + StreamingMerge.StagingSuffix)))
    StreamingMerge.applyBatch(
      Seq(Delta(1L, "A")).toDF(), target, Seq("k"), Seq("v"))
    assert(state(target) == Map(
      1L -> ("A", 10L), 2L -> ("b", 20L), 3L -> ("C", 30L)))
  }

  test("mergeStream applies micro-batches of a streaming delta end-to-end") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val target = freshTarget()
    val ckpt = Files.createTempDirectory("smerge-ckpt").toString

    val input = MemoryStream[Delta]
    input.addData(Delta(1L, "A"), Delta(2L, "B"))
    val q1 = StreamingMerge.mergeStream(
      input.toDF(), target, Seq("k"), Seq("v"), checkpointDir = ckpt)
    q1.awaitTermination()
    assert(state(target) == Map(
      1L -> ("A", 10L), 2L -> ("B", 20L), 3L -> ("c", 30L)))

    // second increment, same checkpoint: only the new batch applies
    input.addData(Delta(3L, "C"))
    val q2 = StreamingMerge.mergeStream(
      input.toDF(), target, Seq("k"), Seq("v"), checkpointDir = ckpt)
    q2.awaitTermination()
    assert(state(target) == Map(
      1L -> ("A", 10L), 2L -> ("B", 20L), 3L -> ("C", 30L)))
  }
}
