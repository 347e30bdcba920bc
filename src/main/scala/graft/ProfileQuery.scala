package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement harness (guide §1): run selected queries through the
  * bench's exact session config and noop sink, with a listener that
  * attributes wall time to individual Spark JOBS (action = job here,
  * local mode) — the per-query seconds of the composite are mostly a
  * SUM of many small actions (index builds, commits, counts, cache
  * materializations), so job-level attribution is what locates the
  * time. Prints, per query: total secs, then every job with duration,
  * task count, and call site. Diagnostic only — never run by the
  * driver.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... runMain
  * graft.ProfileQuery <query> [query...]`
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Option(new java.io.File(sfDir).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).sorted.headOption
      .foreach(t => spark.read.parquet(s"$sfDir/$t").count())

    final case class Job(id: Int, var start: Long = 0L, var end: Long = 0L,
      var site: String = "", var nTasks: Int = 0, var nStages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageNames =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId, start = e.time)
        // the leaf (result) stage's name carries the action's call site
        j.site = e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("")
        j.nStages = e.stageInfos.size
        j.nTasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"unknown query: $name")
        case Some(fn) =>
          jobs.clear()
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the listener bus drain
          println(f"%n===== $name%s: $secs%.2f s, ${jobs.size}%d jobs =====")
          import scala.jdk.CollectionConverters._
          val js = jobs.values.asScala.toSeq.sortBy(_.id)
          val totalJobMs = js.map(j => j.end - j.start).sum
          println(f"sum of job times: ${totalJobMs / 1000.0}%.2f s " +
            f"(gap = driver/planning: ${secs - totalJobMs / 1000.0}%.2f s)")
          js.foreach { j =>
            val d = (j.end - j.start) / 1000.0
            if (d >= 0.05)
              println(f"  job ${j.id}%4d ${d}%7.2f s  stages=${j.nStages}%2d tasks=${j.nTasks}%4d  ${j.site}%s")
          }
          // driver-gap attribution (guide §7.3): idle intervals where
          // NO job is running are planning/commit/file-listing time on
          // the driver — print each ≥100 ms gap with the job that
          // follows it (whose planning the gap mostly is)
          val byStart = js.sortBy(_.start)
          var cursor = byStart.headOption.map(_.start).getOrElse(0L)
          byStart.foreach { j =>
            val gap = (j.start - cursor) / 1000.0
            if (gap >= 0.1)
              println(f"  gap ${gap}%7.2f s  before job ${j.id}%4d  ${j.site}%s")
            cursor = math.max(cursor, math.max(j.start, j.end))
          }
      }
    }
    spark.stop()
  }
}
