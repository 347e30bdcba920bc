package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of driver code asked Spark to run: the number of jobs
  * it submitted and the physical plan of every SQL execution, in order.
  */
final case class SparkEvents(jobs: Int, plans: Seq[String])

object SparkEvents {

  /** Runs `body` and records the Spark work it started. The listener
    * bus is asynchronous, so a marker job submitted after `body` fences
    * the record: the bus delivers events in order, and once the marker
    * is seen every earlier event has been too.
    */
  def during[A](spark: SparkSession)(body: => A): (A, SparkEvents) = {
    val sc = spark.sparkContext
    val marker = s"events-fence-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[String]
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker))
          fenced.countDown()
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus never reached the fence")
      (out, SparkEvents(jobs.get, plans.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
