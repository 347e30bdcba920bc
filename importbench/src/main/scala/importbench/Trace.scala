package importbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Statement}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the span that was open when
  * this one started (-1 for an op's root span); every span of one op
  * shares `op`.
  */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. When disabled (`--trace 0`, and the
  * untraced ops of a traced run) `span` only runs its body, so the
  * untraced path carries no bookkeeping.
  */
final class Tracer {
  @volatile var enabled = false
  private var op = -1
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = ArrayBuffer.empty[Span]
  /** Counters keyed by name, summed per op: (op, name) -> value. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[(Int, String), Double]

  def beginOp(id: Int): Unit = { op = id; stack = Nil }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(op, id, parent, name, t0, t1) }
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) synchronized {
      counts((op, name)) = counts.getOrElse((op, name), 0.0) + v
    }
}

/** Wraps a JDBC connection so the sink's statements are counted and
  * timed: `executeBatch` (staging inserts), `executeUpdate` (the
  * set-based UPDATE / INSERT legs), `addBatch` (rows staged) and
  * `commit`.
  */
object JdbcProbe {
  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  def wrap(conn: Connection, t: Tracer): Connection =
    if (!t.enabled) conn
    else proxy(classOf[Connection], conn) { (m, args) =>
      m.getName match {
        case "commit" =>
          t.count("jdbc.commits", 1)
          t.span("jdbc.commit")(invoke(conn, m, args))
        case "createStatement" | "prepareStatement" =>
          val st = invoke(conn, m, args).asInstanceOf[Statement]
          wrapStatement(st, m.getReturnType, t)
        case _ => invoke(conn, m, args)
      }
    }

  private def wrapStatement(st: Statement, iface: Class[_], t: Tracer): AnyRef =
    proxy(iface.asInstanceOf[Class[AnyRef]], st) { (m, args) =>
      m.getName match {
        case "addBatch" =>
          t.count("jdbc.rows_staged", 1)
          invoke(st, m, args)
        case "executeBatch" =>
          t.count("jdbc.batches", 1)
          t.span("jdbc.batch")(invoke(st, m, args))
        case "executeUpdate" => t.span("jdbc.update")(invoke(st, m, args))
        case _ => invoke(st, m, args)
      }
    }

  private def proxy[T](iface: Class[T], target: AnyRef)(
      f: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          f(m, if (args == null) Array.empty[AnyRef] else args)
      }).asInstanceOf[T]
}

/** Spark job and task records, kept for the span of one traced op. */
final case class JobRec(startMs: Long, endMs: Long)
final case class TaskRec(cpuNs: Long, recordsRead: Long, shuffleBytes: Long,
    spillBytes: Long, outputBytes: Long)

/** Records every job's interval and every task's metrics. The listener
  * bus is asynchronous, so [[drain]] waits until each started job has
  * been seen to end before an op's records are read.
  */
final class OpListener extends SparkListener {
  private val starts = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e.time
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => jobs += JobRec(s, e.time))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(m.executorCpuTime, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten)
    lastEventNs = System.nanoTime()
  }

  /** Blocks until no job is open and the bus has been quiet for 50 ms. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
      (synchronized(starts.nonEmpty) ||
        System.nanoTime() - lastEventNs < 50L * 1000 * 1000))
      Thread.sleep(5)
  }

  def reset(): Unit = synchronized { starts.clear(); jobs.clear(); tasks.clear() }
}
