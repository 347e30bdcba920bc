package importbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import graft.GraftSession

/** Runs one workload for a fixed measuring time and writes every op's
  * raw measurements as JSON; `run.py` turns them into the metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out.json> <budget s>
  *
  * No op starts that would likely end past `budget` seconds from launch,
  * so a slow host shortens the run instead of overrunning it.
  *
  * Each op is preceded by an untimed reset (fresh output path, pristine
  * database, Spark caches released; for measured ops, heap settled) and
  * followed by an untimed output check. A measured op's heap figure is
  * the most heap in use after any collection from its start through one
  * full collection at its end. With trace on, traced ops (spans, Spark listener, JDBC
  * probe) interleave with untraced ones, so the run also yields the
  * tracing overhead.
  */
object Main {
  /** Input generation is repeated and its median taken for setup_s. */
  val GenReps = 3

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(name, seedS, secondsS, traceS, workS, outS, budgetS) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val hardDeadline = t0 + (budgetS.toDouble * 1e9).toLong
    val work = new File(workS)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors.toString,
      Map("spark.local.dir" -> new File(work, "spark-local").getAbsolutePath))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val tracer = new Tracer
    val w = Workload(name, spark, new File(work, name), seed, tracer)
    val genS = (1 to GenReps).map { _ => val g = System.nanoTime(); w.generate(); secs(g) }
    w.prepare()
    val listener = new OpListener
    val heap = new HeapPeak
    val ops = Vector.newBuilder[String]

    /** Runs op `i` and returns its wall time; a negative `i` is a
      * warm-up op, not recorded.
      */
    def runOp(i: Int, traced: Boolean): Double = {
      w.reset()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (i >= 0) settleHeap()
      tracer.enabled = traced
      tracer.beginOp(i)
      if (traced) { listener.reset(); spark.sparkContext.addSparkListener(listener) }
      if (i >= 0) heap.arm()
      val gc0 = gcMillis()
      val startMs = System.currentTimeMillis()
      val s = System.nanoTime()
      val res = scala.util.Try(tracer.span("op")(w.op(i)))
      val e = System.nanoTime()
      val gcS = (gcMillis() - gc0) / 1e3
      val heapMb = if (i < 0) 0.0 else { System.gc(); heap.disarm() / 1048576.0 }
      if (traced) { listener.drain(); spark.sparkContext.removeSparkListener(listener) }
      val err = res.fold(x => Some(s"op failed: $x"),
        r => scala.util.Try(w.check(i, r)).fold(x => Some(s"check failed: $x"), identity))
      tracer.enabled = false
      val wall = (e - s) / 1e9
      if (i >= 0)
        ops += opJson(i, traced, wall, err, gcS, heapMb, startMs, s, tracer, listener)
      err.foreach(m => System.err.println(s"[importbench] op $i: $m"))
      wall
    }

    // Traced runs always warm up, so traced and untraced ops compare
    // like for like.
    val w0 = System.nanoTime()
    var lastS = 0.0
    for (k <- 1 to (if (trace) w.warmupOps max 1 else w.warmupOps))
      lastS = runOp(-k, traced = false)
    val warmS = secs(w0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    /** Whether op `i` is due. A cold workload measures exactly one op,
      * however fast it gets, so every build measures the same cold op.
      * A traced run measures whole rounds of four ops, traced and
      * untraced in ABBA order, so JIT warm-up over the run does not
      * bias trace.overhead.
      */
    def due(i: Int): Boolean =
      if (!trace && w.warmupOps == 0) i < 1
      else if (trace) i % 4 != 0 || i == 0 || System.nanoTime() < deadline
      else i == 0 || System.nanoTime() < deadline
    var i = 0
    while (due(i) && System.nanoTime() + ((1.5 * lastS + 5) * 1e9).toLong < hardDeadline) {
      lastS = runOp(i, traced = trace && (i % 4 == 0 || i % 4 == 3))
      i += 1
    }
    spark.stop()
    val json = s"""{"workload":${str(name)},"seed":$seed,"trace":$trace,""" +
      s""""rows_per_op":${w.rowsPerOp},"scan_base":${w.scanBase},""" +
      s""""setup":{"session_s":$sessionS,"gen_s":${genS.mkString("[", ",", "]")},"warm_s":$warmS},""" +
      s""""ops":${ops.result().mkString("[", ",\n", "]")}}"""
    java.nio.file.Files.write(new File(outS).toPath, json.getBytes("UTF-8"))
  }

  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Frees the previous ops' garbage, so every op starts from the same
    * heap. Spark frees an op's broadcast, shuffle and unpersisted blocks
    * asynchronously, some only after a collection has found them
    * unreachable, so collect every 100 ms until a round frees less than
    * 1 MiB (at least two rounds, at most ten).
    */
  private def settleHeap(): Unit = {
    System.gc()
    var (prev, cur, rounds) = (Long.MaxValue, postGcHeapBytes(), 0)
    while (rounds < 10 && (rounds < 2 || prev - cur >= (1L << 20))) {
      Thread.sleep(100)
      System.gc()
      prev = cur
      cur = postGcHeapBytes()
      rounds += 1
    }
  }

  /** Heap in use as the last collection left it, from the collector's
    * own figures; a read of current usage would race with allocations
    * made after the collection.
    */
  private def postGcHeapBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** One op's record. Span and job times are seconds from the op's
    * start, so run.py can intersect them.
    */
  private def opJson(i: Int, traced: Boolean, wall: Double, err: Option[String],
      gcS: Double, heapMb: Double, startMs: Long, startNs: Long, t: Tracer,
      l: OpListener): String = {
    val base = s""""i":$i,"traced":$traced,"wall_s":$wall,"ok":${err.isEmpty},""" +
      s""""error":${err.map(str).getOrElse("null")},"gc_s":$gcS,"heap_mb":$heapMb"""
    if (!traced) s"{$base}"
    else {
      val spans = t.spans.filter(_.op == i).map(s =>
        s"""[${str(s.name)},${s.id},${s.parent},${(s.startNs - startNs) / 1e9},${(s.endNs - startNs) / 1e9}]""")
      val jobs = l.jobs.map(j => s"[${(j.startMs - startMs) / 1e3},${(j.endMs - startMs) / 1e3}]")
      val ts = l.tasks
      val counts = t.counts.collect { case ((op, k), v) if op == i => s"${str(k)}:$v" }
      s"""{$base,"spans":${spans.mkString("[", ",", "]")},"jobs":${jobs.mkString("[", ",", "]")},""" +
        s""""tasks":{"n":${ts.size},"cpu_s":${ts.map(_.cpuNs).sum / 1e9},""" +
        s""""records_read":${ts.map(_.recordsRead).sum},"shuffle_bytes":${ts.map(_.shuffleBytes).sum},""" +
        s""""spill_bytes":${ts.map(_.spillBytes).sum},"output_bytes":${ts.map(_.outputBytes).sum}},""" +
        s""""counts":${counts.mkString("{", ",", "}")}}"""
    }
  }
}

/** The most heap in use after any collection while armed, from the
  * collectors' own notifications, so an op's working set counts, not
  * only what it leaves behind. Notifications arrive on a JMX thread
  * after each collection; [[arm]] and [[disarm]] wait until every
  * collection the collectors have counted has been seen.
  */
final class HeapPeak extends NotificationListener {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** Per collector, the highest collection id seen so far. */
  private val seen = scala.collection.mutable.Map.empty[String, Long]
  private var armed = false
  private var peak = 0L
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))
  synchronized { beans.foreach(b => seen(b.getName) = seen.getOrElse(b.getName, 0L) max b.getCollectionCount) }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized {
        seen(info.getGcName) = seen.getOrElse(info.getGcName, 0L) max info.getGcInfo.getId
        if (armed) peak = peak max used
      }
    }

  /** Waits, at most 2 s, until every counted collection was notified. */
  private def catchUp(): Unit = {
    val counts = beans.map(b => b.getName -> b.getCollectionCount)
    val until = System.nanoTime() + 2000L * 1000 * 1000
    while (synchronized(counts.exists { case (b, c) => seen.getOrElse(b, 0L) < c }) &&
      System.nanoTime() < until) Thread.sleep(2)
  }

  def arm(): Unit = { catchUp(); synchronized { peak = 0L; armed = true } }

  /** Stops recording; returns the peak, in bytes. */
  def disarm(): Long = { catchUp(); synchronized { armed = false; peak } }
}
