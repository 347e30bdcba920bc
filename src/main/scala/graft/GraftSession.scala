package graft

import org.apache.spark.sql.SparkSession

/** THE local session builder — Bench, Verify, ScaleGen, Explain and
  * ProfileQuery build their session here, so the configuration the
  * bench measures is the configuration everything else runs (a main
  * with a hand-rolled session would miss settings such as
  * `parallelismFirst=false`, and be only as fast as its launcher).
  *
  * Settings carried for every main:
  *  - `coalescePartitions.parallelismFirst=false` — size-based AQE
  *    coalescing (guide §2.2): with the default `true`, AQE refuses to
  *    coalesce below `defaultParallelism`, so every kilobyte-scale
  *    reduce stage of the index/metadata-heavy queries launches
  *    `cpus` tasks of pure scheduling overhead. `false` is the setting
  *    the Spark docs themselves recommend and is scale-neutral: real
  *    stages coalesce toward the 64 MB advisory target, not toward
  *    one task, identically at any core count.
  *  - UTC session timezone, parquet TIMESTAMP(NANOS) read as Long
  *    (events.parquet; EventOps.load converts ns→µs), UI off,
  *    tmp-local warehouse, and the GraftExtensions plan hooks.
  *
  * `extra` lets a caller layer its own settings (e.g. a benchmark's
  * scratch `spark.local.dir`) without forking the base config.
  */
object GraftSession {
  /** The mains' core count: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def local(cpus: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }
}
