package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Release every cached plan AND its storage before the next timed
    * region. `clearCache()` drops the CacheManager entries but
    * unpersists asynchronously — block removal then lands on the NEXT
    * query's clock (measured: a ~1.5 s query read 23 s in-sequence
    * whenever it followed the dedup queries' caches). The follow-up
    * blocking unpersist of any still-registered RDD makes the release
    * synchronous, so each query starts from a storage-quiet executor.
    */
  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n' | '\r'   => " "
      case c if c < ' '  => ""
      case c             => c.toString
    } + "\""

  /** The committed reference run this run adjudicates itself against
    * (BASELINE.md's canary rule): (sf basename, per-query quiet secs).
    * Parsed leniently from our own single-line JSON format; None when
    * the artifact is absent (fresh checkout subsets, CI sandboxes).
    *
    * Whitespace-tolerant by hard-won necessity: a pretty-printed
    * composite (": " / ", " separators, the natural output of any
    * json.dumps fold) silently disengaged this canary TWICE (rounds
    * 8 and 14 — see BASELINE.md round 10 and VERDICT r14 "What's
    * wrong" #1), turning every subsequent run's self-adjudication
    * into `admissible: null`. The regexes below accept optional
    * whitespace around `:`/`,`, and BenchReferenceSpec round-trips
    * the COMMITTED artifact so a reformat can never ship unnoticed
    * again. Public so the spec exercises the exact production path.
    */
  private[graft] def loadReference(path: String): Option[(String, Map[String, Double])] =
    try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      for {
        qm <- """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(txt)
        sfm <- """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
      } yield {
        val pairs = """"([^"]+)"\s*:\s*([-0-9.eE+]+)""".r
          .findAllMatchIn(qm.group(1))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        (sfm.group(1).split('/').last, pairs)
      }
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated subset for isolated probes
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // the measured configuration IS the shipped configuration:
    // GraftSession.local is the one session builder every main shares
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // steady-state measurement: absorb one-time session cost (Hadoop
    // FS init, codegen/classloading, parquet reader warmup) before the
    // timed loop, so the first query isn't charged ~35s of JVM setup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // warm the parquet reader on whichever table the dir offers —
    // partial corpora (scale-evidence dirs) carry only documents/
    // embeddings, not the full TPC-H set
    Option(new java.io.File(sfDir).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).sorted.headOption
      .foreach(t => spark.read.parquet(s"$sfDir/$t").count())
    // noop sink: materializes every row of every column the query
    // produces (count() would let Catalyst prune unreferenced
    // projections, billing narrow per-row queries a bare scan); reps
    // with per-query min filter out the host's CPU-steal bursts —
    // a min is contamination-proof, a mean is not
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results: Map[String, Either[String, Double]] =
      selected.map { case (name, fn) =>
        // a failed rep records its error, never a time: a query that
        // throws fast must not contribute a flattering near-zero min
        var lastErr: String = "no reps ran"
        val times = (1 to reps).flatMap { _ =>
          clearCaches(spark)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              lastErr = (e.getClass.getName + ": " +
                String.valueOf(e.getMessage)).take(300)
              None
          }
        }
        name -> (if (times.nonEmpty) Right(times.min) else Left(lastErr))
      }
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val failed = results.collect { case (k, Left(e)) => k -> e }
    val qs = ok.map { case (k, v) => s"${jsonStr(k)}:$v" }
      .mkString("{", ",", "}")
    val errs = failed.map { case (k, e) => s"${jsonStr(k)}:${jsonStr(e)}" }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // Self-adjudication (BASELINE.md canary rule): this host suffers
    // multi-minute CPU-steal bursts, so any historically-sub-2 s query
    // reading >=10x its committed quiet value marks the RUN as
    // externally loaded — not a regression. Emitting the verdict in
    // the JSON lets a single-shot driver run carry its own rejection.
    // Only adjudicates at the reference's scale factor; "admissible"
    // is null when no comparable reference exists.
    val refPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_REF", "bench/BENCH_r16_reference_composite.json")
    val verdict = loadReference(refPath) match {
      case Some((refSf, refQ))
          if sfDir.split('/').last == refSf && only.isEmpty =>
        val flags = ok.toSeq.flatMap { case (k, v) =>
          refQ.get(k).filter(_ < 2.0).map(r => k -> v / r)
        }.filter(_._2 >= 10.0).sortBy(-_._2)
        // Locale.ROOT: a comma-decimal default locale (de_DE) would
        // render 12,3 and corrupt the JSON line
        val fl = flags.map { case (k, r) =>
          s"${jsonStr(k)}:${String.format(java.util.Locale.ROOT, "%.1f", Double.box(r))}"
        }.mkString("{", ",", "}")
        s""","canary_flags":$fl,"admissible":${flags.isEmpty}"""
      case _ => ""","admissible":null"""
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs$verdict,"sf":"$sfDir"}""")
    spark.stop()
    // a query that never succeeded is a broken query, not a fast one
    if (failed.nonEmpty) sys.exit(1)
  }
}
