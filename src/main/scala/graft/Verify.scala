package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare (tools/check.py),
  * and failures.json (query → error) naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (the driver
    // never sets it, so its gate always covers every query)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a query that throws is named in failures.json (tools/check.py
    // fails on it) and its previous dump is removed, so a stale parquet
    // from an earlier run cannot pass the compare
    val failures = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$outDir/$name"))
          Some(name -> e.toString)
        }
      }
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    spark.stop()
  }
}
