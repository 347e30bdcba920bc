package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental pipeline refresh — the only-process-what-changed
  * primitive that makes a 100 TB pipeline re-runnable: when a crawl
  * lands, verdicts for unchanged documents come from the PRIOR run's
  * persisted output (a cheap columnar scan of small verdict rows),
  * and only the delta pays the expensive compute (here: the quality
  * filter's gram explode). The refreshed table must be
  * indistinguishable from a full recompute — which is exactly what
  * the DuckDB oracle checks: it recomputes ALL verdicts from
  * scratch, so hash equality pins `prior ∪ fresh(delta) ≡ full`.
  *
  * Validity boundary (stated, not hidden): this identity holds
  * because every quality signal is per-document. Corpus-dependent
  * relations — surprisal's unigram LM, the NB classifier, document
  * frequencies — change under ANY delta and must re-train; the
  * pipeline's incremental story for those is the index-append path
  * (Bloom/LSH/IVF `append`), not verdict reuse.
  *
  * Scale shape: refresh cost = one scan of the prior verdict table
  * (tiny rows, no text) + the full verdict pipeline on |delta| docs
  * + a union. Nothing recomputes for unchanged documents; the
  * fixture's 1/7 delta carve stands in for a typical crawl
  * increment.
  */
object Incremental {

  /** Simulate the prior snapshot (doc_id % 7 ≠ 0 — "last run's
    * corpus") by persisting its verdicts, then refresh with the new
    * arrivals (doc_id % 7 = 0) computed fresh.
    */
  private def isNew = col("doc_id") % 7 === 0

  /** Persist the prior snapshot's verdicts (in production this
    * parquet already exists from the last run — fixture setup, not
    * part of the refresh's marginal cost).
    */
  def writePrior(s: SparkSession, dir: String, priorPath: String): Unit =
    Filtering.qualityFilterOf(
      s.read.parquet(s"$dir/documents.parquet").filter(!isNew))
      .write.mode("overwrite").parquet(priorPath)

  /** The refresh itself: cheap columnar scan of the prior verdicts ∪
    * the verdict pipeline on the delta only.
    */
  def refresh(s: SparkSession, dir: String, priorPath: String): DataFrame =
    s.read.parquet(priorPath).unionByName(
      Filtering.qualityFilterOf(
        s.read.parquet(s"$dir/documents.parquet").filter(isNew)))

  def qualityRefresh(
      s: SparkSession, dir: String, scratch: String): DataFrame = {
    val priorPath = s"$scratch/verdicts_prior"
    writePrior(s, dir, priorPath)
    refresh(s, dir, priorPath)
  }
}
