package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Kneser-Ney 5-gram model as a PERSISTED, versioned index — the
  * production CCNet shape: train the LM once on a reference corpus's
  * train split, freeze it, and score every incoming batch against the
  * frozen model without re-reading the reference corpus. This is the
  * [[LshIndex]]/[[BloomIndex]] economics applied to the language
  * model: the one operator family whose verdicts are corpus-dependent
  * ([[Filtering.qualityFilterLm]]'s delta caveat) becomes delta-able
  * by persisting the MODEL instead of recomputing it.
  *
  * Layout under the index root ([[IndexCommit]] marker protocol —
  * a torn build is invisible, versions are additive):
  * {{{
  *   v=<id>/c5,ctx5,cc4,ctx4,cc3,ctx3,cc2,ctx2,cc1,scal   parquet
  *   commits/<id>, locks/<id>
  * }}}
  * The ten relations are [[LanguageModel.KnModel]]'s exact-integer
  * count tables — engine-portable plain parquet, total size bounded
  * by 5-gram TYPE cardinality (sublinear in corpus size), not corpus
  * size.
  *
  * Scoring reuses [[LanguageModel.scoreWith]] verbatim, so the
  * persisted-index path is BIT-IDENTICAL to the one-job path
  * (spec-pinned): same type-relation joins, same fingerprint
  * carry-back, same decimal-mediated rollup. Batch cost is
  * batch-tokenize + type-cardinality joins against the loaded count
  * relations — never a reference-corpus scan.
  */
object KnIndex {

  private val Relations = Seq("c5", "ctx5", "cc4", "ctx4", "cc3",
    "ctx3", "cc2", "ctx2", "cc1", "scal")

  /** Train on `dir`'s documents (hash-stable train split) and publish
    * a new index version. Returns the committed version id.
    */
  def build(s: SparkSession, dir: String, path: String): Long =
    buildFrom(s, s.read.parquet(s"$dir/documents.parquet"), path)

  /** The count relations every LOWER level derives from — these must
    * write-then-read-back synchronously so the next derivation's
    * lineage is the published parquet.
    */
  private val ChainRelations = Set("c5", "cc4", "cc3", "cc2", "cc1")

  /** [[build]] over an explicit (doc_id, text, …) relation. ONE
    * corpus pass: each model relation is written as it is derived and
    * read back, so every downstream level's lineage is its parent's
    * PUBLISHED parquet (type-cardinality kilobytes) rather than the
    * corpus tokenize — the pre-fix foreach-over-lazy-relations
    * publish re-executed the tokenize + 5-gram aggregation once per
    * relation, ~10 corpus passes per build. Spec-pinned by an
    * accumulator in the source lineage (the CorpusSnapshot one-scan
    * discipline).
    */
  private[graft] def buildFrom(
      s: SparkSession, docs: DataFrame, path: String): Long = {
    val pos = LanguageModel.positions(docs)
    IndexCommit.publish(s, path) { (_, vdir) =>
      // Overlap the LEAF writes with the derivation chain (guide §2.6,
      // concurrent actions): c5→cc4→cc3→cc2→cc1 is sequential by data
      // dependency (each level's lineage is its parent's published
      // parquet — the one-corpus-pass discipline), but ctx5/ctx4/ctx3/
      // ctx2/scal are leaves nothing downstream reads during the build.
      // Submitting their write jobs to a small pool lets them back-fill
      // the cores a chain write's task tail leaves idle; pre-fix the ten
      // legs ran strictly one after another. The committed bytes are
      // identical — the same plans write to the same paths — and a
      // failed leaf write still fails the build (Future.get rethrows)
      // BEFORE the commit marker, so torn builds stay invisible.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val pending =
        scala.collection.mutable.Buffer.empty[java.util.concurrent.Future[_]]
      try {
        LanguageModel.train(
          pos.filter(col("split") === "train")
            .select("h1", "h2", "h3", "h4", "w"),
          (df, name) =>
            if (ChainRelations(name)) {
              df.write.mode("overwrite").parquet(s"$vdir/$name")
              s.read.parquet(s"$vdir/$name")
            } else {
              pending += pool.submit(new Runnable {
                def run(): Unit =
                  df.write.mode("overwrite").parquet(s"$vdir/$name")
              })
              df // leaf: unused during the build
            })
        pending.foreach(_.get())
      } finally pool.shutdown()
    }
  }

  /** The current committed version's model relations. */
  private def load(s: SparkSession, path: String): LanguageModel.KnModel = {
    val vdir = IndexCommit.requireCurrent(s, path, "KN index")
    val r = Relations.map(n => n -> s.read.parquet(s"$vdir/$n")).toMap
    LanguageModel.KnModel(r("c5"), r("ctx5"), r("cc4"), r("ctx4"),
      r("cc3"), r("ctx3"), r("cc2"), r("ctx2"), r("cc1"), r("scal"))
  }

  /** Score a (doc_id, text) batch against the CURRENT committed model:
    * (doc_id, split, n_scored, nll, bucket), identical to what
    * [[LanguageModel.knPerplexity]] reports for those documents when
    * the model was trained on the same reference corpus.
    */
  def score(s: SparkSession, path: String, batch: DataFrame,
      headMax: Double = 0.95, middleMax: Double = 1.05): DataFrame =
    LanguageModel.scoreWith(
      LanguageModel.positions(batch), load(s, path), headMax, middleMax)
}
