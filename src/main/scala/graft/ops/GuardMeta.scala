package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Versioned hot-band-cap config for the signature indexes — the
  * guard-telemetry→action loop's missing half (VERDICT r15 #7): the
  * text guard persists its `maxDocFreq` inside the [[LshIndex]] build
  * (probes inherit it for free), but the media/embedding star-cap
  * ([[Similarity.bandedCandidateIds]]) is a pure query-time knob, so
  * without a committed record every caller re-decides the cap per
  * call and a deployment's chosen value is tribal knowledge. This
  * sidecar (`<root>/guard_meta`, one line) makes the cap BUILD-OWNED
  * config: [[SigIndex.build]]/[[SimSigIndex.build]] write (or clear)
  * it, an operator reading `guardDrift` telemetry commits a new value
  * with [[set]], and every reader — [[SigIndex.clusters]]/`probe`,
  * [[SimSigIndex.clusters]]/`probe` — resolves `explicit param
  * .orElse(committed default)`.
  *
  * Caller override semantics: an explicit `Some(cap)` always wins;
  * `None` falls back to the committed default; [[Off]]
  * (`Some(Long.MaxValue)`) is the documented explicit-OFF — it
  * resolves to "unguarded" even when a default is committed (no real
  * bucket reaches 2^63 members, so the sentinel costs nothing).
  *
  * Durability: stage-then-rename ([[IndexCommit.writeTextSidecar]]),
  * so readers never see a torn value; absent file = no default, the
  * pre-r16 behavior. [[IndexCommit.reset]] deletes only version
  * state, so `set(None)` exists for builds that must not inherit a
  * predecessor's cap.
  */
object GuardMeta {

  /** Explicit-off sentinel: pass `Some(Off)` to force an unguarded
    * read against an index whose build committed a default cap.
    */
  val Off: Long = Long.MaxValue

  private def sidecar(root: String): String = s"$root/guard_meta"

  /** Commit `cap` as the index's default hot-band cap; `None` removes
    * a committed default (a rebuild that wants no cap must not inherit
    * its predecessor's).
    */
  def set(s: SparkSession, root: String, cap: Option[Long]): Unit =
    cap match {
      case Some(c) =>
        require(c >= 1, "guard cap must be at least 1")
        IndexCommit.writeTextSidecar(s, sidecar(root), Seq(c.toString))
      case None =>
        val p = new Path(sidecar(root))
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, false)
        ()
    }

  /** The committed default, if any. */
  def get(s: SparkSession, root: String): Option[Long] = {
    val p = new Path(sidecar(root))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(IndexCommit.readTextSidecar(s, p.toString).head.toLong)
  }

  /** The cap a read should run under: explicit wins, `None` falls
    * back to the committed default, [[Off]] resolves to unguarded.
    */
  def resolve(
      s: SparkSession, root: String, explicit: Option[Long]): Option[Long] =
    explicit.orElse(get(s, root)).filter(_ != Off)
}
