package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus snapshot manifests: the [[IndexCommit]] marker protocol
  * generalized from index relations to the corpus EXPORT itself, plus
  * the structured-output sink that writes the actual size-capped
  * shard files [[Relational.shardAssignments]] only planned.
  *
  * A snapshot version `v=<id>` under the snapshot root holds
  * {{{
  *   v=<id>/shard=<k>/part-<seq>.jsonl   the document shard files
  *   v=<id>/manifest/                    parquet: one row per file
  *   v=<id>/dochash/                     parquet: (doc_id, doc_md5) —
  *                                       the manifest-adjacent content
  *                                       hashes diffs run on, so a
  *                                       diff never opens shard files
  *   commits/<id>, locks/<id>            the IndexCommit protocol
  * }}}
  * Writers stage the complete version directory and only then create
  * the commit marker; readers resolve versions from `commits/` and
  * the file list from the MANIFEST — never by listing data
  * directories — so a writer killed at any point (mid-shard-write,
  * after data but before the marker) leaves every previous version
  * answering and the torn staging invisible forever. This is a table
  * format's snapshot-pointer time travel shrunk to the operations an
  * export pipeline needs: publish, read-as-of, diff, vacuum.
  *
  * Shard file format: one JSON line per document,
  * `{"doc_id":<id>,"text_hex":"<hex of UTF-8 text>"}` — hex because
  * an export must round-trip arbitrary corpus bytes without a
  * JSON-escaping contract, the byte length of every line (the
  * size-capping input) is then a closed-form expression both engines
  * compute identically, and unlike base64 no engine chunks it with
  * embedded line breaks (Spark's MIME-style `base64` would split the
  * JSONL lines). Files cap at `maxBytes` by START
  * OFFSET: a document whose cumulative pre-document offset lands in
  * file k belongs to file k, so a file may overflow by at most one
  * document — the same split rule block-based readers use, chosen
  * over greedy best-fit because it is a single window expression
  * instead of a sequential fold. Within a shard, documents order by
  * (md5 salt hash, doc_id) — [[Relational.shardAssignments]]'s
  * layout — so re-publishing the same corpus yields BYTE-IDENTICAL
  * shard files (spec-pinned).
  *
  * Shape at scale: assignment and line rendering are narrow per-row
  * expressions; ONE exchange keyed by shard id lands each shard in
  * one task, which streams its files in order (open/close on group
  * change — no per-file job, no driver data). The manifest aggregates
  * per-file rows from the same relation (second pass over the
  * line-length relation, not the text). Reading is
  * manifest-enumerated `spark.read.text` over the listed files.
  */
object CorpusSnapshot {

  /** Default size cap per shard file, chosen so the sf test corpora
    * produce several files per shard (the capping path stays live).
    */
  val DefaultMaxBytes: Long = 16384L

  /** The rendered JSONL line for a (doc_id, text) row — ASCII by
    * construction, so `length(line)` is its byte size; +1 for the
    * trailing newline the writer appends.
    */
  private def lineCol: Column =
    concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
      lit(",\"text_hex\":\""), hex(col("text").cast("binary")),
      lit("\"}"))

  /** (doc_id, shard_id, file_seq, cum, line) for a (doc_id, text)
    * relation — the complete deterministic layout of one snapshot.
    */
  private[graft] def layout(
      d: DataFrame, nShards: Int, maxBytes: Long): DataFrame = {
    val hash = md5(concat(col("doc_id").cast("string"), lit("#shard")))
    // FOUR hex nibbles (16 bits, uniform over 0..65535) → mod
    // nShards: supports [[publishAuto]]'s size-derived shard counts
    // up to 2^16 writers (a single nibble would silently cap real
    // parallelism at 16 tasks no matter what nShards asked for).
    // Modulo bias is ≤ nShards/2^16 — immaterial for layout balance.
    val shard = (conv(substring(hash, 1, 4), 16, 10).cast("int")
      % nShards).as("shard_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard_id").orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.select(col("doc_id"), hash.as("h"), shard, lineCol.as("line"))
      .withColumn("n_bytes", (length(col("line")) + 1).cast("long"))
      .withColumn("cum", sum("n_bytes").over(w))
      .withColumn("file_seq",
        expr(s"(cum - n_bytes) div ${maxBytes}L").cast("long"))
  }

  /** Stage version `id`'s data and manifest WITHOUT committing — the
    * separation [[publish]] composes and the kill-a-writer spec
    * exploits. Safe to abandon at any point: nothing reads `v=<id>`
    * until the marker exists.
    */
  private[graft] def stage(
      s: SparkSession, d: DataFrame, root: String, id: Long,
      nShards: Int = 8, maxBytes: Long = DefaultMaxBytes): Unit = {
    val vdir = IndexCommit.versionDir(root, id)
    // ONE source scan per publish: the layout (a scan + one window
    // over it) feeds two actions — the shard-file writer and the
    // manifest aggregation — so without a persist between them the
    // corpus scan AND the layout window both run twice, a 2× publish
    // I/O tax at 100 TB. MEMORY_AND_DISK because the persisted
    // relation is corpus-sized (the rendered lines), not metadata.
    val lay = layout(d, nShards, maxBytes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one exchange: each shard lands wholly in one task (hash may
      // co-locate several shards per task — the writer just switches
      // files on group change), rows pre-sorted in final file order
      lay.select(col("shard_id"), col("file_seq"), col("cum"), col("line"))
        .repartition(nShards, col("shard_id"))
        .sortWithinPartitions("shard_id", "file_seq", "cum")
        .foreachPartition { it: Iterator[Row] =>
          val conf = new org.apache.hadoop.conf.Configuration()
          var cur: (Int, Long) = null
          var out: java.io.OutputStream = null
          try {
            it.foreach { r =>
              val key = (r.getInt(0), r.getLong(1))
              if (key != cur) {
                if (out != null) out.close()
                val p = new Path(f"$vdir/shard=${key._1}%d/part-${key._2}%05d.jsonl")
                out = p.getFileSystem(conf).create(p, true)
                cur = key
              }
              out.write(r.getString(3).getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              out.write('\n')
            }
          } finally if (out != null) out.close()
        }
      // manifest: one row per written file, with an order-independent
      // content fingerprint (bit_xor of per-line hashes) and the stats
      // a reader needs to range-split without opening files — reads
      // the PERSISTED layout, not the source
      // min_h/max_h + n_shards: the point-lookup pruning triple.
      // Shard id and in-shard order are pure functions of doc_id
      // (md5(doc_id#shard)), so a reader holding a doc id can compute
      // its shard AND its position hash driver-side; since each file
      // covers one contiguous slice of the shard's hash-ordered
      // sequence, (shard match ∧ min_h ≤ h ≤ max_h) names the ONE
      // file that can hold the doc — [[readResolvedSubset]]'s flat
      // time-travel read. min/max_doc alone cannot do this: the
      // layout is hash-ordered, so every file's doc-id range spans
      // ~the whole domain.
      lay.groupBy("shard_id", "file_seq")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bytes").cast("long").as("n_bytes"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
          min("h").as("min_h"), max("h").as("max_h"),
          expr("bit_xor(xxhash64(line))").as("fp"))
        .withColumn("n_shards", lit(nShards))
        .withColumn("path", format_string("shard=%d/part-%05d.jsonl",
          col("shard_id"), col("file_seq")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/manifest")
      // per-document content hashes, manifest-adjacent: one more
      // projection over the PERSISTED layout (data already in hand,
      // no extra source pass) so [[diff]]/[[diffResolved]] never
      // re-read shard payloads — before this sidecar existed, every
      // diff re-hashed both sides' full payload bytes (6.78× growth
      // at 10×, SCALE_r12). md5 of the rendered LINE: injective in
      // (doc_id, text), and recomputable from raw lines alone for
      // pre-sidecar versions ([[docHashes]]' fallback).
      lay.select(col("doc_id"), md5(col("line")).as("doc_md5"))
        .write.mode("overwrite").parquet(s"$vdir/dochash")
    } finally lay.unpersist()
  }

  /** Publish a new snapshot of `d`: reserve an id, stage the complete
    * version, then commit the marker. Returns the published id.
    */
  def publish(
      s: SparkSession, d: DataFrame, root: String,
      nShards: Int = 8, maxBytes: Long = DefaultMaxBytes): Long =
    IndexCommit.publish(s, root) { (id, _) =>
      stage(s, d, root, id, nShards, maxBytes)
    }

  /** [[publish]] with the shard count DERIVED from the input's
    * Catalyst size estimate instead of a fixed default — the 100 TB
    * posture: write parallelism equals one task per shard
    * ([[stage]]'s repartition), so a fixed `nShards = 8` would cap a
    * petabyte publish at 8 writers. `nShards =
    * ceil(sizeInBytes / targetShardBytes)` clamped to
    * [`minShards`, `maxShards`]; the estimate is plan statistics
    * (file sizes for a scan) — free, no extra pass. Sharding is a
    * layout detail (spec-pinned: any nShards reads back the same
    * corpus), so an estimate being off only moves parallelism, never
    * correctness. Returns (id, nShards used).
    */
  def publishAuto(
      s: SparkSession, d: DataFrame, root: String,
      targetShardBytes: Long = 1L << 30,
      minShards: Int = 8, maxShards: Int = 1 << 16,
      maxBytes: Long = DefaultMaxBytes): (Long, Int) = {
    require(targetShardBytes > 0 && minShards >= 1 &&
      maxShards >= minShards, "bad publishAuto bounds")
    val est = d.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (est + targetShardBytes - 1) / targetShardBytes
    val n = want.min(maxShards).max(minShards).toInt
    (publish(s, d, root, n, maxBytes), n)
  }

  /** The manifest of `version` (default: current) — one row per shard
    * file. Fails fast if the root has no committed version or the
    * requested one was never committed (a staged-only id is invisible
    * by design).
    */
  def manifest(
      s: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val ids = IndexCommit.committedIds(s, root)
    val id = version match {
      case Some(v) =>
        require(ids.contains(v), s"version $v is not committed ($ids)")
        v
      case None =>
        require(ids.nonEmpty, s"no committed snapshot under $root")
        ids.last
    }
    s.read.parquet(s"${IndexCommit.versionDir(root, id)}/manifest")
      .withColumn("version", lit(id))
  }

  /** Time-travel read: the (doc_id, text) relation of `version`
    * (default: current), loaded through the MANIFEST's file list —
    * never a directory listing, so torn stagings and foreign files
    * are invisible. The file-count-sized path collect is bounded by
    * the manifest, not the corpus.
    */
  def read(
      s: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val m = manifest(s, root, version)
    val id = m.select("version").head().getLong(0)
    val vdir = IndexCommit.versionDir(root, id)
    val paths = m.select("path").collect().map(r => s"$vdir/${r.getString(0)}")
    parseJsonl(s.read.text(paths.toIndexedSeq: _*))
  }

  /** The shard-file line decode shared by [[read]] and
    * [[readResolvedSubset]] — inverse of [[lineCol]].
    */
  private def parseJsonl(lines: DataFrame): DataFrame =
    lines.select(
      get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
      unhex(get_json_object(col("value"), "$.text_hex"))
        .cast("string").as("text"))

  /** Per-document content hashes of a committed version, read from
    * the `dochash` sidecar [[stage]] publishes. A version published
    * before the sidecar existed falls back to ONE payload pass
    * computing the identical function (md5 of the raw line), so mixed
    * chains compare correctly — backward-compatible by absence, like
    * [[metaOf]].
    */
  private[graft] def docHashes(
      s: SparkSession, root: String, version: Long): DataFrame = {
    val p = new Path(s"${IndexCommit.versionDir(root, version)}/dochash")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) s.read.parquet(p.toString)
    else {
      val m = manifest(s, root, Some(version))
      val vdir = IndexCommit.versionDir(root, version)
      val paths = m.select("path").collect()
        .map(r => s"$vdir/${r.getString(0)}")
      s.read.text(paths.toIndexedSeq: _*)
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long")
            .as("doc_id"),
          md5(col("value")).as("doc_md5"))
    }
  }

  /** The added/removed/changed/same classification of two per-doc
    * hash relations — shared by [[diff]] and [[diffResolved]].
    */
  private def classifyHashes(old: DataFrame, neu: DataFrame): DataFrame =
    old.toDF("doc_id", "old_md5")
      .join(neu.toDF("doc_id", "new_md5"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "same")
          .otherwise("changed").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))

  /** Snapshot diff over two COMMITTED versions — `corpus_diff`'s
    * classification (added/removed/changed/same by content hash)
    * driven by the published snapshots themselves instead of carved
    * fixtures: one full-outer join on the corpus key comparing
    * 32-byte digests. MANIFEST-ONLY: both sides read the `dochash`
    * sidecar (plan-pinned — no shard payload bytes move), so a diff
    * of two 100 TB snapshots costs two metadata-sized scans + one
    * doc-keyed join.
    */
  def diff(
      s: SparkSession, root: String,
      oldVersion: Long, newVersion: Long): DataFrame =
    classifyHashes(
      docHashes(s, root, oldVersion), docHashes(s, root, newVersion))

  /** Version lineage sidecar: ("delta", parent) for versions
    * published by [[publishDelta]]; full versions (everything
    * [[publish]] writes, including every pre-existing snapshot) have
    * no sidecar and resolve to ("full", None) — backward-compatible
    * by absence.
    */
  private[graft] def metaOf(
      s: SparkSession, root: String, id: Long): (String, Option[Long]) = {
    val p = new Path(s"${IndexCommit.versionDir(root, id)}/meta")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) ("full", None)
    else {
      // text sidecar (kind, then parent if any): a driver-side read,
      // so a chain walk costs zero Spark jobs per hop. Pre-r13 chains
      // wrote the lineage as a one-row parquet DIR; it still reads,
      // so mixed old/new chains keep resolving
      val lines =
        IndexCommit.readTextSidecar(s, p.toString, "kind", "parent")
      (lines.head, lines.drop(1).headOption.map(_.toLong))
    }
  }

  /** Publish a DELTA version: only `changes` (added or replaced
    * documents, (doc_id, text)) land as shard files, plus a tombstone
    * relation for `removedIds`, plus a parent pointer to the current
    * version — so a 100 TB corpus that gained a day's crawl publishes
    * the DAY, not the corpus. [[read]] of a delta version returns just
    * its delta rows (the manifest-listed files, as always);
    * [[readResolved]] resolves the whole chain. The staged layout,
    * manifest, and marker protocol are [[publish]]'s verbatim —
    * a torn delta is invisible exactly like a torn full publish.
    *
    * A version must not both write and tombstone a document (the
    * resolution would be ambiguous at equal version rank) — guarded
    * with a delta-proportional intersection check. Delta chains make
    * [[IndexCommit.vacuum]] UNSAFE below the chain length (an ancestor
    * a delta needs could retire); run [[compact]] first — it
    * materializes the resolved corpus as a FULL version, after which
    * vacuum down to one version is safe (spec-pinned).
    */
  def publishDelta(
      s: SparkSession, changes: DataFrame, removedIds: DataFrame,
      root: String, nShards: Int = 8,
      maxBytes: Long = DefaultMaxBytes): Long =
    withDeltaLock(s, root) {
      val ids = IndexCommit.committedIds(s, root)
      require(ids.nonEmpty,
        s"publishDelta needs a committed parent under $root")
      val parent = ids.last
      val rm = removedIds.select(col("doc_id"))
      require(changes.select("doc_id").join(rm, Seq("doc_id")).isEmpty,
        "a delta must not both write and tombstone the same doc_id")
      IndexCommit.publish(s, root) { (id, vdir) =>
        stage(s, changes.select(col("doc_id"), col("text")), root, id,
          nShards, maxBytes)
        rm.write.mode("overwrite").parquet(s"$vdir/removed")
        IndexCommit.writeTextSidecar(s, s"$vdir/meta",
          Seq("delta", parent.toString))
      }
    }

  /** Serialize delta publishes behind a root-level lock file
    * (`<root>/delta.lock`, atomic create-new). Without it, two
    * interleaved publishers can both read the same head as `parent`
    * and fork the chain: [[readResolved]] walks only parent pointers,
    * so the bypassed delta's changes and tombstones silently vanish
    * from the resolved corpus. Full [[publish]]es stay lock-free —
    * they are self-contained snapshots with no parent to race on.
    *
    * A publisher killed inside the critical section leaves a stale
    * lock; waiters break locks older than `staleMs` (the data side is
    * safe to abandon — an uncommitted reservation is invisible
    * forever). Bounded wait, then a clear error naming the lock file.
    */
  private[graft] def withDeltaLock[T](
      s: SparkSession, root: String,
      timeoutMs: Long = 120000L, staleMs: Long = 600000L)(f: => T): T =
    IndexCommit.withLock(s, root, "delta.lock", timeoutMs, staleMs)(f)

  /** The delta chain `version` (default: current head) resolves
    * through, oldest-first: the nearest FULL ancestor followed by
    * every delta down to `version` itself. Chain length is the
    * resolve-cost driver ([[readResolved]] unions one relation per
    * member and pays one metadata read per hop), which is why
    * [[maybeCompact]] exists — exposed so operators can watch it.
    */
  def chain(
      s: SparkSession, root: String,
      version: Option[Long] = None): Seq[Long] = {
    val ids = IndexCommit.committedIds(s, root)
    require(ids.nonEmpty, s"no committed snapshot under $root")
    val head = version.getOrElse(ids.last)
    var acc = List(head)
    // one metaOf per hop — each call is a parquet metadata read, and
    // chains are walked once per resolve
    var meta = metaOf(s, root, head)
    while (meta._1 == "delta") {
      val p = meta._2.getOrElse(
        sys.error(s"delta version ${acc.head} has no parent"))
      acc ::= p
      meta = metaOf(s, root, p)
    }
    acc
  }

  /** Time-travel read RESOLVING delta chains: walk parent pointers
    * from `version` (default: current) back to the nearest FULL
    * version, then last-writer-wins per document — the newest chain
    * member that mentions a doc_id decides it (its text if written,
    * absent if tombstoned), so a document removed in one delta and
    * re-added in a later one resurfaces.
    *
    * Shape at scale: the chain walk is O(chain) metadata reads; the
    * union carries each chain member's OWN rows (full base + deltas,
    * not chain × corpus); resolution is ONE doc-keyed `max_by`
    * aggregation — a single exchange on the corpus key, tombstones
    * riding the same relation as null-text rows.
    */
  def readResolved(
      s: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val events = chain(s, root, version).map { v =>
      val alive = read(s, root, Some(v))
        .select(col("doc_id"), col("text"), lit(v).as("v"),
          lit(true).as("alive"))
      val rmPath = new Path(s"${IndexCommit.versionDir(root, v)}/removed")
      val fs = rmPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(rmPath)) alive
      else alive.unionByName(
        s.read.parquet(rmPath.toString)
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            lit(v).as("v"), lit(false).as("alive")))
    }.reduce(_ unionByName _)
    events.groupBy("doc_id")
      .agg(max_by(struct(col("alive"), col("text")), col("v")).as("w"))
      .filter(col("w.alive"))
      .select(col("doc_id"), col("w.text").as("text"))
  }

  /** POINT-LOOKUP time travel: [[readResolved]] restricted to an
    * explicit doc-id set, with the shard files each chain member must
    * open pruned by the MANIFEST before any data byte is read — the
    * read a user actually issues against a 100 TB snapshot store
    * ("give me these documents as of version v"), where resolving the
    * whole chain to serve a handful of ids is the difference between
    * a metadata-sized job and a corpus scan.
    *
    * Pruning is exact, not heuristic, because the layout is a pure
    * function of doc_id: shard = md5(doc_id#shard) 16-bit prefix mod
    * n_shards, and files slice each shard's (h, doc_id)-ordered
    * sequence — so a requested id's shard AND position hash are
    * computable driver-side, and (shard match ∧ min_h ≤ h ≤ max_h ∧
    * min_doc ≤ id ≤ max_doc) keeps exactly the one file per chain
    * member that can hold the doc (plus md5-collision ghosts, i.e.
    * none). Touched files ≤ |docs| × chain length NO MATTER how many
    * files the corpus has — flat at any scale for a fixed doc set.
    * Versions published before the manifest carried min_h/n_shards
    * (pre-r15) degrade soundly to the min/max_doc prune. Tombstones
    * are consulted regardless of file pruning (the removed relation
    * is metadata-sized), so a deleted doc resolves to ABSENT exactly
    * as in the full [[readResolved]].
    *
    * Cost: O(|docs| × files) driver-side prune arithmetic over the
    * collected manifests (the same file-count-sized collect [[read]]
    * already does) + ≤ |docs| file opens per chain member. The doc
    * set is a POINT-LOOKUP contract — driver-known ids, thousands at
    * most; a corpus-scale id relation wants [[readResolved]] + join.
    */
  def readResolvedSubset(
      s: SparkSession, root: String, docIds: Seq[Long],
      version: Option[Long] = None): DataFrame = {
    require(docIds.nonEmpty, "readResolvedSubset needs at least one id")
    val ids = docIds.distinct
    // the layout's own placement function, computed driver-side:
    // md5 hex of "<id>#shard" (lowercase, same collation as the
    // manifest's string min/max)
    val hx: Seq[(Long, String)] = ids.map { id =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id#shard".getBytes("UTF-8"))
      id -> d.map(b => f"$b%02x").mkString
    }
    val emptyAlive = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, v BIGINT, alive BOOLEAN"))
    val events = chain(s, root, version).map { v =>
      val vdir = IndexCommit.versionDir(root, v)
      val m = manifest(s, root, Some(v))
      val pointable = m.columns.contains("min_h") &&
        m.columns.contains("n_shards")
      val keep = m.collect().filter { r =>
        val (mnD, mxD) =
          (r.getAs[Long]("min_doc"), r.getAs[Long]("max_doc"))
        if (!pointable) ids.exists(id => id >= mnD && id <= mxD)
        else {
          val n = r.getAs[Int]("n_shards")
          val sh = r.getAs[Int]("shard_id")
          val (mnH, mxH) =
            (r.getAs[String]("min_h"), r.getAs[String]("max_h"))
          hx.exists { case (id, h) =>
            id >= mnD && id <= mxD &&
              java.lang.Integer.parseInt(h.substring(0, 4), 16) % n == sh &&
              mnH <= h && h <= mxH
          }
        }
      }
      val alive =
        if (keep.isEmpty) emptyAlive
        else parseJsonl(s.read.text(
            keep.map(r => s"$vdir/${r.getAs[String]("path")}").toIndexedSeq: _*))
          .filter(col("doc_id").isin(ids: _*))
          .select(col("doc_id"), col("text"), lit(v).as("v"),
            lit(true).as("alive"))
      val rmPath = new Path(s"$vdir/removed")
      val fs = rmPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(rmPath)) alive
      else alive.unionByName(
        s.read.parquet(rmPath.toString)
          .filter(col("doc_id").isin(ids: _*))
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            lit(v).as("v"), lit(false).as("alive")))
    }.reduce(_ unionByName _)
    events.groupBy("doc_id")
      .agg(max_by(struct(col("alive"), col("text")), col("v")).as("w"))
      .filter(col("w.alive"))
      .select(col("doc_id"), col("w.text").as("text"))
  }

  /** [[readResolved]]'s last-writer-wins resolution applied to the
    * per-doc HASH relations instead of the payloads: the chain's
    * `dochash` sidecars union with tombstone events and one doc-keyed
    * `max_by` picks each document's newest state — the whole resolve
    * is metadata-sized, no shard file opens.
    */
  private def resolvedHashes(
      s: SparkSession, root: String, version: Long): DataFrame = {
    val events = chain(s, root, Some(version)).map { v =>
      val alive = docHashes(s, root, v)
        .select(col("doc_id"), col("doc_md5"),
          lit(v).as("v"), lit(true).as("alive"))
      val rmPath = new Path(s"${IndexCommit.versionDir(root, v)}/removed")
      val fs = rmPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(rmPath)) alive
      else alive.unionByName(
        s.read.parquet(rmPath.toString)
          .select(col("doc_id"),
            lit(null).cast("string").as("doc_md5"),
            lit(v).as("v"), lit(false).as("alive")))
    }.reduce(_ unionByName _)
    events.groupBy("doc_id")
      .agg(max_by(struct(col("alive"), col("doc_md5")), col("v")).as("w"))
      .filter(col("w.alive"))
      .select(col("doc_id"), col("w.doc_md5").as("doc_md5"))
  }

  /** [[diff]] with both sides CHAIN-RESOLVED — the correct diff when
    * either version is a delta: [[diff]] compares each version's own
    * shard files, so diffing a delta against its parent would
    * misclassify every untouched base document as "removed". This
    * form classifies the logical corpora the two versions denote.
    * MANIFEST-ONLY like [[diff]]: the resolution runs over the
    * chains' `dochash` sidecars + tombstones, never payloads.
    */
  def diffResolved(
      s: SparkSession, root: String,
      oldVersion: Long, newVersion: Long): DataFrame =
    classifyHashes(
      resolvedHashes(s, root, oldVersion),
      resolvedHashes(s, root, newVersion))

  /** Materialize the resolved chain as a FULL version (the table
    * format's rewrite/compaction): one [[publish]] of
    * [[readResolved]]'s relation. The new version reads identically
    * to the chain it replaces and, because [[layout]] is
    * deterministic in the corpus alone, its shard files are
    * byte-identical to a fresh full publish of the same corpus.
    * After compacting, [[IndexCommit.vacuum]] down to this version is
    * safe.
    */
  def compact(
      s: SparkSession, root: String, nShards: Int = 8,
      maxBytes: Long = DefaultMaxBytes): Long =
    publish(s, readResolved(s, root), root, nShards, maxBytes)

  /** The compact-cadence bound: compact iff the current chain carries
    * at least `maxChain` deltas, so resolve cost — linear in chain
    * length (one unioned relation + one metadata read per member,
    * SCALE_r12) — stays ≤ (maxChain+1)/1 of a freshly-compacted read
    * no matter how many deltas stream in. Call after each
    * [[publishDelta]] (or on [[graft.streaming.StreamingSnapshot]]'s
    * cadence); the compact itself costs one full read+publish, so
    * amortized overhead is 1/maxChain full publishes per delta.
    * Returns the compacted version id when it fired.
    */
  def maybeCompact(
      s: SparkSession, root: String, maxChain: Int,
      nShards: Int = 8, maxBytes: Long = DefaultMaxBytes): Option[Long] = {
    require(maxChain >= 1, "maxChain must be positive")
    if (chain(s, root).length - 1 >= maxChain)
      Some(compact(s, root, nShards, maxBytes))
    else None
  }

  /** The deterministic two-version fixture the SparkEntry queries
    * publish into a scratch root: v(first) = the `doc_id % 7 ≠ 0`
    * carve, v(second) = the `doc_id % 5 ≠ 0` carve with `% 11 = 0`
    * docs uppercased — [[Relational.corpusDiff]]'s exact carves, so
    * the snapshot-driven diff shares its oracle. Resets the root
    * first so every invocation publishes the same two ids.
    */
  private[graft] def publishFixture(
      s: SparkSession, dir: String, root: String): (Long, Long) = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    IndexCommit.reset(s, root)
    val v0 = publish(s, docs.filter(col("doc_id") % 7 =!= 0), root)
    val v1 = publish(s,
      docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, upper(col("text")))
            .otherwise(col("text")).as("text")), root)
    (v0, v1)
  }
}
