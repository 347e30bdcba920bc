package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted duplicate-CLUSTER index — the last-mile dedup relation
  * ([[Dedup.duplicateClusters]]' (doc_id, component_id) assignment)
  * stored as a versioned index, so every downstream consumer of the
  * cluster structure (the deduplicated corpus, quality-argmax
  * representatives, survivorship reports) PROBES a committed relation
  * instead of re-deriving the whole LSH→connected-components pipeline
  * per query — three full dedup subtrees at 100 TB become one.
  *
  * Layout under the index root:
  * {{{
  *   lsh/                 an embedded [[LshIndex]] (bands/sets/hot/
  *                        meta, its own commit protocol) — the pair
  *                        source for builds AND the probe target for
  *                        appends
  *   meta                 the RANGE layout (num_parts, width) as a
  *                        text sidecar (driver-written scalars, no
  *                        Spark job to read — likewise partlist/
  *                        doclist below), frozen
  *                        at build — shared by both partition spaces
  *                        below (component ids are member MINIMA, so
  *                        they live in doc-id space)
  *   v=<id>/clusters/part=<b>   the assignment rows whose
  *                        component_id falls in range b — only the
  *                        partitions a version TOUCHED are present
  *   v=<id>/partlist      which clusters/ partitions this version
  *                        owns (a touched partition may be empty —
  *                        every row moved out — so presence is
  *                        recorded explicitly, not inferred from
  *                        directories)
  *   v=<id>/labels/part=<b>     the SAME rows partitioned by DOC-id
  *                        range — the label sidecar [[append]] reads
  *                        instead of the full assignment (a doc-keyed
  *                        lookup can't prune the component-range
  *                        layout; this twin makes the contraction
  *                        join and the singleton anti-join
  *                        batch-proportional)
  *   v=<id>/doclist       which labels/ partitions this version owns
  *   commits/<id>, locks/ [[IndexCommit]] markers for cluster versions
  * }}}
  *
  * Both relations are range-partitioned and versions are PARTIAL:
  * [[append]] publishes only the partitions the label remap and the
  * arriving batch touch (in each partition space); a reader resolves
  * each partition to its newest owning version. Component merges
  * rewrite labels of previously-assigned documents (an arriving batch
  * can bridge two old clusters), but a merge's blast radius is exactly
  * the partitions of the labels involved — with monotone doc ids a
  * steady-state append touches the tail range plus the bridged
  * components' ranges, NOT the corpus (at 100 TB: megabytes per
  * micro-batch instead of the ~1.6 TB full-assignment rewrite this
  * replaces).
  *
  * Scale contract: corpus TEXT is read exactly once, at [[build]].
  * [[append]] tokenizes only the batch (via [[LshIndex.append]] +
  * [[LshIndex.probe]]), runs connected components over the LABEL
  * graph (batch-edge-proportional, not corpus-proportional — old
  * components enter as single label nodes), READS only the label-
  * sidecar partitions covering the batch and its candidate endpoints
  * plus the touched partitions it rewrites (never the full
  * assignment — spec-pinned via [[lastAppendStats]]), and rewrites
  * only touched range partitions in both spaces. Probe-side consumers
  * ([[filteredCorpus]], [[bestRepresentatives]]) cost one doc-keyed
  * join against the committed assignment.
  *
  * Vacuum caveat (the delta-chain economics of [[CorpusSnapshot]]):
  * with partial versions, an OLD version can hold the live copy of an
  * untouched partition, so [[IndexCommit.vacuum]] is unsafe unless a
  * FULL version (all partitions — what [[build]] and [[compact]]
  * publish) is among the kept versions. Run [[compact]] first; vacuum
  * to 1 is then safe (spec-pinned).
  *
  * Guard caveat (shared with [[LshIndex.append]], documented there):
  * the hot-shingle guard persisted at build time is the BUILD
  * corpus's; a batch-only-hot shingle keeps feeding candidates until
  * the next rebuild. Degrades toward more candidates, never wrong
  * answers — verification is exact either way. [[LshIndex.guardDrift]]
  * measures the drift.
  */
object ClusterIndex {

  /** Default component-range partition count of the assignment. At
    * production scale this would be sized so a partition is a few GB
    * (rewrite unit ≪ corpus); the principle — rewrite ∝ touched
    * ranges — is what the fixtures pin.
    */
  val DefaultNumParts: Int = 16

  private def lshRoot(path: String): String = s"$path/lsh"

  /** The frozen range layout: partition b covers component ids
    * [b·width, (b+1)·width), with partition numParts-1 unbounded above
    * (ids beyond the build corpus land in the tail range).
    */
  private[graft] final case class Layout(numParts: Int, width: Long)

  private def writeLayout(
      s: SparkSession, path: String, numParts: Int, maxId: Long): Layout = {
    require(numParts >= 1, "numParts must be positive")
    val width = math.max(1L, maxId / numParts + 1)
    // driver-known scalars → text sidecar (no Spark job; see
    // IndexCommit.writeTextSidecar)
    IndexCommit.writeTextSidecar(s, s"$path/meta",
      Seq(numParts.toString, width.toString))
    Layout(numParts, width)
  }

  private[graft] def layout(s: SparkSession, path: String): Layout = {
    // pre-r13 indexes froze the layout as a one-row parquet dir
    val lines = IndexCommit.readTextSidecar(s, s"$path/meta",
      "num_parts", "width")
    Layout(lines(0).toInt, lines(1).toLong)
  }

  /** Range partition of a component id. The subtraction-mediated
    * integer division is exact in doubles for any id · width whose
    * product of quotient×width stays below 2⁵³ — raw `c / width`
    * rounds through an inexact double quotient and can misplace ids
    * sitting on a range boundary.
    */
  private def partOf(c: Column, l: Layout): Column =
    least(((c - pmod(c, lit(l.width))) / lit(l.width)).cast("long"),
      lit((l.numParts - 1).toLong)).cast("int")

  /** Verified near-dup pairs among the documents the embedded LSH
    * index currently holds — [[Dedup.minhashLshPairsDf]]'s exact
    * semantics (band-bucket candidates, exact-Jaccard verification)
    * computed FROM the persisted bands/sets relations, so a build
    * never tokenizes the corpus twice.
    */
  private def selfPairs(
      s: SparkSession, path: String, threshold: Double): DataFrame = {
    // live, not committed, segments: an operator may
    // [[LshIndex.compact]] the embedded index — selfPairs must then
    // read the full segment, not double-count it with the superseded
    // deltas
    val segs = IndexCommit.liveDirs(s, lshRoot(path), "LSH segment")
    val bands = s.read.parquet(segs.map(_ + "/bands"): _*)
    val cand = bands.toDF("doc_a", "band", "key")
      .join(bands.toDF("doc_b", "band", "key"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sets = s.read.parquet(segs.map(_ + "/sets"): _*)
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    cand
      .join(sets.toDF("doc_a", "sh_a"), "doc_a")
      .join(sets.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
  }

  /** Publish a new version holding `clusterRows` (restricted to the
    * component-range partitions `clusterParts`) and `labelRows`
    * (restricted to the doc-range partitions `docParts`): rows land
    * under `clusters/part=<b>` / `labels/part=<b>`, the
    * owned-partition lists in the `partlist` / `doclist` sidecars,
    * and the commit marker last — torn publishes invisible as ever.
    *
    * `labelRows = None` means "the same rows as the clusters leg"
    * (full publishes): the shared relation is CACHED across the two
    * legs, so an expensive shared lineage (build's connected
    * components) executes once, not once per leg — and, unlike the
    * earlier read-back-the-written-parquet formulation, the labels
    * leg starts from in-memory blocks instead of paying a directory
    * listing plus a second scan of the parquet it just wrote (one
    * read-back exchange shaved off every [[build]]/[[compact]]).
    */
  private def publishParts(
      s: SparkSession, path: String, l: Layout,
      clusterRows: DataFrame, clusterParts: Seq[Int],
      labelRows: Option[DataFrame], docParts: Seq[Int]): Long =
    IndexCommit.publish(s, path) { (_, vdir) =>
      // repartition on the partition key first: partitionBy alone
      // writes one file per (upstream partition × part) — 32 shuffle
      // partitions × 16 ranges = up to 512 shards of a relation that
      // wants ≤ numParts files. One exchange, proportional to the
      // rows being published (touched-partition rows on appends)
      def writeLeg(rows: DataFrame, key: Column, sub: String): Unit =
        rows.withColumn("part", partOf(key, l))
          .repartition(l.numParts, col("part"))
          .write.partitionBy("part").mode("overwrite")
          .parquet(s"$vdir/$sub")
      val scope = new CacheScope
      try {
        val shared =
          if (labelRows.isEmpty) scope.cache(clusterRows) else clusterRows
        if (clusterParts.nonEmpty)
          writeLeg(shared, col("component_id"), "clusters")
        if (docParts.nonEmpty)
          writeLeg(labelRows.getOrElse(shared), col("doc_id"), "labels")
      } finally scope.release()
      // owned-partition lists are driver-side Seq[Int] — text sidecars,
      // zero Spark jobs on publish AND on every later resolution walk
      IndexCommit.writeTextSidecar(s, s"$vdir/partlist",
        clusterParts.map(_.toString))
      IndexCommit.writeTextSidecar(s, s"$vdir/doclist",
        docParts.map(_.toString))
    }

  /** One version's owned-partition sidecar (`partlist`/`doclist`).
    * Pre-r13 versions wrote these as parquet dirs — read those too,
    * so appending to an index built before the text-sidecar change
    * keeps resolving its old versions.
    */
  private[graft] def sidecarParts(
      s: SparkSession, path: String): Seq[Int] =
    IndexCommit.readTextSidecar(s, path, "part").map(_.toInt)

  /** Resolve every partition (optionally restricted to `only`) of one
    * relation (`clusters`/`partlist` or `labels`/`doclist`) to the
    * data dir of its newest owning committed version; partitions
    * rewritten EMPTY resolve to None. Newest-first with EARLY EXIT
    * once every wanted partition has an owner: resolution cost is the
    * distance to the newest FULL version (one sidecar read right
    * after a compact), not the total version count —
    * [[maybeCompact]]'s cadence bounds that distance.
    */
  private[graft] def partDirMap(
      s: SparkSession, path: String,
      only: Option[Set[Int]] = None,
      subdir: String = "clusters",
      sidecar: String = "partlist"): Map[Int, Option[String]] = {
    val ids = IndexCommit.committedIds(s, path)
    require(ids.nonEmpty, s"no committed cluster index under $path")
    val want: Set[Int] =
      only.getOrElse((0 until layout(s, path).numParts).toSet)
    val fs = new Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val chosen = scala.collection.mutable.Map.empty[Int, Option[String]]
    val it = ids.reverseIterator
    while (it.hasNext && !want.subsetOf(chosen.keySet)) {
      val vdir = IndexCommit.versionDir(path, it.next())
      val owned = sidecarParts(s, s"$vdir/$sidecar")
      for (p <- owned if want.contains(p) && !chosen.contains(p)) {
        val d = new Path(s"$vdir/$subdir/part=$p")
        chosen(p) = if (fs.exists(d)) Some(d.toString) else None
      }
    }
    chosen.toMap
  }

  private[graft] def partDirs(
      s: SparkSession, path: String,
      only: Option[Set[Int]] = None): Seq[String] =
    partDirMap(s, path, only).values.flatten.toSeq

  private def readParts(
      s: SparkSession, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("component_id",
            org.apache.spark.sql.types.LongType))))
    else s.read.parquet(dirs: _*).select("doc_id", "component_id")

  private def assignment(s: SparkSession, path: String): DataFrame =
    readParts(s, partDirs(s, path))

  /** Build the index from the corpus at `dir` (optionally restricted
    * by `docFilter`): one [[LshIndex.build]] (the only corpus
    * tokenization), pairs derived from the persisted relations,
    * connected components, and the full assignment published as the
    * base version across all `numParts` range partitions. Returns the
    * committed version id.
    */
  def build(
      s: SparkSession, dir: String, path: String,
      threshold: Double = 0.8, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      maxDocFreq: Option[Double] = None,
      docFilter: Option[Column] = None,
      numParts: Int = DefaultNumParts): Long = {
    LshIndex.build(s, dir, lshRoot(path), n, numHashes, rowsPerBand,
      maxDocFreq, docFilter)
    val scope = new CacheScope
    try {
      val comp = Dedup.connectedComponents(
        selfPairs(s, path, threshold)
          .select(col("doc_a").as("u"), col("doc_b").as("v")), scope)
      val d = docFilter.foldLeft(
        s.read.parquet(s"$dir/documents.parquet"))((x, f) => x.filter(f))
      val maxId = Option(
        d.agg(max(col("doc_id"))).head().getAs[java.lang.Long](0))
        .map(_.longValue).getOrElse(0L)
      val l = writeLayout(s, path, numParts, maxId)
      publishParts(s, path, l,
        d.select("doc_id")
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component_id"), col("doc_id"))
              .as("component_id")),
        0 until numParts, None, 0 until numParts)
    } finally scope.release()
  }

  /** Which partitions the last [[append]] in this JVM actually READ —
    * the spec hook pinning the batch-proportional contract (an append
    * must never scan the full assignment): `lookupDocParts` are the
    * label-sidecar ranges read for contraction + the singleton
    * anti-join, `rewriteClusterParts`/`rewriteDocParts` the touched
    * partitions read-and-rewritten in each space. Diagnostic only.
    */
  private[graft] final case class AppendStats(
      lookupDocParts: Seq[Int], rewriteClusterParts: Seq[Int],
      rewriteDocParts: Seq[Int], numParts: Int)

  @volatile private[graft] var lastAppendStats: Option[AppendStats] = None

  /** Fold a batch of NEW documents into the index: append the batch
    * to the embedded LSH index, probe it for every new verified pair
    * (batch↔corpus and batch↔batch — probing AFTER the append makes
    * one probe return both), then merge components over the LABEL
    * graph: each edge endpoint contracts to its current component id,
    * connected components run on that batch-proportional graph, and
    * ONLY the range partitions holding a remapped label, receiving a
    * merged label, or gaining a batch singleton are rewritten — every
    * other partition's files stay untouched on disk, resolved from
    * their prior owning version. Labels are component MINIMA, so the
    * merged label (min of member labels) is the min doc_id over all
    * merged members — [[append]] after [[build]](A) equals
    * [[build]](A∪B) exactly whenever the hot-set guards coincide
    * (spec-pinned; trivially true with no guard).
    *
    * NOT idempotent under replay, like [[LshIndex.append]]: callers
    * dedup upstream or track applied batch ids. Atomic: both the LSH
    * segment and the new assignment version land behind commit
    * markers, so a kill at any point leaves the previous version
    * answering (the torn assignment is invisible; a committed LSH
    * segment without its assignment version only means the next
    * append's probe sees the batch early — candidates, not answers).
    */
  def append(
      s: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.8): Long =
    // serialize appends behind the root lock ([[IndexCommit.withLock]]
    // — the publishDelta convention): an append reads the current
    // assignment and publishes its successor, so two interleaved
    // appenders would each rewrite from the same base and the later
    // commit would silently drop the earlier one's touched-partition
    // rewrites. The embedded LSH append inside stays concurrency-safe
    // on its own (disjoint segments), but ordering it under the same
    // lock keeps probe-visible state consistent with the assignment.
    IndexCommit.withLock(s, path, "append.lock") {
      appendLocked(s, path, batch, threshold)
    }

  private def appendLocked(
      s: SparkSession, path: String, batch: DataFrame,
      threshold: Double): Long = {
    LshIndex.append(s, lshRoot(path), batch)
    val scope = new CacheScope
    try {
      val l = layout(s, path)
      // cached: the edges feed the lookup-range collect AND the label
      // contraction — without the cache the LSH probe runs twice
      val edges = scope.cache(
        LshIndex.probe(s, lshRoot(path), batch, threshold, scope)
          .filter(col("doc_new") =!= col("doc_idx"))
          .select(col("doc_new").as("u"), col("doc_idx").as("v")))
      val batchIds = scope.cache(batch.select("doc_id"))
      // the doc-range label partitions the append READS: every edge
      // endpoint's range (contraction) plus the batch's own ranges
      // (singleton anti-join) — batch/candidate-proportional, never
      // the corpus. A driver-side collect bounded by numParts.
      val lookupParts = edges.select(partOf(col("u"), l).as("part"))
        .unionByName(edges.select(partOf(col("v"), l).as("part")))
        .unionByName(batchIds.select(partOf(col("doc_id"), l).as("part")))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      val lookup = scope.cache(readParts(s,
        partDirMap(s, path, Some(lookupParts.toSet), "labels", "doclist")
          .values.flatten.toSeq))
      // contract edge endpoints to current labels (batch docs are
      // their own label until merged)
      val lu = lookup.toDF("u", "lu")
      val lv = lookup.toDF("v", "lv")
      val labelEdges = edges
        .join(lu, Seq("u"), "left")
        .join(lv, Seq("v"), "left")
        .select(coalesce(col("lu"), col("u")).as("u"),
          coalesce(col("lv"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      // cached: the remap feeds the touched-partition scans and both
      // rewrite joins
      val remap = scope.cache(Dedup.connectedComponents(labelEdges, scope)
        .toDF("old_label", "new_label"))
      // batch docs not present in the current assignment start as
      // their own singleton rows, then both populations remap — the
      // anti-join runs against the batch-range label lookup, not the
      // full assignment
      val added = scope.cache(batchIds
        .join(lookup.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("component_id")))
      // component-space blast radius: partitions of remapped-from
      // labels (rows leave), remapped-to labels (rows arrive), and
      // batch singleton ids
      val touched = remap
        .select(partOf(col("old_label"), l).as("part"))
        .unionByName(remap.select(partOf(col("new_label"), l).as("part")))
        .unionByName(added.select(partOf(col("component_id"), l).as("part")))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      // cached: feeds the clusters rewrite AND the doc-space
      // blast-radius scan below
      val curTouched = scope.cache(readParts(s,
        touched.flatMap(partDirMap(s, path, Some(touched.toSet)).get)
          .flatten))
      val newClusterRows = curTouched.unionByName(added)
        .join(remap, col("component_id") === col("old_label"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("component_id"))
            .as("component_id"))
      // doc-space blast radius: the doc ranges of every document
      // whose component remaps (all live in touched cluster parts —
      // their component IS a remapped label) plus the batch's ranges
      val touchedDocParts = curTouched
        .join(remap, col("component_id") === col("old_label"))
        .select(partOf(col("doc_id"), l).as("part"))
        .unionByName(added.select(partOf(col("doc_id"), l).as("part")))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      val curDocRows = readParts(s,
        touchedDocParts.flatMap(
          partDirMap(s, path, Some(touchedDocParts.toSet),
            "labels", "doclist").get).flatten)
      // added rows join the remap too: a batch doc that merged into a
      // cluster carries the merged label, not its singleton self-label
      val newDocRows = curDocRows.unionByName(added)
        .join(remap, col("component_id") === col("old_label"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("component_id"))
            .as("component_id"))
      lastAppendStats =
        Some(AppendStats(lookupParts, touched, touchedDocParts, l.numParts))
      publishParts(s, path, l,
        newClusterRows, touched, Some(newDocRows), touchedDocParts)
    } finally scope.release()
  }

  /** Materialize the resolved assignment as a FULL version (all range
    * partitions under one version directory) — after which
    * [[IndexCommit.vacuum]] down to one version is safe, exactly like
    * [[CorpusSnapshot.compact]] for delta chains.
    */
  def compact(s: SparkSession, path: String): Long = {
    val l = layout(s, path)
    publishParts(s, path, l, assignment(s, path),
      0 until l.numParts, None, 0 until l.numParts)
  }

  /** Committed versions newer than the newest FULL version (one whose
    * partlist owns every partition — what [[build]] and [[compact]]
    * publish). This is the resolution depth [[partDirMap]] pays minus
    * one, and the quantity [[maybeCompact]] gates on. O(distance)
    * tiny sidecar reads, newest-first.
    */
  private[graft] def versionsSinceFull(s: SparkSession, path: String): Int = {
    val n = layout(s, path).numParts
    val ids = IndexCommit.committedIds(s, path)
    var dist = 0
    val it = ids.reverseIterator
    var found = false
    while (it.hasNext && !found) {
      val vdir = IndexCommit.versionDir(path, it.next())
      if (sidecarParts(s, s"$vdir/partlist").length == n) found = true
      else dist += 1
    }
    dist
  }

  /** The compact-cadence bound for long append streams (the
    * [[CorpusSnapshot.maybeCompact]] convention): partition resolution
    * walks versions newest-first until every partition has an owner —
    * its cost is the distance to the newest FULL version, so a
    * [[graft.streaming.StreamingCluster]] feed accumulating hundreds
    * of partial versions would pay O(appends-since-full) sidecar reads
    * per probe. Fired after appends, this compacts once the DISTANCE
    * TO THE NEWEST FULL VERSION reaches maxVersions-1 — gating on
    * distance rather than total version count means the trigger
    * resets at every compact by itself (compact publishes a full
    * version), so a long-lived stream that never vacuums still pays
    * one full-assignment rewrite per maxVersions-1 appends, not one
    * per batch once the count crosses the bar. Resolution stays
    * bounded at maxVersions sidecar reads; follow with
    * [[IndexCommit.vacuum]] (the compacted version is full, so
    * keeping it is safe) to also bound disk. Returns the compacted id
    * when it fired.
    */
  def maybeCompact(
      s: SparkSession, path: String, maxVersions: Int): Option[Long] = {
    require(maxVersions >= 2, "maxVersions must be at least 2")
    if (versionsSinceFull(s, path) >= maxVersions - 1)
      Some(compact(s, path))
    else None
  }

  /** The CURRENT committed cluster relation — identical rows to
    * [[Dedup.duplicateClusters]] over the indexed corpus:
    * (doc_id, component_id, keep) with keep marking the min-id
    * representative.
    */
  def clusters(s: SparkSession, path: String): DataFrame =
    assignment(s, path)
      .withColumn("keep", col("doc_id") === col("component_id"))

  /** POINT LOOKUP into the committed assignment: the cluster rows of
    * an explicit doc-id set, read from ONLY the doc-range `labels`
    * partitions that can hold the requested ids — the serving-path
    * read a dedup deployment actually issues at 100 TB ("is this doc
    * a duplicate? what's its canonical id?"), where answering from
    * [[clusters]] means scanning the corpus-sized assignment. The
    * doc-range layout is the same frozen (numParts, width) meta the
    * writers partition by, so each id's partition is driver
    * arithmetic; [[partDirMap]] resolves each partition to its newest
    * owning version (cost = distance to the newest full version, the
    * [[maybeCompact]] cadence bound, NOT total history). Docs the
    * index never assigned are simply absent — point-lookup semantics,
    * exactly [[CorpusSnapshot.readResolvedSubset]]'s contract. The
    * doc set is driver-known (thousands at most); a corpus-scale id
    * relation wants [[clusters]] + join.
    */
  def lookup(
      s: SparkSession, path: String, docIds: Seq[Long]): DataFrame = {
    require(docIds.nonEmpty, "lookup needs at least one doc id")
    val ids = docIds.distinct
    val l = layout(s, path)
    val parts = ids.map(id =>
      math.min(Math.floorDiv(id, l.width), (l.numParts - 1).toLong).toInt)
      .toSet
    val dirs = partDirMap(s, path, Some(parts), "labels", "doclist")
      .values.flatten.toSeq
    readParts(s, dirs)
      .filter(col("doc_id").isin(ids: _*))
      .withColumn("keep", col("doc_id") === col("component_id"))
  }

  /** The deduplicated corpus via the index — [[Dedup.dedupedCorpus]]'s
    * rows from one doc-keyed join against the committed keep-set,
    * zero dedup recomputation.
    */
  def filteredCorpus(s: SparkSession, dir: String, path: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .join(clusters(s, path).filter(col("keep")).select("doc_id"),
        Seq("doc_id"))
      .select("doc_id", "lang", "source", "n_chars")

  /** Quality-argmax representatives via the index —
    * [[Dedup.bestRepresentatives]]' rows with the cluster relation
    * read from the committed assignment instead of re-derived.
    */
  def bestRepresentatives(
      s: SparkSession, dir: String, path: String): DataFrame =
    Dedup.bestRepresentativesOf(s, dir,
      assignment(s, path).select("doc_id", "component_id"))
}
