package graft.engine

import scala.collection.{immutable, mutable}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of a keyed merge: the full updated target relation plus the
  * number of target rows that matched a delta row (the reference's
  * `row_count_updated`, `importer.py:359`) and, when the insert leg
  * ran, the number of unmatched delta rows appended.
  *
  * The counts are a by-product of executing the merge, as `cur.rowcount`
  * is of the reference's one UPDATE: the [[MergeSink]] that writes the
  * merge settles them, from the write's own pass or from the database's
  * statement row counts. Read before any sink ran, they cost one
  * aggregate over the marked relation, memoized.
  */
final class MergeResult private (
    val updated: DataFrame,
    marked: Option[DataFrame],
    private var counts: Option[(Long, Long)]) {

  def rowCountUpdated: Long = settled._1
  def rowCountInserted: Long = settled._2

  private def settled: (Long, Long) = synchronized {
    counts.getOrElse {
      val r = marked.get
        .agg(MergeResult.countCols.head, MergeResult.countCols.tail: _*).head()
      settle(r.getLong(0), r.getLong(1))
      counts.get
    }
  }

  private[engine] def settle(updated: Long, inserted: Long): Unit =
    synchronized { counts = Some((updated, inserted)) }

  /** [[updated]] carrying both counts as metrics of `obs`: whichever
    * action runs it first fulfils `obs` in the same pass.
    */
  private[graft] def observed(obs: Observation): DataFrame = marked.fold(updated)(
    _.observe(obs, MergeResult.countCols.head, MergeResult.countCols.tail: _*)
      .drop(MergeResult.Matched, MergeResult.Inserted))

  /** Runs `write` over a fresh observed copy of the merge and settles
    * the counts from that pass. The copy is the sink's own, so a
    * caller's partial action on [[updated]] cannot fulfil it early. The
    * metrics arrive on the listener bus after the write returns, hence
    * the blocking `get`.
    */
  private[engine] def writeObserved(write: DataFrame => Unit): Unit = {
    val obs = Observation()
    write(observed(obs))
    if (marked.isDefined) {
      val m = obs.get
      settle(m("updated").asInstanceOf[Long], m("inserted").asInstanceOf[Long])
    }
  }
}

object MergeResult {

  /** A result whose counts are already known. */
  def apply(updated: DataFrame, rowCountUpdated: Long,
      rowCountInserted: Long = 0L): MergeResult =
    new MergeResult(updated, None, Some((rowCountUpdated, rowCountInserted)))

  /** A planned merge: `marked` is the merged relation with the two
    * row [[flags]] appended; its counts are unsettled.
    */
  private[engine] def planned(marked: DataFrame): MergeResult =
    new MergeResult(marked.drop(Matched, Inserted), Some(marked), None)

  /** The row flags of a marked relation: whether the row is a target
    * row that took a delta row's values, and whether it is an unmatched
    * delta row appended by the insert leg.
    */
  private[engine] def flags(matched: Column, inserted: Column): Seq[Column] =
    Seq(matched.as(Matched), inserted.as(Inserted))

  private val Matched = "__merge_matched"
  private val Inserted = "__merge_inserted"

  private val countCols: Seq[Column] = Seq(
    count_if(col(Matched)).as("updated"),
    count_if(col(Inserted)).as("inserted"))
}

/** The core operator of the engine: a bulk keyed UPDATE, re-expressed
  * Spark-first. The reference stages a pandas frame into a temp table
  * and runs one set-based `UPDATE … INNER JOIN` inside the database
  * (`/root/reference/dbimport/importer.py:313-354`); here "update the
  * table" becomes "produce the merged DataFrame" — a left join of the
  * target against the (small, broadcast) delta plus a per-column
  * matched-row switch. Write-back is the caller's sink's job.
  *
  * Validation contract (V1-V10) mirrors `importer.py:63-70,165-251`:
  * bad arguments throw `IllegalArgumentException` (the reference's
  * `ValueError`), bad data shapes throw [[ImporterException]].
  *
  * Scale notes (100 TB design): the delta side is always broadcast
  * (it is the small side by construction — a user-supplied update set),
  * so the target table is never shuffled; the plan is a single
  * BroadcastHashJoin over the target scan. Key-uniqueness validation
  * (V10) is a partial-aggregate existence probe on the delta only.
  * [[run]] and [[merge]] only plan: each row of the merged relation
  * carries a matched/inserted flag, and the sink that writes it counts
  * the flags in the same pass (`rowCountUpdated` is no longer a
  * semi-join count of its own). Data rows are materialized on the
  * driver only when they already live there: a delta whose optimized
  * plan is a `LocalRelation` (a spreadsheet or `createDataFrame`
  * source) is validated from its rows ([[Importer.localRows]]), which
  * copies a bounded relation and runs no Spark job, as the reference
  * validates its pandas frame on the client (`importer.py:242-249`).
  *
  * @param target     the table being updated
  * @param dataMaster the delta / update set ("data" in the reference)
  * @param table      target table name, used in error messages (V8)
  * @param schema     optional schema qualifier for the table name
  * @param tablePk    primary-key metadata for `target` (Spark has no PK
  *                   concept — supplied by [[Catalog]], the analogue of
  *                   `_get_pk`, `importer.py:149-155`)
  * @param joinOnOpt  explicit join keys; defaults to data ∩ PK (J4,
  *                   `importer.py:100`)
  * @param subsetOpt  columns to update; defaults to data columns minus
  *                   join keys (`importer.py:101`)
  */
final class Importer private (
    target: DataFrame,
    dataMaster: DataFrame,
    table: String,
    schema: Option[String],
    tablePk: Seq[String],
    joinOnOpt: Option[Seq[String]],
    subsetOpt: Option[Seq[String]],
    dropJoinColsFromSubset: Boolean
) {

  def this(
      target: DataFrame,
      dataMaster: DataFrame,
      table: String = "target",
      schema: Option[String] = None,
      tablePk: Seq[String] = Nil,
      joinOn: Option[Seq[String]] = None,
      subset: Option[Seq[String]] = None
  ) = this(target, dataMaster, table, schema, tablePk, joinOn, subset,
    dropJoinColsFromSubset = true)

  // V1 — `importer.py:63-64`. `isEmpty` is a LIMIT-1 probe, not a scan.
  if (dataMaster.isEmpty)
    throw new IllegalArgumentException("data contains no records")

  private val dataCols = dataMaster.columns.toSeq
  private val tableCols = target.columns.toSeq

  /** J4 — default join keys: data columns ∩ table PK, in data order. */
  val joinOn: Seq[String] = setJoinOn(
    joinOnOpt.filter(_.nonEmpty).getOrElse(dataCols.filter(tablePk.contains)))

  /** Default subset: all data columns; join keys are filtered out on
    * the constructor path (`importer.py:101`) but not on the
    * [[withSubset]] path, which mirrors the reference's property
    * setter and so can hit V7.
    */
  val subset: Seq[String] = {
    val raw = subsetOpt.filter(_.nonEmpty).getOrElse(dataCols)
    setSubset(if (dropJoinColsFromSubset) raw.filterNot(joinOn.contains) else raw)
  }

  val tablePrimaryKey: Seq[String] = tablePk
  val tableColumns: Seq[String] = tableCols

  /** A3 — order-preserving first-occurrence dedup (`importer.py:141-147`). */
  private def unique(values: Seq[String]): Seq[String] = values.distinct

  private def quoted(cols: Iterable[String]): String =
    cols.toSeq.sorted.map(c => s"'$c'").mkString(", ")

  private def plural(n: Int): String = if (n > 1) "s" else ""

  /** V3/V4 — `importer.py:165-179`. */
  private def setJoinOn(columns: Seq[String]): Seq[String] = {
    if (columns.isEmpty)
      throw new IllegalArgumentException("column(s) to join on are required")
    val cols = unique(columns)
    val diff = cols.toSet -- dataCols.toSet
    if (diff.nonEmpty)
      throw new IllegalArgumentException(
        s"couldn't find supplied column${plural(diff.size)} to join on: ${quoted(diff)}")
    cols
  }

  /** V5/V6/V7/V8 — `importer.py:182-226`. */
  private def setSubset(columns: Seq[String]): Seq[String] = {
    if (columns.isEmpty)
      throw new IllegalArgumentException("no columns provided")
    val cols = unique(columns)
    val missing = cols.toSet -- dataCols.toSet
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"column${plural(missing.size)} provided not found in data: ${quoted(missing)}")
    val overlap = cols.toSet & joinOn.toSet
    if (overlap.nonEmpty)
      throw new IllegalArgumentException(
        s"column${plural(cols.size)} provided cannot contain join on " +
          s"column${plural(overlap.size)}: ${quoted(overlap)}")
    val notInTable = cols.toSet -- tableCols.toSet
    if (notInTable.nonEmpty)
      throw new IllegalArgumentException(
        s"column${plural(notInTable.size)} provided not found in " +
          s"'${Types.qualifyName(schema.orNull, table)}' table: ${quoted(notInTable)}")
    cols
  }

  /** P1 + P3 + V9 — `_slice_data` (`importer.py:228-240`): project to
    * join+subset columns, drop rows with any null join key, reject
    * duplicate column labels.
    */
  val data: DataFrame = {
    val cols = joinOn ++ subset
    val dups = {
      val selected = dataCols.filter(cols.contains)
      selected.diff(selected.distinct).distinct
    }
    if (dups.nonEmpty)
      throw new ImporterException(
        s"data contains duplicate column${plural(dups.size)}: " +
          dups.map(c => s"'$c'").mkString(", "))
    dataMaster.select(cols.map(col): _*).na.drop("any", joinOn)
  }

  /** V10 / A1 — duplicate join-key detection (`importer.py:242-249`).
    * A delta whose key rows are local ([[Importer.localRows]]) is
    * checked in a driver-side set: the rows are already on the driver,
    * so no Spark job runs. Any other delta gets a map-side-combined
    * groupBy plus a LIMIT-1 existence probe, never a collect.
    */
  def validateUniqueKeys(): Unit = {
    val keys = data.select(joinOn.map(col): _*)
    val local =
      if (keys.schema.forall(f => Importer.groupsByValue(f.dataType))) Importer.localRows(keys)
      else None
    val hasDup = local match {
      case Some(rows) => Importer.hasDuplicateKeys(rows)
      case None => !data
        .groupBy(joinOn.map(col): _*)
        .count()
        .filter(col("count") > 1)
        .isEmpty
    }
    if (hasDup)
      throw new ImporterException(
        "data contains duplicate values in join on " +
          s"column${plural(joinOn.size)}: " + joinOn.map(c => s"'$c'").mkString(", "))
  }

  validateUniqueKeys()

  /** Rebind join keys (the reference's `join_on` setter re-slices,
    * `importer.py:111-116`); immutable here — returns a new Importer.
    */
  def withJoinOn(columns: Seq[String]): Importer =
    new Importer(target, dataMaster, table, schema, tablePk, Some(columns),
      subsetOpt, dropJoinColsFromSubset)

  /** Rebind the update subset (the reference's `subset` setter,
    * `importer.py:118-123`) — unlike the constructor default, an
    * explicit rebind does NOT filter join keys, so V7 applies.
    */
  def withSubset(columns: Seq[String]): Importer =
    new Importer(target, dataMaster, table, schema, tablePk, joinOnOpt,
      Some(columns), dropJoinColsFromSubset = false)

  private def delta: DataFrame = broadcast(data)

  /** The merged relation (J1/J2 semantics, lazily planned): every
    * target row; rows whose keys match a delta row take the delta's
    * subset values (including explicit nulls — this is UPDATE, not
    * COALESCE), all other rows pass through untouched. Null-keyed
    * target rows never match (SQL `=` semantics), mirroring the
    * pinned behavior of `test_importer.py:166-189`.
    *
    * The delta's columns are renamed before the join so the plan stays
    * unambiguous even when the delta is derived from the target itself
    * (a self-merge) — no reliance on dataset-id disambiguation.
    */
  def updated: DataFrame = merge().updated

  /** [[updated]] plus the row flags of [[MergeResult.planned]]. */
  private def markedUpdate: DataFrame = {
    val u = delta.select(
      (joinOn ++ subset).map(c => col(c).as(s"__u_$c")): _*)
    // Delta join keys are non-null after the P3 drop, so a non-null
    // delta key column marks a matched row.
    val matched = col(s"__u_${joinOn.head}").isNotNull
    val cond = joinOn.map(k => col(k) === col(s"__u_$k")).reduce(_ && _)
    val outCols: Seq[Column] = tableCols.map { c =>
      if (subset.contains(c)) when(matched, col(s"__u_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    target.join(u, cond, "left")
      .select(outCols ++ MergeResult.flags(matched, lit(false)): _*)
  }

  /** The target untouched, flagged as neither matched nor inserted. */
  private def markedTarget: DataFrame =
    target.select(tableCols.map(col) ++ MergeResult.flags(lit(false), lit(false)): _*)

  /** The WHEN NOT MATCHED THEN INSERT leg: delta rows whose keys match
    * no target row, shaped as target rows — joinOn ∪ subset columns
    * from the delta, every other target column null (cast to the
    * target's type) — and flagged as inserted. Key-uniqueness of the
    * whole delta (V10) already guards this side — staged-side
    * validation is reused, not redone.
    *
    * Shape at scale: a MERGE needs matched-key knowledge on both legs.
    * To keep every join broadcast-from-the-delta (the target is never
    * shuffled), the matched key set is computed as a broadcast
    * left-semi probe of the target (cardinality ≤ |delta| since keys
    * are unique) and the unmatched delta rows as a broadcast anti join
    * against THAT — a second target scan instead of a target shuffle,
    * the right trade at 100 TB. A naive `delta ANTI JOIN target` would
    * put the corpus on the build side.
    */
  private def markedInserts: DataFrame = {
    // delta keys renamed pre-join, like [[updated]] — keeps self-merge
    // plans unambiguous without dataset-id disambiguation
    val dk = delta.select(joinOn.map(c => col(c).as(s"__k_$c")): _*)
    val matchedKeys = broadcast(
      target.join(dk,
        joinOn.map(k => col(k) === col(s"__k_$k")).reduce(_ && _),
        "left_semi")
        .select(joinOn.map(c => col(c).as(s"__m_$c")): _*))
    val unmatched = delta.join(matchedKeys,
      joinOn.map(k => col(k) === col(s"__m_$k")).reduce(_ && _), "left_anti")
    val outCols: Seq[Column] = tableCols.map { c =>
      if (joinOn.contains(c) || subset.contains(c)) col(c)
      else lit(null).cast(target.schema(c).dataType).as(c)
    }
    unmatched.select(outCols ++ MergeResult.flags(lit(false), lit(true)): _*)
  }

  /** UPDATE + INSERT legs combined: [[updated]] plus the unmatched delta
    * rows appended — the full `MERGE WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT` relation.
    */
  def upserted: DataFrame = run(update = true, insert = true).updated

  /** E2 `run(update=True)` analogue: plan the merged relation; its
    * affected-row count is settled by the sink that writes it.
    */
  def merge(): MergeResult = MergeResult.planned(markedUpdate)

  /** Full `run` contract (`importer.py:293-310`): V11 requires at
    * least one action. The reference DECLARES the insert action and
    * raises NotImplementedError (`importer.py:361-362`,
    * `README.md:5-6`); this engine completes it as the natural
    * MERGE-upsert extension of S9/J1: insert alone appends unmatched
    * delta rows to an untouched target, update+insert is the full
    * upsert. Plans only: no Spark job runs here.
    */
  def run(update: Boolean = true, insert: Boolean = false): MergeResult = {
    if (!update && !insert)
      throw new IllegalArgumentException("at least one action must be performed")
    (update, insert) match {
      case (true, false) => merge()
      case (true, true)  => MergeResult.planned(markedUpdate.unionByName(markedInserts))
      case _             => MergeResult.planned(markedTarget.unionByName(markedInserts))
    }
  }
}

object Importer {

  /** The rows of `df` when its optimized plan is a `LocalRelation`:
    * rows that already sit on the driver (a spreadsheet read, a
    * `createDataFrame` of local rows, with any projection or filter
    * folded in by the optimizer). Collecting them copies a bounded
    * relation and runs no Spark job; `None` for any other plan. The
    * optimized plan decides, not `Dataset.isLocal`, which reads the
    * analyzed plan and so says no once a `select` or `na.drop` sits on
    * the local relation.
    */
  private[engine] def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(df.collect())
      case _ => None
    }

  /** Whether the driver-side duplicate check compares keys of type `t`
    * as Spark's grouping does. Any other key type, such as a string
    * under a non-binary collation, keeps the distributed probe.
    */
  private def groupsByValue(t: DataType): Boolean = t match {
    case s: StringType => s.collationId == StringType.collationId // UTF8_BINARY
    case _: NumericType | BooleanType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A key value as Spark's grouping compares it: `-0.0` equals `0.0`
    * (its float normalization; NaN keys never get here, P3 drops them)
    * and binary keys compare by content. `Row.hashCode` hashes an
    * `Array[Byte]` by identity, so rows themselves cannot be the set's
    * elements.
    */
  private def groupingValue(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case b: Array[Byte] => immutable.ArraySeq.unsafeWrapArray(b)
    case other => other
  }

  private def hasDuplicateKeys(rows: Array[Row]): Boolean = {
    val seen = mutable.HashSet.empty[Seq[Any]]
    !rows.forall(r => seen.add(r.toSeq.map(groupingValue)))
  }

  /** One-shot functional form used by [[graft.SparkEntry]]: validate,
    * slice, and merge in a single call.
    */
  def merge(
      target: DataFrame,
      data: DataFrame,
      joinOn: Seq[String],
      subset: Seq[String] = Nil,
      tablePk: Seq[String] = Nil
  ): MergeResult =
    new Importer(target, data, tablePk = tablePk,
      joinOn = Option(joinOn).filter(_.nonEmpty),
      subset = Option(subset).filter(_.nonEmpty)).merge()
}
