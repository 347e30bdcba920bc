package graft.engine

import java.sql.{Connection, PreparedStatement, Statement}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.types._

/** What a merge updates and on which keys — the sink-facing slice of
  * the [[Importer]] contract (table name, join keys, update subset),
  * mirroring the reference's (`schema`, `table`, `join_on`, `subset`)
  * constructor state (`/root/reference/dbimport/importer.py:73-101`).
  *
  * `updateMatched`/`insertUnmatched` mirror `Importer.run`'s
  * (update, insert) flags so every run combination is expressible
  * through a JDBC sink: update-only (the default), the full upsert,
  * and insert-only — where matched target rows stay UNTOUCHED
  * (before the flag existed, a caller wiring insert-only silently
  * got an upsert). At least one leg must be on, like run's V11.
  */
final case class MergeSpec(
    table: String,
    joinOn: Seq[String],
    subset: Seq[String],
    schema: Option[String] = None,
    insertUnmatched: Boolean = false,
    updateMatched: Boolean = true) {
  require(updateMatched || insertUnmatched,
    "at least one merge leg (updateMatched, insertUnmatched) must be on")
}

/** S9 — where a merge's effect lands. The reference's whole purpose is
  * the server-side write-back (`importer.py:293-359`: drop/create a
  * staging temp table, chunked `executemany` of the delta, one
  * set-based `UPDATE … INNER JOIN`, commit). Spark-first, the merge
  * itself is the lazily-planned [[Importer.updated]] relation and a
  * MergeSink is the terminal operator that materializes the effect —
  * either by rewriting the table in the lake ([[ParquetMergeSink]]) or
  * by pushing the UPDATE to the origin database ([[JdbcMergeSink]] /
  * [[JdbcParallelMergeSink]]).
  *
  * Contract: `write` returns the affected count (A4, `cur.rowcount`
  * analogue: updated plus inserted rows) and settles the result's
  * `rowCountUpdated`/`rowCountInserted` from the same execution, so
  * reading them afterwards runs no Spark job.
  */
trait MergeSink {
  def write(merge: MergeResult, delta: DataFrame, spec: MergeSpec): Long
}

/** Data-lake sink: materialize the merged relation and rewrite the
  * table location with bounded rows per file — the chunk-size contract
  * of the reference's bulk insert carried to file granularity (S8).
  * The merge's counts are observed in the same pass as the write.
  */
final class ParquetMergeSink(
    path: String, chunkSize: Int = Staging.ChunkSize
) extends MergeSink {
  override def write(
      merge: MergeResult, delta: DataFrame, spec: MergeSpec): Long = {
    merge.writeObserved(Staging.writeBatched(_, path, chunkSize))
    // affected = both legs: for an upsert result `updated` already IS
    // the upserted relation, so the count mirrors the JDBC sinks'
    // update+insert total
    merge.rowCountUpdated + merge.rowCountInserted
  }
}

/** Database sink (S9 proper): re-expression of `Importer.run`
  * (`importer.py:293-359`) over JDBC. Only the DELTA travels: it is
  * streamed to the staging temp table in `chunkSize` batches
  * (`addBatch`/`executeBatch` is JDBC's array-binding analogue of
  * pyodbc's `fast_executemany`, `importer.py:298-299`) with a commit
  * per chunk (`importer.py:253-261`), then one set-based UPDATE joins
  * staging into the target server-side — the target table never
  * leaves the database, and the merged relation is never computed
  * Spark-side.
  *
  * A single connection carries the whole lifecycle because the staging
  * table is session-scoped on both dialects (`#dbimport` /
  * `temp.dbimport`); the delta therefore streams through the driver
  * via `toLocalIterator` (partition-at-a-time, never a full collect) —
  * the delta is the small side by construction (a user-supplied update
  * set). When the delta is large, [[JdbcParallelMergeSink]] is the
  * scale form: per-partition parallel inserts into a globally-visible
  * staging table, then the same UPDATE.
  *
  * Transactions are explicit: autocommit is disabled for the
  * lifecycle (JDBC connections default to `autoCommit=true`, where
  * `commit()` throws on spec-compliant drivers; the reference relies
  * on pyodbc's `autocommit=False` default, which JDBC does not share)
  * and restored before the connection is returned.
  *
  * The connection is injected (`connect`), so the statement/batch
  * protocol is pinned offline by proxy-backed fakes in MergeSinkSpec;
  * there is no live database in this environment.
  */
final class JdbcMergeSink(
    dialect: String,
    connect: () => Connection,
    chunkSize: Int = Staging.ChunkSize
) extends MergeSink {
  SqlGen.requireDialect(dialect)

  /** The reference's staging-table name (`importer.py:16,90`). */
  private val temp: String =
    if (dialect == "mssql") "#dbimport" else "dbimport"

  override def write(
      merge: MergeResult, delta: DataFrame, spec: MergeSpec): Long = {
    val cols = spec.joinOn ++ spec.subset
    val projected = JdbcMergeSink.staged(delta, spec)
    val sqlTypes = JdbcMergeSink.sqlTypesFor(projected.schema)
    val conn = connect()
    try {
      JdbcMergeSink.inTransaction(conn) {
        val st = conn.createStatement()
        try {
          // drop → create → fill → update → drop (importer.py:301-310)
          st.execute(SqlGen.dropTempTable(dialect, temp))
          st.execute(SqlGen.createTempTable(
            dialect, JdbcMergeSink.qualified(dialect, spec), temp, cols))
          val ps = conn.prepareStatement(
            SqlGen.insertInto(dialect, temp, cols))
          try JdbcMergeSink.insertBatches(ps,
            projected.toLocalIterator(),
            sqlTypes, chunkSize, () => conn.commit())
          finally ps.close()
          val stagingRef = if (dialect == "mssql") temp else s"temp.$temp"
          val (updated, inserted) =
            JdbcMergeSink.applyLegs(st, dialect, spec, stagingRef)
          conn.commit()
          merge.settle(updated, inserted)
          st.execute(SqlGen.dropTempTable(dialect, temp))
          updated + inserted
        } finally st.close()
      }
    } finally conn.close()
  }
}

/** S9 scale form — the parallel variant documented against
  * [[JdbcMergeSink]]: the delta never touches the driver. Each Spark
  * partition opens its own connection and bulk-inserts its rows into a
  * GLOBALLY-VISIBLE staging table (the `df.write.jdbc` shape: one
  * writer per partition, chunked batches, per-chunk commit), then one
  * set-based UPDATE joins staging into the target and staging is
  * dropped. Insert throughput scales with the partition count, bounded
  * only by what the target database admits.
  *
  * `connect` must be serializable (it is shipped to executors) and
  * must produce a new connection per call — the usual
  * DriverManager-from-URL factory satisfies both.
  */
final class JdbcParallelMergeSink(
    dialect: String,
    connect: () => Connection,
    chunkSize: Int = Staging.ChunkSize,
    staging: String = "dbimport_stage"
) extends MergeSink {
  SqlGen.requireDialect(dialect)

  override def write(
      merge: MergeResult, delta: DataFrame, spec: MergeSpec): Long = {
    val cols = spec.joinOn ++ spec.subset
    val projected = JdbcMergeSink.staged(delta, spec)
    val sqlTypes = JdbcMergeSink.sqlTypesFor(projected.schema) :+
      java.sql.Types.INTEGER
    // locals so the foreachPartition closure captures values, not
    // `this` (the sink itself is not serializable, and need not be)
    val (dia, stage, cs, cf) = (dialect, staging, chunkSize, connect)
    val insertSql = SqlGen.insertInto(
      dia, stage, cols :+ JdbcParallelMergeSink.PartCol)
    val deleteSql = SqlGen.deleteByPart(
      dia, stage, JdbcParallelMergeSink.PartCol)

    val driverConn = connect()
    try {
      JdbcMergeSink.inTransaction(driverConn) {
        val st = driverConn.createStatement()
        try {
          st.execute(SqlGen.dropStagingTable(dia, stage))
          st.execute(SqlGen.createStagingTable(
            dia, JdbcMergeSink.qualified(dia, spec), stage, cols))
          st.execute(SqlGen.addPartColumn(
            dia, stage, JdbcParallelMergeSink.PartCol))
          driverConn.commit()

          // Idempotence under task retry / speculation: each writer
          // stamps its rows with its partition id and runs
          // delete-own-slice → insert → ONE commit, atomically. A
          // failed attempt leaves nothing (rolled back); a committed
          // attempt that re-runs (speculation, stage retry) first
          // reclaims its own committed rows, so the final staging
          // content is exactly one copy per partition regardless of
          // how many attempts ran or in what order they committed.
          projected
            .withColumn(JdbcParallelMergeSink.PartCol, spark_partition_id())
            .foreachPartition { (rows: Iterator[Row]) =>
              if (rows.hasNext) {
                val pid = org.apache.spark.TaskContext.getPartitionId()
                val c = cf()
                try {
                  JdbcMergeSink.inTransaction(c) {
                    val del = c.prepareStatement(deleteSql)
                    try { del.setInt(1, pid); del.executeUpdate(): Unit }
                    finally del.close()
                    val ps = c.prepareStatement(insertSql)
                    // per-chunk executeBatch flushes bound memory; the
                    // commit callback is a no-op so the whole partition
                    // stays one transaction
                    try JdbcMergeSink.insertBatches(
                      ps, new JdbcMergeSink.RowIt(rows),
                      sqlTypes, cs, () => ()): Unit
                    finally ps.close()
                    c.commit()
                  }
                } finally c.close()
              }
            }

          val (updated, inserted) = JdbcMergeSink.applyLegs(st, dia, spec, stage)
          driverConn.commit()
          merge.settle(updated, inserted)
          st.execute(SqlGen.dropStagingTable(dia, stage))
          driverConn.commit()
          updated + inserted
        } finally st.close()
      }
    } finally driverConn.close()
  }
}

object JdbcParallelMergeSink {
  /** Writer-ownership column stamped into staging by each partition. */
  val PartCol: String = "_graft_part"
}

object JdbcMergeSink {

  /** The delta rows a JDBC sink stages: join keys then subset, rows
    * with any null join key dropped — the Importer's P3 slice
    * (`importer.py:228-240`). A null key matches nothing, and staging
    * it would let the upsert's NOT EXISTS guard insert it.
    */
  private[engine] def staged(delta: DataFrame, spec: MergeSpec): DataFrame =
    delta.select((spec.joinOn ++ spec.subset).map(col): _*)
      .na.drop("any", spec.joinOn)

  /** Explicit-transaction bracket: autocommit off for `body`, restored
    * after. On failure the pending work is ROLLED BACK before the
    * restore — per the JDBC spec, `setAutoCommit(true)` during an
    * active transaction commits it, so restoring first would silently
    * commit a failed write's partial effects.
    */
  private[engine] def inTransaction[A](conn: Connection)(body: => A): A = {
    val prevAuto = conn.getAutoCommit
    conn.setAutoCommit(false)
    try body
    catch {
      case t: Throwable =>
        try conn.rollback()
        catch { case s: java.sql.SQLException => t.addSuppressed(s) }
        throw t
    } finally conn.setAutoCommit(prevAuto)
  }

  /** Runs the UPDATE and INSERT legs `spec` asks for against a filled
    * staging table. Returns their (updated, inserted) row counts — the
    * reference's own `cur.rowcount` — which settle the merge's counts
    * once committed.
    */
  private[engine] def applyLegs(st: Statement, dialect: String,
      spec: MergeSpec, stagingRef: String): (Long, Long) = {
    // insert-only (updateMatched=false) skips the UPDATE statement
    // entirely: matched target rows stay untouched
    val updated =
      if (spec.updateMatched)
        st.executeUpdate(updateSql(dialect, spec, stagingRef)).toLong
      else 0L
    // upsert: the INSERT leg runs AFTER the update in the same
    // transaction — matched staged rows were just applied, so the NOT
    // EXISTS guard appends exactly the unmatched ones
    val inserted =
      if (spec.insertUnmatched)
        st.executeUpdate(insertSql(dialect, spec, stagingRef)).toLong
      else 0L
    (updated, inserted)
  }

  /** Quoted qualified target, `importer.py:274-276`. */
  private[engine] def qualified(dialect: String, spec: MergeSpec): String = {
    def q(n: String): String = Types.quoteName(n).getOrElse(
      throw new IllegalArgumentException(s"identifier too long: $n"))
    dialect match {
      case "mssql" => s"${q(spec.schema.getOrElse("dbo"))}.${q(spec.table)}"
      case _       => spec.table
    }
  }

  /** The dialect's set-based UPDATE against a filled staging table
    * (`importer.py:313-354`).
    */
  private[engine] def updateSql(
      dialect: String, spec: MergeSpec, stagingRef: String): String =
    dialect match {
      case "mssql" => SqlGen.updateMssql(
        spec.schema.getOrElse("dbo"), spec.table, stagingRef,
        spec.joinOn, spec.subset)
      case _ => SqlGen.updateSqlite(
        spec.table, stagingRef, spec.joinOn, spec.subset)
    }

  /** The dialect's NOT-EXISTS-guarded INSERT of unmatched staged rows
    * (the upsert leg; see [[SqlGen.insertUnmatchedMssql]]).
    */
  private[engine] def insertSql(
      dialect: String, spec: MergeSpec, stagingRef: String): String =
    dialect match {
      case "mssql" => SqlGen.insertUnmatchedMssql(
        spec.schema.getOrElse("dbo"), spec.table, stagingRef,
        spec.joinOn, spec.subset)
      case _ => SqlGen.insertUnmatchedSqlite(
        spec.table, stagingRef, spec.joinOn, spec.subset)
    }

  /** `java.sql.Types` code per column, derived from the DataFrame
    * schema — typed null binding (`setNull` with a real type code)
    * because the JDBC spec lets drivers reject an untyped
    * `setObject(i, null)`.
    */
  private[graft] def sqlTypesFor(schema: StructType): Array[Int] =
    schema.fields.map(f => f.dataType match {
      case LongType                         => java.sql.Types.BIGINT
      case IntegerType                      => java.sql.Types.INTEGER
      case ShortType                        => java.sql.Types.SMALLINT
      case ByteType                         => java.sql.Types.TINYINT
      case DoubleType                       => java.sql.Types.DOUBLE
      case FloatType                        => java.sql.Types.FLOAT
      case BooleanType                      => java.sql.Types.BOOLEAN
      case StringType                       => java.sql.Types.VARCHAR
      case _: DecimalType                   => java.sql.Types.DECIMAL
      case DateType                         => java.sql.Types.DATE
      case TimestampType | TimestampNTZType => java.sql.Types.TIMESTAMP
      case BinaryType                       => java.sql.Types.VARBINARY
      case _                                => java.sql.Types.NULL
    })

  /** Scala→Java iterator bridge that is itself serializable-free (used
    * inside executor closures where scala-jdk converters would drag in
    * wrappers).
    */
  private[engine] final class RowIt(it: Iterator[Row])
      extends java.util.Iterator[Row] {
    override def hasNext: Boolean = it.hasNext
    override def next(): Row = it.next()
  }

  /** Chunked `executemany` analogue (`importer.py:253-261`): bind each
    * row positionally, `executeBatch` + commit every `chunkSize` rows
    * and once more for the remainder. Null-safe: Spark nulls bind as
    * TYPED JDBC nulls (`setNull` with the schema-derived type code —
    * the reference's `where(pd.notnull(chunk), None)`, made
    * driver-portable). Package-visible so the batch boundaries are
    * pinned offline by MergeSinkSpec.
    */
  private[graft] def insertBatches(
      ps: PreparedStatement, rows: java.util.Iterator[Row],
      sqlTypes: Array[Int], chunkSize: Int, commit: () => Unit): Long = {
    require(chunkSize > 0, "chunkSize must be positive")
    val width = sqlTypes.length
    var total = 0L
    var inBatch = 0
    while (rows.hasNext) {
      val r = rows.next()
      var i = 0
      while (i < width) {
        if (r.isNullAt(i)) ps.setNull(i + 1, sqlTypes(i))
        else ps.setObject(i + 1, r.get(i))
        i += 1
      }
      ps.addBatch()
      inBatch += 1
      total += 1
      if (inBatch == chunkSize) {
        ps.executeBatch()
        commit()
        inBatch = 0
      }
    }
    if (inBatch > 0) {
      ps.executeBatch()
      commit()
    }
    total
  }
}
