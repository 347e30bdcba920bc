package graft.engine

import java.sql.{Connection, PreparedStatement, Statement}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
import org.apache.spark.sql.functions.col
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
  * by pushing the UPDATE to the origin database ([[JdbcMergeSink]]).
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
  *
  * The location must not be one the merge reads from: the overwrite
  * deletes it before the plan has read it, which would destroy the
  * table. `write` refuses such a path with an [[ImporterException]]
  * before anything is deleted.
  */
final class ParquetMergeSink(
    path: String, chunkSize: Int = Staging.ChunkSize
) extends MergeSink {
  require(chunkSize > 0, "chunkSize must be positive")

  override def write(
      merge: MergeResult, delta: DataFrame, spec: MergeSpec): Long = {
    ParquetMergeSink.requireNotReadFrom(merge.updated, path)
    merge.writeObserved(Staging.writeBatched(_, path, chunkSize))
    // affected = both legs: for an upsert result `updated` already IS
    // the upserted relation, so the count mirrors the JDBC sink's
    // update+insert total
    merge.rowCountUpdated + merge.rowCountInserted
  }
}

object ParquetMergeSink {

  /** Throws when `path`, qualified, is a file-source root path that
    * `plan` reads, or an ancestor of one. Reads the analyzed plan and
    * the roots its file indexes already hold, so no Spark job runs.
    */
  private[engine] def requireNotReadFrom(plan: DataFrame, path: String): Unit = {
    val conf = plan.sparkSession.sparkContext.hadoopConfiguration
    def qualify(p: Path): Path = p.getFileSystem(conf).makeQualified(p)
    val out = qualify(new Path(path))
    val roots = plan.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths
        case _ => Nil
      }
      case r: DataSourceV2Relation => r.table match {
        case t: FileTable => t.fileIndex.rootPaths
        case _ => Nil
      }
    }.flatten.map(qualify)
    roots.find(r => Iterator.iterate(r)(_.getParent).takeWhile(_ != null).contains(out))
      .foreach { r =>
        throw new ImporterException(
          s"ParquetMergeSink: refusing to overwrite '$out', which the merge reads from " +
            s"('$r'); write the merged table to another path")
      }
  }
}

/** Database sink (S9 proper): re-expression of `Importer.run`
  * (`importer.py:293-359`) over JDBC. Only the DELTA travels: it is
  * streamed to the staging temp table in `chunkSize` chunks with a
  * commit per chunk (`importer.py:253-261`). Within a chunk, rows are
  * staged in groups by multi-row `insert … values (?, …), (?, …)`
  * statements of up to [[JdbcMergeSink.MaxParams]] parameters, batched
  * with `addBatch`/`executeBatch`: a few statement executions per
  * chunk instead of one per row, the portable analogue of pyodbc's
  * array-binding `fast_executemany` (`importer.py:298-299`). Then one
  * set-based UPDATE joins staging into the target server-side — the
  * target table never leaves the database, and the merged relation is
  * never computed Spark-side.
  *
  * A single connection carries the whole lifecycle because the staging
  * table is session-scoped on both dialects (`#dbimport` /
  * `temp.dbimport`), so the delta passes through the driver — the small
  * side by construction (a user-supplied update set). A delta whose
  * staged projection is a `LocalRelation` ([[Importer.localRows]], e.g.
  * a spreadsheet read) is staged from its rows: they are already on the
  * driver, so collecting them copies a bounded relation and runs no
  * Spark job. Any other delta streams via `toLocalIterator`
  * (partition-at-a-time, never a full collect). Both give the rows in
  * the same order.
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
  require(chunkSize > 0, "chunkSize must be positive")

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
          JdbcMergeSink.insertBatches(conn, SqlGen.insertInto(dialect, temp, cols, _),
            Importer.localRows(projected).fold(projected.toLocalIterator())(_.iterator.asJava),
            sqlTypes, chunkSize)
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

  /** Most parameters one staging statement binds: SQLite's default
    * `SQLITE_MAX_VARIABLE_NUMBER` before 3.32. It also fits SQL Server
    * (2,100 parameters and 1,000 row constructors per statement), so
    * one fixed constant serves both dialects.
    */
  private[graft] val MaxParams: Int = 999

  /** Rows per multi-row staging statement for rows `width` columns
    * wide: as many as fit in [[MaxParams]] and in one chunk, and at
    * least one (a row wider than the limit stages alone).
    */
  private[graft] def groupRows(width: Int, chunkSize: Int): Int = {
    require(width > 0, "width must be positive")
    math.max(1, math.min(chunkSize, MaxParams / width))
  }

  /** Chunked `executemany` analogue (`importer.py:253-261`), staged in
    * multi-row groups: each chunk of `chunkSize` rows is cut into
    * groups of [[groupRows]] rows, each group bound positionally (row
    * j's column i is parameter `j * width + i + 1`, rows in input
    * order) into one `sql(groupRows)` statement and added to its
    * batch. A chunk whose rows run out mid-group stages its last
    * group through `sql(n)` for that group's size n; then each
    * statement holding rows of the chunk runs `executeBatch` (the
    * full-group statement first, so row order holds) and the chunk
    * commits. At most three statements are prepared per call (the
    * full group, a full chunk's tail, the last chunk's tail), each
    * once, and all are closed on return. Null-safe: Spark nulls bind
    * as TYPED JDBC nulls (`setNull` with the schema-derived type code —
    * the reference's `where(pd.notnull(chunk), None)`, made
    * driver-portable).
    */
  private def insertBatches(
      conn: Connection, sql: Int => String, rows: java.util.Iterator[Row],
      sqlTypes: Array[Int], chunkSize: Int): Unit = {
    val width = sqlTypes.length
    val g = groupRows(width, chunkSize)
    val stmts = mutable.LinkedHashMap.empty[Int, PreparedStatement]
    val group = new Array[Row](g)
    // binds the first n buffered rows into the n-row statement's batch
    def add(n: Int): PreparedStatement = {
      val ps = stmts.getOrElseUpdate(n, conn.prepareStatement(sql(n)))
      var j = 0
      while (j < n) {
        val r = group(j)
        var i = 0
        while (i < width) {
          val p = j * width + i + 1
          if (r.isNullAt(i)) ps.setNull(p, sqlTypes(i))
          else ps.setObject(p, r.get(i))
          i += 1
        }
        j += 1
      }
      ps.addBatch()
      ps
    }
    try {
      while (rows.hasNext) {
        var inChunk = 0
        var n = 0
        var full: PreparedStatement = null
        while (inChunk < chunkSize && rows.hasNext) {
          group(n) = rows.next()
          n += 1
          inChunk += 1
          if (n == g) { full = add(g); n = 0 }
        }
        if (full != null) full.executeBatch()
        if (n > 0) add(n).executeBatch()
        conn.commit()
      }
    } finally stmts.valuesIterator.foreach(_.close())
  }
}
