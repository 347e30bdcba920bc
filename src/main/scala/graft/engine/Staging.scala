package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Staging layer (S7/S8) — the Spark re-expression of the reference's
  * temp-table lifecycle (`/root/reference/dbimport/importer.py:263-291`):
  * drop-if-exists, `LIMIT 0` schema clone, chunked bulk insert.
  *
  * The JDBC form keeps the reference's server-side temp table and its
  * chunked `executemany` with per-chunk commit ([[JdbcMergeSink]]);
  * the lake form bounds the rows per written file ([[writeBatched]]).
  */
object Staging {

  /** The reference's bulk-insert chunk size (`importer.py:14`). */
  val ChunkSize: Int = 5000

  /** O2 — `LIMIT 0` schema clone (`importer.py:48,50`): an empty frame
    * with the target's (selected) columns, used as staging DDL.
    */
  def emptyClone(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val base = if (cols.isEmpty) df else df.select(cols.map(col): _*)
    base.limit(0)
  }

  /** S8 — batched sink: write with a bounded number of rows per task,
    * the analogue of chunked `executemany` + per-chunk commit
    * (`importer.py:253-261`). `maxRecordsPerFile` bounds file (chunk)
    * size without forcing a shuffle of the input.
    */
  def writeBatched(
      df: DataFrame,
      path: String,
      chunkSize: Int = ChunkSize,
      mode: SaveMode = SaveMode.Overwrite
  ): Unit =
    df.write
      .mode(mode)
      .option("maxRecordsPerFile", chunkSize.toLong)
      .parquet(path)
}

/** Dialect-specific SQL codegen for the JDBC pushdown path — the
  * reference's UPDATE/DDL statement generators re-expressed so a JDBC
  * sink could run the same set-based update server-side. There is no
  * live database in this environment, so this layer is pinned by
  * text-level tests only (SURVEY §7.5).
  */
object SqlGen {

  /** V2 — known dialects (`importer.py:15,66-70`). */
  val KnownDialects: Set[String] = Set("mssql", "sqlite")

  def requireDialect(dialect: String): Unit =
    if (!KnownDialects.contains(dialect))
      throw new IllegalArgumentException(
        "unsupported dialect, use available: " +
          KnownDialects.toSeq.sorted.map(d => s"'$d'").mkString(", "))

  private def q(name: String): String =
    Types.quoteName(name).getOrElse(
      throw new IllegalArgumentException(s"identifier too long: $name"))

  /** J1 — mssql `UPDATE … FROM target INNER JOIN temp`
    * (`importer.py:313-330`).
    */
  def updateMssql(
      schema: String, table: String, temp: String,
      joinOn: Seq[String], subset: Seq[String]
  ): String = {
    val cond = joinOn.map(c => s"a.${q(c)} = b.${q(c)}").mkString(" and ")
    val sets = subset.map(c => s"a.${q(c)} = b.${q(c)}").mkString(", ")
    s"update a set $sets from ${q(schema)}.${q(table)} as a " +
      s"inner join $temp as b on $cond"
  }

  /** J2 — sqlite correlated-subquery UPDATE with EXISTS guard
    * (`importer.py:331-354`); semantically identical to J1 given
    * unique keys (Catalyst would decorrelate this shape into the same
    * left-semi join plan).
    */
  def updateSqlite(
      table: String, temp: String,
      joinOn: Seq[String], subset: Seq[String]
  ): String = {
    val cond = joinOn.map(c => s"$table.$c = $temp.$c").mkString(" and ")
    val sets = subset
      .map(c => s"$c = (select $c from $temp where $cond)")
      .mkString(", ")
    s"update $table set $sets where exists (select * from $temp where $cond)"
  }

  /** Upsert INSERT leg — `MERGE WHEN NOT MATCHED THEN INSERT` over a
    * filled staging table: append staged rows whose keys match no
    * target row; the NOT EXISTS guard makes re-running it after the
    * UPDATE leg exact (matched rows were just updated, unmatched rows
    * are appended once). The reference declares this action and raises
    * (`importer.py:361-362`); this is its completion.
    */
  def insertUnmatchedMssql(
      schema: String, table: String, temp: String,
      joinOn: Seq[String], subset: Seq[String]
  ): String = {
    val cols = joinOn ++ subset
    val cond = joinOn.map(c => s"a.${q(c)} = b.${q(c)}").mkString(" and ")
    s"insert into ${q(schema)}.${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"select ${cols.map(c => s"b.${q(c)}").mkString(", ")} from $temp as b " +
      s"where not exists (select 1 from ${q(schema)}.${q(table)} as a where $cond)"
  }

  /** Sqlite-dialect insert leg — bare identifiers like [[updateSqlite]]. */
  def insertUnmatchedSqlite(
      table: String, temp: String,
      joinOn: Seq[String], subset: Seq[String]
  ): String = {
    val cols = joinOn ++ subset
    val cond = joinOn.map(c => s"a.$c = b.$c").mkString(" and ")
    s"insert into $table (${cols.mkString(", ")}) " +
      s"select ${cols.map(c => s"b.$c").mkString(", ")} from $temp as b " +
      s"where not exists (select 1 from $table as a where $cond)"
  }

  /** S7 — staging DDL (`importer.py:41-51`). */
  def createTempTable(
      dialect: String, table: String, temp: String, cols: Seq[String]
  ): String = {
    requireDialect(dialect)
    dialect match {
      case "mssql" =>
        s"select top 0 ${cols.map(q).mkString(", ")} into $temp from $table"
      case "sqlite" =>
        s"create temp table $temp as select ${cols.mkString(", ")} from $table limit 0"
    }
  }

  /** S7 — idempotent staging teardown (`importer.py:41-45`). */
  def dropTempTable(dialect: String, temp: String): String = {
    requireDialect(dialect)
    dialect match {
      case "mssql" =>
        s"if object_id('tempdb.dbo.$temp') is not null drop table $temp"
      case "sqlite" =>
        s"drop table if exists temp.$temp"
    }
  }

  /** S8 — staged bulk-insert statement (`importer.py:270,284-288`) for
    * a group of `rows` rows: `insert into <temp> (<cols>) values
    * (?, …), (?, …), …`, one parenthesized row constructor per row, so
    * one statement execution stages the whole group. Identifiers are
    * quoted on mssql, bare on sqlite, like the reference. The caller
    * sizes the group ([[JdbcMergeSink.groupRows]]) under both dialects'
    * parameter limits.
    */
  def insertInto(
      dialect: String, temp: String, cols: Seq[String], rows: Int): String = {
    requireDialect(dialect)
    require(rows > 0, "rows must be positive")
    val names = dialect match {
      case "mssql"  => cols.map(q)
      case "sqlite" => cols
    }
    val row = cols.map(_ => "?").mkString("(", ", ", ")")
    s"insert into $temp (${names.mkString(", ")}) " +
      s"values ${Seq.fill(rows)(row).mkString(", ")}"
  }
}
