package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Staging layer (S7/S8) — the Spark re-expression of the reference's
  * temp-table lifecycle (`/root/reference/dbimport/importer.py:263-291`):
  * drop-if-exists, `LIMIT 0` schema clone, chunked bulk insert.
  *
  * In Spark the staging area is a temp view (zero-copy, lineage-backed)
  * rather than a server-side temp table; the chunked `executemany` with
  * per-chunk commit becomes partition-granular parallel writes, where
  * the partition count plays the chunk role.
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

  /** S7 — create/replace the staging relation as a temp view, the
    * idempotent analogue of drop-temp + create-temp
    * (`importer.py:263-291`).
    */
  def stage(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** Drop the staging view if it exists (`_drop_temp_table`,
    * `importer.py:263-266`).
    */
  def unstage(df: DataFrame, name: String): Unit =
    df.sparkSession.catalog.dropTempView(name): Unit

  /** F6 — chunk partitioner (`importer.py:254`:
    * `np.arange(len(data)) // 5000`). Spark has no global row order, so
    * the contract becomes "groups of at most `chunkSize` rows": ids are
    * assigned per partition from `spark_partition_id`, keeping the
    * computation fully distributed (no global sort, no collect).
    */
  def withChunkId(df: DataFrame, chunkSize: Int = ChunkSize): DataFrame =
    df.withColumn("chunk_id",
      chunkIdFor(monotonically_increasing_id(), chunkSize))

  /** Chunk id from a monotonically_increasing_id value: the partition
    * id keeps its bit-33 position (the local chunk number is at most
    * the 33-bit local offset, so re-packing at any lower bit could
    * collide across partitions for small chunk sizes — pinned by
    * StagingSpec's boundary case).
    */
  private[graft] def chunkIdFor(mid: Column, chunkSize: Int): Column =
    shiftleft(shiftright(mid, 33), 33) +
      floor((mid.bitwiseAND((1L << 33) - 1)) / chunkSize)

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

  /** Scale path for repeated merges into the same target: persist both
    * sides bucketed on the join keys so every subsequent join (merge,
    * semi-join count, dup detection) is co-located — zero Exchange on
    * either side at any data size. This is the Spark analogue of the
    * reference keeping the target table indexed on its PK server-side.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int = 32,
      mode: SaveMode = SaveMode.Overwrite
  ): Unit =
    df.write
      .mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
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

  /** S7 scale variant — globally-visible staging DDL for the parallel
    * sink: unlike [[createTempTable]], the table must be reachable
    * from every writer connection, so it is a regular table (mssql `#`
    * temp tables and sqlite `temp.` tables are session-scoped).
    */
  def createStagingTable(
      dialect: String, table: String, staging: String, cols: Seq[String]
  ): String = {
    requireDialect(dialect)
    dialect match {
      case "mssql" =>
        s"select top 0 ${cols.map(q).mkString(", ")} into $staging from $table"
      case "sqlite" =>
        s"create table $staging as select ${cols.mkString(", ")} from $table limit 0"
    }
  }

  /** Idempotent teardown of the globally-visible staging table. */
  def dropStagingTable(dialect: String, staging: String): String = {
    requireDialect(dialect)
    dialect match {
      case "mssql" =>
        s"if object_id('$staging') is not null drop table $staging"
      case "sqlite" =>
        s"drop table if exists $staging"
    }
  }

  /** Writer-ownership column for the parallel sink: each partition
    * stamps its rows so a retried/speculative task can reclaim (delete
    * and rewrite) exactly its own slice of staging.
    */
  def addPartColumn(dialect: String, staging: String, colName: String): String = {
    requireDialect(dialect)
    dialect match {
      case "mssql"  => s"alter table $staging add ${q(colName)} int not null"
      case "sqlite" => s"alter table $staging add column $colName integer"
    }
  }

  /** Parameterized reclaim of one partition's staged rows. */
  def deleteByPart(dialect: String, staging: String, colName: String): String = {
    requireDialect(dialect)
    val c = dialect match {
      case "mssql"  => q(colName)
      case "sqlite" => colName
    }
    s"delete from $staging where $c = ?"
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
