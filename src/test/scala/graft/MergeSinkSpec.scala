package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement, Statement}

import scala.collection.mutable

import graft.engine.{Importer, JdbcMergeSink, JdbcParallelMergeSink,
  MergeResult, MergeSpec, ParquetMergeSink, SqlGen}
import org.apache.spark.sql.functions._

/** Pins the S9 write-back sinks. There is no live database offline, so
  * the JDBC sink's statement/batch protocol is recorded through
  * dynamic-proxy fakes of the java.sql interfaces and asserted at
  * SQL-text / batch-boundary level — the exact lifecycle of
  * `importer.py:293-359` (drop, create, chunked fill with per-chunk
  * commit, set-based update, drop).
  */
class MergeSinkSpec extends SparkSpec {

  /** Recording java.sql fakes: every call lands in `log` in order. */
  private class Recorder(failUpdate: Boolean = false) {
    val log: mutable.Buffer[String] = mutable.Buffer[String]()
    private def handler: InvocationHandler = new InvocationHandler {
      override def invoke(
          proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "execute" =>
            log += s"execute:${args(0)}"; java.lang.Boolean.FALSE
          case "executeUpdate" =>
            log += s"executeUpdate:${args(0)}"
            if (failUpdate) throw new java.sql.SQLException("injected")
            Integer.valueOf(7)
          case "rollback" => log += "rollback"; null
          case "prepareStatement" =>
            log += s"prepare:${args(0)}"; ps
          case "createStatement" => stmt
          case "setObject" =>
            log += s"set:${args(0)}=${args(1)}"; null
          case "setNull" =>
            log += s"setNull:${args(0)}:${args(1)}"; null
          case "addBatch" => log += "addBatch"; null
          case "executeBatch" => log += "executeBatch"; Array.empty[Int]
          case "commit" => log += "commit"; null
          case "getAutoCommit" => java.lang.Boolean.TRUE
          case "setAutoCommit" =>
            log += s"setAutoCommit:${args(0)}"; null
          case "close" => null
          case _ => null
        }
    }
    private def proxy[T](cls: Class[T]): T =
      Proxy.newProxyInstance(getClass.getClassLoader, Array(cls), handler)
        .asInstanceOf[T]
    lazy val ps: PreparedStatement = proxy(classOf[PreparedStatement])
    lazy val stmt: Statement = proxy(classOf[Statement])
    lazy val conn: Connection = proxy(classOf[Connection])
  }

  private def deltaDf = {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0))
      .toDF("o_orderkey", "o_totalprice")
  }

  test("JdbcMergeSink(mssql): full lifecycle, chunk boundaries, per-chunk commit") {
    val rec = new Recorder
    val sink = new JdbcMergeSink("mssql", () => rec.conn, chunkSize = 2)
    val spec = MergeSpec("orders", Seq("o_orderkey"), Seq("o_totalprice"))
    val affected =
      sink.write(MergeResult(deltaDf, 0L), deltaDf, spec)
    assert(affected == 7L) // the fake's cur.rowcount analogue

    val drop = SqlGen.dropTempTable("mssql", "#dbimport")
    val create = SqlGen.createTempTable(
      "mssql", "[dbo].[orders]", "#dbimport",
      Seq("o_orderkey", "o_totalprice"))
    val insert = SqlGen.insertInto(
      "mssql", "#dbimport", Seq("o_orderkey", "o_totalprice"))
    val update = SqlGen.updateMssql(
      "dbo", "orders", "#dbimport", Seq("o_orderkey"), Seq("o_totalprice"))

    // statement order: drop, create, prepare, …fill…, update, drop
    val stmts = rec.log.filter(e =>
      e.startsWith("execute:") || e.startsWith("prepare:") ||
        e.startsWith("executeUpdate:"))
    assert(stmts == Seq(
      s"execute:$drop", s"execute:$create", s"prepare:$insert",
      s"executeUpdate:$update", s"execute:$drop"), stmts.toString)

    // 5 rows at chunkSize 2 → executeBatch after rows 2, 4, 5; a commit
    // follows each chunk plus one after the update (importer.py:258-261,
    // :355-357)
    val fill = rec.log.filter(e => e == "addBatch" || e == "executeBatch")
    assert(fill == Seq("addBatch", "addBatch", "executeBatch",
      "addBatch", "addBatch", "executeBatch",
      "addBatch", "executeBatch"), fill.toString)
    assert(rec.log.count(_ == "commit") == 4)
    // every row binds both columns positionally
    assert(rec.log.count(_.startsWith("set:1=")) == 5)
    assert(rec.log.count(_.startsWith("set:2=")) == 5)
    // explicit transactions: autocommit off for the lifecycle, restored
    assert(rec.log.take(1) == Seq("setAutoCommit:false"))
    assert(rec.log.last == "setAutoCommit:true")
  }

  test("JdbcMergeSink(sqlite): dialect-correct staging and update text") {
    val rec = new Recorder
    val sink = new JdbcMergeSink("sqlite", () => rec.conn, chunkSize = 100)
    val spec = MergeSpec("orders", Seq("o_orderkey"), Seq("o_totalprice"))
    sink.write(MergeResult(deltaDf, 0L), deltaDf, spec)
    val update = SqlGen.updateSqlite(
      "orders", "temp.dbimport", Seq("o_orderkey"), Seq("o_totalprice"))
    assert(rec.log.contains(s"executeUpdate:$update"), rec.log.toString)
    assert(rec.log.contains(
      "prepare:insert into dbimport (o_orderkey, o_totalprice) values (?, ?)"))
    // one chunk (5 < 100): one executeBatch for the fill
    assert(rec.log.count(_ == "executeBatch") == 1)
    // no insert leg unless the spec asks for it
    assert(!rec.log.exists(_.contains("not exists")), rec.log.toString)
  }

  test("upsert SQL text: NOT-EXISTS-guarded insert leg, both dialects") {
    assert(SqlGen.insertUnmatchedSqlite("orders", "temp.dbimport",
      Seq("o_orderkey"), Seq("o_totalprice")) ==
      "insert into orders (o_orderkey, o_totalprice) " +
        "select b.o_orderkey, b.o_totalprice from temp.dbimport as b " +
        "where not exists (select 1 from orders as a " +
        "where a.o_orderkey = b.o_orderkey)")
    assert(SqlGen.insertUnmatchedMssql("dbo", "orders", "#dbimport",
      Seq("o_orderkey"), Seq("o_totalprice")) ==
      "insert into [dbo].[orders] ([o_orderkey], [o_totalprice]) " +
        "select b.[o_orderkey], b.[o_totalprice] from #dbimport as b " +
        "where not exists (select 1 from [dbo].[orders] as a " +
        "where a.[o_orderkey] = b.[o_orderkey])")
  }

  test("sqlite-dialect merge end-to-end on a real embedded database") {
    // the one JDBC engine available offline (the oracle's own DuckDB,
    // jar already in the local cache) accepts the sqlite dialect's SQL
    // verbatim — temp.dbimport qualification, correlated-subquery
    // UPDATE with EXISTS guard — so the full lifecycle runs against a
    // REAL database: JdbcCatalog over real driver metadata, Importer
    // key/subset defaulting from the real primary key, chunked batch
    // fill, server-side update, golden-diffed against the reference's
    // own fixtures (tests/test_importer.py:146-189)
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "duckdb jdbc jar not in the local cache")
    import graft.engine.JdbcCatalog
    val db = java.nio.file.Files.createTempDirectory("jdbc_e2e")
      .resolve("g.duckdb").toString
    def conn() = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$db")
    def reset(): Unit = {
      val c = conn(); val st = c.createStatement()
      st.execute("drop table if exists groceries")
      // the reference fixture schema + seed rows (test_importer.py:10-21)
      st.execute("create table groceries (id varchar not null primary key, " +
        "item varchar, quantity int, price double)")
      st.execute("insert into groceries values " +
        "('ID000001','Apple',5,10.0), ('ID000002','Pear',4,9.0), " +
        "('ID000003','Orange',3,8.0), ('ID000004','Lemon',6,7.0)")
      st.close(); c.close()
    }
    def state(): Seq[(String, String, Int, Double)] = {
      val c = conn(); val st = c.createStatement()
      val rs = st.executeQuery("select * from groceries order by id")
      val out = scala.collection.mutable.Buffer.empty[(String, String, Int, Double)]
      while (rs.next()) out += ((rs.getString(1), rs.getString(2),
        rs.getInt(3), rs.getDouble(4)))
      rs.close(); st.close(); c.close(); out.toSeq
    }
    reset()
    // S3/S5/S6 against REAL driver metadata, not proxy fakes
    val cat = new JdbcCatalog(() => conn())
    assert(cat.listTables.contains("groceries"))
    assert(cat.primaryKey("groceries") == Seq("id"))
    assert(cat.columns("groceries").map(_.column) ==
      Seq("id", "item", "quantity", "price"))

    import spark.implicits._
    val targetMirror = state().toDF("id", "item", "quantity", "price")
    // case 1 = test_update: full-delta update, every row refreshed
    val delta = Seq(
      ("ID000001", "Apple", 15, 20.0), ("ID000002", "Pear", 14, 19.0),
      ("ID000003", "Orange", 13, 18.0), ("ID000004", "Lemon", 16, 17.0))
      .toDF("id", "item", "quantity", "price")
    val imp = new Importer(targetMirror, delta, table = "groceries",
      tablePk = cat.primaryKey("groceries"))
    assert(imp.joinOn == Seq("id") &&
      imp.subset == Seq("item", "quantity", "price"))
    val sink = new JdbcMergeSink("sqlite", () => conn(), chunkSize = 2)
    val affected = sink.write(imp.merge(), imp.data,
      MergeSpec("groceries", imp.joinOn, imp.subset))
    assert(affected == 4L)
    assert(state() == Seq(
      ("ID000001", "Apple", 15, 20.0), ("ID000002", "Pear", 14, 19.0),
      ("ID000003", "Orange", 13, 18.0), ("ID000004", "Lemon", 16, 17.0)),
      "reference test_update golden rows")

    // case 2 = test_join_on_column_contains_nulls: null-keyed delta
    // rows are dropped Spark-side (P3) and the EXISTS guard leaves
    // their targets untouched server-side
    reset()
    val delta2 = Seq(
      ("ID000001", "Apple", 15, 20.0),
      (null.asInstanceOf[String], "Pear", 14, 19.0),
      ("ID000003", "Orange", 13, 18.0),
      (null.asInstanceOf[String], "Lemon", 16, 17.0))
      .toDF("id", "item", "quantity", "price")
    val imp2 = new Importer(targetMirror, delta2, table = "groceries",
      tablePk = Seq("id"))
    val affected2 = sink.write(imp2.merge(), imp2.data,
      MergeSpec("groceries", imp2.joinOn, imp2.subset))
    assert(affected2 == 2L)
    assert(state() == Seq(
      ("ID000001", "Apple", 15, 20.0), ("ID000002", "Pear", 4, 9.0),
      ("ID000003", "Orange", 13, 18.0), ("ID000004", "Lemon", 6, 7.0)),
      "reference null-key golden rows: unmatched targets untouched")

    // the staging table is gone after the lifecycle (drop-after-update)
    assert(!new JdbcCatalog(() => conn()).listTables.contains("dbimport"))

    // case 3 = the completed insert action (upsert): matched rows
    // update, unmatched rows append, affected = updated + inserted
    reset()
    val delta3 = Seq(
      ("ID000001", "Apple", 15, 20.0),   // matched → update
      ("ID000005", "Mango", 2, 30.0),    // unmatched → insert
      ("ID000006", "Plum", 9, 5.5))      // unmatched → insert
      .toDF("id", "item", "quantity", "price")
    val imp3 = new Importer(targetMirror, delta3, table = "groceries",
      tablePk = Seq("id"))
    val r3 = imp3.run(update = true, insert = true)
    assert(r3.rowCountUpdated == 1L && r3.rowCountInserted == 2L)
    val affected3 = sink.write(r3, imp3.data,
      MergeSpec("groceries", imp3.joinOn, imp3.subset,
        insertUnmatched = true))
    assert(affected3 == 3L, "updated(1) + inserted(2)")
    assert(state() == Seq(
      ("ID000001", "Apple", 15, 20.0), ("ID000002", "Pear", 4, 9.0),
      ("ID000003", "Orange", 3, 8.0), ("ID000004", "Lemon", 6, 7.0),
      ("ID000005", "Mango", 2, 30.0), ("ID000006", "Plum", 9, 5.5)),
      "upsert golden rows: one update, two appends, rest untouched")
    // the server-side relation now equals the Spark-side upserted
    // relation — the two sinks implement ONE semantics
    assert(state().toSet == r3.updated.collect().toSet.map {
      (r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3))
    })

    // case 4 = insert-only (run(update=false, insert=true)): matched
    // target rows stay UNTOUCHED server-side — before
    // MergeSpec.updateMatched a JDBC caller wiring insert-only
    // silently got an upsert
    reset()
    val imp4 = new Importer(targetMirror, delta3, table = "groceries",
      tablePk = Seq("id"))
    val r4 = imp4.run(update = false, insert = true)
    assert(r4.rowCountUpdated == 0L && r4.rowCountInserted == 2L)
    val affected4 = sink.write(r4, imp4.data,
      MergeSpec("groceries", imp4.joinOn, imp4.subset,
        insertUnmatched = true, updateMatched = false))
    assert(affected4 == 2L, "inserted(2), no update leg")
    assert(state() == Seq(
      ("ID000001", "Apple", 5, 10.0), ("ID000002", "Pear", 4, 9.0),
      ("ID000003", "Orange", 3, 8.0), ("ID000004", "Lemon", 6, 7.0),
      ("ID000005", "Mango", 2, 30.0), ("ID000006", "Plum", 9, 5.5)),
      "insert-only golden rows: matched ID000001 must NOT update")
    // and it matches the Spark-side run(update=false, insert=true)
    assert(state().toSet == r4.updated.collect().toSet.map {
      (r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3))
    }, "JDBC insert-only ≡ Spark-side insert-only relation")
    // a no-leg spec is a contract violation, like run's V11
    intercept[IllegalArgumentException] {
      MergeSpec("groceries", imp4.joinOn, imp4.subset,
        insertUnmatched = false, updateMatched = false)
    }
  }

  test("JdbcMergeSink rolls back BEFORE restoring autocommit on failure") {
    // per JDBC, setAutoCommit(true) mid-transaction COMMITS pending
    // work — a failed write must roll back first or its partial
    // inserts silently commit
    val rec = new Recorder(failUpdate = true)
    val sink = new JdbcMergeSink("sqlite", () => rec.conn)
    val spec = MergeSpec("orders", Seq("o_orderkey"), Seq("o_totalprice"))
    intercept[java.sql.SQLException] {
      sink.write(MergeResult(deltaDf, 0L), deltaDf, spec)
    }
    val rb = rec.log.indexOf("rollback")
    val restore = rec.log.lastIndexOf("setAutoCommit:true")
    assert(rb >= 0, rec.log.toString)
    assert(restore > rb, rec.log.toString)
  }

  test("JdbcMergeSink binds nulls as TYPED JDBC nulls") {
    import spark.implicits._
    val rec = new Recorder
    val sink = new JdbcMergeSink("sqlite", () => rec.conn)
    val withNull = Seq((1L, Some(10.0)), (2L, None))
      .toDF("o_orderkey", "o_totalprice")
    sink.write(MergeResult(withNull, 0L), withNull,
      MergeSpec("orders", Seq("o_orderkey"), Seq("o_totalprice")))
    // setNull with the schema-derived code (DOUBLE = 8), never an
    // untyped setObject(i, null)
    assert(rec.log.contains(s"setNull:2:${java.sql.Types.DOUBLE}"),
      rec.log.toString)
    assert(!rec.log.exists(_.startsWith("set:2=null")), rec.log.toString)
  }

  test("JdbcParallelMergeSink: per-partition batches into global staging, one UPDATE") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    ParallelFakeDb.reset()
    val delta = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0))
      .toDF("o_orderkey", "o_totalprice").repartition(2)
    val sink = new JdbcParallelMergeSink(
      "mssql", () => ParallelFakeDb.connect(), chunkSize = 2)
    val affected = sink.write(MergeResult(delta, 0L), delta,
      MergeSpec("orders", Seq("o_orderkey"), Seq("o_totalprice")))
    assert(affected == 4L) // the fake's rowcount
    val log = ParallelFakeDb.log.asScala.toList
    val connIds = log.map(_.takeWhile(_ != ':')).distinct

    // the driver connection (first opened) runs DDL + UPDATE; each
    // non-empty partition opened its own writer connection
    val writers = connIds.filter(_ != "c1")
    assert(writers.size == 2, s"writers=$writers log=$log")

    // global (non-#) staging DDL on the driver conn (clone + ownership
    // column), before any insert
    val create = SqlGen.createStagingTable("mssql", "[dbo].[orders]",
      "dbimport_stage", Seq("o_orderkey", "o_totalprice"))
    val alter = SqlGen.addPartColumn(
      "mssql", "dbimport_stage", JdbcParallelMergeSink.PartCol)
    assert(log.indexOf(s"c1:execute:$create") >= 0)
    assert(log.indexOf(s"c1:execute:$alter") >
      log.indexOf(s"c1:execute:$create"))
    assert(log.indexOf(s"c1:execute:$create") <
      log.indexWhere(_.endsWith(":addBatch")))

    // every writer disables autocommit, reclaims its own staging slice
    // (idempotence under retry/speculation), prepares the same insert,
    // respects the chunk boundary (never >chunkSize addBatch per batch),
    // and commits ONCE — the whole partition is a single transaction
    val insert = SqlGen.insertInto("mssql", "dbimport_stage",
      Seq("o_orderkey", "o_totalprice", JdbcParallelMergeSink.PartCol))
    val delete = SqlGen.deleteByPart(
      "mssql", "dbimport_stage", JdbcParallelMergeSink.PartCol)
    writers.foreach { c =>
      assert(log.contains(s"$c:setAutoCommit:false"))
      assert(log.indexOf(s"$c:prepare:$delete") <
        log.indexOf(s"$c:prepare:$insert"), s"$c reclaims before insert")
      val fill = log.filter(e => e == s"$c:addBatch" || e == s"$c:executeBatch")
      var run = 0
      fill.foreach {
        case e if e.endsWith(":addBatch") => run += 1; assert(run <= 2)
        case _                            => run = 0
      }
      assert(fill.nonEmpty && fill.last == s"$c:executeBatch")
      // executeBatch still flushes per chunk (bounded batch memory)…
      val nRows = fill.count(_.endsWith(":addBatch"))
      val nBatches = fill.count(_.endsWith(":executeBatch"))
      assert(nBatches == (nRows + 1) / 2)
      // …but exactly one commit makes delete+insert atomic per attempt
      assert(log.count(_ == s"$c:commit") == 1)
    }
    // all 5 delta rows travel through the writers, none via the driver
    assert(log.count(_.endsWith(":addBatch")) == 5)
    assert(!log.exists(_.startsWith("c1:addBatch")))

    // one set-based UPDATE on the driver, staging dropped before+after
    val update = SqlGen.updateMssql("dbo", "orders", "dbimport_stage",
      Seq("o_orderkey"), Seq("o_totalprice"))
    assert(log.count(_ == s"c1:executeUpdate:$update") == 1)
    val drop = SqlGen.dropStagingTable("mssql", "dbimport_stage")
    assert(log.count(_ == s"c1:execute:$drop") == 2)
    // UPDATE happens after every writer finished
    assert(log.indexOf(s"c1:executeUpdate:$update") >
      log.lastIndexWhere(_.endsWith(":executeBatch")))
  }

  test("JdbcParallelMergeSink(sqlite): plain-table staging text") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    ParallelFakeDb.reset()
    val delta = Seq((Some(1L), 1.0), (Some(2L), 2.0), (None, 3.0))
      .toDF("o_orderkey", "o_totalprice")
    new JdbcParallelMergeSink("sqlite", () => ParallelFakeDb.connect())
      .write(MergeResult(delta, 0L), delta,
        MergeSpec("orders", Seq("o_orderkey"), Seq("o_totalprice")))
    val log = ParallelFakeDb.log.asScala.toList
    // sqlite staging is a regular table (temp.* is session-scoped and
    // invisible to the writer connections)
    assert(log.contains("c1:execute:create table dbimport_stage as " +
      "select o_orderkey, o_totalprice from orders limit 0"))
    val update = SqlGen.updateSqlite("orders", "dbimport_stage",
      Seq("o_orderkey"), Seq("o_totalprice"))
    assert(log.count(_ == s"c1:executeUpdate:$update") == 1)
    // the null-keyed delta row is never staged
    assert(log.count(_.endsWith(":addBatch")) == 2)
  }

  test("ParquetMergeSink round-trips the merged relation and the count") {
    val dir = java.nio.file.Files
      .createTempDirectory("merge_sink").toString + "/orders"
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    val delta = orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    val merge = Importer.merge(orders, delta,
      joinOn = Seq("o_orderkey"), subset = Seq("o_totalprice"))
    val sink = new ParquetMergeSink(dir, chunkSize = 500)
    val affected = sink.write(merge, delta,
      MergeSpec("orders", Seq("o_orderkey"), Seq("o_totalprice")))
    assert(affected == delta.count())
    val back = spark.read.parquet(dir)
    assert(back.schema.fieldNames.toSeq == orders.schema.fieldNames.toSeq)
    assert(back.count() == orders.count())
    // the write-back carries the merge effect, not the original values
    val changed = back.join(orders.select(col("o_orderkey"),
        col("o_totalprice").as("orig")), "o_orderkey")
      .filter(col("o_totalprice") =!= col("orig"))
    assert(changed.count() == delta.count())
  }

  test("ParquetMergeSink upsert: affected counts both legs, appended " +
    "rows land in the lake") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("merge_sink_up").toString + "/groceries"
    val target = Seq(("ID1", "Apple", 10.0), ("ID2", "Pear", 9.0))
      .toDF("id", "item", "price")
    val delta = Seq(("ID1", "Apple", 20.0), ("ID9", "Mango", 30.0))
      .toDF("id", "item", "price")
    val r = new Importer(target, delta, tablePk = Seq("id"))
      .run(update = true, insert = true)
    val affected = new ParquetMergeSink(dir).write(r, delta,
      MergeSpec("groceries", Seq("id"), Seq("item", "price"),
        insertUnmatched = true))
    assert(affected == 2L, "one update + one insert")
    val back = spark.read.parquet(dir).collect()
      .map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSet
    assert(back == Set(("ID1", "Apple", 20.0), ("ID2", "Pear", 9.0),
      ("ID9", "Mango", 30.0)))
  }
}

/** JVM-shared recording fake for the parallel sink: executor closures
  * connect through this object (local-mode executors share the JVM, so
  * the recordings are visible to the spec). Every log entry is tagged
  * with its connection id — c1 is always the driver (opened before the
  * foreachPartition action runs).
  */
object ParallelFakeDb {
  val log: java.util.List[String] =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def reset(): Unit = { log.clear(); ids.set(0) }

  private def mk[T](cls: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h)
      .asInstanceOf[T]

  def connect(): Connection = {
    val id = ids.incrementAndGet()
    val handler: InvocationHandler = new InvocationHandler {
      override def invoke(
          proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "execute" =>
            log.add(s"c$id:execute:${args(0)}"); java.lang.Boolean.FALSE
          case "executeUpdate" =>
            // PreparedStatement.executeUpdate() (the writers' delete)
            // is no-arg; Statement.executeUpdate(sql) carries the text
            if (args == null) log.add(s"c$id:executeUpdate")
            else log.add(s"c$id:executeUpdate:${args(0)}")
            Integer.valueOf(4)
          case "prepareStatement" =>
            log.add(s"c$id:prepare:${args(0)}")
            mk(classOf[PreparedStatement], this)
          case "createStatement" => mk(classOf[Statement], this)
          case "setObject"       => log.add(s"c$id:set"); null
          case "setNull" => log.add(s"c$id:setNull:${args(1)}"); null
          case "addBatch" => log.add(s"c$id:addBatch"); null
          case "executeBatch" =>
            log.add(s"c$id:executeBatch"); Array.empty[Int]
          case "commit"        => log.add(s"c$id:commit"); null
          case "getAutoCommit" => java.lang.Boolean.TRUE
          case "setAutoCommit" =>
            log.add(s"c$id:setAutoCommit:${args(0)}"); null
          case "close" => null
          case _       => null
        }
    }
    mk(classOf[Connection], handler)
  }
}
