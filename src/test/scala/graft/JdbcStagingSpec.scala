package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.nio.file.Files
import java.sql.{Connection, DriverManager, PreparedStatement, Statement}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import graft.engine.{Importer, JdbcMergeSink, MergeSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Pins the JDBC sink's multi-row staging against a real embedded
  * database (DuckDB, which accepts the sqlite dialect verbatim): the
  * group size under the 999-parameter cap, what lands in the staging
  * table when groups meet chunk ends, the batch/commit protocol, the
  * settled counts, and a local delta's staging without Spark jobs.
  */
class JdbcStagingSpec extends SparkSpec {

  private def duckdb(): Unit =
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "duckdb jdbc jar not in the local cache")

  private def freshDb(prefix: String): String =
    "jdbc:duckdb:" + Files.createTempDirectory(prefix).resolve("t.duckdb")

  private def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); sqls.foreach(st.execute); st.close() }
    finally c.close()
  }

  private def query(url: String, sql: String): Seq[Seq[Any]] = {
    val c = DriverManager.getConnection(url)
    try RecordingDb.rows(c, sql) finally c.close()
  }

  private val modes = Seq((true, false), (true, true), (false, true))

  test("groupRows: g × width ≤ 999 for widths ≤ 999, 1 ≤ g ≤ 1000; wider rows stage alone") {
    for (chunk <- Seq(1, 2, 7, 500, 1000, 5000, Int.MaxValue); width <- 1 to 1200) {
      val g = JdbcMergeSink.groupRows(width, chunk)
      val clue = s"width=$width chunk=$chunk g=$g"
      assert(g >= 1 && g <= 1000 && g <= chunk, clue)
      if (width <= 999) {
        assert(g * width <= 999, clue)
        // as large as the cap and the chunk allow
        assert(g == chunk || (g + 1) * width > 999, clue)
      } else assert(g == 1, clue)
    }
    intercept[IllegalArgumentException](JdbcMergeSink.groupRows(0, 10))
  }

  /** Target keys 0..799; delta keys 300..1300: 500 matched, 501 new.
    * Width 3, with nulls in both non-key columns.
    */
  private val targetRows: Seq[(Long, Option[Double], Option[String])] =
    (0L until 800L).map(k => (k, Some(k * 0.5), Some(s"t$k")))
  private val deltaRows: Seq[(Long, Option[Double], Option[String])] =
    (300L to 1300L).map(k =>
      (k, if (k % 7 == 0) None else Some(k * 1.25),
        if (k % 11 == 0) None else Some(s"d$k")))

  private def frame(rows: Seq[(Long, Option[Double], Option[String])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "a", "b")
  }

  private def asSeq(r: (Long, Option[Double], Option[String])): Seq[Any] =
    Seq(r._1, r._2.orNull, r._3.orNull)

  private def resetGroupTable(url: String): Unit = {
    exec(url, "drop table if exists t",
      "create table t (id bigint primary key, a double, b varchar)")
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement("insert into t values (?, ?, ?)")
      targetRows.foreach { case (k, a, b) =>
        ps.setLong(1, k); ps.setDouble(2, a.get); ps.setString(3, b.get)
        ps.addBatch()
      }
      ps.executeBatch(); c.commit(); ps.close()
    } finally c.close()
  }

  /** The table after a merge of the delta, in key order. */
  private def expectedTable(update: Boolean, insert: Boolean): Seq[Seq[Any]] = {
    val d = deltaRows.map(r => r._1 -> asSeq(r)).toMap
    val kept = targetRows.map(r =>
      if (update && d.contains(r._1)) d(r._1) else asSeq(r))
    val added = if (insert) deltaRows.filter(_._1 >= 800L).map(asSeq) else Nil
    kept ++ added
  }

  private def staged(rows: Seq[Seq[Any]]): (Int, Int) =
    (rows.size, MurmurHash3.unorderedHash(rows.map(_.take(3))))

  /** The flush pattern of one chunk of `k` rows staged `g` to a group:
    * the full groups join one statement's batch, which runs once; then
    * the tail group, if any, runs once through its own statement.
    */
  private def chunkEvents(k: Int, g: Int): Seq[String] = {
    val tail = k % g
    (if (k >= g) Seq.fill(k / g)(s"addBatch:$g") :+ s"executeBatch:$g" else Nil) ++
      (if (tail > 0) Seq(s"addBatch:$tail", s"executeBatch:$tail") else Nil)
  }

  test("JdbcMergeSink: 1,001 rows at chunkSize 500 round-trip through multi-row groups (DuckDB)") {
    duckdb()
    val url = freshDb("jdbc_groups")
    val delta = frame(deltaRows)
    val target = frame(targetRows)
    val sink = new JdbcMergeSink("sqlite", () => RecordingDb.connect(url), chunkSize = 500)
    val g = JdbcMergeSink.groupRows(3, 500)
    assert(g == 333)
    for ((update, insert) <- modes) {
      resetGroupTable(url)
      RecordingDb.reset("select id, a, b from temp.dbimport")
      val imp = new Importer(target, delta, table = "t", tablePk = Seq("id"))
      val r = imp.run(update, insert)
      val affected = sink.write(r, imp.data,
        MergeSpec("t", imp.joinOn, imp.subset,
          insertUnmatched = insert, updateMatched = update))
      val clue = s"run(update=$update, insert=$insert)"
      val want = (if (update) 500L else 0L, if (insert) 501L else 0L)
      assert((r.rowCountUpdated, r.rowCountInserted) == want, clue)
      assert(affected == want._1 + want._2, clue)

      // the staging table held exactly the delta, nulls included
      assert(staged(RecordingDb.snapshot) == staged(deltaRows.map(asSeq)), clue)
      // in input order, every column bound positionally
      assert(RecordingDb.boundRows(1, 3) == deltaRows.map(asSeq), clue)
      // chunks 500, 500, 1: a 333-row group and a 167-row tail per full
      // chunk, a 1-row tail last; a commit per chunk and one after the
      // update; three statements prepared, each once
      val events = RecordingDb.events(1)
      assert(events.filter(e => e.startsWith("addBatch") ||
        e.startsWith("executeBatch") || e == "commit") ==
        chunkEvents(500, g) ++ Seq("commit") ++ chunkEvents(500, g) ++
          Seq("commit") ++ chunkEvents(1, g) ++ Seq("commit", "commit"), clue)
      assert(events.filter(_.startsWith("prepare:")) ==
        Seq("prepare:333", "prepare:167", "prepare:1"), clue)
      assert(query(url, "select id, a, b from t order by id") ==
        expectedTable(update, insert), clue)
    }
  }

  test("JdbcMergeSink: a local delta runs no Spark job; its parquet copy stages the same table (DuckDB)") {
    duckdb()
    val url = freshDb("jdbc_local_jobs")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", DoubleType), StructField("b", StringType)))
    // the shape a spreadsheet source yields
    val local = spark.createDataFrame(
      deltaRows.map(r => Row.fromSeq(asSeq(r))).asJava, schema)
    val path = Files.createTempDirectory("jdbc_local_jobs_pq").resolve("delta").toString
    local.write.parquet(path)
    val fromParquet = spark.read.parquet(path)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.duckdb.DuckDBDriver")
    val sink = new JdbcMergeSink("sqlite", () => DriverManager.getConnection(url),
      chunkSize = 500)
    for ((update, insert) <- modes) {
      // the whole op, as the spreadsheet flow runs it: validate, plan,
      // stage and apply; returns the settled counts, the table after
      // the merge and its digest, and the jobs of building the
      // Importer (V1, then V10)
      def op(delta: DataFrame): ((Long, Long), Seq[Seq[Any]], Seq[Seq[Any]], Int) = {
        resetGroupTable(url)
        val (imp, init) = SparkEvents.during(spark)(
          new Importer(spark.read.jdbc(url, "t", props), delta,
            table = "t", tablePk = Seq("id")))
        val (counts, write) = SparkEvents.during(spark) {
          val r = imp.run(update, insert)
          sink.write(r, delta, MergeSpec("t", imp.joinOn, imp.subset,
            insertUnmatched = insert, updateMatched = update))
          (r.rowCountUpdated, r.rowCountInserted)
        }
        if (delta eq local) assert(init.jobs + write.jobs == 0,
          s"local delta ran Spark jobs: init ${init.jobs}, write ${write.jobs}")
        (counts, query(url, "select id, a, b from t order by id"),
          query(url, "select count(*), bit_xor(hash(id, a, b)) from t"), init.jobs)
      }
      val clue = s"run(update=$update, insert=$insert)"
      val (counts, table, digest, v10Local) = op(local)
      val (pqCounts, pqTable, pqDigest, v10Parquet) = op(fromParquet)
      assert(v10Local == 0 && v10Parquet > 0,
        s"$clue init (V1, V10) jobs $v10Local, $v10Parquet")
      assert(counts == ((if (update) 500L else 0L, if (insert) 501L else 0L)), clue)
      assert(pqCounts == counts, clue)
      assert(table == expectedTable(update, insert), clue)
      assert(pqTable == table && pqDigest == digest, clue)
    }
  }
}

/** Recording proxy over a real JDBC connection: every staging bind,
  * batch and commit lands in `log` tagged with its connection id (1 is
  * the first connection opened after [[reset]], the sink's connection),
  * each insert statement's events with its row-group size. Before the
  * driver connection's first `executeUpdate(sql)` (the first merge leg)
  * it copies the staging table's rows, read through the same session,
  * into `snapshot`.
  */
object RecordingDb {
  private final case class Ev(conn: Int, kind: String, param: Int = 0, value: Any = null)

  private val log = java.util.Collections.synchronizedList(new java.util.ArrayList[Ev]())
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var snapshotSql: String = ""
  @volatile var snapshot: Seq[Seq[Any]] = Nil

  def reset(snapshotQuery: String): Unit = {
    log.clear(); ids.set(0); snapshotSql = snapshotQuery; snapshot = Nil
  }

  private def evs(conn: Int): Seq[Ev] =
    log.synchronized(log.asScala.toList).filter(_.conn == conn)

  /** Connection `conn`'s protocol events, in order. */
  def events(conn: Int): Seq[String] = evs(conn).collect {
    case Ev(_, k, _, _) if k != "bind" => k
  }

  /** The rows connection `conn` bound into staging statements, in bind
    * order, each rebuilt from its group's positional parameters.
    */
  def boundRows(conn: Int, width: Int): Seq[Seq[Any]] = {
    val out = mutable.Buffer.empty[Seq[Any]]
    val group = mutable.TreeMap.empty[Int, Any]
    evs(conn).foreach {
      case Ev(_, "bind", p, v) => group(p) = v
      case Ev(_, k, _, _) if k.startsWith("addBatch") =>
        assert(group.keys.toSeq == (1 to group.size), s"gap in $group")
        out ++= group.values.toSeq.grouped(width).map(_.toSeq)
        group.clear()
      case _ => ()
    }
    out.toSeq
  }

  def rows(c: Connection, sql: String): Seq[Seq[Any]] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = mutable.Buffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(i => rs.getObject(i): Any)
      out.toSeq
    } finally st.close()
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](cls: Class[T])(f: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          f(m, args)
      }).asInstanceOf[T]

  def connect(url: String): Connection = {
    val id = ids.incrementAndGet()
    val real = DriverManager.getConnection(url)
    def add(e: Ev): Unit = log.add(e): Unit
    proxy(classOf[Connection]) { (m, args) =>
      m.getName match {
        case "commit" => add(Ev(id, "commit")); call(real, m, args)
        case "createStatement" =>
          val st = call(real, m, args).asInstanceOf[Statement]
          proxy(classOf[Statement]) { (sm, sargs) =>
            if (sm.getName == "executeUpdate" && sargs != null &&
                id == 1 && snapshot.isEmpty)
              snapshot = rows(real, snapshotSql)
            call(st, sm, sargs)
          }
        case "prepareStatement" =>
          val sql = args(0).toString
          val ps = call(real, m, args).asInstanceOf[PreparedStatement]
          val groupRows = if (sql.startsWith("insert into"))
            sql.split("\\), \\(").length else 0
          if (groupRows > 0) add(Ev(id, s"prepare:$groupRows"))
          proxy(classOf[PreparedStatement]) { (pm, pargs) =>
            (pm.getName, groupRows) match {
              case ("setObject", g) if g > 0 =>
                add(Ev(id, "bind", pargs(0).asInstanceOf[Integer], pargs(1)))
              case ("setNull", g) if g > 0 =>
                add(Ev(id, "bind", pargs(0).asInstanceOf[Integer], null))
              case ("addBatch", g) if g > 0 => add(Ev(id, s"addBatch:$g"))
              case ("executeBatch", g) if g > 0 => add(Ev(id, s"executeBatch:$g"))
              case _ => ()
            }
            call(ps, pm, pargs)
          }
        case _ => call(real, m, args)
      }
    }
  }
}
