package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.engine.{Importer, JdbcMergeSink, MergeResult, MergeSpec, ParquetMergeSink}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the merge counts settled as a by-product of the write — the
  * observed pass of [[ParquetMergeSink]], the statement row counts of
  * [[JdbcMergeSink]], and the memoized aggregate read before any sink —
  * equal to the eager definitions they replace: a broadcast semi-join
  * count of the target for `rowCountUpdated`, and a count of delta rows
  * anti-joined against the target's matched keys for `rowCountInserted`.
  */
class MergeCountSpec extends SparkSpec {

  private val grocSchema = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("item", StringType, nullable = true),
    StructField("quantity", IntegerType, nullable = true),
    StructField("price", DoubleType, nullable = true)))

  private val grocRows = Seq(
    Row("ID000001", "Apple", 5, 10.0), Row("ID000002", "Pear", 4, 9.0),
    Row("ID000003", "Orange", 3, 8.0), Row("ID000004", "Lemon", 6, 7.0))

  /** `test_importer.py:10-21` — the groceries target table. */
  private def groceries: DataFrame =
    spark.createDataFrame(grocRows.asJava, grocSchema)

  private def df(rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, grocSchema)

  /** Two matched keys, two new ones. */
  private def upsertDelta: DataFrame = df(
    Row("ID000001", "Apple", 15, 20.0), Row("ID000003", "Orange", 13, 18.0),
    Row("ID000005", "Mango", 2, 30.0), Row("ID000006", "Plum", 9, 5.5))

  /** `test_importer.py:167-172` plus one new key: null-keyed rows match
    * and insert nothing.
    */
  private def nullKeyDelta: DataFrame = df(
    Row("ID000001", "Apple", 15, 20.0), Row(null, "Pear", 14, 19.0),
    Row("ID000003", "Orange", 13, 18.0), Row(null, "Lemon", 16, 17.0),
    Row("ID000007", "Fig", 1, 3.0))

  private val modes = Seq((true, false), (true, true), (false, true))

  /** The eager counts `Importer` ran before the counts moved into the
    * sinks, over the importer's sliced delta (`data`).
    */
  private def eagerCounts(target: DataFrame, imp: Importer,
      update: Boolean, insert: Boolean): (Long, Long) = {
    val keys = imp.joinOn
    val dk = broadcast(imp.data.select(keys.map(c => col(c).as(s"__u_$c")): _*))
    val on = keys.map(k => col(k) === col(s"__u_$k")).reduce(_ && _)
    val matchedKeys = broadcast(target.join(dk, on, "left_semi")
      .select(keys.map(c => col(c).as(s"__m_$c")): _*))
    val updated = if (update) target.join(dk, on, "left_semi").count() else 0L
    val inserted = if (insert) imp.data.join(matchedKeys,
      keys.map(k => col(k) === col(s"__m_$k")).reduce(_ && _), "left_anti").count()
      else 0L
    (updated, inserted)
  }

  private def counts(r: MergeResult): (Long, Long) =
    (r.rowCountUpdated, r.rowCountInserted)

  private def spec(imp: Importer, update: Boolean, insert: Boolean) =
    MergeSpec("groceries", imp.joinOn, imp.subset,
      insertUnmatched = insert, updateMatched = update)

  private def lakeDir(): String =
    Files.createTempDirectory("merge_counts").toString + "/t"

  /** Every path that settles counts, for one (target, delta) case. */
  private def checkAllPaths(name: String, target: => DataFrame,
      delta: => DataFrame, pk: Seq[String]): Unit =
    for ((update, insert) <- modes) {
      def imp() = new Importer(target, delta, tablePk = pk)
      val want = eagerCounts(target, imp(), update, insert)
      val clue = s"$name run(update=$update, insert=$insert)"
      // unsettled: one memoized aggregate
      val fallback = imp().run(update, insert)
      assert(counts(fallback) == want, clue)
      // observed by the lake sink's own write
      val i = imp()
      val r = i.run(update, insert)
      val affected = new ParquetMergeSink(lakeDir()).write(r, i.data, spec(i, update, insert))
      assert(counts(r) == want, clue)
      assert(affected == want._1 + want._2, clue)
    }

  test("settled counts equal the eager definitions: groceries, all run modes") {
    checkAllPaths("groceries", groceries, upsertDelta, Seq("id"))
  }

  test("settled counts equal the eager definitions: null-key delta") {
    checkAllPaths("null keys", groceries, nullKeyDelta, Seq("id"))
    val r = new Importer(groceries, nullKeyDelta, tablePk = Seq("id"))
      .run(update = true, insert = true)
    assert(counts(r) == ((2L, 1L)))
  }

  test("settled counts equal the eager definitions: composite-key lineitem self-merge") {
    // (l_orderkey, l_linenumber) is not unique in the target: every
    // target row of a matched key counts, as in the semi-join count
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val matched = li.filter("l_returnflag = 'R'")
      .groupBy("l_orderkey", "l_linenumber")
      .agg(expr("max(l_quantity) * 2").as("l_quantity"))
    val fresh = matched.orderBy("l_orderkey", "l_linenumber").limit(7)
      .select((col("l_orderkey") + 100000000L).as("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
    checkAllPaths("lineitem", li, matched.unionByName(fresh),
      Seq("l_orderkey", "l_linenumber"))
  }

  test("JdbcMergeSink settles counts from its statement row counts (DuckDB)") {
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "duckdb jdbc jar not in the local cache")
    val db = Files.createTempDirectory("merge_counts_jdbc").resolve("g.duckdb").toString
    def conn() = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$db")
    def reset(): Unit = {
      val c = conn(); val st = c.createStatement()
      st.execute("drop table if exists groceries")
      st.execute("create table groceries (id varchar not null primary key, " +
        "item varchar, quantity int, price double)")
      st.execute("insert into groceries values " +
        "('ID000001','Apple',5,10.0), ('ID000002','Pear',4,9.0), " +
        "('ID000003','Orange',3,8.0), ('ID000004','Lemon',6,7.0)")
      st.close(); c.close()
    }
    def rows(where: String): Long = {
      val c = conn(); val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"select count(*) from groceries $where")
        rs.next(); rs.getLong(1)
      } finally { st.close(); c.close() }
    }
    val sink = new JdbcMergeSink("sqlite", () => conn(), chunkSize = 2)
    // the last case hands the sink the raw delta, null keys included:
    // staging a null key would let the INSERT leg break the NOT NULL key
    for ((delta, raw) <- Seq((upsertDelta, false), (nullKeyDelta, false), (nullKeyDelta, true));
         (update, insert) <- modes) {
      reset()
      val imp = new Importer(groceries, delta, table = "groceries", tablePk = Seq("id"))
      val want = eagerCounts(groceries, imp, update, insert)
      val r = imp.run(update, insert)
      val affected = sink.write(r, if (raw) delta else imp.data, spec(imp, update, insert))
      val (got, read) = SparkEvents.during(spark)(counts(r))
      val clue = s"raw=$raw run(update=$update, insert=$insert)"
      assert(got == want, clue)
      assert(affected == want._1 + want._2, clue)
      assert(read.jobs == 0, s"$clue: settled counts ran Spark jobs")
      assert(rows("") == 4L + want._2, clue)
      assert(rows("where id is null") == 0L, clue)
    }
  }

  test("a partial action on `updated` before the write leaves the sink's counts exact") {
    val imp = new Importer(groceries, upsertDelta, tablePk = Seq("id"))
    val r = imp.run(update = true, insert = true)
    assert(r.updated.limit(1).collect().length == 1)
    new ParquetMergeSink(lakeDir()).write(r, imp.data, spec(imp, update = true, insert = true))
    assert(counts(r) == ((2L, 2L)))
  }

  test("run plans only; counts read after ParquetMergeSink.write run no job") {
    val imp = new Importer(groceries, upsertDelta, tablePk = Seq("id"))
    val (r, planned) = SparkEvents.during(spark)(imp.run(update = true, insert = true))
    assert(planned.jobs == 0, "Importer.run submitted Spark jobs")
    new ParquetMergeSink(lakeDir()).write(r, imp.data, spec(imp, update = true, insert = true))
    val (got, read) = SparkEvents.during(spark)(counts(r))
    assert(read.jobs == 0, "counts after the write submitted Spark jobs")
    assert(got == ((2L, 2L)))
  }
}
