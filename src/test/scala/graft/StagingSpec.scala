package graft

import graft.engine.{SqlGen, Staging}

class StagingSpec extends SparkSpec {

  test("O2: emptyClone preserves schema with zero rows") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val clone = Staging.emptyClone(li)
    assert(clone.schema == li.schema)
    assert(clone.isEmpty)
    val sliced = Staging.emptyClone(li, Seq("l_orderkey", "l_quantity"))
    assert(sliced.columns.toSeq == Seq("l_orderkey", "l_quantity"))
  }

  test("S8 scale path: bucketed tables join without any Exchange") {
    Seq("orders_bkt", "delta_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
    }
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    val delta = orders.limit(500)
      .selectExpr("o_orderkey", "o_totalprice * 2 AS o_totalprice")
    Staging.writeBucketed(orders, "orders_bkt", Seq("o_orderkey"), 8)
    Staging.writeBucketed(delta, "delta_bkt", Seq("o_orderkey"), 8)
    // disable the small-table broadcast so the plan demonstrates the
    // big-big case bucketing exists for: co-located SMJ, zero Exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_bkt")
        .join(spark.table("delta_bkt"), "o_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE orders_bkt")
      spark.sql("DROP TABLE delta_bkt")
    }
  }

  test("V2: unknown dialect rejected with sorted available list") {
    val e = intercept[IllegalArgumentException] {
      SqlGen.requireDialect("mysql")
    }
    assert(e.getMessage == "unsupported dialect, use available: 'mssql', 'sqlite'")
    SqlGen.requireDialect("mssql")
    SqlGen.requireDialect("sqlite")
  }

  test("J1: mssql UPDATE..INNER JOIN codegen shape (importer.py:313-330)") {
    val sql = SqlGen.updateMssql("dbo", "groceries", "#dbimport",
      Seq("id"), Seq("item", "price"))
    assert(sql ==
      "update a set a.[item] = b.[item], a.[price] = b.[price] " +
        "from [dbo].[groceries] as a inner join #dbimport as b " +
        "on a.[id] = b.[id]")
  }

  test("J2: sqlite correlated-subquery UPDATE codegen (importer.py:331-354)") {
    val sql = SqlGen.updateSqlite("groceries", "temp.dbimport",
      Seq("id"), Seq("price"))
    assert(sql.contains(
      "price = (select price from temp.dbimport where groceries.id = temp.dbimport.id)"))
    assert(sql.contains(
      "where exists (select * from temp.dbimport where groceries.id = temp.dbimport.id)"))
  }

  test("S7: staging DDL per dialect (importer.py:41-51)") {
    assert(SqlGen.createTempTable("mssql", "[dbo].[t]", "#stg", Seq("a", "b"))
      == "select top 0 [a], [b] into #stg from [dbo].[t]")
    assert(SqlGen.createTempTable("sqlite", "t", "temp.stg", Seq("a", "b"))
      == "create temp table temp.stg as select a, b from t limit 0")
  }
}
