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
