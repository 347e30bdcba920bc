package graft

import graft.engine.{Importer, ImporterException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Port of the reference's end-to-end suite
  * (`/root/reference/tests/test_importer.py`) onto the Spark engine:
  * the 4-row `groceries` fixture, golden expected rows ported verbatim,
  * negative tests asserting error type + message intent.
  */
class ImporterSpec extends SparkSpec {

  private val grocSchema = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("item", StringType, nullable = true),
    StructField("quantity", IntegerType, nullable = true),
    StructField("price", DoubleType, nullable = true)
  ))

  /** `test_importer.py:10-21` — the groceries target table. */
  private def groceries: DataFrame = spark.createDataFrame(
    Seq(
      Row("ID000001", "Apple", 5, 10.0),
      Row("ID000002", "Pear", 4, 9.0),
      Row("ID000003", "Orange", 3, 8.0),
      Row("ID000004", "Lemon", 6, 7.0)
    ).asJava, grocSchema)

  private def df(rows: Seq[Row], schema: StructType = grocSchema): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def rowsOf(d: DataFrame): Set[Row] = d.collect().toSet

  /** `test_init` (`test_importer.py:75-122`): defaulted join/subset
    * resolution from PK metadata.
    */
  test("init: join_on defaults to PK, subset to remaining columns") {
    val delta = df(Seq(
      Row("ID000001", "Apple", 15, 20.0),
      Row("ID000002", "Pear", 14, 19.0),
      Row("ID000003", "Orange", 13, 18.0),
      Row("ID000004", "Lemon", 16, 17.0)
    ))
    val imp = new Importer(groceries, delta, table = "groceries",
      tablePk = Seq("id"))
    assert(imp.joinOn == Seq("id"))
    assert(imp.subset == Seq("item", "quantity", "price"))
    assert(imp.tablePrimaryKey == Seq("id"))
    assert(imp.tableColumns == Seq("id", "item", "quantity", "price"))
  }

  /** `test_init_empty` (`test_importer.py:124-133`). */
  test("V1: empty data rejected") {
    val e = intercept[IllegalArgumentException] {
      new Importer(groceries, df(Nil), tablePk = Seq("id"))
    }
    assert(e.getMessage.contains("data contains no records"))
  }

  /** `test_update` (`test_importer.py:146-164`): happy-path merge. */
  test("J1: happy-path merge replaces all matched rows") {
    val values = Seq(
      Row("ID000001", "Apple", 15, 20.0),
      Row("ID000002", "Pear", 14, 19.0),
      Row("ID000003", "Orange", 13, 18.0),
      Row("ID000004", "Lemon", 16, 17.0)
    )
    val res = new Importer(groceries, df(values), tablePk = Seq("id")).merge()
    assert(rowsOf(res.updated) == values.toSet)
    assert(res.rowCountUpdated == 4L)
  }

  /** `test_join_on_column_contains_nulls` (`test_importer.py:166-189`):
    * null-keyed delta rows are dropped (P3); their target rows stay
    * untouched.
    */
  test("P3: null-keyed delta rows leave target rows untouched") {
    val delta = df(Seq(
      Row("ID000001", "Apple", 15, 20.0),
      Row(null, "Pear", 14, 19.0),
      Row("ID000003", "Orange", 13, 18.0),
      Row(null, "Lemon", 16, 17.0)
    ))
    val res = new Importer(groceries, delta, tablePk = Seq("id")).merge()
    assert(rowsOf(res.updated) == Set(
      Row("ID000001", "Apple", 15, 20.0),
      Row("ID000002", "Pear", 4, 9.0),
      Row("ID000003", "Orange", 13, 18.0),
      Row("ID000004", "Lemon", 6, 7.0)
    ))
    assert(res.rowCountUpdated == 2L)
  }

  /** UPDATE semantics: a matched row takes the delta value even when
    * that value is null (not COALESCE) — `UPDATE a SET a.c = b.c`
    * (`importer.py:313-330`) writes NULLs through.
    */
  test("J1: matched rows take delta nulls (UPDATE, not COALESCE)") {
    val delta = df(Seq(Row("ID000001", null, null, null)))
    val res = new Importer(groceries, delta, tablePk = Seq("id")).merge()
    assert(rowsOf(res.updated).contains(Row("ID000001", null, null, null)))
    assert(res.rowCountUpdated == 1L)
  }

  /** `test_join_on_non_key_column` (`test_importer.py:191-214`,
    * schema_number_pk): explicit join_on works without PK; missing
    * join_on with a PK that isn't in the data fails V3.
    */
  test("V3/J4: explicit join_on on non-key column; no resolvable key fails") {
    val numSchema = StructType(
      StructField("number", IntegerType, nullable = true) +: grocSchema.fields.toSeq)
    val target = df(Seq(
      Row(1, "ID000001", "Apple", 5, 10.0),
      Row(2, "ID000002", "Pear", 4, 9.0),
      Row(3, "ID000003", "Orange", 3, 8.0),
      Row(4, "ID000004", "Lemon", 6, 7.0)
    ), numSchema)
    val delta = df(Seq(Row("ID000001", "Apple", 15, 20.0)))

    // explicit join key on a non-PK column succeeds
    val imp = new Importer(target, delta, tablePk = Seq("number"),
      joinOn = Some(Seq("id")))
    assert(imp.joinOn == Seq("id"))

    // PK ("number") is absent from the data → default resolution empty
    val e = intercept[IllegalArgumentException] {
      new Importer(target, delta, tablePk = Seq("number"))
    }
    assert(e.getMessage.contains("column(s) to join on are required"))
  }

  /** `test_join_on_column_not_supplied` (`test_importer.py:216-231`,
    * schema_no_pk).
    */
  test("V3: no PK and no join_on rejected") {
    val delta = df(Seq(Row("ID000001", "Apple", 15, 20.0)))
    val e = intercept[IllegalArgumentException] {
      new Importer(groceries, delta)
    }
    assert(e.getMessage.contains("column(s) to join on are required"))
  }

  /** `test_join_on_column_missing` (`test_importer.py:233-248`). */
  test("V4: unknown join column rejected") {
    val delta = df(Seq(Row("ID000001", "Apple", 15, 20.0)))
    val e = intercept[IllegalArgumentException] {
      new Importer(groceries, delta, tablePk = Seq("id"),
        joinOn = Some(Seq("index")))
    }
    assert(e.getMessage ==
      "couldn't find supplied column to join on: 'index'")
  }

  /** `test_subset_invalid_column` (`test_importer.py:250-265`). */
  test("V6: subset column missing from data rejected") {
    val delta = df(Seq(Row("ID000001", "Apple", 15, 20.0)))
    val e = intercept[IllegalArgumentException] {
      new Importer(groceries, delta, tablePk = Seq("id"),
        subset = Some(Seq("id", "item", "size")))
    }
    assert(e.getMessage == "column provided not found in data: 'size'")
  }

  /** `test_subset_invalid_table_column` (`test_importer.py:267-283`). */
  test("V8: subset column missing from table rejected") {
    val extSchema = StructType(
      grocSchema.fields.toSeq :+ StructField("size", IntegerType, nullable = true))
    val delta = df(Seq(Row("ID000001", "Apple", 15, 20.0, 1)), extSchema)
    val e = intercept[IllegalArgumentException] {
      new Importer(groceries, delta, table = "groceries",
        tablePk = Seq("id"), subset = Some(Seq("id", "item", "size")))
    }
    assert(e.getMessage ==
      "column provided not found in 'groceries' table: 'size'")
  }

  /** V7 via the subset rebind path (`importer.py:199-208`). */
  test("V7: subset rebind overlapping join keys rejected") {
    val delta = df(Seq(Row("ID000001", "Apple", 15, 20.0)))
    val imp = new Importer(groceries, delta, tablePk = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      imp.withSubset(Seq("id", "item"))
    }
    assert(e.getMessage ==
      "columns provided cannot contain join on column: 'id'")
  }

  /** `test_slice_data_duplicate_columns` (`test_importer.py:285-305`).
    * Spark can hold duplicate column labels after a join.
    */
  test("V9: duplicate data columns rejected") {
    val base = df(Seq(Row("ID000001", "Apple", 15, 20.0, 10.0)),
      StructType(Seq(
        StructField("id", StringType, nullable = true),
        StructField("item", StringType, nullable = true),
        StructField("quantity", IntegerType, nullable = true),
        StructField("price", DoubleType, nullable = true),
        StructField("price2", DoubleType, nullable = true)
      ))).toDF("id", "item", "quantity", "price", "price")
    val e = intercept[ImporterException] {
      new Importer(groceries, base, tablePk = Seq("id"))
    }
    assert(e.getMessage == "data contains duplicate column: 'price'")
  }

  /** `test_slice_data_duplicate_values` (`test_importer.py:307-326`). */
  test("V10: duplicate join-key values rejected") {
    val delta = df(Seq(
      Row("ID000001", "Apple", 15, 20.0),
      Row("ID000002", "Pear", 14, 19.0),
      Row("ID000002", "Orange", 13, 18.0),
      Row("ID000004", "Lemon", 16, 17.0)
    ))
    val e = intercept[ImporterException] {
      new Importer(groceries, delta, tablePk = Seq("id"))
    }
    assert(e.getMessage ==
      "data contains duplicate values in join on column: 'id'")
  }

  /** Two null-keyed rows are not duplicates — P3 drops them before the
    * V10 check (dropna precedes `duplicated` in `_slice_data`,
    * `importer.py:228-249`).
    */
  test("V10 after P3: repeated null keys are not duplicates") {
    val delta = df(Seq(
      Row(null, "Pear", 14, 19.0),
      Row(null, "Lemon", 16, 17.0),
      Row("ID000001", "Apple", 15, 20.0)
    ))
    val res = new Importer(groceries, delta, tablePk = Seq("id")).merge()
    assert(res.rowCountUpdated == 1L)
  }

  /** Composite-key merge on the real lineitem fixture, self-derived
    * delta (exercises the renamed-column self-join path).
    */
  test("J1: composite-key self-merge on lineitem") {
    // The synthetic lineitem's (l_orderkey, l_linenumber) is NOT unique,
    // so the delta must be made unique by construction (V10 guards the
    // delta side only; many-target-rows-per-delta-key is valid UPDATE).
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val delta = li.filter("l_returnflag = 'R'")
      .groupBy("l_orderkey", "l_linenumber")
      .agg(org.apache.spark.sql.functions.expr("max(l_quantity) * 2").as("l_quantity"))
    val res = Importer.merge(li, delta,
      joinOn = Seq("l_orderkey", "l_linenumber"), subset = Seq("l_quantity"),
      tablePk = Seq("l_orderkey", "l_linenumber"))
    assert(res.updated.count() == li.count())
    // every matched row took a doubled quantity: doubled values are even
    val remainder = res.updated
      .join(delta.select("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber"), "left_semi")
      .selectExpr("sum(l_quantity % 2)").head.getDouble(0)
    assert(remainder == 0.0)
    assert(res.rowCountUpdated > 0 && res.rowCountUpdated <= li.count())
  }

  /** `run` contract (`importer.py:293-310,361-362`): V11; the insert
    * action the reference declares-and-raises is COMPLETED here as the
    * MERGE-upsert extension (round-12 VERDICT item #7).
    */
  test("V11/run: no action rejected; insert leg upserts unmatched rows") {
    val delta = df(Seq(
      Row("ID000001", "Apple", 15, 20.0),   // matched → update
      Row("ID000005", "Mango", 2, 30.0)))   // unmatched → insert
    val imp = new Importer(groceries, delta, tablePk = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      imp.run(update = false, insert = false)
    }
    assert(e.getMessage == "at least one action must be performed")
    // update-only: unmatched delta row ignored, matched row updated
    val up = imp.run(update = true)
    assert(up.rowCountUpdated == 1L && up.rowCountInserted == 0L)
    assert(rowsOf(up.updated) == rowsOf(groceries) -
      Row("ID000001", "Apple", 5, 10.0) + Row("ID000001", "Apple", 15, 20.0))
    // full upsert: both legs
    val both = imp.run(update = true, insert = true)
    assert(both.rowCountUpdated == 1L && both.rowCountInserted == 1L)
    assert(rowsOf(both.updated) == rowsOf(up.updated) +
      Row("ID000005", "Mango", 2, 30.0))
    // insert-only: matched row untouched, unmatched appended
    val ins = imp.run(update = false, insert = true)
    assert(ins.rowCountUpdated == 0L && ins.rowCountInserted == 1L)
    assert(rowsOf(ins.updated) == rowsOf(groceries) +
      Row("ID000005", "Mango", 2, 30.0))
  }

  /** Insert leg with a PARTIAL subset: target columns outside
    * joinOn ∪ subset land as typed nulls on inserted rows.
    */
  test("upsert: inserted rows null-fill columns outside the subset") {
    val slim = StructType(Seq(
      StructField("id", StringType, nullable = true),
      StructField("price", DoubleType, nullable = true)))
    val delta = df(Seq(Row("ID000006", 42.0)), slim)
    val imp = new Importer(groceries, delta, tablePk = Seq("id"))
    val got = imp.run(update = true, insert = true)
    assert(got.rowCountUpdated == 0L && got.rowCountInserted == 1L)
    assert(rowsOf(got.updated) == rowsOf(groceries) +
      Row("ID000006", null, null, 42.0))
    // schema unchanged — nulls are cast to the target's types
    assert(got.updated.schema == groceries.schema)
  }

  /** The merge plan must broadcast the delta side — the 100 TB-safe
    * shape: no shuffle of the target.
    */
  test("scale: merge plan uses BroadcastHashJoin, no target shuffle") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val delta = li.filter("l_returnflag = 'R'")
      .selectExpr("l_orderkey", "l_linenumber", "l_quantity * 2 as l_quantity")
    val imp = new Importer(li, delta,
      tablePk = Seq("l_orderkey", "l_linenumber"), eagerValidate = false)
    val plan = imp.updated.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the upsert adds a broadcast semi probe + broadcast anti join —
    // still zero target shuffles (the 100 TB contract of the insert
    // leg: a second scan instead of a corpus-sized build side)
    val upPlan = imp.upserted.queryExecution.executedPlan.toString
    assert(!upPlan.contains("SortMergeJoin"), upPlan)
    assert(!upPlan.contains("ShuffledHashJoin"), upPlan)
    // the observed copy a sink writes keeps that shape: counting the
    // matched/inserted flags adds no join and no exchange
    val observed = imp.run(update = true, insert = true)
      .observed(org.apache.spark.sql.Observation())
      .queryExecution.executedPlan.toString
    assert(observed.contains("CollectMetrics"), observed)
    assert(observed.contains("BroadcastHashJoin"), observed)
    assert(!observed.contains("SortMergeJoin"), observed)
    assert(!observed.contains("ShuffledHashJoin"), observed)
  }
}
