package importbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.SparkSession

import graft.engine.{Catalog, Importer, JdbcCatalog, JdbcMergeSink, MergeSpec, ParquetMergeSink}
import graft.ops.{CorpusSnapshot, TrainPrep}
import graft.sources.Sources

/** What one op reports back to the loop: the counts its check needs. */
final case class OpResult(affected: Long, updated: Long, inserted: Long)

/** One benchmark workload. Inputs are made from the seed by
  * [[generate]]; [[reset]] restores pristine state outside the timed
  * region so every op does identical work; [[check]] validates an op's
  * output against DuckDB, also outside the timed region.
  */
abstract class Workload(val spark: SparkSession, val dir: File, val seed: Long,
    val t: Tracer) {
  /** Input rows one op applies: delta rows for merges, documents for
    * the export.
    */
  def rowsPerOp: Long
  /** Rows a minimal plan must read once: target + delta, or documents. */
  def scanBase: Long
  /** Unmeasured ops before the measured ones. A count, not a time, so
    * that a slow host does not also leave the JIT less warmed up.
    */
  def warmupOps: Int = 4
  def generate(): Unit
  /** Runs once after [[generate]]: the expected outputs for [[check]]. */
  def prepare(): Unit
  /** Removes every earlier op's output and restores pristine inputs. */
  def reset(): Unit
  def op(op: Int): OpResult
  /** None when the op's output is right, else why it is not. Also adds
    * the op's on-disk output counters to the tracer.
    */
  def check(op: Int, r: OpResult): Option[String]

  def duck(): Connection = DriverManager.getConnection("jdbc:duckdb:")

  /** Mixes the seed into a positive Long, for seeded constants. */
  protected def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** DuckDB SQL for `orders` rows with keys in [lo, hi). */
  protected def ordersSql(lo: Long, hi: Long): String =
    s"""SELECT i AS o_orderkey, (hash(i, ${seed + 1}) % 100000)::BIGINT AS o_custkey,
       |  ['O', 'F', 'P'][1 + (hash(i, ${seed + 2}) % 3)::INTEGER] AS o_orderstatus,
       |  (hash(i, ${seed + 3}) % 50000000)::DOUBLE / 100 AS o_totalprice,
       |  DATE '1995-01-01' + (hash(i, ${seed + 4}) % 2500)::INTEGER AS o_orderdate,
       |  'priority-' || (hash(i, ${seed + 5}) % 5) AS o_orderpriority
       |FROM range($lo, $hi) r(i)""".stripMargin

  /** DuckDB SQL for a delta's keys `k`: `matched` distinct keys of a
    * `targetRows` table (a power of two, so an odd stride permutes its
    * keys), then `fresh` keys past the table.
    */
  protected def deltaKeysSql(targetRows: Long, matched: Long, fresh: Long): String = {
    val stride = ((mix(seed) << 1) | 1) & (targetRows - 1)
    val offset = mix(seed + 1) & (targetRows - 1)
    s"""SELECT (i * $stride + $offset) % $targetRows AS k FROM range($matched) r(i)
       |UNION ALL SELECT $targetRows + i FROM range($fresh) r(i)""".stripMargin
  }

  protected def path(parts: String*): String =
    parts.foldLeft(dir)((d, p) => new File(d, p)).getAbsolutePath

  protected def exec(c: Connection, sqls: String*): Unit = {
    val st = c.createStatement()
    try sqls.foreach(st.execute) finally st.close()
  }

  /** (row count, order-insensitive row hash) of a DuckDB relation. */
  protected def digest(c: Connection, cols: String, from: String): (Long, Long) = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT count(*), coalesce(bit_xor(hash($cols)), 0) FROM $from")
      rs.next()
      (rs.getLong(1), rs.getLong(2))
    } finally st.close()
  }

  /** Bytes and files under `d`, recursively. */
  protected def du(d: File, suffix: String): (Long, Long) = {
    val files = Files.walk(d.toPath).filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(suffix)).toArray.map(_.asInstanceOf[java.nio.file.Path])
    (files.map(Files.size).sum, files.length.toLong)
  }

  protected def deleteTree(d: File): Unit =
    if (d.exists()) Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
}

object Workload {
  val OrdersCols =
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

  def apply(name: String, spark: SparkSession, dir: File, seed: Long,
      t: Tracer): Workload = name match {
    case "lake_upsert"      => new LakeUpsert(spark, dir, seed, t)
    case "xlsx_jdbc_update" => new XlsxJdbcUpdate(spark, dir, seed, t)
    case "corpus_export"    => new CorpusExport(spark, dir, seed, t)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Upsert of a parquet delta into a parquet `orders` table through
  * Importer.run(update, insert) and ParquetMergeSink.
  */
final class LakeUpsert(spark: SparkSession, dir: File, seed: Long, t: Tracer)
    extends Workload(spark, dir, seed, t) {
  /** Target rows; a power of two, so an odd stride permutes the keys. */
  val TargetRows: Long = 1L << 17
  val Matched: Long = 4000
  val Fresh: Long = 1000
  def rowsPerOp: Long = Matched + Fresh
  def scanBase: Long = TargetRows + rowsPerOp

  private val in = path("in")
  private def out(op: Int) = path("out", s"op-$op")
  private var expected = (0L, 0L)

  /** The target as four parquet files of key ranges, and the delta. */
  def generate(): Unit = {
    deleteTree(new File(in))
    new File(in, "orders.parquet").mkdirs()
    val c = duck()
    try {
      for (p <- 0 until 4) exec(c,
        s"""COPY (${ordersSql(p * TargetRows / 4, (p + 1) * TargetRows / 4)})
           |TO '$in/orders.parquet/part-$p.parquet' (FORMAT PARQUET)""".stripMargin)
      exec(c,
        s"""COPY (SELECT k AS o_orderkey,
           |  ['O', 'F', 'P', 'X'][1 + (hash(k, ${seed + 6}) % 4)::INTEGER] AS o_orderstatus,
           |  (hash(k, ${seed + 7}) % 50000000)::DOUBLE / 100 AS o_totalprice
           |FROM (${deltaKeysSql(TargetRows, Matched, Fresh)}) ORDER BY k)
           |TO '$in/delta.parquet' (FORMAT PARQUET)""".stripMargin)
    } finally c.close()
  }

  def prepare(): Unit = {
    val c = duck()
    try expected = digest(c, Workload.OrdersCols,
      s"""(SELECT t.o_orderkey, t.o_custkey,
         |   CASE WHEN d.o_orderkey IS NULL THEN t.o_orderstatus ELSE d.o_orderstatus END AS o_orderstatus,
         |   CASE WHEN d.o_orderkey IS NULL THEN t.o_totalprice ELSE d.o_totalprice END AS o_totalprice,
         |   t.o_orderdate, t.o_orderpriority
         | FROM read_parquet('$in/orders.parquet/*.parquet') t
         | LEFT JOIN read_parquet('$in/delta.parquet') d USING (o_orderkey)
         | UNION ALL
         | SELECT d.o_orderkey, NULL::BIGINT, d.o_orderstatus, d.o_totalprice, NULL::DATE, NULL::VARCHAR
         | FROM read_parquet('$in/delta.parquet') d
         | WHERE d.o_orderkey NOT IN (SELECT o_orderkey FROM read_parquet('$in/orders.parquet/*.parquet')))""".stripMargin)
    finally c.close()
  }

  def reset(): Unit = deleteTree(new File(path("out")))

  def op(op: Int): OpResult = {
    val (target, pk) = t.span("catalog.meta") {
      val cat = new Catalog(spark, in)
      (cat.table("orders"), cat.primaryKey("orders"))
    }
    val delta = t.span("sources.read")(Sources.readTable(spark, in, "delta"))
    val imp = t.span("importer.init")(
      new Importer(target, delta, table = "orders", tablePk = pk))
    val res = t.span("importer.count")(imp.run(update = true, insert = true))
    val affected = t.span("sink.write")(new ParquetMergeSink(out(op)).write(
      res, delta, MergeSpec("orders", imp.joinOn, imp.subset, insertUnmatched = true)))
    OpResult(affected, res.rowCountUpdated, res.rowCountInserted)
  }

  def check(op: Int, r: OpResult): Option[String] = {
    val (bytes, files) = du(new File(out(op)), ".parquet")
    t.count("staging.output_bytes", bytes.toDouble)
    t.count("staging.files", files.toDouble)
    val c = duck()
    val got = try digest(c, Workload.OrdersCols, s"read_parquet('${out(op)}/*.parquet')")
      finally c.close()
    if (r.updated != Matched || r.inserted != Fresh || r.affected != Matched + Fresh)
      Some(s"counts $r, want updated=$Matched inserted=$Fresh")
    else if (got != expected) Some(s"output digest $got, want $expected")
    else None
  }
}

/** The reference's flow: an `.xlsx` delta read by Sources.readXlsx,
  * keys from JdbcCatalog, Importer.merge() over a JDBC target, then
  * JdbcMergeSink("sqlite") runs the staged UPDATE inside DuckDB.
  */
final class XlsxJdbcUpdate(spark: SparkSession, dir: File, seed: Long, t: Tracer)
    extends Workload(spark, dir, seed, t) {
  val TargetRows: Long = 1L << 16
  val Matched: Int = 1800
  val Unmatched: Int = 200
  def rowsPerOp: Long = Matched + Unmatched
  def scanBase: Long = TargetRows + rowsPerOp

  private val db = path("db", "orders.duckdb")
  private val pristine = path("db", "pristine.duckdb")
  private val xlsx = path("in", "delta.xlsx")
  private val url = s"jdbc:duckdb:$db"
  private var expected = (0L, 0L)

  private def connect(): Connection = JdbcProbe.wrap(DriverManager.getConnection(url), t)

  /** The delta as DuckDB SQL; prices are never whole numbers, so the
    * xlsx reader types the column as double.
    */
  private def deltaSql: String =
    s"""SELECT k AS o_orderkey,
       |  ((hash(k, ${seed + 6}) % 5000000) * 2 + 1)::DOUBLE / 200 AS o_totalprice,
       |  ['O', 'F', 'P', 'X'][1 + (hash(k, ${seed + 7}) % 4)::INTEGER] AS o_orderstatus
       |FROM (${deltaKeysSql(TargetRows, Matched, Unmatched)})""".stripMargin

  def generate(): Unit = {
    new File(db).getParentFile.mkdirs()
    new File(xlsx).getParentFile.mkdirs()
    Files.deleteIfExists(new File(pristine).toPath)
    val c = DriverManager.getConnection(s"jdbc:duckdb:$pristine")
    val rows = try {
      exec(c,
        """CREATE TABLE orders (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT,
          |  o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate DATE,
          |  o_orderpriority VARCHAR)""".stripMargin,
        s"INSERT INTO orders ${ordersSql(0, TargetRows)}")
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(deltaSql)
        val b = Vector.newBuilder[(Long, Double, String)]
        while (rs.next()) b += ((rs.getLong(1), rs.getDouble(2), rs.getString(3)))
        b.result()
      } finally st.close()
    } finally c.close()
    XlsxWriter.write(xlsx, Seq("o_orderkey", "o_totalprice", "o_orderstatus"),
      rows.map { case (k, p, s) => Seq(k, p, s) })
  }

  def prepare(): Unit = {
    val c = duck()
    try {
      exec(c, s"ATTACH '$pristine' AS p (READ_ONLY)")
      expected = digest(c, Workload.OrdersCols,
        s"""(SELECT t.o_orderkey, t.o_custkey,
           |   CASE WHEN d.o_orderkey IS NULL THEN t.o_orderstatus ELSE d.o_orderstatus END AS o_orderstatus,
           |   CASE WHEN d.o_orderkey IS NULL THEN t.o_totalprice ELSE d.o_totalprice END AS o_totalprice,
           |   t.o_orderdate, t.o_orderpriority
           | FROM p.orders t LEFT JOIN ($deltaSql) d USING (o_orderkey))""".stripMargin)
    } finally c.close()
  }

  def reset(): Unit = {
    Files.deleteIfExists(new File(db + ".wal").toPath)
    Files.copy(new File(pristine).toPath, new File(db).toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def op(op: Int): OpResult = {
    val delta = t.span("sources.xlsx_read")(Sources.readXlsx(spark, xlsx).values.head)
    val (target, pk) = t.span("catalog.meta") {
      val props = new java.util.Properties()
      props.setProperty("driver", "org.duckdb.DuckDBDriver")
      (spark.read.jdbc(url, "orders", props), new JdbcCatalog(() => connect()).primaryKey("orders"))
    }
    val imp = t.span("importer.init")(
      new Importer(target, delta, table = "orders", tablePk = pk))
    val res = t.span("importer.count")(imp.merge())
    val affected = t.span("sink.write")(new JdbcMergeSink("sqlite", () => connect())
      .write(res, delta, MergeSpec("orders", imp.joinOn, imp.subset)))
    OpResult(affected, res.rowCountUpdated, 0L)
  }

  def check(op: Int, r: OpResult): Option[String] = {
    val c = duck()
    val got = try {
      exec(c, s"ATTACH '$db' AS cur (READ_ONLY)")
      digest(c, Workload.OrdersCols, "cur.orders")
    } finally c.close()
    if (r.affected != Matched || r.updated != Matched)
      Some(s"counts $r, want affected=updated=$Matched")
    else if (got != expected) Some(s"table digest $got, want $expected")
    else None
  }
}

/** TrainPrep.pipelineExport over a seeded corpus, published with
  * CorpusSnapshot.publish into an empty snapshot root.
  */
final class CorpusExport(spark: SparkSession, dir: File, seed: Long, t: Tracer)
    extends Workload(spark, dir, seed, t) {
  val Docs: Long = 400
  def rowsPerOp: Long = Docs
  def scanBase: Long = Docs
  /** An export is a batch job that pays JIT and codegen warm-up on every
    * run, so its ops are measured cold: the first op in the JVM.
    */
  override def warmupOps: Int = 0

  private val in = path("in")
  private def root(op: Int) = path("snap", s"op-$op")
  private var expected = (0L, 0L)
  private var published = -1L

  /** Words like the engine's test corpus, stop words included so the
    * quality filter keeps most documents; every seventh document
    * copies its predecessor but for one word, so dedup has clusters.
    */
  private val Vocab = Seq("a", "the", "of", "and", "batch", "part", "spark",
    "line", "column", "order", "small", "sort", "fast", "value", "scan", "hash",
    "slow", "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "customer", "join", "index",
    "shard")

  def generate(): Unit = {
    new File(in).mkdirs()
    val vocab = Vocab.map(w => s"'$w'").mkString("[", ", ", "]")
    val c = duck()
    try exec(c,
      s"""COPY (
         |  SELECT doc_id, text, 'en' AS lang, 'src' || (hash(doc_id, ${seed + 3}) % 20) AS source,
         |    length(text)::BIGINT AS n_chars
         |  FROM (
         |    SELECT doc_id, array_to_string(list_transform(range(n), j ->
         |      $vocab[1 + (hash(CASE WHEN j = 5 THEN doc_id ELSE src END, j, $seed)
         |        % ${Vocab.size})::INTEGER]), ' ') AS text
         |    FROM (
         |      SELECT i AS doc_id, src, 20 + (hash(src, ${seed + 1}) % 60)::INTEGER AS n
         |      FROM (SELECT i, CASE WHEN i % 7 = 3 THEN i - 1 ELSE i END AS src
         |            FROM range($Docs) r(i))))
         |  ORDER BY doc_id
         |) TO '$in/documents.parquet' (FORMAT PARQUET)""".stripMargin)
    finally c.close()
  }

  def prepare(): Unit = {
    val c = duck()
    try {
      exec(c, s"CREATE VIEW documents AS SELECT * FROM read_parquet('$in/documents.parquet')")
      expected = digest(c, "doc_id, hex(text)",
        s"""documents WHERE doc_id IN (SELECT doc_id FROM (
           |${graft.SparkEntry.oracleSql("pipeline_export")}))""".stripMargin)
    } finally c.close()
  }

  def reset(): Unit = deleteTree(new File(path("snap")))

  def op(op: Int): OpResult = {
    val export = t.span("export.plan")(TrainPrep.pipelineExport(spark, in))
    val docs = t.span("sources.read")(spark.read.parquet(s"$in/documents.parquet"))
    val survivors = docs.join(export.select("doc_id"), "doc_id").select("doc_id", "text")
    published = t.span("snapshot.publish")(CorpusSnapshot.publish(spark, survivors, root(op)))
    OpResult(0L, 0L, 0L)
  }

  def check(op: Int, r: OpResult): Option[String] = {
    val vdir = new File(root(op), s"v=$published")
    val (bytes, files) = du(vdir, ".jsonl")
    t.count("snapshot.bytes", bytes.toDouble)
    t.count("snapshot.files", files.toDouble)
    val c = duck()
    val got = try digest(c, "doc_id, text_hex",
      s"""read_json('$vdir/shard=*/*.jsonl', format = 'newline_delimited',
         |  columns = {doc_id: 'BIGINT', text_hex: 'VARCHAR'})""".stripMargin)
      finally c.close()
    if (!new File(root(op), s"commits/$published").exists())
      Some(s"version $published not committed")
    else if (got != expected) Some(s"published digest $got, want $expected")
    else None
  }
}

/** Writes a one-sheet `.xlsx`: a header row of strings, then numbers
  * as numeric cells and everything else as inline strings.
  */
object XlsxWriter {
  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + colName(i % 26)

  def write(path: String, header: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    val sheet = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    (header +: rows).zipWithIndex.foreach { case (row, r) =>
      sheet ++= s"""<row r="${r + 1}">"""
      row.zipWithIndex.foreach { case (v, c) =>
        val ref = s"${colName(c)}${r + 1}"
        v match {
          case n @ (_: Long | _: Int | _: Double) => sheet ++= s"""<c r="$ref"><v>$n</v></c>"""
          case s => sheet ++= s"""<c r="$ref" t="inlineStr"><is><t>${esc(s.toString)}</t></is></c>"""
        }
      }
      sheet ++= "</row>"
    }
    sheet ++= "</sheetData></worksheet>"
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          "</Types>"),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>"),
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="delta" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          "</Relationships>"),
      "xl/worksheets/sheet1.xml" -> sheet.toString)
    val zip = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try parts.foreach { case (name, body) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }
}
