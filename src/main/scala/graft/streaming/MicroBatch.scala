package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The micro-batch scaffolding every `foreachBatch` stream in this
  * package shares: starting the query, and reading back the per-batch
  * output the probe/score streams overwrite under
  * `outPath/batch_id=<id>` (the layout that makes foreachBatch's
  * at-least-once replay re-create a directory instead of appending
  * duplicates).
  */
private[streaming] object MicroBatch {

  /** Start an append-mode query over `frame` that runs `body` on each
    * micro-batch with its batch id.
    */
  def start(frame: DataFrame, checkpointDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    frame.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** The accumulated batch output under `outPath` with the columns of
    * `ddl`, `batch_id` read back as a long. A stream that has committed
    * no batch yet yields an EMPTY relation typed by `ddl`, not a path
    * error: `outPath` only gains `batch_id=` directories when the first
    * micro-batch commits.
    */
  def output(s: SparkSession, outPath: String, ddl: String): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    if (!hasBatchDirs(s, outPath))
      s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else s.read.option("basePath", outPath).parquet(outPath)
      .select(schema.fieldNames.toSeq.map(c =>
        if (c == "batch_id") col(c).cast("long").as(c) else col(c)): _*)
  }

  /** True once `outPath` holds a `batch_id=` directory. Checked through
    * the path's Hadoop filesystem, so a URI outPath (`file:///…`, an
    * object store) resolves as the writer resolved it.
    */
  private def hasBatchDirs(s: SparkSession, outPath: String): Boolean = {
    val p = new Path(outPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("batch_id="))
  }
}
