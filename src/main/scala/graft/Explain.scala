package graft


/** Plan audit: print the formatted physical plan of selected queries
  * (all by default). Usage: `runMain graft.Explain [sfDir] [name...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n===== $name =====")
        try fn(spark, dir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
