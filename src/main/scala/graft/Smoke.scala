package graft
/** Driver-style smoke: run SparkEntry.entry on sf0.001, print row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    df.show(5, false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
