package graft

/** Dev tool: write the FULL `.explain("formatted")` output of selected
  * queries to files — the before/after plan evidence the optimization
  * rounds commit under `plans/rNN/`.
  *
  * Args: <outDir> <suffix> [names...]  (names default: all queries)
  * Each query's plan lands at `<outDir>/<name>_<suffix>.txt`.
  *
  * The plan is captured AFTER one executed run (count()), so AQE's
  * final plan is what lands in the file (`explain` before execution
  * only shows `isFinalPlan=false`); the initial plan is appended too
  * so exchange placement pre-AQE stays visible.
  *
  * After each dump it prints `!! SINGLE_PARTITION_EXCHANGE in <name>`
  * when the plan holds a `SinglePartition` exchange: the one plan shape
  * that dies at 100 TB when its input is a full relation (scalar
  * aggregates over already-tiny inputs are fine — the dump holds the
  * context to tell them apart).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    // shared harness session — dumps reflect exactly the bench's plans
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      try {
        spark.sparkContext.setJobDescription(s"plandump: $n")
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t0 = System.nanoTime()
        df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val fin = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${n}_$suffix.txt")
        try {
          w.println(f"== $n @ $sfDir cpus=${GraftSession.cpus}  " +
            f"executed in $sec%.2f s ==")
          w.println(fin)
        } finally w.close()
        println(f"[plandump] $n $sec%.2f -> $outDir/${n}_$suffix.txt")
        if (fin.contains("SinglePartition"))
          println(s"!! SINGLE_PARTITION_EXCHANGE in $n")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      } finally InternalCaches.releaseAll()
    }
    spark.stop()
  }
}
