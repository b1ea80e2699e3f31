package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: run selected queries once and print the completed-stage
  * cost table (stage wall, task-time sum, shuffle bytes, rows) so an
  * optimization targets the stage that actually burns the time —
  * guide §1 "measure first" without the UI (headless sandbox).
  *
  * Args: [names...]; env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in
  * Bench. Each query runs `runs` times (SPARK_GRAFT_PROFILE_RUNS,
  * default 2) and stages are reported per run, so warm-vs-cold
  * attribution (codegen/JIT vs data) is visible.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val names = args.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    // shared harness session — profiles reflect exactly the bench's plans
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Long, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield c - s).getOrElse(-1L)
        val m = i.taskMetrics
        stages.add((i.stageId,
          s"tasks=${i.numTasks} " + i.name.take(60).replace('\n', ' '),
          wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.outputMetrics.recordsWritten))
      }
    })
    GraftSession.warmup(spark, sfDir)
    for (n <- names; r <- 1 to runs) {
      stages.clear()
      spark.sparkContext.setJobDescription(s"profile: $n run $r")
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          println(s"[profile] $n FAILED: ${e.getMessage}"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      InternalCaches.releaseAll()
      spark.catalog.clearCache()
      if (ok) {
        // stage completion is async — drain the bus deterministically
        // (a fixed sleep under load dropped late stages from the
        // table, skewing the "measure first" data)
        org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
        val all = scala.jdk.CollectionConverters
          .IteratorHasAsScala(stages.iterator()).asScala.toSeq
        val wallSum = all.map(_._3).sum
        println(f"===== $n run $r total $sec%.2f s, " +
          f"${all.size} stages, stage-wall sum ${wallSum / 1e3}%.2f s =====")
        all.sortBy(-_._3).take(18).foreach {
          case (id, nm, wall, run, sr, sw, _) =>
            println(f"  stage $id%4d ${wall / 1e3}%7.2fs taskSum ${
              run / 1e3}%7.2fs shufR ${sr / 1024}%8dK shufW ${
              sw / 1024}%8dK  $nm")
        }
      }
    }
    spark.stop()
  }
}
