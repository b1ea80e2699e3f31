package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always passes exactly two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    // the shared harness session (GraftSession): the gate now runs
    // under the SAME scan/AQE settings as Bench and the plan dumps —
    // so the oracle proves exactly the plans the bench times (the
    // gate previously lacked the AQE coalescing posture)
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // warmup is an optimization, not a precondition: a non-TPC-H sf
    // dir (no region table) must degrade to a slower first query, not
    // abort the whole verify run
    GraftSession.warmup(spark, sfDir)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall on stdout: the gate's cost profile must be
        // readable from any run's log (the round-11 gate starvation
        // was only diagnosable after the fact); stderr, which
        // `sbt runMain` prefixes with [error], is kept for failures
        println(f"[verify-t] $name ${
          (System.nanoTime() - t0) / 1e9}%.2f")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally InternalCaches.releaseAll() // per-query scratch caches
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
