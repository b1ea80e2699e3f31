package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the harness's session confs: at Spark's 100-entry codegen
      // cache the suites evict and recompile each other's generated
      // classes, and the stock local FS forks a chmod per file written
      .config(GraftSession.SessionConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the full extension surface (functions, optimizer rule, planner
    // strategy) is part of the library contract — install it for every
    // suite so tests don't depend on suite ordering
    GraftFunctions.register(s)
    GraftFunctions.installOptimizations(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val Sf0001 = "/root/testdata/sf0.001"
}
