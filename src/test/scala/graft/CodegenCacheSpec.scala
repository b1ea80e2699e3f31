package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The shared session's generated-class cache keeps a query's classes
  * resident while other code is compiled, so re-running the query
  * compiles nothing. The filler projections differ only in a long
  * literal, which `Literal.doGenCode` inlines into the source: each one
  * is a new class, the way a per-run value put back with `lit(...)`
  * makes a new class on every pass. At Spark's default of 100 entries
  * the fillers evict the first query's classes and this spec fails. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("re-running a query after 150 other classes compiles nothing") {
    def probe() = spark.range(0, 64, 1, 2)
      .select((col("id") * 7 + 3).as("v"))
      .filter(col("v") % 5 =!= 0)
      .agg(sum(col("v"))).collect()
    val first = probe()

    val fillersBefore = compiles
    for (i <- 0 until 150)
      spark.range(0, 4, 1, 1).select((col("id") + lit(1000000L + i)).as("v"))
        .collect()
    assert(compiles - fillersBefore >= 150,
      "each inlined long literal should compile its own class")

    val before = compiles
    assert(probe().sameElements(first))
    assert(compiles == before,
      s"re-run recompiled ${compiles - before} classes")
  }
}
