package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own hash, run by `perfbench/tests`: the
  * hash ignores row and partition order, sees content and multiplicity,
  * and survives sums that overflow a SQL `sum` under ANSI mode. */
object SelfTest {
  def run(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(0, 2000).selectExpr("id",
      "cast(id * 7 % 13 as string) as s", "array(id, id + 1) as a",
      "id / 3.0 as d", "if(id % 5 = 0, null, id) as n")
    val base = ContentHash.of(df)
    val checks = Seq(
      "row order" -> (ContentHash.of(df.orderBy(org.apache.spark.sql.functions.rand(1))) == base),
      "partitioning" -> (ContentHash.of(df.repartition(7)) == base),
      "content" -> (ContentHash.of(df.filter("id != 5")) != base),
      "multiplicity" -> (ContentHash.of(df.union(df.filter("id = 5"))) != base),
      "column" -> (ContentHash.of(df.drop("d")) != base),
      "ansi sum overflows" -> {
        try { df.selectExpr("xxhash64(*) as h").agg(Map("h" -> "sum")).collect(); false }
        catch { case e: Throwable => String.valueOf(e.getMessage).toUpperCase.contains("OVERFLOW") }
      },
      "carry" -> {
        val a = new ContentHash.Acc
        a.add(-1L); a.add(-1L)
        a.render == "2:0000000000000001fffffffffffffffe"
      },
      "merge = add" -> {
        val hs = Seq(-1L, Long.MaxValue, 3L, Long.MinValue, -7L)
        val one = new ContentHash.Acc
        hs.foreach(one.add)
        val (l, r) = (new ContentHash.Acc, new ContentHash.Acc)
        hs.take(2).foreach(l.add); hs.drop(2).foreach(r.add)
        r.merge(l)
        r.render == one.render
      })
    spark.stop()
    checks.foreach { case (n, ok) => println(s"[selftest] ${if (ok) "ok" else "FAIL"} $n") }
    if (checks.exists(!_._2)) sys.exit(1)
  }
}
