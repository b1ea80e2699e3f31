package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** [[SchemaMemo]] gives the schema inference would give, for foreign
  * and Spark-written files and for every VersionedTable commit kind,
  * and a memoized read runs no job. */
class SchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      GraftSqlBridge.drainListenerBus(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a memoized base-table read runs no job") {
    Tables.table(spark, Sf0001, "nation").schema
    val (schema, jobs) =
      jobsDuring(Tables.table(spark, Sf0001, "nation").schema)
    assert(jobs == 0, s"memoized read ran $jobs jobs")
    assert(schema == spark.read.parquet(s"$Sf0001/nation.parquet").schema)
  }

  test("rewriting a path with another schema returns the new schema") {
    val dir = s"${tmp("memo")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    assert(SchemaMemo.parquet(spark, dir).schema ==
      spark.read.parquet(dir).schema)
    // a plain rewrite: the listing changes, the inferred entry is stale
    Seq((2.5, 3)).toDF("x", "y").write.mode("overwrite").parquet(dir)
    assert(SchemaMemo.parquet(spark, dir).schema.fieldNames.toSeq ==
      Seq("x", "y"))
    // a recorded write, then a plain rewrite: the writer entry is stale
    val recorded = Seq(("k", 1L)).toDF("k", "n")
    recorded.write.mode("overwrite").parquet(dir)
    SchemaMemo.recordWrite(recorded, dir)
    assert(SchemaMemo.parquet(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "n"))
    Seq(true).toDF("flag").write.mode("overwrite").parquet(dir)
    assert(SchemaMemo.parquet(spark, dir).schema ==
      spark.read.parquet(dir).schema)
    assert(SchemaMemo.parquet(spark, dir).as[Boolean].collect().toSeq ==
      Seq(true))
  }

  /** An events table whose `ts` is parquet INT64 TIMESTAMP(NANOS), as
    * a foreign writer leaves it (no Spark schema in the footer), so its
    * inferred type depends on `legacy.parquet.nanosAsLong`. */
  private def nanosEvents(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("memoev")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); " +
        "required int64 user_id; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1500000000123456789L).append("user_id", 7L))
    finally w.close()
    dir
  }

  test("Tables.events gives the same schema with nanosAsLong on and off") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val dir = nanosEvents()
    val path = s"$dir/events.parquet"
    try {
      spark.conf.set(key, "false")
      val off = Tables.events(spark, dir).schema
      spark.conf.set(key, "true")
      val on = Tables.events(spark, dir).schema
      assert(off == on)
      assert(on("ts").dataType == org.apache.spark.sql.types.TimestampType)
      // the raw read is memoized per conf value: under `false` it must
      // do what a plain read does (reject the nanos column), not serve
      // the entry inferred under `true`
      spark.conf.set(key, "false")
      val plain = Try(spark.read.parquet(path).schema)
      val memo = Try(SchemaMemo.parquet(spark, path).schema)
      assert(plain.isSuccess == memo.isSuccess, s"$plain vs $memo")
      plain.foreach(s => assert(memo.get == s))
      spark.conf.set(key, "true")
      assert(SchemaMemo.parquet(spark, path).schema ==
        spark.read.parquet(path).schema)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** What plain `mergeSchema` inference gives for version `v`'s files. */
  private def inferred(dir: String, v: Int): StructType = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifests", s"v$v.json")))
    val files = VersionedTable.parseFiles(json).map(r => s"$dir/$r")
    spark.read.option("mergeSchema", "true").parquet(files: _*).schema
  }

  /** Commits via `commit`, then checks that reading the new version back
    * runs no job and gives the inferred schema, nullability included. */
  private def checkCommit(dir: String)(commit: => Int): Unit = {
    val v = commit
    val (schema, jobs) =
      jobsDuring(VersionedTable.readVersion(spark, dir, v).schema)
    assert(jobs == 0, s"read-back of v$v ran $jobs jobs")
    assert(schema == inferred(dir, v), s"v$v")
  }

  test("every commit kind's read-back schema equals mergeSchema inference") {
    val dir = tmp("memovt")
    val vt = VersionedTable
    // non-nullable longs: the written schema differs from the inferred
    // one in nullability, which the memo must make nullable
    checkCommit(dir)(vt.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir))
    checkCommit(dir)(vt.appendCommit(Seq((3L, "c")).toDF("id", "s"), dir))
    checkCommit(dir)(vt.appendCommit(
      Seq((4L, "d", 0.5)).toDF("id", "s", "w"), dir))
    checkCommit(dir)(vt.appendCommitAtomic(
      Seq((5L, "e", 1.5)).toDF("id", "s", "w"), dir))
    checkCommit(dir)(vt.mergeCommit(
      Seq((1L, "a2", 2.5)).toDF("id", "s", "w"), dir, "id"))
    checkCommit(dir)(vt.deleteCommit(Seq(2L).toDF("id"), dir))
    val rows = vt.readCurrent(spark, dir).as[(Long, String, Option[Double])]
      .collect().toSet
    assert(rows == Set((1L, "a2", Some(2.5)), (3L, "c", None),
      (4L, "d", Some(0.5)), (5L, "e", Some(1.5))))
  }

  test("a widening append past v9 keeps inference's path-sorted column order") {
    // inference folds files sorted by path, so data/v10 merges before
    // data/v2: a column first added at v10 lands before one added at v2
    val dir = tmp("memovt")
    val vt = VersionedTable
    vt.commit(Seq((0L, "a")).toDF("id", "s"), dir)
    vt.appendCommit(Seq((1L, "b")).toDF("id", "s"), dir)
    vt.appendCommit(Seq((2L, "c", 2.0)).toDF("id", "s", "w"), dir)
    for (i <- 3 to 9) vt.appendCommit(Seq((i.toLong, "d")).toDF("id", "s"), dir)
    checkCommit(dir)(vt.appendCommit(
      Seq((10L, "e", 7)).toDF("id", "s", "z"), dir))
    assert(VersionedTable.readVersion(spark, dir, 10).columns.toSeq ==
      Seq("id", "s", "z", "w"))
  }
}
