package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Loaders for the driver-generated test tables (TESTDATA.md) plus the
  * deterministic-hash utilities every oracle-checked operator builds on.
  *
  * Design note (oracle parity): anything the DuckDB oracle hash-compares
  * must be bit-reproducible in BOTH engines. `md5` of a UTF-8 string is
  * the one hash primitive Spark and DuckDB compute identically, so all
  * seeded shuffles / pseudo-random draws / LSH hashes here derive from
  * md5, never from `rand()` or `xxhash64` (SURVEY.md §7 "hard parts" #1).
  */
object Tables {
  /** A base table; its schema is inferred once per listing and conf
    * set ([[SchemaMemo]]), not by a footer job on every read. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    SchemaMemo.parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects by default; read it as a nanos long
    * (legacy.parquet.nanosAsLong) and truncate to a µs timestamp —
    * exactly DuckDB's `ts::TIMESTAMP` ns→µs truncation, keeping the
    * oracle bit-aligned. `ts div 1000` stays in longs: a double division
    * would lose precision above 2^53 ns (~104 days). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // µs-unit parquet without isAdjustedToUTC infers as NTZ in Spark 4;
      // the session zone is pinned UTC, so this cast keeps the exact
      // same µs instants the nanos path produced (and watermarks need
      // the LTZ type)
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")

  /** Deterministic "random" in [0, 1): the first 8 md5 hex digits of
    * (key, seed) parsed as an unsigned 32-bit int, scaled by 2^-32.
    * DuckDB twin: `('0x' || substr(md5(k || '#' || seed), 1, 8))::BIGINT
    * / 4294967296.0`. Replaces `rand(seed)` everywhere determinism is
    * oracle-checked (Spark's rand is partition-dependent; this is pure).
    */
  def hashRand(key: Column, seed: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit("#" + seed))
      .cast("binary")), 1, 8), 16, 10).cast("long") / lit(4294967296.0)

  /** Deterministic unsigned 32-bit hash of (key, seed) as a long.
    * DuckDB twin: `('0x' || substr(md5(...), 1, 8))::BIGINT`. */
  def hashU32(key: Column, seed: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit("#" + seed))
      .cast("binary")), 1, 8), 16, 10).cast("long")

  /** Full md5 hex of (key, seed) — a deterministic total-order key for
    * pseudo-shuffles (SURVEY §2.5 O1). Lexicographic order on the hex
    * string is identical in both engines. */
  def shuffleKey(key: Column, seed: Int): Column =
    md5(concat(key.cast("string"), lit("#" + seed)).cast("binary"))
}
