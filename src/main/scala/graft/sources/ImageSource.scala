package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ImageKernels
import graft.operators.{Metrics, PipelineOps}

/** The reference's source/encode surface (SURVEY.md §2.1/§2.2):
  * directory-tree scan with label-from-path (S1/S2), image decode probe
  * (K4), the 5-field record schema (K2), and the sharded, split-
  * partitioned encode job (K1/K3 + O1/O2).
  *
  * Spark-first shape: `binaryFile` source → `input_file_name()` regex →
  * broadcast join against the sorted-class dictionary → md5-seeded
  * shuffle → exact-count split → ntile sharding → partitioned parquet.
  * At scale every step is embarrassingly parallel except the two global
  * orderings, which ride PipelineOps' range-partitioned rank.
  */
/** The reference's 5-feature record (FIXTURES.md §1.1) as a typed row:
  * the column shape `ImageSource.toRecordSchema` projects to. */
final case class ImageRecord(encoded: Array[Byte], format: String,
    label: Int, height: Int, width: Int)

object ImageSource {

  /** S1+S2: scan `<root>/<class>/<file>` into rows of
    * (path, class_name, encoded). */
  def scanTree(spark: SparkSession, root: String): DataFrame =
    spark.read.format("binaryFile")
      .load(s"$root/*/*")
      .select(col("path"),
        regexp_extract(col("path"), "([^/]+)/[^/]+$", 1).as("class_name"),
        col("content").as("encoded"))

  /** S1 class discovery + dense ids by sorted class name
    * (`make_tf_record.py:58,151`), then attached via broadcast join. */
  def withLabels(scanned: DataFrame): DataFrame = {
    val dict = Metrics.classDictionary(scanned, col("class_name"))
    scanned.join(broadcast(dict), Seq("class_name"))
  }

  /** K4: attach decoded (height, width) without materializing pixels. */
  def withDims(df: DataFrame): DataFrame =
    df.withColumn("hw", ImageKernels.dimsUdf(col("encoded")))
      .withColumn("height", col("hw").getItem(0))
      .withColumn("width", col("hw").getItem(1))
      .drop("hw")

  /** K2: project to the reference's 5-feature record schema. */
  def toRecordSchema(df: DataFrame): DataFrame =
    df.select(
      col("encoded"),
      regexp_extract(col("path"), "\\.([A-Za-z]+)$", 1).as("format"),
      col("label").cast("int").as("label"),
      col("height").cast("int").as("height"),
      col("width").cast("int").as("width"))

  /** S9: the split names the reference accepts
    * (`data_queue.py:43-44` asserts before touching any file). */
  val ValidSplits: Set[String] = Set("train", "validation")

  /** S9: validated, partition-pruned read of one split from an
    * [[encodeJob]] output directory — unknown split names fail fast at
    * plan-build time, exactly like the reference's assert, instead of
    * silently scanning zero files. */
  def readSplit(spark: SparkSession, dir: String, split: String): DataFrame = {
    require(ValidSplits(split),
      s"unknown split '$split' — expected one of ${ValidSplits.mkString(", ")}")
    spark.read.parquet(dir).filter(col("split") === split)
  }

  /** K1+O1+O2: the full encode job — seeded shuffle, exact-count
    * validation split, 5-way contiguous shards, split-partitioned
    * parquet (partition pruning replaces the reference's filename-based
    * split selection, SURVEY §4). */
  def encodeJob(df: DataFrame, keyCol: String, seed: Int, valCount: Long,
      shards: Int, outDir: String): Unit = {
    val split = PipelineOps.withSplit(df, col(keyCol), seed, valCount)
    val sharded = PipelineOps.withShardId(split, col(keyCol), seed, shards)
    PipelineOps.writeSharded(sharded, "shard", "split", outDir)
  }
}
