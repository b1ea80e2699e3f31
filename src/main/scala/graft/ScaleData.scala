package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a scaled copy of the sf0.1 corpus tables so the BENCH
  * harness itself can run at sf1-equivalent volume: documents and
  * embeddings are multiplied N× (per-copy id shift of 10M so modular
  * selections pick analogous rows in every copy; a distinct per-copy
  * marker token appended to text so copies are genuine near-duplicates,
  * not degenerate exact replicas) and written as parquet under outDir. The remaining tables are left
  * to the caller (symlinked to the sf0.1 originals — none of the
  * spot-benched queries read them at scale).
  *
  * Usage: runMain graft.ScaleData [multiplier] [outDir]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val mult = if (args.length > 0) args(0).toInt else 10
    val out = if (args.length > 1) args(1) else "/tmp/graft_sfx10"
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"

    def scaled(df: DataFrame, idCol: String, textCol: Option[String])
        : DataFrame = {
      val copies = (0 until mult).map { i =>
        val shifted = df.withColumn(idCol, col(idCol) + lit(i * 10000000L))
        textCol match {
          case Some(t) if i > 0 =>
            shifted.withColumn(t, concat(col(t), lit(s" copymarker$i")))
          case _ => shifted
        }
      }
      copies.reduce(_ unionByName _)
    }

    scaled(Tables.documents(spark, sf), "doc_id", Some("text"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    scaled(Tables.embeddings(spark, sf), "vec_id", None)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"SCALED mult=$mult out=$out")
    spark.stop()
  }
}
