package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup}

/** p12 leakage-free-split receipts: injected near-duplicates always
  * land in the same split as their original (the property the
  * operator exists for), every doc is assigned exactly once, and the
  * assignment is deterministic. */
class LeakageSplitSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, Sf0001).persist()

  // near-dup copies: one marker token appended keeps the simhash
  // within the band threshold (the ScaleData perturbation scheme)
  private lazy val withCopies = docs.unionByName(
    docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 700000L)
      .withColumn("text", concat(col("text"), lit(" copymarker1"))))

  test("near-duplicates never straddle train and val") {
    val split = Curation.leakageFreeSplit(withCopies, col("doc_id"),
      col("text")).persist()
    assert(split.count() == withCopies.count(), "every doc assigned")
    assert(split.select(col("doc_id")).distinct().count() ==
      split.count(), "assigned exactly once")
    // structural check over ALL groups, not just the injected ones
    val straddled = split.groupBy(col("grp"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddled == 0, s"$straddled groups straddle splits")
    // the injected copies specifically: same split as their original
    // WHEN the band closure actually linked them (count how many did)
    val pairsLinked = split.as("a")
      .join(split.as("b"),
        col("a.doc_id") + 700000L === col("b.doc_id") &&
          col("a.grp") === col("b.grp"))
    val sameSplit = pairsLinked
      .filter(col("a.split") === col("b.split")).count()
    assert(pairsLinked.count() == sameSplit,
      "a linked copy landed in a different split")
    assert(sameSplit > 0, "no injected copy was linked — the " +
      "perturbation defeated the band closure, receipt is vacuous")
    split.unpersist()
  }

  test("split is deterministic and fractions are sane") {
    val a = Curation.leakageFreeSplit(docs, col("doc_id"),
      col("text")).collect()
      .map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq
    val b = Curation.leakageFreeSplit(docs, col("doc_id"),
      col("text")).collect()
      .map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq
    assert(a == b)
    val trainFrac = a.count(_._2 == "train").toDouble / a.size
    assert(trainFrac > 0.65 && trainFrac < 0.95,
      s"train fraction $trainFrac implausible for an 80% target")
  }
}
