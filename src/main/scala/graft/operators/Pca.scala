package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.InternalCaches.TrackedPersist

/** PCA-based embedding reduction — the LEARNED linear-compression
  * member of the retrieval-compression family, next to scalar
  * quantization (s12/s13), sign bits (s14), dimension truncation
  * (s15) and the energy permutation (s21): estimate the corpus's top
  * principal components, project vectors onto them, shortlist in the
  * reduced space, re-rank survivors at full width.
  *
  * Determinism doctrine (the kmeans/updateCells discipline, one step
  * further): coordinates quantize to CENTI-units (round(x·100)) at the
  * row, the covariance accumulates as exact integer sums, and the
  * power iteration runs on micro-unit integer vectors where every
  * division is floor(exact-int / exact-int) with numerators < 2^53 —
  * so the components, eigenvalue receipts, projections and the final
  * ranking replay bit-for-bit in the DuckDB oracle. Centi (not milli)
  * quantization buys two orders of overflow headroom through the
  * deflation chain at a precision cost the full-width re-rank erases.
  * Contract: |x| ≤ ~10 per coordinate (any normalized or
  * bounded-feature embedding); dims ≤ ~1024.
  *
  * Scale shape: the mean and covariance are ONE pass over the corpus —
  * the d²-key aggregation happens map-side (a row fans out to its d²
  * products inside the task and partial-aggregates to ≤ d² rows per
  * partition before the only shuffle). The eigen-solve collects the
  * d²-entry covariance (metadata, like the s21 energy collect — never
  * corpus rows) and iterates driver-side; at 100 TB swap the long sums
  * for decimal(38,0) (the mixtureDomainFixture precedent) — the
  * quantized-integer discipline is what makes that a type swap, not a
  * numerics change. Projection is a broadcast join against the d·k
  * component relation — embarrassingly parallel. */
object Pca {

  /** Per-position corpus mean of centi-quantized coordinates:
    * (pos, mu) with mu = floor(Σ round(x·100) / n). */
  def meanCenti(emb: DataFrame, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("qx", round(col("x") * 100).cast("long"))
      .groupBy(col("pos"))
      .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"))
      .select(col("pos").cast("long").as("pos"),
        floor(col("s") / col("n")).as("mu"))

  /** Centered centi coordinates as one array column `cxs` (plus the
    * pass-through id), via a broadcast of the assembled mean array —
    * shared by the covariance pass and the projection. */
  private def centered(emb: DataFrame, idCol: String, vecCol: String,
      mu: DataFrame): DataFrame = {
    val muArr = mu
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mu"))))
        .as("pm"))
      .select(transform(col("pm"), x => x("mu")).as("mu_arr"))
    emb.crossJoin(broadcast(muArr))
      .select(col(idCol).as("vid"),
        zip_with(col(vecCol), col("mu_arr"),
          (x, m) => round(x * 100).cast("long") - m).as("cxs"))
  }

  /** Scaled covariance relation (i, j, c): c = floor(Σ cx_i·cx_j / n)
    * over centered centi coordinates. The d² fan-out is row-local
    * (two chained posexplodes), so the aggregation map-side-combines
    * to at most d² rows per partition before its single shuffle. */
  def covarianceScaled(emb: DataFrame, idCol: String, vecCol: String,
      mu: DataFrame): DataFrame =
    covarianceFromCentered(centered(emb, idCol, vecCol, mu))

  private def covarianceFromCentered(cent: DataFrame): DataFrame =
    cent
      .select(col("cxs"), posexplode(col("cxs")).as(Seq("i", "cxi")))
      .select(col("i"), col("cxi"),
        posexplode(col("cxs")).as(Seq("j", "cxj")))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("cxi") * col("cxj")).as("sp"),
        count(lit(1)).as("cnt"))
      .select(col("i").cast("long").as("i"),
        col("j").cast("long").as("j"),
        floor(col("sp") / col("cnt")).as("c"))

  /** floor(a / b) as one IEEE division of exact longs — the same
    * operation floor(x/y) performs in both engines' plans. Callers
    * keep |a| < 2^53 by construction. */
  private def fdiv(a: Long, b: Long): Long =
    math.floor(a.toDouble / math.max(b, 1L)).toLong

  /** Driver-side power-iteration eigen-solve over the COLLECTED
    * covariance (d² metadata rows — the dimEnergyPermutation
    * discipline). Per component: seed at the largest diagonal entry
    * (smallest index on ties), `iters` rounds of
    * v ← floor(1000·Cv / ‖Cv‖∞), eigenvalue λ = floor(‖Cv‖∞/1000)
    * from the final round, explained-variance
    * evr = floor(λ·1e6/trace), then Hotelling deflation
    * C ← C − floor(λ·v_i·v_j / vᵀv). Output components are
    * sign-canonicalized (the leading max-|v| coordinate made
    * positive); deflation uses the raw vector (vvᵀ is sign-invariant).
    * Returns (comp, v(dim) in milli-units L∞=1000, λ, evr_micro). */
  def solveComponents(cov: Seq[(Long, Long, Long)], dim: Int,
      nComp: Int, iters: Int): Seq[(Long, Array[Long], Long, Long)] = {
    val cs = Array.ofDim[Long](dim, dim)
    cov.foreach { case (i, j, v) => cs(i.toInt)(j.toInt) = v }
    val trace = math.max((0 until dim).map(i => cs(i)(i)).sum, 1L)
    (0 until nComp).map { k =>
      val sd = (0 until dim).reduceLeft((a, b) =>
        if (cs(b)(b) > cs(a)(a)) b else a)
      var v = Array.tabulate(dim)(i => if (i == sd) 1000L else 0L)
      var m = 1L
      for (_ <- 1 to iters) {
        val u = Array.tabulate(dim)(i =>
          (0 until dim).map(j => cs(i)(j) * v(j)).sum)
        m = math.max(u.map(math.abs).max, 1L)
        v = u.map(ui => fdiv(ui * 1000L, m))
      }
      val lam = fdiv(m, 1000L)
      val evr = fdiv(lam * 1000000L, trace)
      val vtv = math.max(v.map(x => x * x).sum, 1L)
      for (i <- 0 until dim; j <- 0 until dim)
        cs(i)(j) -= fdiv(lam * v(i) * v(j), vtv)
      val ma = v.map(math.abs).max
      val vOut = if (v(v.indexWhere(x => math.abs(x) == ma)) < 0L)
        v.map(x => -x) else v
      (k.toLong, vOut, lam, evr)
    }
  }

  /** The trained component relation: one row per (comp, idx) with the
    * milli-unit loading, the component's λ and its explained-variance
    * share — the PCA model receipt (comp, idx, v_milli, lambda_scaled,
    * evr_micro). */
  def train(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      nComp: Int, iters: Int): DataFrame = {
    val mu = meanCenti(emb, vecCol)
    val cov = covarianceScaled(emb, idCol, vecCol, mu).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val comps = solveComponents(cov, dim, nComp, iters)
    val spark = emb.sparkSession
    import spark.implicits._
    comps.flatMap { case (c, v, lam, evr) =>
      v.zipWithIndex.map { case (x, i) => (c, i.toLong, x, lam, evr) }
    }.toDF("comp", "idx", "v_milli", "lambda_scaled", "evr_micro")
  }

  /** Project centered vectors onto the component relation: reduced
    * coordinate r_c = floor(Σ_i v_ci·cx_i / 10) — an exact-integer
    * array<long> per vector, assembled position-sorted. Broadcast join
    * against the d·k component relation; no corpus shuffle beyond the
    * (vid, comp) aggregation. */
  private def projectFromCentered(cent: DataFrame,
      comps: DataFrame): DataFrame =
    cent
      .select(col("vid"), posexplode(col("cxs")).as(Seq("idx", "cx")))
      .join(broadcast(comps.select(col("comp"), col("idx"),
        col("v_milli"))), Seq("idx"))
      .groupBy(col("vid"), col("comp"))
      .agg(sum(col("v_milli") * col("cx")).as("rr"))
      .withColumn("r", floor(col("rr") / 10L))
      .groupBy(col("vid"))
      .agg(array_sort(collect_list(struct(col("comp"), col("r"))))
        .as("cr"))
      .select(col("vid"), transform(col("cr"), x => x("r")).as("red"))

  /** Reduced-space serve with full-width re-rank (the s15 matryoshka
    * shape with a LEARNED rotation): shortlist candK per query by
    * cosine over the integer reduced coordinates (exact-long dot and
    * norms, one IEEE division), re-rank survivors with the standard
    * full-width cosine. Returns (query_id, rank, neighbor_id,
    * cosine). */
  def pcaRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, nComp: Int, iters: Int,
      candK: Int, k: Int): DataFrame = {
    require(candK >= k, s"candK=$candK must be >= k=$k")
    // ONE centered pass feeds both the covariance and the projection
    // (persisted — at 100 TB the corpus is read once, not three
    // times); mean is the only extra pass, and it is a column prune
    val spark = corpus.sparkSession
    val mu = meanCenti(corpus, vecCol)
    val cent = centered(corpus, idCol, vecCol, mu).persistTracked()
    val cov = covarianceFromCentered(cent).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val solved = solveComponents(cov, dim, nComp, iters)
    val comps = {
      import spark.implicits._
      solved.flatMap { case (c, v, lam, evr) =>
        v.zipWithIndex.map { case (x, i) =>
          (c, i.toLong, x, lam, evr) }
      }.toDF("comp", "idx", "v_milli", "lambda_scaled", "evr_micro")
    }
    val red = projectFromCentered(cent, comps)
    def dotL(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), _ + _)
    val c = red.select(col("vid").as("neighbor_id"),
        col("red").as("c_red"))
      .withColumn("c_nr", sqrt(dotL(col("c_red"), col("c_red"))
        .cast("double")))
    val q = red.join(queries.select(col(idCol).as("vid")), Seq("vid"))
      .select(col("vid").as("query_id"), col("red").as("q_red"))
      .withColumn("q_nr", sqrt(dotL(col("q_red"), col("q_red"))
        .cast("double")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rcos",
        when(col("q_nr") * col("c_nr") > 0,
          dotL(col("q_red"), col("c_red")).cast("double") /
            (col("q_nr") * col("c_nr")))
          .otherwise(lit(-2.0))) // zero-norm sentinel, below any cosine
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("rcos").desc, col("neighbor_id").asc)
    val cand = scored.withColumn("rk", row_number().over(ws))
      .filter(col("rk") <= candK)
      .select(col("query_id"), col("neighbor_id"))
    Similarity.exactRerankOn(cand, corpus, queries, idCol, vecCol, k)
  }
}
