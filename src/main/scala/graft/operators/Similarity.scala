package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.InternalCaches.TrackedPersist

/** Similarity search over an embedding column (SURVEY.md §7 M7b):
  * brute-force cosine top-k as the exact baseline, and a sign-random-
  * projection LSH bucketing as the sublinear scale path.
  *
  * Float discipline: every dot product is a LEFT FOLD over doubles
  * (`aggregate(zip_with(...))`) so the DuckDB oracle — written as
  * `list_reduce` with the same operand order — produces bit-identical
  * IEEE results, making rank comparisons hash-stable without rounding
  * tolerance.
  */
object Similarity {

  /** Left-fold double dot product of two float arrays, as a native
    * codegen'd Catalyst Expression (graft.functions.DotProductExpr):
    * the loop is emitted straight into whole-stage codegen, reading
    * elements from columnar ArrayData — no UDF boundary, no per-row
    * Array[Float] materialization. Same IEEE summation order as the
    * DuckDB `list_reduce` oracle — bit-identical results. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot(a, b)

  /** L2 norm of a float-array column (left-fold, doubles). */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two float-array columns, computed in doubles.
    * For joins, prefer precomputing [[norm]] per side (O(n)) instead of
    * per pair (O(n²)) — see [[bruteForceTopK]]. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k neighbours for each query vector: cross the
    * (small) query side against the corpus — Spark broadcasts it — rank
    * by cosine desc with id tiebreak, keep k. Norms are computed once
    * per vector before the join, not once per pair. The baseline every
    * ANN variant is measured against. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, respread: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    // respread the corpus side before the |Q|·n distance pass: the
    // embeddings table is byte-small but compute-dense (|Q|·dim ops
    // per corpus byte), so the scan's split count — 4 tasks at sf0.1
    // under the open-cost floor — starves the cross join (profiled on
    // s19: 5.1 s wall ≈ 5.3 s CPU on 4 of 32 cores). One narrow
    // round-robin of the corpus is amortized by the pair compute at
    // any scale (guide §2.5 input skew: repartition after the read
    // when compute per byte is high); downstream is keyed ranking, so
    // placement is semantics-free. Callers with a FIXED tiny query
    // batch (the |Q|=10 serve twins) pass respread=false: there the
    // pair compute is ~|Q|·n·dim ≈ milliseconds and the extra
    // exchange's stage latency is the larger cost
    val cBase = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"))
    val cSpread = if (respread) cBase.repartition(
      corpus.sparkSession.sessionState.conf.numShufflePartitions)
    else cBase
    val c = cSpread.withColumn("c_norm", norm(col("c_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** ColBERT-style late-interaction re-rank (Khattab & Zaharia 2020 —
    * MaxSim): documents and queries carry TOKEN-level vectors and
    * score(q, d) = Σ_{i∈q tokens} max_{j∈d tokens} cos(q_i, d_j). The
    * token vectors here are the `nTokens` contiguous slices of each
    * stored vector — a deterministic multi-vector view; the plumbing
    * (per-token explode, candidate-bounded re-rank, quantized sums) is
    * the operator.
    *
    * Two-stage, the production ColBERT serving shape: candidates come
    * from the POOLED vector's top-candK (the exact baseline here —
    * swap in any ANN tier, IVF s5 / graph s28, without touching the
    * re-rank), then exact MaxSim runs ONLY on those candidates:
    * candK·nTokens² cosines per query, corpus-independent, with the
    * query-token side broadcast. Per-token maxes are doubles (max of
    * identically-computed values — no accumulation), quantized to
    * micro-units, and summed AS LONGS over query tokens so the final
    * score is shuffle-order-independent integer math. */
  def maxSimRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nTokens: Int, candK: Int, k: Int): DataFrame =
    maxSimRerankOn(corpus, queries,
      bruteForceTopK(corpus, queries, idCol, vecCol, candK,
          // s44's candidate batch is |Q|=20 fixed: stage latency of
          // the respread exchange exceeds its parallelism win
          respread = false)
        .select(col("query_id"), col("neighbor_id")),
      idCol, vecCol, nTokens, k)

  /** [[maxSimRerank]] with the candidate stage factored out: `cands`
    * is any (query_id, neighbor_id) shortlist — the pooled brute-force
    * baseline, an IVF probe, or the stored graph serve (s45) — and the
    * MaxSim re-rank is identical over it. This is the "swap the ANN
    * tier, keep the re-rank" seam made literal. */
  def maxSimRerankOn(corpus: DataFrame, queries: DataFrame,
      cands: DataFrame, idCol: String, vecCol: String, nTokens: Int,
      k: Int): DataFrame = {
    def explodeTokens(df: DataFrame, outId: String,
        pos: String, tok: String, tnorm: String): DataFrame = {
      val tl = (size(col("vec")) / nTokens).cast("int")
      df.select(col(outId), posexplode(transform(
          sequence(lit(0), lit(nTokens - 1)),
          i => slice(col("vec"), i * tl + 1, tl))).as(Seq(pos, tok)))
        .withColumn(tnorm, norm(col(tok)))
    }
    val qt = explodeTokens(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("vec")),
      "query_id", "qpos", "qtok", "qnorm")
    val dt = explodeTokens(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
        // broadcast the |Q|·candK key set: the corpus-side semi join
        // must never shuffle the corpus (plan-audited — without the
        // hint Catalyst picks a sort-merge join here)
        .join(broadcast(cands.select(col("neighbor_id")).distinct()),
          Seq("neighbor_id"), "left_semi"),
      "neighbor_id", "dpos", "dtok", "dnorm")
    val tokenMax = dt
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(qt), Seq("query_id"))
      .withColumn("cos",
        dot(col("qtok"), col("dtok")) / (col("qnorm") * col("dnorm")))
      .groupBy(col("query_id"), col("neighbor_id"), col("qpos"))
      .agg(max(col("cos")).as("m"))
      .withColumn("m6", round(col("m") * 1e6).cast("long"))
    val scored = tokenMax
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("m6")).as("maxsim6"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("maxsim6").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("maxsim6"))
  }

  /** The md5-derived plane components computed driver-side (plain
    * Scala MessageDigest) — bit-identical to
    * the DuckDB expression `('0x'||substr(md5(p||'_'||d||'#101'),1,8))
    * ::BIGINT / 4294967296.0 * 2 - 1`, so plans can embed the plane
    * matrix as a literal instead of evaluating 8×dim md5s per row. */
  def deterministicPlanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        val hex = md.digest(s"${p}_${d}#101".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) / 4294967296.0 * 2.0 - 1.0
      }
    }
  }

  /** Sign-random-projection bucket id computed by LEFT-FOLD over the
    * vector against literal plane rows — fully deterministic (a
    * groupBy-sum of exploded contributions is not: partial-aggregation
    * order perturbs the last ulp and can flip a sign at proj ≈ 0), so
    * the DuckDB oracle reproduces the bucket bit-for-bit. Each
    * projection is the codegen'd [[dot]] against an array<double>
    * literal — same widening and summation order as the HOF chain it
    * replaced, ~an order of magnitude faster (HOF lambdas are
    * interpreted per element; see BASELINE.md optimization log). */
  def lshBucketFolded(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (row, p) =>
      val proj = dot(vec, typedlit(row))
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-routed embedding near-dup (the scale path for
    * [[graft.operators.Dedup.embeddingNearDup]]): bucket every vector by
    * folded sign-projection, pair only within buckets, verify by exact
    * cosine ≥ threshold. All md5-derived — oracle-checkable end to end. */
  def lshNearDup(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int, threshold: Double): DataFrame = {
    val planes = deterministicPlanes(nPlanes, dim)
    val withB = emb.select(col(idCol), col(vecCol))
      .withColumn("bucket", lshBucketFolded(col(vecCol), planes))
      .withColumn("nrm", norm(col(vecCol)))
    val a = withB.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      col("nrm").as("n_a"), col("bucket").as("b_a"))
    val b = withB.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      col("nrm").as("n_b"), col("bucket").as("b_b"))
    a.join(b, col("b_a") === col("b_b") && col("id_a") < col("id_b"))
      .withColumn("cosine",
        dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("b_a").as("bucket"),
        col("cosine"))
  }

  /** Index-size heuristic (the lesson of the scale-up probe, BASELINE.md
    * §4: constant index sizes make per-bucket population grow linearly with
    * the corpus and total ANN work quadratically). Hold TARGET BUCKET
    * POPULATION constant instead: planes = ceil(log2(ceil(n / target))),
    * clamped to [4, 24]. Computed with exact integer arithmetic so the
    * DuckDB oracle twin — `greatest(4, least(24,
    * ceil(log2(ceil(n / 32.0)))))` — derives the identical value (for
    * integer m, log2(m) is either exact or ≥ 1/(m·ln2) away from an
    * integer, far outside double rounding error). */
  def autoPlanes(n: Long, targetBucket: Int = 32): Int = {
    val m = (n + targetBucket - 1) / targetBucket
    val bits = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(4, math.min(24, bits))
  }

  /** IVF codebook size: nlist ≈ √n — the standard IVF sizing (FAISS
    * guidance). Cells ∝ n (constant target cell population) looks
    * attractive — per-query candidates stay flat — but it makes the
    * DENSE ASSIGNMENT step (corpus × centroids) quadratic in n; the
    * scale-up probe measured s3 growing 7× at a 10× corpus under it
    * (BASELINE.md §4).
    * With nlist = ceil(√n), assignment work is n^1.5 and per-query
    * probe candidates grow as √n — balanced, the classic IVF
    * trade. IEEE sqrt is correctly rounded, so the DuckDB twin
    * `ceil(sqrt(n))` derives the identical integer. */
  def autoCells(n: Long): Int =
    math.max(1, math.min(1 << 20,
      math.ceil(math.sqrt(n.toDouble)).toInt))

  /** IVF-style ANN top-k (the second scale path next to LSH): partition
    * the corpus into `nCells` Voronoi cells around deterministically
    * sampled seed vectors (the `nCells` corpus vectors with the lowest
    * md5 of their id — no training step, fully reproducible), then
    * search only the `nProbe` cells whose centroids are nearest the
    * query. Cell assignment is a broadcast join against the tiny
    * centroid set; the candidate join is an equi-join on cell id — the
    * same shuffle shape that scales to a real k-means codebook.
    *
    * `nCells < 0` (the default) derives the codebook size from a corpus
    * count via [[autoCells]] — one metadata-cheap count action at
    * index-build time (sizing an index requires knowing the corpus, the
    * same way k-means training would).
    *
    * The corpus×centroid scoring + per-vector ranking run ONCE: the
    * windowed frame is persisted and both the cell assignment (rk = 1)
    * and the probe list (rk ≤ nProbe) are filters over it. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int = -1, nProbe: Int = 2): DataFrame = {
    val nc = if (nCells > 0) nCells else autoCells(emb.count())
    val seeds = emb
      .withColumn("__h", Tables.hashU32(col(idCol), 77))
      .orderBy(col("__h"), col(idCol)).limit(nc)
      .select(col(idCol).as("cell_id"), col(vecCol).as("centroid"))
    ivfTopKWith(emb, seeds, idCol, vecCol, k, nProbe)
  }

  /** IVF search against an EXTERNAL codebook — (cell_id, centroid)
    * rows, e.g. the output of [[kmeansCentroids]] — closing the
    * train-index → search loop: the same shuffle shapes as [[ivfTopK]]
    * (broadcast codebook for assignment, equi-join on cell id for
    * candidates), with a trained quantizer instead of raw seeds. */
  def ivfTopKWith(emb: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 2): DataFrame =
    ivfTopKCore(emb, centroids, None, idCol, vecCol, k, nProbe)

  /** [[ivfTopKWith]] restricted to an explicit QUERY subset: the whole
    * corpus is still assigned (it is the searched side), but only
    * `queries`' rows probe — the retrieval-service shape where |Q| is
    * fixed while the corpus grows. */
  def ivfTopKWithQueries(emb: DataFrame, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 2): DataFrame =
    ivfTopKCore(emb, centroids, Some(queries.select(col(idCol))),
      idCol, vecCol, k, nProbe)

  /** FILTERED ANN search — the vector-DB "metadata predicate +
    * top-k" query (every production store ships it: Qdrant/pgvector
    * filtered search, FAISS IDSelector): only corpus vectors
    * satisfying `pred` are eligible NEIGHBORS; queries probe as
    * usual. The predicate lands on the assigned index relation
    * BEFORE any pair scoring, so at scale the per-cell posting lists
    * shrink by the filter's selectivity ahead of the distance math —
    * post-filtering the top-k instead would return < k rows exactly
    * when the filter is selective (the classic filtered-ANN bug). */
  def ivfFilteredTopK(emb: DataFrame, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, pred: Column,
      k: Int, nProbe: Int = 2): DataFrame =
    ivfTopKCore(emb, centroids, Some(queries.select(col(idCol))),
      idCol, vecCol, k, nProbe, Some(pred))

  private def ivfTopKCore(emb: DataFrame, centroids: DataFrame,
      queries: Option[DataFrame], idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      neighborFilter: Option[Column] = None): DataFrame = {
    // cell assignment: nearest centroid by cosine (norms precomputed)
    val withNorm = emb.select(col(idCol), col(vecCol))
      .withColumn("nrm", norm(col(vecCol)))
    val cWithNorm = centroids.select(col("cell_id"), col("centroid"))
      .withColumn("c_nrm", norm(col("centroid")))
    val scoredCells = withNorm.crossJoin(broadcast(cWithNorm))
      .withColumn("sim",
        dot(col(vecCol), col("centroid")) / (col("nrm") * col("c_nrm")))
    val wAssign = Window.partitionBy(col(idCol))
      .orderBy(col("sim").desc, col("cell_id").asc)
    val ranked = scoredCells
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") <= math.max(nProbe, 1))
      .select(col(idCol), col(vecCol), col("nrm"), col("cell_id"), col("rk"))
      .persistTracked()
    val eligible = neighborFilter
      .foldLeft(ranked.filter(col("rk") === 1))(_ filter _)
    val assigned = eligible
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm"), col("cell_id"))
    val probeSide = queries match {
      case Some(q) => ranked.join(broadcast(q), Seq(idCol), "left_semi")
      case None => ranked
    }
    val probed = probeSide
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("nrm").as("q_nrm"), col("cell_id").as("probe_cell"))
    val cand = probed.join(assigned,
      col("probe_cell") === col("cell_id") &&
        col("query_id") =!= col("neighbor_id"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // a neighbor is assigned to exactly one cell and a query's probe
    // cells are distinct, so each (query, neighbor) pair matches at
    // most once — no dedup pass needed
    cand.withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** One Lloyd assignment pass: nearest centroid by cosine, ties to the
    * lowest cell id. A groupBy-max over a struct (sim, -cell, payload)
    * instead of a per-vector window: the crossJoin emits n×k rows, but
    * partial aggregation collapses them map-side — the shuffle carries
    * one row per vector, where a window would shuffle and sort all n×k.
    * Returns (vid, v, cell, sim). */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("sim",
        dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy(col("vid"))
      .agg(max(struct(col("sim"), (-col("cell_id")).as("negc"),
        col("cell_id").as("cell"), col("v").as("v"))).as("m"))
      .select(col("vid"), col("m.v").as("v"), col("m.cell").as("cell"),
        col("m.sim").as("sim"))

  /** One Lloyd update pass with QUANTIZED integer accumulation: member
    * coordinates are scaled to micro-units (round(x·1e6) as long) and
    * summed as integers — so the centroid is identical under any
    * partitioning or addition order (a double sum is not: its last ulp
    * depends on accumulation order, which would make every downstream
    * assignment nondeterministic). The component is the exact ratio
    * qsum / (count·1e6), reassembled into an array via a
    * position-sorted collect. Cells left empty by an assignment drop
    * out of the codebook (deterministically). */
  private def updateCells(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("qx", round(col("x") * 1e6).cast("long"))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("qx")).as("qs"), count(lit(1)).as("cnt"))
      .withColumn("comp",
        col("qs").cast("double") / (col("cnt").cast("double") * 1e6))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("comp"))))
        .as("pc"))
      .select(col("cell").as("cell_id"),
        transform(col("pc"), x => x("comp")).as("cv"))
      .withColumn("cnrm", norm(col("cv")))

  /** K-means (Lloyd) refinement of the IVF codebook: start from the
    * same md5-sampled seeds as [[ivfTopK]], run `iters` fixed
    * assign→update rounds, and return the final assignment
    * (vec_id, cell, sim). Fixed iteration count = no driver-side
    * convergence action; each round is one corpus scan (the corpus
    * relation is persisted once), one broadcast of the tiny codebook,
    * and one integer-sum shuffle keyed by (cell, pos) — the exact
    * shape MLlib KMeans runs at cluster scale, minus its per-round
    * centroid collect. Quantized accumulation (see [[updateCells]])
    * makes every round — and therefore the whole refinement —
    * bit-deterministic and DuckDB-oracle-checkable, which no
    * double-summed k-means can be. */
  def kmeansRefine(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int = -1, iters: Int = 2): DataFrame = {
    val (e, cents) = kmeansTrain(emb, idCol, vecCol, nCells, iters)
    assignCells(e, cents)
      .select(col("vid").as("vec_id"), col("cell"), col("sim"))
  }

  /** The trained codebook itself, as (cell_id, centroid) — feed it to
    * [[ivfTopKWith]] for search over the refined quantizer. */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int = -1, iters: Int = 2): DataFrame =
    kmeansTrain(emb, idCol, vecCol, nCells, iters)._2
      .select(col("cell_id"), col("cv").as("centroid"))

  /** The persistable IVF index: the trained codebook plus the corpus
    * assignment (vec_id, embedding, nrm, cell). At 100 TB both are
    * written ONCE — the codebook is tiny, the index is corpus-sized
    * parquet partitioned however the store likes — and every search
    * job reads them instead of re-running training and assignment:
    * build-once / query-many. Returns (centroids, index). */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int = -1, iters: Int = 2): (DataFrame, DataFrame) = {
    // both returned frames embed the training plan; caching the
    // nCells-row codebook makes the Lloyd rounds run once, not once
    // per downstream action (the codebook write AND the index write)
    val cents = kmeansCentroids(emb, idCol, vecCol, nCells, iters)
      .persistTracked()
    val cWith = cents
      .select(col("cell_id"), col("centroid").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
    val e = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val index = assignCells(e, cWith)
      .withColumn("nrm", norm(col("v")))
      .select(col("vid").as("vec_id"), col("v").as("embedding"),
        col("nrm"), col("cell"))
    (cents, index)
  }

  /** IVF search over a LOADED index (the output of [[buildIvfIndex]]
    * read back from storage): queries rank the codebook for their
    * probe cells — the only per-query work — and candidates come from
    * an equi-join against the stored assignment, whose norms are
    * already in the index. Bit-identical to running [[ivfTopKWith]]
    * over the live training plan, which is what the oracle checks. */
  def ivfSearchIndexed(index: DataFrame, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 2): DataFrame = {
    val cWithNorm = centroids.select(col("cell_id"), col("centroid"))
      .withColumn("c_nrm", norm(col("centroid")))
    val q = queries.select(col(idCol), col(vecCol))
      .withColumn("q_nrm", norm(col(vecCol)))
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("sim").desc, col("cell_id").asc)
    val probed = q.crossJoin(broadcast(cWithNorm))
      .withColumn("sim",
        dot(col(vecCol), col("centroid")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= math.max(nProbe, 1))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("q_nrm"), col("cell_id").as("probe_cell"))
    val nbr = index.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_vec"), col("nrm").as("c_nrm"),
      col("cell").cast("long").as("cell_id"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probed.join(nbr, col("probe_cell") === col("cell_id") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the quantized-Lloyd
    * k-means above, then within each cluster drop every vector whose
    * cosine to a LOWER-id cluster member reaches `tau` — the standard
    * pairwise ε-ball approximation, with the lowest id as the
    * deterministic survivor. Pairwise work never leaves a cluster:
    * with the [[autoCells]] ⌈√n⌉ codebook the expected cost is
    * Σ|cᵢ|² ≈ n·√n, the IVF-search envelope rather than the n² of the
    * exact twin (d6), and the pair join shuffles by cell id with
    * cluster sizes balanced by Lloyd rather than by data keys.
    * Returns one row per vector: (vec_id, cell, keep 1/0). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int = -1, iters: Int = 2, tau: Double = 0.5): DataFrame = {
    val (e, cents) = kmeansTrain(emb, idCol, vecCol, nCells, iters)
    val av = assignCells(e, cents)
      .withColumn("nrm", norm(col("v")))
      .select(col("vid"), col("cell"), col("v"), col("nrm"))
      .persistTracked() // both sides of the within-cell pair join
    val lo = av.select(col("cell"), col("vid").as("lo_id"),
      col("v").as("lo_v"), col("nrm").as("lo_nrm"))
    val hi = av.select(col("cell"), col("vid").as("hi_id"),
      col("v").as("hi_v"), col("nrm").as("hi_nrm"))
    val dropped = lo.join(hi, Seq("cell"))
      .filter(col("lo_id") < col("hi_id"))
      .filter(dot(col("lo_v"), col("hi_v")) /
        (col("lo_nrm") * col("hi_nrm")) >= tau)
      .select(col("hi_id")).distinct()
    av.join(dropped, av("vid") === dropped("hi_id"), "left_outer")
      .select(col("vid").as("vec_id"), col("cell"),
        when(col("hi_id").isNull, 1).otherwise(0).cast("int").as("keep"))
  }

  /** The trained codebook relation (cell_id, cv, cnrm) by itself —
    * the offline half of [[streamingSemanticDedup]]: at production
    * scale the codebook is trained once on the corpus snapshot and
    * the dedup rule runs on the ingest stream against it. */
  def trainCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int = -1, iters: Int = 2): DataFrame =
    kmeansTrain(emb, idCol, vecCol, nCells, iters)._2
      .select(col("cell_id"), col("cv").cast("array<double>").as("cv"),
        col("cnrm"))

  /** One arriving vector (embedding already cast to doubles). */
  final case class StreamVec(vec_id: Long, v: Array[Double])
  /** A kept cell member carried in streaming state. */
  final case class KeptVec(kv: Array[Double], knrm: Double)
  /** Per-cell state: the kept (surviving) members so far. */
  final case class CellKept(members: Seq[KeptVec])
  /** One emitted decision. */
  final case class DedupDecision(vec_id: Long, cell: Long, keep: Int)

  /** Left-fold double dot — the Scala twin of [[dot]]: a strict
    * left-to-right IEEE double accumulation, so results are
    * bit-identical to both the codegen'd expression and the DuckDB
    * `list_reduce` oracle fold. */
  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Nearest trained cell by cosine; ties to the lowest cell_id
    * (`cents` must be sorted by cell_id — strict `>` keeps the first
    * maximum, matching the oracle's ORDER BY sim DESC, cell_id). */
  private def nearestCell(v: Array[Double], nrm: Double,
      cents: Array[(Long, Array[Double], Double)]): Long = {
    var best = -1L; var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val (cid, cv, cnrm) = cents(i)
      val sim = dotD(v, cv) / (nrm * cnrm)
      if (sim > bestSim) { bestSim = sim; best = cid }
      i += 1
    }
    best
  }

  /** STREAMING SemDeDup (the s8 rule on an ingest stream): each
    * arriving vector routes to its nearest trained cell and is kept
    * iff no ALREADY-KEPT member of that cell reaches cosine `tau` —
    * the greedy ε-ball rule, whose decisions are final at arrival
    * (late lower-id vectors never retract an emitted keep, so append
    * mode is sound). Keyed state holds only the KEPT members per
    * cell — the surviving ε-net, whose size is bounded by packing
    * (≤ the number of tau-separated directions), not by the corpus.
    *
    * Determinism: micro-batch rows are processed per cell in vec_id
    * order, so the full processing order is (batch, vec_id) — a pure
    * function of how the source shards the data, which the DuckDB
    * oracle replays with a recursive CTE. All math is the same
    * left-fold double arithmetic as the batch operators.
    *
    * `cents` is the collected codebook — bounded by nCells (the
    * broadcast-model pattern of the IVF family), sorted by cell_id. */
  def streamingSemanticDedup(stream: DataFrame, idCol: String,
      vecCol: String, cents: Array[(Long, Array[Double], Double)],
      tau: Double): org.apache.spark.sql.Dataset[DedupDecision] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    require(cents.sameElements(cents.sortBy(_._1)),
      "cents must be sorted by cell_id for deterministic tie-breaks")
    val centsB = spark.sparkContext.broadcast(cents)
    stream
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[StreamVec]
      .groupByKey { sv =>
        nearestCell(sv.v, math.sqrt(dotD(sv.v, sv.v)), centsB.value)
      }
      .flatMapGroupsWithState[CellKept, DedupDecision](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (cell: Long, it: Iterator[StreamVec],
            state: org.apache.spark.sql.streaming.GroupState[CellKept]) =>
          val rows = it.toArray.sortBy(_.vec_id)
          var kept = state.getOption.map(_.members).getOrElse(Seq.empty)
          val out = scala.collection.mutable
            .ArrayBuffer.empty[DedupDecision]
          rows.foreach { sv =>
            val nrm = math.sqrt(dotD(sv.v, sv.v))
            val hit = kept.exists(k =>
              dotD(sv.v, k.kv) / (nrm * k.knrm) >= tau)
            if (!hit) kept = kept :+ KeptVec(sv.v, nrm)
            out += DedupDecision(sv.vec_id, cell, if (hit) 0 else 1)
          }
          state.update(CellKept(kept))
          out.iterator
      }
  }

  private def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int): (DataFrame, DataFrame) = {
    val nc = if (nCells > 0) nCells else autoCells(emb.count())
    val e = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .persistTracked() // scanned once per Lloyd round
    var cents = e.withColumn("__h", Tables.hashU32(col("vid"), 77))
      .orderBy(col("__h"), col("vid")).limit(nc)
      .select(col("vid").as("cell_id"), col("v").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
    // pinStage per round: the codebook is nCells rows, but its lazy
    // plan embeds every earlier round's corpus-scale assign+update —
    // any downstream plan that references the trained codebook more
    // than once (index build + serve, PQ LUT chains) would re-run the
    // whole training per reference, and the nested tree itself is the
    // s16-class plan bloat. The checkpoint makes each round's output
    // a materialized metadata-sized relation
    for (_ <- 0 until iters)
      cents = graft.InternalCaches.pinStage(
        updateCells(assignCells(e, cents)))
    (e, cents)
  }

  /** Product-quantization codebooks: split each vector into `m`
    * contiguous `dim/m`-wide subspaces and pick `k` deterministic seed
    * vectors whose sub-slices form each subspace's codebook. Seed
    * selection rides [[graft.operators.PipelineOps.stratifiedTopK]] —
    * the two-phase bounded-reducer sampler — so no per-subspace window
    * ever sees the whole corpus. Sub-slices are cast to doubles (HOF
    * arithmetic carries element types; float math would diverge from
    * the double-only oracle). Returns (s, cid 1..k, centroid). */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dim: Int, seed: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    PipelineOps.stratifiedTopK(pqSubs(emb, idCol, vecCol, m, dim),
        col("s"), col("vid"), k, seed)
      .select(col("s"), col("sample_rank").as("cid"),
        col("sub").as("centroid"))
  }

  /** PQ encode: per (vector, subspace), the id of the nearest codebook
    * centroid by squared L2 (left-fold; ties to the lowest cid). The
    * groupBy-min-struct collapses the n×m×k scored rows map-side —
    * one row per (vector, subspace) crosses the shuffle. */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, m: Int, dim: Int): DataFrame = {
    pqSubs(emb, idCol, vecCol, m, dim)
      .join(broadcast(codebooks), Seq("s"))
      .withColumn("dist", aggregate(
        zip_with(col("sub"), col("centroid"), (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, v) => acc + v))
      .groupBy(col("vid"), col("s"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("vid"), col("s"), col("best.cid").as("cid"))
  }

  /** The (vid, s, sub) relation PQ training/encoding work from: each
    * vector split into `m` contiguous double-cast sub-slices. */
  private def pqSubs(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    emb.select(col(idCol).as("vid"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col(vecCol), s * sub + 1, lit(sub))
          .cast("array<double>"))).as(Seq("s", "sub")))
  }

  /** Lloyd-trained PQ sub-codebooks: start from the [[pqCodebooks]]
    * seeds and run `iters` assign→update rounds PER SUBSPACE — all m
    * subspaces train jointly in one plan per round (the assignment is
    * one broadcast join keyed by s, the update one integer-sum shuffle
    * keyed by (s, cid, pos)), so training m codebooks costs the same
    * number of stages as training one. Updates use the same quantized
    * micro-unit accumulation as [[kmeansRefine]] — centroids are
    * identical under any partitioning, so the trained codebook (and
    * every search over it) stays DuckDB-oracle-checkable. Sub-clusters
    * left empty by an assignment drop out deterministically.
    * Returns (s, cid, centroid). */
  def pqTrainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dim: Int, iters: Int, seed: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subs = pqSubs(emb, idCol, vecCol, m, dim)
      .persistTracked() // scanned once per Lloyd round
    var cb = pqCodebooks(emb, idCol, vecCol, m, k, dim, seed)
    for (_ <- 0 until iters) {
      val assigned = subs.join(broadcast(cb), Seq("s"))
        .withColumn("dist", aggregate(
          zip_with(col("sub"), col("centroid"), (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, v) => acc + v))
        .groupBy(col("vid"), col("s"))
        .agg(min(struct(col("dist"), col("cid"), col("sub").as("sub")))
          .as("b"))
        .select(col("s"), col("b.cid").as("cid"), col("b.sub").as("sub"))
      cb = assigned
        .select(col("s"), col("cid"), posexplode(col("sub"))
          .as(Seq("pos", "x")))
        .withColumn("qx", round(col("x") * 1e6).cast("long"))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg(sum(col("qx")).as("qs"), count(lit(1)).as("cnt"))
        .withColumn("comp",
          col("qs").cast("double") / (col("cnt").cast("double") * 1e6))
        .groupBy(col("s"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("comp"))))
          .as("pc"))
        .select(col("s"), col("cid"),
          transform(col("pc"), x => x("comp")).as("centroid"))
    }
    // the trained codebook is consumed persisted by every caller
    // (encode + LUT), so a per-round pin would only add checkpoint
    // barriers without deduplicating work — measured +1.9 s on s11;
    // one pin of the FINAL codebook truncates the nested training
    // lineage out of the downstream plans at m*k-row cost
    graft.InternalCaches.pinStage(cb)
  }

  /** Scalar-quantized (SQ8) symmetric search — the third compression
    * scheme next to product quantization (s6/s7) and residual PQ
    * (s11), and the simplest one production vector stores ship: each
    * DIMENSION is quantized independently to an 8-bit code against
    * the corpus per-dimension [min, max] range, so a 64-dim float
    * vector becomes 64 bytes and the pair distance is a pure INTEGER
    * sum of squared code deltas (symmetric SQ distance — both sides
    * quantized, no float math at search time, bit-exact in any
    * engine and order-independent under any partitioning).
    *
    * Quantization: code = clamp(⌊(x − min)/(max − min)·256⌋, 0, 255)
    * (floor, not round — no .5 tie to drift between engines);
    * constant dimensions (max = min) code to 0. The per-dim stats are
    * a d-row relation collected driver-side — bounded by
    * DIMENSIONALITY, not the corpus (the centroid-collect precedent)
    * — and embedded as array literals so codegen sees constants.
    *
    * Like s6, the q×n scan is the deliberate compressed-EXHAUSTIVE
    * baseline (the corpus is d bytes per vector at search time);
    * corpus-scale callers route candidates through the IVF pre-prune
    * first ([[ivfTopKWith]]) and SQ-score inside probed cells only.
    *
    * Id contract (the s1/s6 family convention): query ids share the
    * corpus id space — the query_id ≠ neighbor_id filter is
    * SELF-exclusion, so an external query set whose ids merely
    * collide with corpus ids would wrongly drop those neighbors;
    * re-key external queries into a disjoint id range first.
    * Returns (query_id, rank, neighbor_id, sqdist). */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val stats = corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("pos")).collect()
    val minsL = lit(stats.map(_.getDouble(1)))
    val maxsL = lit(stats.map(_.getDouble(2)))
    def codes(vec: Column): Column =
      transform(vec, (x, i) => {
        val mn = element_at(minsL, i + 1)
        val mx = element_at(maxsL, i + 1)
        when(mx > mn,
          least(lit(255L), greatest(lit(0L),
            floor((x.cast("double") - mn) / (mx - mn) * 256)
              .cast("long"))))
          .otherwise(lit(0L))
      })
    val q = queries.select(col(idCol).as("query_id"),
      codes(col(vecCol)).as("qc"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      codes(col(vecCol)).as("cc"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sqdist", aggregate(
        zip_with(col("qc"), col("cc"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sqdist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sqdist"))
  }

  /** Two-stage retrieval: SQ8 coarse candidates re-ranked by EXACT
    * cosine — the standard production search shape (a cheap
    * quantized scan buys recall, an exact pass over the shortlist
    * buys ranking quality; FAISS's refine step). Only `candK`
    * candidates per query ever touch float math: the re-rank join is
    * (queries·candK) rows against the vector relation, keyed on
    * neighbor_id — corpus-sized float scans happen zero times at
    * search. Cosine uses the same left-fold [[dot]] as s1, so the
    * oracle reproduces the doubles bit-for-bit.
    * Returns (query_id, rank, neighbor_id, cosine). */
  def sq8RerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, candK: Int, k: Int): DataFrame = {
    require(candK >= k, s"candK=$candK must be >= k=$k")
    val cand = sq8TopK(corpus, queries, idCol, vecCol, candK)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** The exact-cosine re-rank tail every two-stage family shares
    * (SQ8 / sign-Hamming / Matryoshka): join the (query_id,
    * neighbor_id) shortlist back to the float vectors, score with the
    * left-fold cosine, keep top-k per query. Query vectors come from
    * the QUERY relation (external query sets are the normal case —
    * corpus-sourced vectors would silently mismatch them) and only
    * that query-sized side is broadcast; float math touches exactly
    * queries·candK pairs. */
  /** Package-visible alias of [[exactRerank]] — the shared final
    * stage of every two-stage rerank family member, including the
    * PCA-reduced shortlist in [[Pca.pcaRerankTopK]]. */
  private[operators] def exactRerankOn(cand: DataFrame,
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    exactRerank(cand, corpus, queries, idCol, vecCol, k)

  private def exactRerank(cand: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val scored = cand.join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"))
  }

  /** Sign-bit binary codes: bit i of lane (i/32) is set iff vec[i] > 0
    * — the 1-bit-per-dimension quantization of binary-embedding search
    * (32× smaller than float32; FAISS IndexBinaryFlat's encoding).
    * Lanes are 32 bits wide so every code stays a POSITIVE long: DuckDB
    * overflow-checks `1::BIGINT << 63`, so a 64-bit lane could never be
    * oracle-checked. Returns ceil(dim/32) long columns named
    * `<prefix>0..<prefix>N`. The bit values are a LITERAL array zipped
    * against the vector slice (no shift expressions in the hot path);
    * the fold is a bitwise OR, order-independent by construction. */
  def signCodeLanes(vec: Column, dim: Int, prefix: String): Seq[Column] = {
    require(dim >= 1, s"dim=$dim must be positive")
    (0 until (dim + 31) / 32).map { lane =>
      val lo = lane * 32
      val w = math.min(dim, lo + 32) - lo
      val bits = (0 until w).map(i => 1L << i)
      aggregate(
        zip_with(slice(vec, lo + 1, w), typedlit(bits),
          (x, b) => when(x > lit(0.0d), b).otherwise(lit(0L))),
        lit(0L), (acc, b) => acc.bitwiseOR(b))
        .as(s"$prefix$lane")
    }
  }

  /** Hamming distance between two lane-sets of sign codes:
    * XOR + popcount per lane, summed — pure integer math, fully inside
    * whole-stage codegen. */
  private def hammingLanes(dim: Int, qPrefix: String,
      cPrefix: String): Column =
    (0 until (dim + 31) / 32).map { lane =>
      bit_count(col(s"$qPrefix$lane").bitwiseXOR(col(s"$cPrefix$lane")))
        .cast("long")
    }.reduce(_ + _)

  /** Binary sign-quantized Hamming search with exact re-rank — the
    * third rerank family next to SQ8 ([[sq8RerankTopK]]) and PQ: the
    * shortlist scan touches ONLY the packed sign codes (8 bytes per
    * 64-dim vector, 32× smaller than the floats), scored by
    * XOR+popcount; then exactly `candK` candidates per query get the
    * exact left-fold cosine. At 100 TB the code relation is what a
    * scan reads — a 64-dim float corpus of 25 TB becomes 0.8 TB of
    * codes, and the distance is integer-only until the rerank join.
    * The q×n code scan is the deliberate FLAT baseline (same caveat as
    * [[pqTopK]]): corpus-scale deployments route the code scan through
    * an IVF pre-prune first; the rerank stage is unchanged either way.
    * Ties on integer Hamming are broken by neighbor_id, so the
    * shortlist — and therefore the final ranking — is deterministic.
    * Returns (query_id, rank, neighbor_id, cosine). */
  def signHammingRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, candK: Int,
      k: Int): DataFrame = {
    require(candK >= k, s"candK=$candK must be >= k=$k")
    val c = corpus.select(
      col(idCol).as("neighbor_id") +:
        signCodeLanes(col(vecCol), dim, "c_code"): _*)
    val q = queries.select(
      col(idCol).as("query_id") +:
        signCodeLanes(col(vecCol), dim, "q_code"): _*)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hammingLanes(dim, "q_code", "c_code"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val cand = scored.withColumn("rk", row_number().over(ws))
      .filter(col("rk") <= candK)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Matryoshka / adaptive retrieval: shortlist by exact cosine over
    * only the FIRST `pdim` dimensions (MRL-style embeddings front-load
    * information, so a prefix is itself a usable low-dim embedding),
    * then re-rank the `candK` survivors with the full-width cosine —
    * the dimension-truncation member of the rerank family next to SQ8
    * ([[sq8RerankTopK]]) and sign-Hamming ([[signHammingRerankTopK]]).
    * At pdim=16 of 64 the shortlist scan reads a quarter of the float
    * lanes; at 100 TB that is what a prefix-only column (or a
    * truncated copy of the index) would make a scan pay. Both stages
    * are the same left-fold double math as s1, so the oracle
    * reproduces shortlist AND final ranking bit-for-bit.
    * Returns (query_id, rank, neighbor_id, cosine). */
  def prefixRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, pdim: Int, candK: Int,
      k: Int): DataFrame = {
    require(candK >= k, s"candK=$candK must be >= k=$k")
    require(pdim >= 1, s"pdim=$pdim must be positive")
    val qp = queries.select(col(idCol).as("query_id"),
        slice(col(vecCol), 1, pdim).as("q_pre"))
      .withColumn("qp_norm", norm(col("q_pre")))
    val cp = corpus.select(col(idCol).as("neighbor_id"),
        slice(col(vecCol), 1, pdim).as("c_pre"))
      .withColumn("cp_norm", norm(col("c_pre")))
    val pre = cp.crossJoin(broadcast(qp))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("pre_cos", dot(col("q_pre"), col("c_pre")) /
        (col("qp_norm") * col("cp_norm")))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("pre_cos").desc, col("neighbor_id").asc)
    val cand = pre.withColumn("rk", row_number().over(ws))
      .filter(col("rk") <= candK)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** PQ-ADC approximate top-k: queries score every corpus vector as the
    * sum over subspaces of the query-to-centroid distance of the
    * vector's CODE — the classic asymmetric-distance computation. The
    * per-query distance table (queries × m × k) is tiny and joins the
    * code relation on (s, cid); table entries are QUANTIZED to integer
    * micro-units at build time (exactly how production PQ stores uint8
    * LUTs), so the per-pair reduction is a plain long sum — order-
    * independent with map-side partial aggregation, no per-pair list
    * materialization (a subspace-sorted float fold measured 60× slower
    * at 10× corpus: collect+sort per candidate pair dominates). ADC is
    * compressed EXHAUSTIVE search — q×n×m lightweight rows — which is
    * the point: at search time the corpus is m bytes of codes per
    * vector, never the raw floats. WARNING — deliberate baseline ONLY:
    * the q×n scan goes quadratic if callers grow queries with the
    * corpus (31 s at 10×, BASELINE.md §4); any composed pipeline or
    * corpus-scale deployment must route through the IVF pre-prune
    * instead ([[ivfPqTopK]]/[[ivfPqResidualTopK]] bound candidates to
    * the probed cells, ~q·√n·nProbe). Returns
    * (query_id, rank, neighbor_id, adc6) with adc6 in micro-units. */
  def pqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, topK: Int, m: Int = 8, k: Int = 8, dim: Int = 64,
      seed: Int = 777): DataFrame =
    pqTopKWith(emb,
      pqCodebooks(emb, idCol, vecCol, m, k, dim, seed),
      queries, idCol, vecCol, topK, m, dim)

  /** PQ-ADC search against an EXTERNAL codebook — (s, cid, centroid)
    * rows, seed ([[pqCodebooks]]) or trained ([[pqTrainCodebooks]]) —
    * the train → encode → search composition, same shuffle shapes as
    * [[pqTopK]]. */
  def pqTopKWith(emb: DataFrame, codebooks: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int, m: Int,
      dim: Int): DataFrame = {
    val cb = codebooks.persistTracked() // encode side + distance table
    val codes = pqEncode(emb, cb, idCol, vecCol, m, dim)
    val qsubs = pqSubs(queries, idCol, vecCol, m, dim)
      .withColumnRenamed("vid", "qid").withColumnRenamed("sub", "qsub")
    val dtable = qsubs.join(broadcast(cb), Seq("s"))
      .withColumn("qd6", round(aggregate(
        zip_with(col("qsub"), col("centroid"), (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, v) => acc + v) * 1e6).cast("long"))
      .select(col("qid"), col("s"), col("cid"), col("qd6"))
    val paired = codes.join(broadcast(dtable), Seq("s", "cid"))
      .filter(col("qid") =!= col("vid"))
      .groupBy(col("qid"), col("vid"))
      .agg(sum(col("qd6")).as("adc6"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc6").asc, col("vid").asc)
    paired.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"),
        col("vid").as("neighbor_id"), col("adc6"))
  }

  /** IVF-PQ: the FAISS-standard composition — a trained coarse
    * quantizer routes each query to its `nProbe` nearest cells, and
    * PQ asymmetric-distance scoring runs ONLY against the codes of
    * vectors assigned to those cells. This bounds s6/s7's q×n ADC
    * scan to q×(n·nProbe/nCells): with √n cells the per-query
    * candidate set shrinks with corpus growth instead of tracking it.
    * Codes are trained on raw vectors (classic IVF-PQ encodes
    * residuals; raw-vector codes keep every stage oracle-checkable —
    * the routing win is identical). Queries must be corpus members
    * (the registered self-search shape: their probe ranking falls out
    * of the same scored-cells frame as the assignment).
    * Returns (query_id, rank, neighbor_id, adc6). */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, topK: Int, nCells: Int, ivfIters: Int,
      nProbe: Int, m: Int, k: Int, dim: Int, pqIters: Int,
      seed: Int): DataFrame = {
    val cents = kmeansCentroids(emb, idCol, vecCol, nCells, ivfIters)
    val cWith = cents.select(col("cell_id"), col("centroid").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
    val e = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val wAssign = Window.partitionBy(col("vid"))
      .orderBy(col("sim").desc, col("cell_id").asc)
    val ranked = e.crossJoin(broadcast(cWith))
      .withColumn("sim",
        dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") <= math.max(nProbe, 1))
      .select(col("vid"), col("cell_id"), col("rk"))
      .persistTracked() // assignment (rk=1) + probe list (rk<=nProbe)
    val assigned = ranked.filter(col("rk") === 1)
      .select(col("vid").as("nvid"), col("cell_id"))
    val probedQ = ranked
      .join(broadcast(queries.select(col(idCol).as("vid")).distinct()),
        Seq("vid"))
      .select(col("vid").as("qid"), col("cell_id"))
    val cb = pqTrainCodebooks(emb, idCol, vecCol, m, k, dim, pqIters,
      seed).persistTracked() // encode side + distance table
    val codes = pqEncode(emb, cb, idCol, vecCol, m, dim)
    val qsubs = pqSubs(queries, idCol, vecCol, m, dim)
      .withColumnRenamed("vid", "qid").withColumnRenamed("sub", "qsub")
    val dtable = qsubs.join(broadcast(cb), Seq("s"))
      .withColumn("qd6", round(aggregate(
        zip_with(col("qsub"), col("centroid"), (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, v) => acc + v) * 1e6).cast("long"))
      .select(col("qid"), col("s"), col("cid"), col("qd6"))
    // a neighbor has ONE cell and a query's probe cells are distinct,
    // so each (query, neighbor) pair arises at most once
    val cand = probedQ.join(assigned,
        probedQ("cell_id") === assigned("cell_id") &&
          col("qid") =!= col("nvid"))
      .select(col("qid"), col("nvid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc6").asc, col("nvid").asc)
    cand.join(codes, cand("nvid") === codes("vid"))
      .join(broadcast(dtable), Seq("qid", "s", "cid"))
      .groupBy(col("qid"), col("nvid"))
      .agg(sum(col("qd6")).as("adc6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"),
        col("nvid").as("neighbor_id"), col("adc6"))
  }

  /** Residual-encoded IVF-PQ — the production FAISS composition
    * proper: PQ codebooks are trained on RESIDUALS (vector − its
    * cell's centroid), which concentrates the quantizer's budget on
    * the within-cell displacement instead of re-spending it on the
    * coarse structure the cell id already encodes — better recall at
    * identical code bytes. The cost vs [[ivfPqTopK]]: a query's
    * residual differs PER PROBED CELL, so the distance table is keyed
    * (query, cell, subspace, code) and candidates join through their
    * cell — still broadcast-sized (q·nProbe·m·k quantized entries).
    * All residual arithmetic is exact (subtraction, same fold order),
    * so the whole train→encode→route→score loop stays
    * oracle-checkable. Queries must be corpus members (the registered
    * self-search shape). Returns (query_id, rank, neighbor_id, adc6). */
  def ivfPqResidualTopK(emb: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int, nCells: Int,
      ivfIters: Int, nProbe: Int, m: Int, k: Int, dim: Int,
      pqIters: Int, seed: Int): DataFrame = {
    val cents = kmeansCentroids(emb, idCol, vecCol, nCells, ivfIters)
    val cWith = cents.select(col("cell_id"), col("centroid").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
      .persistTracked() // assignment scoring + both residual builds
    val e = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val wAssign = Window.partitionBy(col("vid"))
      .orderBy(col("sim").desc, col("cell_id").asc)
    // persist the SLIM routing relation only (vid, cell_id, rk): the
    // raw-twin discipline — keeping v here would cache every vector
    // nProbe times; the residual builds re-join v from the scan
    val ranked = e.crossJoin(broadcast(cWith))
      .withColumn("sim",
        dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") <= math.max(nProbe, 1))
      .select(col("vid"), col("cell_id"), col("rk"))
      .persistTracked() // assignment + probe list
    val vOf = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val resid = (v: Column, cv: Column) =>
      zip_with(v, cv, (x, c) => x - c)
    // corpus residuals in the ASSIGNED cell → PQ training + encoding
    val rcorpus = ranked.filter(col("rk") === 1)
      .join(vOf, Seq("vid"))
      .join(broadcast(cWith.select(col("cell_id"), col("cv"))),
        Seq("cell_id"))
      .select(col("vid"), col("cell_id").as("cell"),
        resid(col("v"), col("cv")).as("rv"))
      .persistTracked() // PQ train (iters scans) + encode
    val cb = pqTrainCodebooks(rcorpus, "vid", "rv", m, k, dim, pqIters,
      seed).persistTracked() // encode side + distance table
    val codes = pqEncode(rcorpus, cb, "vid", "rv", m, dim)
    // query residual PER PROBED CELL → per-(query, cell) LUT
    val qids = queries.select(col(idCol).as("vid")).distinct()
    val qres = ranked.join(broadcast(qids), Seq("vid"))
      .join(vOf, Seq("vid"))
      .join(broadcast(cWith.select(col("cell_id"), col("cv"))),
        Seq("cell_id"))
      .select(col("vid").as("qid"), col("cell_id"),
        resid(col("v"), col("cv")).as("rqv"))
    val qsubs = qres.select(col("qid"), col("cell_id"),
        explode(sequence(lit(0), lit(m - 1))).as("s"), col("rqv"))
      .withColumn("qsub", slice(col("rqv"),
        (col("s") * (dim / m) + 1).cast("int"), lit(dim / m)))
      .select(col("qid"), col("cell_id"), col("s"), col("qsub"))
    val dtable = qsubs.join(broadcast(cb), Seq("s"))
      .withColumn("qd6", round(aggregate(
        zip_with(col("qsub"), col("centroid"), (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, v) => acc + v) * 1e6).cast("long"))
      .select(col("qid"), col("cell_id"), col("s"), col("cid"),
        col("qd6"))
    val assigned = ranked.filter(col("rk") === 1)
      .select(col("vid").as("nvid"), col("cell_id"))
    val probedQ = ranked.join(broadcast(qids), Seq("vid"))
      .select(col("vid").as("qid"), col("cell_id"))
    val cand = probedQ.join(assigned, Seq("cell_id"))
      .filter(col("qid") =!= col("nvid"))
      .select(col("qid"), col("cell_id"), col("nvid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc6").asc, col("nvid").asc)
    cand.join(codes, cand("nvid") === codes("vid"))
      .join(broadcast(dtable), Seq("qid", "cell_id", "s", "cid"))
      .groupBy(col("qid"), col("nvid"))
      .agg(sum(col("qd6")).as("adc6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"),
        col("nvid").as("neighbor_id"), col("adc6"))
  }

  /** TWO-LEVEL (hierarchical) IVF routing — the assignment-cost
    * repair for the flat quantizer's n·C dot products (the n^1.5
    * term every flat-IVF probe in BASELINE §4 documents, since
    * C = ⌈√n⌉): cluster the C cell centroids themselves into G
    * groups (C·G work — trivial), then route each vector through its
    * nearest GROUP (n·G dots) and only score the cells inside that
    * group (n·C/G average). With G = √C total routing work is
    * n·2√C = n^1.25 — the IMI/coarse-hierarchy idea production ANN
    * systems use. Routing is approximate (a vector whose true
    * nearest cell sits in a losing group lands in its second-best
    * cell — the standard recall trade; queries probe `nProbe` cells
    * WITHIN their group, and the exact-cosine tail re-ranks as in
    * s5). Every argmax is a map-side-combinable groupBy-max (never a
    * corpus-×-C window), so shuffle volume also drops from n·C
    * scored rows to n. Deterministic end to end (same quantized
    * Lloyd, same (sim desc, id asc) tie order), so the whole
    * two-level train→route→search plan is DuckDB-oracle-checkable.
    * Returns (query_id, rank, neighbor_id, cosine). */
  def ivfTwoLevelTopK(emb: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nCells: Int, nGroups: Int,
      iters: Int, nProbe: Int): DataFrame = {
    val cents = kmeansCentroids(emb, idCol, vecCol, nCells, iters)
      .persistTracked() // membership + both routing joins
    val cWith = cents.select(col("cell_id"), col("centroid").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
    val groups = kmeansCentroids(
        cents.select(col("cell_id").as("gvid"),
          col("centroid").as("gv0")), "gvid", "gv0", nGroups, iters)
      .select(col("cell_id").as("group_id"), col("centroid").as("gv"))
      .withColumn("gnrm", norm(col("gv")))
    // cell → group membership (argmax cosine, ties to the low group)
    val memb = cWith.crossJoin(broadcast(groups))
      .withColumn("sim",
        dot(col("cv"), col("gv")) / (col("cnrm") * col("gnrm")))
      .groupBy(col("cell_id"))
      .agg(max(struct(col("sim"), (-col("group_id")).as("ng"),
        col("group_id").as("g"))).as("m"))
      .select(col("cell_id"), col("m.g").as("group_id"))
    val cellsOfGroup = cWith.join(broadcast(memb), Seq("cell_id"))
      .persistTracked() // assignment pass + query probe pass
    val e = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    // vector → group (n·G dots, map-side argmax). Persist the SLIM
    // (vid, group_id) routing relation only — the raw-twin
    // discipline: carrying v through the cache would store every
    // vector again; the downstream passes re-join v from the scan
    val vGroup = e.crossJoin(broadcast(groups))
      .withColumn("sim",
        dot(col("v"), col("gv")) / (col("nrm") * col("gnrm")))
      .groupBy(col("vid"))
      .agg(max(struct(col("sim"), (-col("group_id")).as("ng"),
        col("group_id").as("g"))).as("m"))
      .select(col("vid"), col("m.g").as("group_id"))
      .persistTracked()
    // vector → cell inside its group (n·C/G average, map-side argmax)
    val assigned = e.join(vGroup, Seq("vid"))
      .join(broadcast(cellsOfGroup), Seq("group_id"))
      .withColumn("sim",
        dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy(col("vid"))
      .agg(max(struct(col("sim"), (-col("cell_id")).as("nc"),
        col("cell_id").as("c"))).as("m"))
      .select(col("vid").as("nvid"), col("m.c").as("cell_id"))
    // queries probe the nProbe best cells WITHIN their group — the
    // qids filter lands BEFORE any scoring, so the probe pass scores
    // q·C/G rows, never the corpus
    val qids = queries.select(col(idCol).as("vid")).distinct()
    val wProbe = Window.partitionBy(col("vid"))
      .orderBy(col("sim").desc, col("cell_id").asc)
    val probed = e.join(broadcast(qids), Seq("vid"))
      .join(vGroup, Seq("vid"))
      .join(broadcast(cellsOfGroup), Seq("group_id"))
      .withColumn("sim",
        dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= math.max(nProbe, 1))
      .select(col("vid").as("qid"), col("cell_id"))
    // exact-cosine tail over probed cells (the s5 shape)
    val cand = probed.join(assigned, Seq("cell_id"))
      .filter(col("qid") =!= col("nvid"))
      .select(col("qid"), col("nvid"))
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = emb.select(col(idCol).as("nvid"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nvid").asc)
    cand.join(broadcast(q), Seq("qid"))
      .join(c, Seq("nvid"))
      .withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("nvid").as("neighbor_id"), col("cosine"))
  }

  /** CELL-BALANCED IVF codebook — the skew repair for trained
    * quantizers (verdict round-6 #5): trained cells inherit data
    * skew, and a hot cell is simultaneously a hot reducer (one
    * partition holds the cell's whole posting) and a recall sink
    * (one probe slot swallows most of the corpus mass, starving the
    * other nProbe−1). Repair: after flat Lloyd training, any cell
    * whose population exceeds cap = ⌈capFactor·n/C⌉ is SPLIT by
    * re-running one quantized-Lloyd round INSIDE the cell with
    * ⌈cnt/cap⌉ md5-seeded sub-centroids (the FAISS
    * `IndexIVF.split`-style local re-train); cold cells keep their
    * centroid. Sub-cell ids are `cell·M + subRank` with
    * M = max(1024, nCells + 1) (cold cells map to `cell·M`) —
    * deterministic, order-independent, and collision-free: subRank ≤
    * ⌈cnt/cap⌉ ≤ ⌈nCells/capFactor⌉ ≤ nCells < M (capFactor ≥ 1), so
    * a split id can never reach the next cell's `(cell+1)·M`.
    *
    * Scale shape: the census is one groupBy off the (already
    * computed) assignment; hot members re-score only against their
    * OWN cell's sub-seeds (a broadcast join keyed by cell — never a
    * corpus × seeds cross); the update is the same integer-quantized
    * (cell, sub, pos) aggregate as [[kmeansRefine]], so the whole
    * repair is bit-deterministic and oracle-checkable. Work is
    * proportional to the HOT population only — at a balanced corpus
    * the operator is a no-op census.
    *
    * Returns the balanced (cell_id, centroid) codebook — feed it to
    * [[ivfTopKWith]]/[[ivfTopKWithQueries]]; probing treats
    * sub-centroids as ordinary cells, so nProbe mass spreads across
    * the split instead of drowning in one cell. */
  def balancedCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int, capFactor: Double = 2.0,
      seed: Int = 79): DataFrame = {
    require(capFactor >= 1.0, s"capFactor must be >= 1, got $capFactor")
    val subIdBase = math.max(1024L, nCells + 1L)
    val e = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cw = kmeansCentroids(emb, idCol, vecCol, nCells, iters)
      .select(col("cell_id"), col("centroid").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
      .persistTracked() // membership assignment + cold-cell carryover
    val assigned = assignCells(e, cw)
      .select(col("vid"), col("v"), col("cell"))
      .persistTracked() // census + hot-member re-score
    val sizes = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"))
    val hot = sizes
      .crossJoin(broadcast(assigned.agg(count(lit(1)).as("n"))))
      .withColumn("cap",
        ceil(lit(capFactor) * col("n") / nCells).cast("long"))
      .filter(col("cnt") > col("cap"))
      .withColumn("ns",
        ceil(col("cnt").cast("double") / col("cap")).cast("long"))
      .select(col("cell"), col("ns"))
    val hm = assigned.join(broadcast(hot), Seq("cell"))
      .withColumn("nrm", norm(col("v")))
    val wSeed = Window.partitionBy(col("cell"))
      .orderBy(col("h"), col("vid"))
    val seeds = hm
      .withColumn("h", Tables.hashU32(col("vid"), seed))
      .withColumn("rk", row_number().over(wSeed))
      .filter(col("rk") <= col("ns"))
      .select(col("cell"), col("rk").cast("long").as("sub"),
        col("v").as("scv"))
      .withColumn("snrm", norm(col("scv")))
    // one quantized-Lloyd round INSIDE each hot cell: argmax over the
    // cell's own sub-seeds (map-side-combinable groupBy-max), then the
    // integer-quantized mean per (cell, sub, pos)
    val sa = hm.join(broadcast(seeds), Seq("cell"))
      .withColumn("ssim",
        dot(col("v"), col("scv")) / (col("nrm") * col("snrm")))
      .groupBy(col("vid"))
      .agg(max(struct(col("ssim"), (-col("sub")).as("negs"),
        col("sub").as("s"), col("cell").as("cell"),
        col("v").as("v"))).as("m"))
      .select(col("m.cell").as("cell"), col("m.s").as("sub"),
        col("m.v").as("v"))
    val su = sa
      .select(col("cell"), col("sub"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("qx", round(col("x") * 1e6).cast("long"))
      .groupBy(col("cell"), col("sub"), col("pos"))
      .agg(sum(col("qx")).as("qs"), count(lit(1)).as("cnt"))
      .withColumn("comp",
        col("qs").cast("double") / (col("cnt").cast("double") * 1e6))
      .groupBy(col("cell"), col("sub"))
      .agg(array_sort(collect_list(struct(col("pos"), col("comp"))))
        .as("pc"))
      .select(col("cell"), col("sub"),
        transform(col("pc"), x => x("comp")).as("cv"))
    val cold = cw.join(broadcast(hot), cw("cell_id") === hot("cell"),
        "left_anti")
      .select((col("cell_id") * subIdBase).as("cell_id"),
        col("cv").as("centroid"))
    val split = su
      .select((col("cell") * subIdBase + col("sub")).as("cell_id"),
        col("cv").as("centroid"))
    cold.unionByName(split)
  }

  /** [[balancedCentroids]] + the s5-shaped search: train flat, split
    * hot cells, probe the BALANCED codebook with an explicit query
    * subset. Returns (query_id, rank, neighbor_id, cosine). */
  def balancedIvfTopK(emb: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nCells: Int, iters: Int,
      nProbe: Int, capFactor: Double = 2.0): DataFrame = {
    val bal = balancedCentroids(emb, idCol, vecCol, nCells, iters,
      capFactor)
    ivfTopKWithQueries(emb, bal, queries, idCol, vecCol, k, nProbe)
  }

  /** Residual IVF-PQ with an exact-cosine re-rank tail — the FAISS
    * "refine" composition (IndexRefineFlat over IVFPQ), the standard
    * recall repair for quantized search: ADC ranks a SHORTLIST of
    * `shortK` candidates per query (cheap, code-bytes only), then the
    * exact metric re-scores just those shortK vectors and keeps the
    * true top-`topK`. ADC's quantization error only has to be small
    * enough to keep a true neighbor inside the top-shortK — a far
    * weaker demand than landing it in the top-topK — so recall rises
    * toward the IVF routing ceiling at unchanged code bytes (measured
    * on the synthetic frontier: 0.13 → 0.26 at m=8, k=8, nProbe=8;
    * see BASELINE §6). Cost at scale: the re-rank joins shortK·q
    * full vectors against the corpus scan with the shortlist side
    * BROADCAST — one extra corpus scan, no shuffle, q·shortK window
    * rows. The exact tail uses the s1 fold (dot/norms, left-fold
    * zip_with), so the whole train→route→ADC→re-rank plan stays
    * DuckDB-oracle-checkable bit-for-bit.
    * Queries must be corpus members (the registered self-search
    * shape). Returns (query_id, rank, neighbor_id, cosine). */
  def ivfPqResidualRerankTopK(emb: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int, shortK: Int,
      nCells: Int, ivfIters: Int, nProbe: Int, m: Int, k: Int,
      dim: Int, pqIters: Int, seed: Int): DataFrame = {
    require(shortK >= topK, s"shortK=$shortK must be >= topK=$topK")
    val short = ivfPqResidualTopK(emb, queries, idCol, vecCol, shortK,
        nCells, ivfIters, nProbe, m, k, dim, pqIters, seed)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = emb.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    c.join(broadcast(short.join(q, Seq("query_id"))), Seq("neighbor_id"))
      .withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"))
  }

  /** LSH-accelerated ANN top-k: candidates are corpus vectors sharing
    * the query's bucket (multi-probe: Hamming-1 neighbours of the bucket
    * included when `probeBits > 0`), ranked by exact cosine within the
    * bucket. Trades recall for a bucket-local join — property-tested
    * against [[bruteForceTopK]] for recall in DedupSimilaritySpec.
    *
    * Buckets come from [[lshBucketFolded]] — the deterministic left-fold
    * sign projection (the exploded groupBy-sum variant this replaced had
    * partition-order-dependent float accumulation, which is exactly why
    * it could never be oracle-checked). `nPlanes < 0` (default) sizes
    * the index from a corpus count via [[autoPlanes]]; `dim < 0` probes
    * the vector width from the first row. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int = -1, probeBits: Int = 1, dim: Int = -1): DataFrame = {
    val np = if (nPlanes > 0) nPlanes else autoPlanes(emb.count())
    val d = if (dim > 0) dim
      else emb.select(size(col(vecCol))).head().getInt(0)
    val planes = deterministicPlanes(np, d)
    val withB = emb.select(col(idCol), col(vecCol))
      .withColumn("bucket", lshBucketFolded(col(vecCol), planes))
      .withColumn("nrm", norm(col(vecCol)))
      .persistTracked() // probe side + neighbor side: fold the projections once
    // probe buckets: the bucket itself plus Hamming-1 flips
    val probes =
      if (probeBits <= 0) withB.withColumn("probe", col("bucket"))
      else withB.withColumn("probe",
        explode(concat(array(col("bucket")),
          transform(sequence(lit(0), lit(np - 1)), p =>
            // flip bit p: bucket XOR 2^p via arithmetic (engine-portable)
            when(floor(col("bucket") / pow(lit(2.0), p)).cast("long") % 2 === 1,
              col("bucket") - pow(lit(2.0), p).cast("long"))
              .otherwise(col("bucket") + pow(lit(2.0), p).cast("long"))))))
    val cand = probes.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), col("nrm").as("q_nrm"), col("probe"))
      .join(withB.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"), col("nrm").as("c_nrm"), col("bucket")),
        col("probe") === col("bucket") &&
          col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // a neighbor occupies exactly one bucket and a query's probe set is
    // distinct buckets, so each (query, neighbor) pair matches at most
    // once — no dedup pass needed
    cand.withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    * retrieval lists — the standard hybrid-search combiner (lexical
    * BM25 ⊕ dense cosine). Inputs are (query_id, doc_id, rank)
    * relations; a document absent from one list simply contributes
    * nothing from it (the full-outer-join semantics every RRF
    * implementation uses). Output: (query_id, rank, doc_id, rrf6,
    * lex_rank, dense_rank), top `k` per query by fused score.
    *
    * Exactness: each leg's contribution is round(1e6/(k0 + rank)) —
    * one IEEE division of exact integers, quantized to integer micro
    * units at the ROW, so the fused score is an exact BIGINT sum and
    * hash-stable across engines. Fusion happens entirely in rank
    * space: the legs are pluggable (swap brute-force cosine for the
    * s16 routed re-rank at scale) without touching the combiner.
    *
    * Scale shape: both inputs are already top-shortK-per-query (k·|Q|
    * rows, corpus-independent), so the join and the per-query window
    * are bounded by the shortlist size, never the corpus. */
  def rrfFuseTopK(lex: DataFrame, dense: DataFrame, k: Int,
      k0: Int = 60): DataFrame = {
    val l = lex.select(col("query_id"), col("doc_id"),
      col("rank").as("lex_rank"))
    val dn = dense.select(col("query_id"), col("doc_id"),
      col("rank").as("dense_rank"))
    val fused = l.join(dn, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf6",
        coalesce(round(lit(1e6) / (lit(k0.toDouble) + col("lex_rank")))
          .cast("long"), lit(0L)) +
        coalesce(round(lit(1e6) / (lit(k0.toDouble) + col("dense_rank")))
          .cast("long"), lit(0L)))
    Events.topKPerGroup(fused, Seq(col("query_id")),
      Seq(col("rrf6").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf6"),
        col("lex_rank"), col("dense_rank"))
  }

  /** Recall@k distribution of an approximate retrieval against the
    * exact one — the evaluation every ANN deployment runs before
    * trusting an index. Inputs are two (query_id, neighbor_id, …)
    * top-k relations; output is the census (hits, n_queries): how many
    * queries recovered 0, 1, …, k of their true top-k. Queries present
    * in `exact` but absent from `approx` count as 0 hits (an index
    * that silently drops a query can't inflate its recall).
    *
    * Scale shape: both inputs are k·|Q| rows; the semi-join and both
    * aggregations are bounded by the shortlist size, never the
    * corpus. */
  def recallCensus(exact: DataFrame, approx: DataFrame): DataFrame = {
    // e is read twice (hit semi-join + the census base); without the
    // persist the ENTIRE exact leg — an n·|Q| brute-force pass when
    // the caller is s19 — executes twice (profiled as the two ~5 s
    // twin stages dominating s19). The relation itself is k·|Q| rows
    val e = exact.select(col("query_id"), col("neighbor_id"))
      .persistTracked()
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    e.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(coalesce(col("hits"), lit(0L)).as("hits"))
      .groupBy(col("hits")).agg(count(lit(1)).as("n_queries"))
  }

  /** Hard-negative mining for contrastive training (the retrieval-
    * training recipe of DPR/SimCSE-style pipelines): for each query
    * vector, the k nearest neighbors whose label (source, domain,
    * dedup-cluster, …) DIFFERS from the query's — near-misses that
    * teach the model the decision boundary. `labels` maps `idCol` to
    * `labelCol`. Exact cosine leg here (the measured baseline); at
    * corpus scale the candidate generation swaps to the trained-IVF
    * probe ([[ivfTopKWith]]) and the label filter is unchanged —
    * filtering AFTER candidate ranking would undershoot k, so the
    * filter sits before the window in both variants. */
  def hardNegativeTopK(emb: DataFrame, labels: DataFrame, idCol: String,
      vecCol: String, labelCol: String, isQuery: Column,
      k: Int): DataFrame = {
    val lb = labels.select(col(idCol).as("__hn_id"),
      col(labelCol).as("__hn_lab"))
    val q = emb.filter(isQuery)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .join(lb.select(col("__hn_id").as("query_id"),
        col("__hn_lab").as("q_lab")), Seq("query_id"))
    val c = emb.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
      .join(lb.select(col("__hn_id").as("neighbor_id"),
        col("__hn_lab").as("neg_label")), Seq("neighbor_id"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(col("neg_label") =!= col("q_lab"))
      .withColumn("cosine",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    Events.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"), col("neg_label"))
  }

  /** OPQ-lite dimension permutation: PQ quality depends on how the
    * vector is CUT into subspaces — if high-energy dimensions cluster
    * in one subspace, its k centroids are spent on a hard subproblem
    * while low-energy subspaces waste theirs (the imbalance OPQ's
    * learned rotation fixes; Ge et al. 2013). This is the
    * permutation-only member of that family: rank dimensions by total
    * energy and deal them to the m subspaces boustrophedon (snake)
    * order, so every subspace gets one dim per energy tier.
    *
    * Determinism discipline: energy = Σ round(x·1e6)² summed as exact
    * BIGINTs — an fp variance would make the RANKING engine-dependent
    * at near-ties and diverge the whole downstream index. Bound: |x|≤1
    * ⇒ per-row term ≤ 1e12, so ~9e6 rows per dim fit in a signed
    * long; beyond that, re-quantize to 1e3 units or sum in
    * decimal(38). The per-dim aggregate is `dim`-sized metadata — the
    * collect is O(dims), the [[deterministicPlanes]] pattern.
    *
    * Returns `perm` with `perm(newPos) = oldDim`: subspace s occupies
    * newPos [s·dim/m, (s+1)·dim/m), filled in energy-rank order. */
  def dimEnergyPermutation(emb: DataFrame, vecCol: String, dim: Int,
      m: Int): Seq[Int] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val energy = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("pos"),
        round(col("x").cast("double") * 1e6).cast("long").as("x6"))
      .groupBy(col("pos")).agg(sum(col("x6") * col("x6")).as("energy"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ranked = (0 until dim).sortBy(d => (-energy.getOrElse(d, 0L), d))
    val perm = new Array[Int](dim)
    val rounds = dim / m
    for ((d, r) <- ranked.zipWithIndex) {
      val round = r / m
      val posInRound = r % m
      val s = if (round % 2 == 0) posInRound else m - 1 - posInRound
      perm(s * rounds + round) = d
    }
    perm.toSeq
  }

  /** Apply a dimension permutation to a float-vector column (plain
    * element projection — codegen'd, shuffle-free). Distances are
    * permutation-invariant, so search semantics are unchanged; only
    * the subspace CUTS (and therefore PQ quality) move. */
  def permuteVec(emb: DataFrame, vecCol: String, perm: Seq[Int])
      : DataFrame =
    emb.withColumn(vecCol,
      array(perm.map(i => col(vecCol).getItem(i)): _*))

  /** Maximal-Marginal-Relevance diversification (Carbonell & Goldstein
    * 1998): greedily re-rank a relevance shortlist so each pick trades
    * relevance against redundancy with what is already picked —
    *   mmr(c) = λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)
    * (empty-selected max = 0, so pick 1 scores λ·rel). The dedup-aware
    * retrieval step of RAG context assembly and training-example
    * selection: top-k alone returns k near-copies of the same document.
    *
    * Everything is relational — no driver-side loop over rows. Stage 1
    * builds the per-query top-`m` relevance shortlist (exact cosine leg
    * here; at corpus scale swap candidate generation for the trained-IVF
    * probe — MMR itself only ever touches m rows per query). Stage 2
    * materializes the m×m pairwise sims within each shortlist (bounded
    * by m², never corpus-sized). Stage 3 runs k greedy rounds, each a
    * join + per-query window argmax; `k` is a plan-time constant, so
    * the loop unrolls into one DAG. Both intermediates are reused every
    * round → persistTracked.
    *
    * Ties break by candidate id ascending; dot products are the shared
    * left-fold-double kernel, so the DuckDB oracle (same unrolled CTEs)
    * is bit-identical and the output hash-stable. */
  def mmrDiversify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, k: Int, lambda: Double): DataFrame = {
    require(k >= 1 && m >= k, s"need m >= k >= 1, got m=$m k=$k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand_id").asc)
    val shortlist = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("rel",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rn", row_number().over(wRel)).filter(col("rn") <= m)
      .select(col("query_id"), col("cand_id"), col("c_vec"),
        col("c_norm"), col("rel"))
      .persistTracked() // probed every greedy round + both pair sides
    val pairs = shortlist
      .select(col("query_id"), col("cand_id").as("a_id"),
        col("c_vec").as("a_vec"), col("c_norm").as("a_norm"))
      .join(shortlist.select(col("query_id"), col("cand_id").as("b_id"),
        col("c_vec").as("b_vec"), col("c_norm").as("b_norm")),
        Seq("query_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("sim",
        dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")))
      .select(col("query_id"), col("a_id"), col("b_id"), col("sim"))
      .persistTracked() // max-sim probe in every round after the first
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr").desc, col("cand_id").asc)
    var selected = shortlist
      .withColumn("mmr", lit(lambda) * col("rel"))
      .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id"), lit(1L).as("pick"),
        col("mmr"))
    var remaining = shortlist
      .join(selected.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_anti")
    for (i <- 2 to k) {
      // pairs is complete over the shortlist, so every remaining
      // candidate has a sim row against every selected one: inner joins
      val maxSel = pairs
        .join(selected.select(col("query_id"), col("cand_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id"))
        .agg(max(col("sim")).as("max_sim"))
        .withColumnRenamed("a_id", "cand_id")
      val pick = remaining.join(maxSel, Seq("query_id", "cand_id"))
        .withColumn("mmr",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("max_sim"))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), lit(i.toLong).as("pick"),
          col("mmr"))
      selected = selected.union(pick)
      remaining = remaining
        .join(pick.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
    }
    selected.select(col("query_id"), col("pick"),
      col("cand_id").as("neighbor_id"), round(col("mmr"), 6).as("mmr_score"))
  }

  /** s24 graph build: a bounded-degree directed kNN graph — each
    * node's `degree` nearest neighbours under the banded IVF candidate
    * generation (probe `nProbe` trained cells, exact cosine within
    * candidates, deterministic ties to the lower id). This IS
    * [[ivfTopKWith]] with every corpus node as a query, re-labelled as
    * an edge relation — the approximate-kNN-graph construction public
    * graph-ANN systems bootstrap from (NN-descent seeds, DiskANN's
    * initial graph), expressed with zero new candidate machinery. At
    * scale the work is ∝ n·cellPopulation·nProbe, never n². */
  def knnGraph(emb: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, degree: Int, nProbe: Int = 2): DataFrame =
    ivfTopKWith(emb, centroids, idCol, vecCol, degree, nProbe)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cosine").as("sim"))

  /** s24: graph-tier ANN — round-synchronous beam search over a
    * bounded-degree neighbour graph (the NSW / Vamana family: Malkov &
    * Yashunin 2016, Subramanya et al. 2019 — re-expressed
    * relationally; beyond-reference LLM-pipeline surface, the
    * reference pipeline has no similarity search).
    * Queries are corpus members and enter at their OWN node (cosine
    * 1.0 — it occupies one beam slot and is excluded from the
    * result). Each round, every node that ENTERED the beam last round
    * expands its out-edges; unseen destinations are scored against
    * the query; the beam is re-cut to `beamWidth` over everything
    * visited. A node that entered `visited` without making the beam
    * is never expanded (same pruning as a classic best-first search
    * with a bounded candidate pool). After `rounds` rounds the top-k
    * of the visited set is the answer.
    *
    * Every step is an equi-join or a per-query window: frontier ⋈
    * graph (partitioned by src), fresh ⋈ corpus (by node id), beam
    * cut (window by query). Distance evaluations per query are
    * bounded by beamWidth·degree·rounds — the work is shortlist-
    * sized regardless of corpus size, and rounds is a fixed unroll
    * (no driver-side convergence loop). Deterministic throughout, so
    * the DuckDB mirror is exact. */
  def nswBeamTopK(emb: DataFrame, graph: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, beamWidth: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && beamWidth >= k && rounds >= 1,
      s"need beamWidth >= k >= 1 and rounds >= 1, " +
        s"got k=$k beamWidth=$beamWidth rounds=$rounds")
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .persistTracked() // probed by every round's scoring join
    val c = emb.select(col(idCol).as("node_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    // self-entry: queries are corpus members and enter at their own
    // node (cosine 1.0 — it occupies a beam slot, excluded at rank)
    val seeds = q.select(col("query_id"),
      col("query_id").as("node_id"), lit(1.0).as("cosine"))
    rankTopK(beamRounds(c, graph, q, seeds, beamWidth, rounds), k)
  }

  /** Shared round-synchronous beam core of s24 (self-entry) and s26
    * (layered entry): `seeds` = (query_id, node_id, cosine) rows are
    * round-0 visited AND the initial frontier; `q` must be the
    * normed (query_id, q_vec, q_norm) relation, persisted by the
    * caller. Returns the visited relation (query_id, node_id,
    * cosine, r). */
  private def beamRounds(c: DataFrame, graph: DataFrame, q: DataFrame,
      seeds: DataFrame, beamWidth: Int, rounds: Int): DataFrame = {
    // the corpus+norm relation is probed by EVERY round's scoring
    // join — without the persist each round re-scans and re-norms the
    // corpus (rounds × one corpus pass per serve; persist is
    // idempotent when a caller serves several layers from one c)
    val cP = c.persistTracked()
    val g = graph.select(col("src"), col("dst"))
      .persistTracked() // probed by every round's expansion join
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("node_id").asc)
    // visited carries the round each node was SCORED in ("r"): the
    // beam bar only rises and a node's cosine is fixed, so a node
    // makes the beam iff it makes it in its own scoring round —
    // "entered the beam this round" is a filter on r over the beam
    // window, replacing a per-round semi-join against the scored set
    var visited = seeds.select(col("query_id"), col("node_id"),
      col("cosine"), lit(0).as("r"))
    var frontier = visited.select(col("query_id"), col("node_id"))
    for (round <- 1 to rounds) {
      // expansion dedup and the not-yet-visited check in ONE keyed
      // aggregation: union the expanded edges (seen=0) with the
      // visited keys (seen=1); a (query, node) group whose max(seen)
      // is 0 is a genuinely fresh destination
      val fresh = frontier.join(g, frontier("node_id") === g("src"))
        .select(col("query_id"), col("dst").as("node_id"),
          lit(0).as("seen"))
        .unionByName(visited.select(col("query_id"), col("node_id"),
          lit(1).as("seen")))
        .groupBy(col("query_id"), col("node_id"))
        .agg(max(col("seen")).as("seen"))
        .filter(col("seen") === 0)
        .select(col("query_id"), col("node_id"))
      val scored = fresh.join(cP, Seq("node_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cosine", dot(col("q_vec"), col("n_vec")) /
          (col("q_norm") * col("n_norm")))
        .select(col("query_id"), col("node_id"), col("cosine"),
          lit(round).as("r"))
      // pinStage (localCheckpoint), not persist: visited is referenced
      // 3x per round (dedup union, next union, beam window), so a
      // plain persist still nests every earlier round's lineage into
      // one growing logical plan that Catalyst + AQE replan at every
      // query stage (the serve queries' 8k-line formatted plans).
      // The checkpoint truncates it: each round plans flat over the
      // previous round's materialized rows (query-bounded size)
      visited = graft.InternalCaches.pinStage(
        visited.unionByName(scored))
      frontier = visited
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beamWidth && col("r") === round)
        .select(col("query_id"), col("node_id"))
    }
    visited
  }

  /** Rank the visited relation to the final top-k (self rows from
    * corpus-member entry excluded). */
  private def rankTopK(visited: DataFrame, k: Int): DataFrame = {
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("node_id").asc)
    visited.filter(col("query_id") =!= col("node_id"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("node_id").as("neighbor_id"), col("cosine"))
  }

  /** s26: HIERARCHICAL graph ANN — the layered entry that makes NSW
    * into the HNSW family (Malkov & Yashunin 2016): nodes are
    * assigned to geometric layers by a deterministic hash (a node is
    * in layer ℓ iff hashU32(id, 97) % layerRatio^ℓ = 0 — layer 0 is
    * everyone, each layer up is 1/layerRatio the size), the tiny TOP
    * layer is scored brute-force per query (|Q|·n/ratio^(L−1) — the
    * declared coarse tier, add layers to shrink it), intermediate
    * layers descend by beam search on that layer's own kNN graph,
    * and layer 0 runs the full s24 beam. Unlike s24's self-entry,
    * queries need NOT be corpus members — the entry comes from the
    * layer hierarchy, which is what makes this the serving-shaped
    * variant. One k-means training serves every layer's graph build
    * (cells partition each layer's members). */
  def hnswTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int, iters: Int, degree: Int,
      nProbeBuild: Int, beamWidth: Int, rounds: Int,
      layerRatio: Int = 16, nLayers: Int = 2, entryWidth: Int = 2,
      upperRounds: Int = 1): DataFrame = {
    val (topLayer, graphs) = buildHnswGraphIndex(emb, idCol, vecCol,
      nCells, iters, degree, nProbeBuild, layerRatio, nLayers)
    hnswServeIndexed(topLayer, graphs, emb, queries, idCol, vecCol,
      k, beamWidth, rounds, nLayers, entryWidth, upperRounds)
  }

  /** One corpus×codebook scoring pass shared by EVERY layer's graph
    * build: (node_id, n_vec, n_norm, cell_id, rk ≤ nProbe) — rk = 1
    * is the cell assignment, rk ≤ nProbe the probe list. Assignment
    * is per-vector against the broadcast codebook, so restricting
    * this relation to a layer's members IS that layer's own
    * assignment (the DuckDB twin's l1cand applies the identical
    * restriction to its shared assigned/probed CTEs) — a multi-layer
    * build therefore scans and scores the corpus ONCE instead of
    * once per layer. */
  private[graft] def rankedCellsFor(emb: DataFrame,
      centroids: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val withNorm = emb.select(col(idCol).as("node_id"),
        col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val cWith = centroids.select(col("cell_id"), col("centroid"))
      .withColumn("c_nrm", norm(col("centroid")))
    val wAssign = Window.partitionBy(col("node_id"))
      .orderBy(col("sim").desc, col("cell_id").asc)
    withNorm.crossJoin(broadcast(cWith))
      .withColumn("sim", dot(col("n_vec"), col("centroid")) /
        (col("n_norm") * col("c_nrm")))
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") <= math.max(nProbe, 1))
      .select(col("node_id"), col("n_vec"), col("n_norm"),
        col("cell_id"), col("rk"))
  }

  /** DELETE from a persisted graph index (s32 — the lifecycle's last
    * leg after s28 build/serve and s31 append; the vector-store
    * "forget these ids" operation every production deployment needs):
    * deleted nodes leave the cell ranks, the top layer, and the
    * graphs; edge lists are re-derived ONLY for surviving srcs that
    * probe a cell which LOST an assignment — a src's kNN list can
    * change only when a candidate disappears from one of its probed
    * cells, and an edge to a deleted dst implies exactly that, so
    * every untouched stored edge is provably still correct and is
    * reused verbatim. Result ≡ a full rebuild over the remaining
    * corpus with the SAME (pre-delete) codebook — the stored
    * centroids are the amortized artifact; re-training is a separate
    * rebalance decision, as in s25's trigger. */
  def deleteFromHnswGraphIndex(kept: DataFrame, deletedIds: DataFrame,
      rankedStored: DataFrame,
      topStored: DataFrame, graphsStored: DataFrame, idCol: String,
      vecCol: String, degree: Int, nProbeBuild: Int, layerRatio: Int,
      nLayers: Int): (DataFrame, DataFrame) = {
    require(nLayers >= 2 && layerRatio >= 2,
      s"need nLayers >= 2 and layerRatio >= 2, " +
        s"got $nLayers/$layerRatio")
    val dead = deletedIds.select(col(idCol).as("node_id")).distinct()
    val c = kept.select(col(idCol).as("node_id"),
        col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val rankedKept = rankedStored
      .select(col("node_id"), col("cell_id"), col("rk"))
      .join(broadcast(dead), Seq("node_id"), "left_anti")
      .join(c, "node_id")
      .persistTracked() // per-layer touched-candidate scoring
    val top2 = topStored.select(col("node_id"), col("n_vec"),
        col("n_norm"))
      .join(broadcast(dead), Seq("node_id"), "left_anti")
    val graphs2 = ((nLayers - 2) to 0 by -1).map { l =>
      val m = BigInt(layerRatio).pow(l).toLong
      def layerOf(df: DataFrame) =
        df.filter(Tables.hashU32(col("node_id"), 97) % m === 0)
      val lvlKept = layerOf(rankedKept)
      // cells that LOST an assignment at this layer: deleted layer
      // members' rk = 1 cells (from the STORED ranks)
      val deadCells = layerOf(rankedStored
          .join(broadcast(dead), Seq("node_id"), "left_semi"))
        .filter(col("rk") === 1)
        .select(col("cell_id")).distinct()
      val affected = lvlKept
        .join(broadcast(deadCells), Seq("cell_id"), "left_semi")
        .select(col("node_id")).distinct()
        .persistTracked() // probe-side semi-join + edge anti-join
      val recomputed = knnGraphFromRankedAgainst(
        lvlKept.join(affected, Seq("node_id"), "left_semi"),
        lvlKept.filter(col("rk") === 1), degree)
      val untouched = graphsStored.filter(col("level") === l)
        .join(affected.withColumnRenamed("node_id", "src"),
          Seq("src"), "left_anti")
        .join(broadcast(dead).withColumnRenamed("node_id", "src"),
          Seq("src"), "left_anti")
      untouched.select(col("src"), col("dst"))
        .unionByName(recomputed.select(col("src"), col("dst")))
        .select(lit(l).as("level"), col("src"), col("dst"))
    }.reduce(_ unionByName _)
      // the serve-side beam rounds reference the edge relation
      // once per round; without this pin each round re-runs the
      // whole splice (anti-join + touched-cell pair scoring) --
      // measured 175 s vs an 18 s full-rebuild row at 10x
      .persistTracked()
    (top2, graphs2)
  }

  /** kNN graph from a shared ranked-cells relation: probe rows join
    * assignment rows within a cell (src ≠ dst, pairs unique because
    * probe cells are distinct and a dst is assigned once), exact
    * cosine, degree cap with ties dst-asc — [[knnGraph]]'s candidate
    * generation over a PRECOMPUTED assignment. */
  private def knnGraphFromRanked(ranked: DataFrame,
      degree: Int): DataFrame =
    knnGraphFromRankedAgainst(ranked, ranked.filter(col("rk") === 1),
      degree)

  /** The asymmetric core of [[knnGraphFromRanked]]: probe rows from
    * `probedSrc` (a possibly-restricted src set — the append path
    * recomputes only TOUCHED srcs), assignment rows from
    * `assignedDst`. Both carry (node_id, n_vec, n_norm, cell_id). */
  private def knnGraphFromRankedAgainst(probedSrc: DataFrame,
      assignedDst: DataFrame, degree: Int): DataFrame = {
    val probed = probedSrc.select(col("node_id").as("src"),
      col("n_vec").as("s_vec"), col("n_norm").as("s_norm"),
      col("cell_id"))
    val assigned = assignedDst
      .select(col("node_id").as("dst"), col("n_vec").as("d_vec"),
        col("n_norm").as("d_norm"), col("cell_id"))
    val wDeg = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    probed.join(assigned, Seq("cell_id"))
      .filter(col("src") =!= col("dst"))
      .withColumn("sim", dot(col("s_vec"), col("d_vec")) /
        (col("s_norm") * col("d_norm")))
      .withColumn("rk", row_number().over(wDeg))
      .filter(col("rk") <= degree)
      .select(col("src"), col("dst"), col("sim"))
  }

  /** s28: the PERSISTABLE graph index — the s9 build-once/serve-many
    * discipline applied to the graph tier. Trains the codebook, runs
    * ONE corpus assignment pass ([[rankedCellsFor]]), and derives
    * every layer's bounded-degree kNN graph from that shared
    * relation (layer ℓ's members are hashU32(id, 97) % ratio^ℓ = 0,
    * the HNSW geometric-layer trick). Returns
    * (topLayer(node_id, n_vec, n_norm), graphs(level, src, dst)) —
    * both corpus-derived, both parquet-writable; at 100 TB the build
    * is the one corpus-scale job (n·C scoring + per-cell pair
    * scoring), written once and amortized over every query the index
    * ever serves. [[hnswServeIndexed]] over the loaded relations is
    * hash-identical to [[hnswTopK]] at the same parameters — the
    * oracle receipt that serve ≡ live. */
  def buildHnswGraphIndex(emb: DataFrame, idCol: String,
      vecCol: String, nCells: Int, iters: Int, degree: Int,
      nProbeBuild: Int, layerRatio: Int,
      nLayers: Int): (DataFrame, DataFrame) = {
    val cents = kmeansCentroids(emb, idCol, vecCol, nCells, iters)
    val (top, graphs, _) = buildHnswGraphIndexWith(emb, cents, idCol,
      vecCol, degree, nProbeBuild, layerRatio, nLayers)
    (top, graphs)
  }

  /** [[buildHnswGraphIndex]] with a PRECOMPUTED codebook, returning
    * additionally the ranked cell relation (node_id, cell_id, rk) —
    * the piece an APPEND needs persisted alongside centroids/graphs:
    * a later batch splices in by re-deriving only the edge lists
    * whose candidate sets the batch actually changed
    * ([[appendHnswGraphIndex]]). */
  def buildHnswGraphIndexWith(emb: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, degree: Int,
      nProbeBuild: Int, layerRatio: Int,
      nLayers: Int): (DataFrame, DataFrame, DataFrame) = {
    require(nLayers >= 2 && layerRatio >= 2,
      s"need nLayers >= 2 and layerRatio >= 2, " +
        s"got $nLayers/$layerRatio")
    // persist pays only when SEVERAL layer graphs re-read the pass
    // (nLayers > 2); at two layers the single graph + top layer do
    // better re-deriving it — the persist would block the planner's
    // broadcast choice on the small side of the pair join and add a
    // materialization (measured +4 s on s26 at sf0.1)
    val rankedAll0 = rankedCellsFor(emb, centroids, idCol, vecCol,
      nProbeBuild)
    val rankedAll =
      if (nLayers > 2) rankedAll0.persistTracked() else rankedAll0
    def layerRanked(l: Int): DataFrame = {
      val m = BigInt(layerRatio).pow(l).toLong
      rankedAll.filter(Tables.hashU32(col("node_id"), 97) % m === 0)
    }
    // top layer: entry vectors only (brute-scored per query at serve
    // time — the declared coarse tier, add layers to shrink it)
    val topC = layerRanked(nLayers - 1).filter(col("rk") === 1)
      .select(col("node_id"), col("n_vec"), col("n_norm"))
      .persistTracked() // the emptiness check + the serve-side entry
    // an empty top layer would silently return zero rows for every
    // query (empty seeds → empty beam); expected size is
    // n/ratio^(nLayers-1), so fail loudly with the remedy instead —
    // an index-BUILD-time count action, where eager checks belong
    require(topC.limit(1).count() > 0,
      s"top layer is empty (nLayers=$nLayers, layerRatio=$layerRatio" +
        ") — lower nLayers or layerRatio so n/ratio^(nLayers-1) >= 1")
    val graphs = ((nLayers - 2) to 0 by -1).map { l =>
      val base = if (l == 0) rankedAll else layerRanked(l)
      knnGraphFromRanked(base, degree)
        .select(lit(l).as("level"), col("src"), col("dst"))
    }.reduce(_ unionByName _)
    (topC, graphs,
      rankedAll.select(col("node_id"), col("cell_id"), col("rk")))
  }

  /** APPEND to a persisted graph index (s31 — the s25 discipline for
    * the graph tier): new vectors assign to the STORED centroids
    * (broadcast codebook, batch-sized pass — the corpus is never
    * re-scored), join the layers their id-hash selects, and the edge
    * lists are re-derived ONLY where the batch changed a candidate
    * set — a src's kNN list depends on (its probed cells × the
    * assignments in them), so the affected srcs are exactly the
    * layer members probing a cell that RECEIVED a new assignment;
    * every other stored edge is reused verbatim. Result ≡ a full
    * rebuild with the same codebook (spec-proven edge-set equality,
    * oracle-proven through the serve output), at batch-plus-touched-
    * cells cost instead of corpus cost. */
  def appendHnswGraphIndex(corpus: DataFrame, batch: DataFrame,
      centroids: DataFrame, rankedStored: DataFrame,
      topStored: DataFrame, graphsStored: DataFrame, idCol: String,
      vecCol: String, degree: Int, nProbeBuild: Int, layerRatio: Int,
      nLayers: Int): (DataFrame, DataFrame) = {
    val (top2, graphs2, _, _) = appendHnswGraphIndexState(corpus,
      batch, centroids, rankedStored, topStored, graphsStored, idCol,
      vecCol, degree, nProbeBuild, layerRatio, nLayers)
    (top2, graphs2)
  }

  /** [[appendHnswGraphIndex]] exposing the state DELTAS a persisted
    * consumer needs (s36 — the streaming graph-ingest loop): returns
    * (top2, graphs2, rankedBatchMeta, topDelta) where rankedBatchMeta
    * is the batch's (node_id, cell_id, rk) rows — the APPEND to the
    * stored ranks — and topDelta the batch's new top-layer members.
    * ranked/toplayer/vectors advance with O(batch) appends; only the
    * edge relation needs a full snapshot, because a splice mutates
    * existing srcs' edge lists in place. */
  def appendHnswGraphIndexState(corpus: DataFrame, batch: DataFrame,
      centroids: DataFrame, rankedStored: DataFrame,
      topStored: DataFrame, graphsStored: DataFrame, idCol: String,
      vecCol: String, degree: Int, nProbeBuild: Int, layerRatio: Int,
      nLayers: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(nLayers >= 2 && layerRatio >= 2,
      s"need nLayers >= 2 and layerRatio >= 2, " +
        s"got $nLayers/$layerRatio")
    val rankedBatch = rankedCellsFor(batch, centroids, idCol, vecCol,
        nProbeBuild)
      .persistTracked() // top splice + every layer's splice
    val c = corpus.select(col(idCol).as("node_id"),
        col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    // stored ranks carry no vectors (they persist as metadata); the
    // splice re-attaches them from the base table by id
    val rankedAll = rankedStored
      .select(col("node_id"), col("cell_id"), col("rk"))
      .unionByName(rankedBatch
        .select(col("node_id"), col("cell_id"), col("rk")))
      .join(c, "node_id")
      .persistTracked() // per-layer touched-candidate scoring
    val mTop = BigInt(layerRatio).pow(nLayers - 1).toLong
    val topDelta = rankedBatch
      .filter(Tables.hashU32(col("node_id"), 97) % mTop === 0)
      .filter(col("rk") === 1)
      .select(col("node_id"), col("n_vec"), col("n_norm"))
    val top2 = topStored.select(col("node_id"), col("n_vec"),
        col("n_norm"))
      .unionByName(topDelta)
    val newIdsAll = rankedBatch.select(col("node_id")).distinct()
    val graphs2 = ((nLayers - 2) to 0 by -1).map { l =>
      val m = BigInt(layerRatio).pow(l).toLong
      def layerOf(df: DataFrame) =
        df.filter(Tables.hashU32(col("node_id"), 97) % m === 0)
      val lvlAll = layerOf(rankedAll)
      val newIds = layerOf(newIdsAll)
      // cells that received a new ASSIGNMENT at this layer — only
      // they can change an existing src's candidate set
      val hotCells = layerOf(rankedBatch).filter(col("rk") === 1)
        .select(col("cell_id")).distinct()
      val affected = lvlAll
        .join(broadcast(hotCells), Seq("cell_id"), "left_semi")
        .select(col("node_id"))
        .unionByName(newIds).distinct()
        .persistTracked() // probe-side semi-join + edge anti-join
      val recomputed = knnGraphFromRankedAgainst(
        lvlAll.join(affected, Seq("node_id"), "left_semi"),
        lvlAll.filter(col("rk") === 1), degree)
      val untouched = graphsStored.filter(col("level") === l)
        .join(affected.withColumnRenamed("node_id", "src"),
          Seq("src"), "left_anti")
      untouched.select(col("src"), col("dst"))
        .unionByName(recomputed.select(col("src"), col("dst")))
        .select(lit(l).as("level"), col("src"), col("dst"))
    }.reduce(_ unionByName _)
      // the serve-side beam rounds reference the edge relation
      // once per round; without this pin each round re-runs the
      // whole splice (anti-join + touched-cell pair scoring) --
      // measured 175 s vs an 18 s full-rebuild row at 10x
      .persistTracked()
    (top2, graphs2,
      rankedBatch.select(col("node_id"), col("cell_id"), col("rk")),
      topDelta)
  }

  /** s40: DEGREE UPGRADE of a stored graph index — the operational
    * move the BASELINE §10 frontier recommends (richer graphs own the
    * high-recall regime): re-cut every layer's edge lists at a higher
    * degree FROM THE STORED RANKS, skipping k-means training and the
    * corpus×codebook assignment pass entirely (the candidate pool per
    * src is fixed by nProbeBuild at build time; degree only moves the
    * per-src cut, so the upgrade is provably identical to a fresh
    * build at the new degree over the same codebook). The top layer
    * carries no degree and is reused verbatim. Cost: the per-cell
    * pair scoring only — at 100 TB that skips the n·C assignment leg
    * and the training iterations. */
  def upgradeGraphIndexDegree(corpus: DataFrame,
      rankedStored: DataFrame, topStored: DataFrame, idCol: String,
      vecCol: String, newDegree: Int, layerRatio: Int,
      nLayers: Int): (DataFrame, DataFrame) = {
    require(nLayers >= 2 && layerRatio >= 2,
      s"need nLayers >= 2 and layerRatio >= 2, " +
        s"got $nLayers/$layerRatio")
    val c = corpus.select(col(idCol).as("node_id"),
        col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val rankedAll = rankedStored
      .select(col("node_id"), col("cell_id"), col("rk"))
      .join(c, "node_id")
      .persistTracked() // per-layer pair scoring
    val graphs = ((nLayers - 2) to 0 by -1).map { l =>
      val m = BigInt(layerRatio).pow(l).toLong
      val base = rankedAll
        .filter(Tables.hashU32(col("node_id"), 97) % m === 0)
      knnGraphFromRanked(base, newDegree)
        .select(lit(l).as("level"), col("src"), col("dst"))
    }.reduce(_ unionByName _)
    (topStored, graphs)
  }

  /** Serve-side HNSW search over a LOADED graph index (the output of
    * [[buildHnswGraphIndex]], typically read back from parquet):
    * brute entry on the stored top layer, beam descent through each
    * stored intermediate-layer graph, full beam on the stored
    * layer-0 graph — NO training, NO assignment, NO graph build.
    * Per-query work is |topLayer| + beamWidth·degree·rounds distance
    * evaluations regardless of corpus size; corpus vectors come from
    * the base table (`corpus`), the graphs carry only edges. */
  def hnswServeIndexed(topLayer: DataFrame, graphs: DataFrame,
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, beamWidth: Int, rounds: Int,
      nLayers: Int, entryWidth: Int = 2,
      upperRounds: Int = 1): DataFrame = {
    require(entryWidth >= 1 && entryWidth <= beamWidth,
      s"need 1 <= entryWidth <= beamWidth, " +
        s"got $entryWidth/$beamWidth")
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .persistTracked() // entry scoring + every beam round
    val c = corpus.select(col(idCol).as("node_id"),
        col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val wEntry = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("node_id").asc)
    // the stored top layer is a single parquet file (1 partition), so
    // an unspread crossJoin would score the whole |top|·|Q| entry
    // relation in ONE task — a 44-minute single-core cliff measured
    // at the 30× stress point with 30k queries/side. Spreading the
    // tiny stream side first costs a sub-ms shuffle and makes entry
    // scoring parallel in |top|·|Q|/partitions.
    var seeds = topLayer.select(col("node_id"), col("n_vec"),
        col("n_norm"))
      .repartition(q.sparkSession.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(q))
      .withColumn("cosine", dot(col("q_vec"), col("n_vec")) /
        (col("q_norm") * col("n_norm")))
      .withColumn("rk", row_number().over(wEntry))
      .filter(col("rk") <= entryWidth)
      .select(col("query_id"), col("node_id"), col("cosine"))
    // descend through intermediate layers on their stored graphs
    // (level is a partition column when loaded from parquet, so the
    // filter prunes to one layer's files)
    for (l <- (nLayers - 2) to 1 by -1) {
      val gU = graphs.filter(col("level") === l)
        .select(col("src"), col("dst"))
      seeds = beamRounds(c, gU, q, seeds, entryWidth, upperRounds)
        .withColumn("rk", row_number().over(wEntry))
        .filter(col("rk") <= entryWidth)
        .select(col("query_id"), col("node_id"), col("cosine"))
    }
    val g0 = graphs.filter(col("level") === 0)
      .select(col("src"), col("dst"))
    rankTopK(beamRounds(c, g0, q, seeds, beamWidth, rounds), k)
  }

  /** s25: STREAMING IVF APPEND — p10's missing twin on the vector
    * side. A new vector batch joins the index by assigning to the
    * STORED centroids (broadcast codebook, one batch-sized map — the
    * corpus-sized index is never re-trained or re-shuffled); search
    * serves from base ∪ appended at unchanged centroids. Because
    * assignment is per-row against a fixed codebook, the appended
    * index is IDENTICAL to re-assigning the full corpus from scratch
    * — the append-search ≡ rebuild-search receipt the oracle pins
    * (it assigns everything in one pass; the Spark plan appends).
    * [[appendRebalanceTrigger]] is the census that decides when the
    * s22 cell-balance repair should run: append never degrades
    * silently. */
  def appendToIndex(batch: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cWith = centroids
      .select(col("cell_id"), col("centroid").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
    val e = batch.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    assignCells(e, cWith)
      .withColumn("nrm", norm(col("v")))
      .select(col("vid").as("vec_id"), col("v").as("embedding"),
        col("nrm"), col("cell"))
  }

  /** Per-cell census after an append: post-append population vs the
    * s22 cap (⌈capFactor·n/C⌉ over the TOTAL population and the full
    * codebook size) — (cell, cnt, cap, hot). A hot cell is the
    * trigger for the [[balancedCentroids]] repair. Census only: one
    * count aggregate off the index relation, metadata-sized. */
  def appendRebalanceTrigger(index: DataFrame, nCells: Int,
      capFactor: Double = 2.0): DataFrame = {
    val sizes = index.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("cnt"))
    val cap = sizes.agg(sum(col("cnt")).as("n"))
      .select(ceil(col("n") * lit(capFactor) / lit(nCells))
        .cast("long").as("cap"))
    sizes.crossJoin(broadcast(cap))
      .select(col("cell"), col("cnt"), col("cap"),
        (col("cnt") > col("cap")).as("hot"))
  }

  /** Assignment of a batch to STORED centroids, keeping the
    * assignment cosine: (vec_id, cell, sim) — [[appendToIndex]]'s
    * routing with the quality signal the drift census needs.
    * Broadcast codebook, one batch-sized pass. */
  def assignWithSim(batch: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cWith = centroids
      .select(col("cell_id"), col("centroid").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
    val e = batch.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    assignCells(e, cWith)
      .select(col("vid").as("vec_id"), col("cell"), col("sim"))
  }

  /** s35: DRIFT census over a stored index (the s25 rebalance
    * trigger generalized to the graph tier, where mutation never
    * retrains — s31/s32 splice forever on a frozen codebook, and
    * every production vector store re-trains on drift instead).
    * Inputs are two assignment relations (vec_id, cell, sim): the
    * BUILD-time assignment (persisted alongside the index, or
    * re-derived from the stored ranks) and the CURRENT one (build ∪
    * appended batches). Per cell: population then and now, the
    * micro-unit SUM of assignment cosines then and now (per-row
    * round(sim·1e6) summed as integers — exact under any
    * partitioning, so the DuckDB twin matches bit-for-bit), and two
    * integer-exact trigger flags:
    *  - `hot`  = n_now > ⌈capFactor·total_now/nCells⌉ (the s22/s25
    *    population-balance trigger);
    *  - `drift` = mean assignment cosine dropped by more than
    *    drop6 micro-units vs build time, compared WITHOUT division
    *    (sum6_now·n_build < (sum6_build − drop6·n_build)·n_now) so
    *    negative sums can never diverge on floor-vs-truncate
    *    integer-division semantics between engines.
    * Census cost: two metadata-sized keyed aggregates — never a
    * corpus re-scan (sims were already paid at assignment time).
    * Any hot/drift row is the signal to retrain-and-rebuild
    * ([[rebuildGraphIndexIfDrifted]]). */
  def indexDriftCensus(buildAssigned: DataFrame,
      nowAssigned: DataFrame, nCells: Int, capFactor: Double = 2.0,
      drop6: Long = 20000L): DataFrame =
    indexDriftCensusFromCells(censusCells(buildAssigned),
      censusCells(nowAssigned), nCells, capFactor, drop6)

  /** The per-cell census aggregate of an assignment relation:
    * (cell, n, s6) where s6 is the micro-unit integer sum of
    * assignment cosines. Integer sums are exact under any
    * partitioning AND any grouping order, so these aggregates
    * COMPOSE: censusCells(a ∪ b) ≡ mergeCensusCells(censusCells(a),
    * censusCells(b)) — the property that lets a streaming ingest
    * maintain its census state with an O(batch + nCells) merge per
    * batch instead of re-aggregating the corpus-sized assignment
    * relation ([[graft.streaming.EventStream.selfHealingGraphIngestOnce]]). */
  def censusCells(assigned: DataFrame): DataFrame =
    assigned.select(col("cell").cast("long").as("cell"),
        round(col("sim") * 1e6).cast("long").as("q6"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("q6")).as("s6"))

  /** Exact merge of two [[censusCells]] aggregates (integer adds —
    * no rounding, no order dependence). */
  def mergeCensusCells(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.select(col("cell"), col("n").as("n2"),
        col("s6").as("s62")), Seq("cell"), "full_outer")
      .select(col("cell"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("n2"), lit(0L)))
          .as("n"),
        (coalesce(col("s6"), lit(0L)) + coalesce(col("s62"), lit(0L)))
          .as("s6"))

  /** [[indexDriftCensus]] over PRE-AGGREGATED per-cell states — the
    * streaming form: both inputs are nCells-row [[censusCells]]
    * relations, so the census itself is metadata-sized end to end. */
  def indexDriftCensusFromCells(buildCells: DataFrame,
      nowCells: DataFrame, nCells: Int, capFactor: Double = 2.0,
      drop6: Long = 20000L): DataFrame = {
    val b = buildCells.select(col("cell"), col("n").as("n_build"),
      col("s6").as("sum6_build"))
    val nw = nowCells.select(col("cell"), col("n").as("n_now"),
      col("s6").as("sum6_now"))
    val cap = nw.agg(sum(col("n_now")).as("n"))
      .select(ceil(col("n") * lit(capFactor) / lit(nCells))
        .cast("long").as("cap"))
    // full outer: a cell can exist only at build time (every member
    // deleted) or only now (first members arrived in an append)
    nw.join(b, Seq("cell"), "full_outer")
      .crossJoin(broadcast(cap))
      .select(col("cell"),
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        coalesce(col("n_now"), lit(0L)).as("n_now"),
        coalesce(col("sum6_build"), lit(0L)).as("sum6_build"),
        coalesce(col("sum6_now"), lit(0L)).as("sum6_now"),
        col("cap"))
      .select(col("cell"), col("n_build"), col("n_now"),
        col("sum6_build"), col("sum6_now"),
        (col("n_now") > col("cap")).cast("long").as("hot"),
        (col("n_build") > 0 && col("n_now") > 0 &&
          col("sum6_now") * col("n_build") <
            (col("sum6_build") - lit(drop6) * col("n_build")) *
              col("n_now")).cast("long").as("drift"))
  }

  /** The retrain-and-rebuild decision the census feeds: metadata-
    * sized action (the census has ≤ nCells rows). */
  def driftTriggered(census: DataFrame): Boolean =
    census.filter(col("hot") === 1L || col("drift") === 1L)
      .limit(1).count() > 0

  /** Threshold-triggered graph-index rebuild (the s22/s25 repair for
    * the graph tier): if the census shows any hot or drifted cell,
    * retrain the codebook on the CURRENT corpus and rebuild the
    * layer graphs from scratch; otherwise the stored index is kept
    * verbatim — append/delete splices remain the steady-state path
    * and the corpus-scale rebuild runs only when the census says the
    * frozen codebook stopped describing the data. Returns
    * (rebuilt?, topLayer, graphs). */
  def rebuildGraphIndexIfDrifted(census: DataFrame, corpus: DataFrame,
      storedTop: DataFrame, storedGraphs: DataFrame, idCol: String,
      vecCol: String, nCells: Int, iters: Int, degree: Int,
      nProbeBuild: Int, layerRatio: Int,
      nLayers: Int): (Boolean, DataFrame, DataFrame) =
    if (driftTriggered(census)) {
      val (top, graphs) = buildHnswGraphIndex(corpus, idCol, vecCol,
        nCells, iters, degree, nProbeBuild, layerRatio, nLayers)
      (true, top, graphs)
    } else (false, storedTop, storedGraphs)

  /** Train on the base, append the batch at stored centroids, search
    * the union — the full s25 composition. */
  def ivfAppendSearch(base: DataFrame, incoming: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int, iters: Int, nProbe: Int): DataFrame = {
    val (cents, baseIdx) = buildIvfIndex(base, idCol, vecCol, nCells,
      iters)
    val index = baseIdx
      .unionByName(appendToIndex(incoming, cents, idCol, vecCol))
    ivfSearchIndexed(index, cents, queries, idCol, vecCol, k, nProbe)
  }

  /** s38: SQ8-COMPRESSED graph serve — the DiskANN memory discipline
    * (Subramanya et al. 2019) applied to the stored NSW graph: the
    * beam walks the graph scoring fresh nodes by INTEGER squared
    * distance over 8-bit scalar-quantized codes (s12's quantizer —
    * 1 byte/dim instead of 4, the in-memory representation when the
    * float vectors live on slow storage), then ONLY the visited
    * set's top-`candK` shortlist touches float math in an exact
    * cosine re-rank (s13's tail). The graph itself was built exact
    * and offline (the amortized artifact); serving reads codes +
    * edges. Per-query float work is candK vectors regardless of
    * corpus size; per-query integer work is beamWidth·degree·rounds
    * code deltas. Queries are corpus members (s24's self-entry).
    * Deterministic end to end — quantizer stats are exact min/max,
    * code arithmetic is integer — so the DuckDB twin is exact. */
  def nswBeamSq8TopK(corpus: DataFrame, graph: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      beamWidth: Int, rounds: Int, candK: Int): DataFrame =
    nswBeamSq8Serve(sq8Codes(corpus, idCol, vecCol), corpus, graph,
      queries, idCol, vecCol, k, beamWidth, rounds, candK)

  /** The SQ8 code relation (node_id, cc) for a corpus — the stored
    * half of the compressed graph index (codes are derived ONCE at
    * build time and persisted next to the edges; serving never
    * touches corpus floats outside the re-rank). Quantizer stats are
    * one metadata-sized collect (dim rows). */
  def sq8Codes(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val stats = corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("pos")).collect()
    val minsL = lit(stats.map(_.getDouble(1)))
    val maxsL = lit(stats.map(_.getDouble(2)))
    corpus.select(col(idCol).as("node_id"),
      transform(col(vecCol), (x, i) => {
        val mn = element_at(minsL, i + 1)
        val mx = element_at(maxsL, i + 1)
        when(mx > mn,
          least(lit(255L), greatest(lit(0L),
            floor((x.cast("double") - mn) / (mx - mn) * 256)
              .cast("long"))))
          .otherwise(lit(0L))
      }).as("cc"))
  }

  /** [[nswBeamSq8TopK]] over a STORED code relation: queries are
    * corpus members (self-entry), so their codes come from the same
    * stored relation by id — serving reads codes + edges only, and
    * corpus floats are touched exactly candK times per query in the
    * re-rank (the DiskANN disk-fetch analogue). */
  def nswBeamSq8Serve(codesStored: DataFrame, corpus: DataFrame,
      graph: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, beamWidth: Int, rounds: Int,
      candK: Int): DataFrame = {
    require(candK >= k && beamWidth >= k && rounds >= 1,
      s"need candK >= k, beamWidth >= k, rounds >= 1; " +
        s"got k=$k candK=$candK beamWidth=$beamWidth rounds=$rounds")
    val q = queries.select(col(idCol).as("query_id"))
      .join(codesStored.withColumnRenamed("node_id", "query_id"),
        "query_id")
      .select(col("query_id"), col("cc").as("qc"))
      .persistTracked() // probed by every round's scoring join
    // probed by every round's scoring join — without the persist each
    // round re-reads the stored code relation
    val c = codesStored.persistTracked()
    val g = graph.select(col("src"), col("dst"))
      .persistTracked() // probed by every round's expansion join
    // beam over INTEGER distances: same round structure as
    // [[beamRounds]] with the cut ascending on sqdist — a node's
    // sqdist is fixed and the beam bar only falls, so "entered the
    // beam this round" stays a filter on its scoring round
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("sqdist").asc, col("node_id").asc)
    var visited = q.select(col("query_id"),
      col("query_id").as("node_id"), lit(0L).as("sqdist"),
      lit(0).as("r"))
    var frontier = visited.select(col("query_id"), col("node_id"))
    for (round <- 1 to rounds) {
      val fresh = frontier.join(g, frontier("node_id") === g("src"))
        .select(col("query_id"), col("dst").as("node_id"),
          lit(0).as("seen"))
        .unionByName(visited.select(col("query_id"), col("node_id"),
          lit(1).as("seen")))
        .groupBy(col("query_id"), col("node_id"))
        .agg(max(col("seen")).as("seen"))
        .filter(col("seen") === 0)
        .select(col("query_id"), col("node_id"))
      val scored = fresh.join(c, Seq("node_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("sqdist", aggregate(
          zip_with(col("qc"), col("cc"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v))
        .select(col("query_id"), col("node_id"), col("sqdist"),
          lit(round).as("r"))
      // pinStage (localCheckpoint), not persist: visited is referenced
      // 3x per round (dedup union, next union, beam window), so a
      // plain persist still nests every earlier round's lineage into
      // one growing logical plan that Catalyst + AQE replan at every
      // query stage (the serve queries' 8k-line formatted plans).
      // The checkpoint truncates it: each round plans flat over the
      // previous round's materialized rows (query-bounded size)
      visited = graft.InternalCaches.pinStage(
        visited.unionByName(scored))
      frontier = visited
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beamWidth && col("r") === round)
        .select(col("query_id"), col("node_id"))
    }
    val cand = visited.filter(col("query_id") =!= col("node_id"))
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") <= candK)
      .select(col("query_id"), col("node_id").as("neighbor_id"))
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** s39: FILTERED graph serve — the vector-DB "metadata predicate +
    * top-k" query (s23's IVF shape) on the graph tier, which is the
    * hard case: pre-filtering the GRAPH breaks connectivity (eligible
    * nodes may only reach each other through ineligible ones), so the
    * walk ROUTES THROUGH everything and the predicate lands on the
    * RESULT cut — filter-then-rank over the full VISITED set (never a
    * post-filter of a k-cut, the classic underfill bug: the visited
    * pool is beamWidth·degree·rounds-sized, so k fills whenever the
    * walk visited k eligible nodes). This is DiskANN's filtered-serve
    * compromise; raise beamWidth/rounds when the filter is selective.
    * `pred` is evaluated against the corpus relation's columns. */
  def nswBeamFilteredTopK(emb: DataFrame, graph: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, pred: Column,
      k: Int, beamWidth: Int, rounds: Int): DataFrame = {
    require(k >= 1 && beamWidth >= k && rounds >= 1,
      s"need beamWidth >= k >= 1 and rounds >= 1, " +
        s"got k=$k beamWidth=$beamWidth rounds=$rounds")
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .persistTracked() // probed by every round's scoring join
    val c = emb.select(col(idCol).as("node_id"),
        col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val eligible = emb.filter(pred).select(col(idCol).as("node_id"))
    val seeds = q.select(col("query_id"),
      col("query_id").as("node_id"), lit(1.0).as("cosine"))
    val visited = beamRounds(c, graph, q, seeds, beamWidth, rounds)
    // predicate BEFORE the rank window — over the whole visited set
    rankTopK(visited.join(eligible, Seq("node_id"), "left_semi"), k)
  }

  /** Train → graph-build → beam-search composition for s24. */
  def nswTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int, iters: Int, degree: Int,
      nProbeBuild: Int, beamWidth: Int, rounds: Int): DataFrame = {
    val cents = kmeansCentroids(emb, idCol, vecCol, nCells, iters)
    val g = knnGraph(emb, cents, idCol, vecCol, degree, nProbeBuild)
    nswBeamTopK(emb, g, queries, idCol, vecCol, k, beamWidth, rounds)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 — the LASER/CCMatrix alignment criterion): a
    * candidate pair (x, y) scores by its cosine RELATIVE to both
    * sides' neighborhood density — margin(x,y) = cos(x,y) /
    * ((avgₖ(x) + avgₖ(y)) / 2) — which kills the hub vectors that
    * drown absolute-threshold cosine mining; mined pairs are MUTUAL
    * best-margin matches above a threshold (the paper's
    * max-intersection strategy).
    *
    * Determinism doctrine: every cosine is quantized to micro-units
    * (round(cos·1e6) as LONG, the s35 census pattern) BEFORE any
    * aggregation, so the k-NN sums and the margin's floor division
    * are pure integer math — order-independent, oracle-hashable.
    * margin_micro > 1e6 ⟺ the pair beats its neighborhoods' average;
    * the denominator clamps at 1 so degenerate all-negative
    * neighborhoods cannot flip the sign.
    *
    * Scale shape: the all-pairs scoring here is the DECLARED-EXACT
    * baseline (the measuring stick); the production path swaps the
    * pair generator for any ANN tier — the margin re-score is
    * candidate-source-agnostic, the same seam s44/s45 prove on the
    * MaxSim lane. Everything after scoring is id-keyed windows and
    * two metadata-per-id aggregates.
    *
    * Returns (src_id, tgt_id, cos_micro, margin_micro) — the mined
    * alignment. */
  def marginBitext(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int, minMarginMicro: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // respread the streamed (source) side before the n·m distance
    // pass — same starvation as bruteForceTopK: byte-small scan splits
    // cap the compute-dense cross join at 4 tasks (s46 profiled). The
    // broadcast hint pins the build side so the respread side is the
    // one that streams; this is the declared all-pairs baseline (the
    // ANN-candidate production path is marginBitextOn/s47)
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("s_vec"))
      .repartition(
        src.sparkSession.sessionState.conf.numShufflePartitions)
      .withColumn("s_norm", norm(col("s_vec")))
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("t_vec"))
      .withColumn("t_norm", norm(col("t_vec")))
    val scored = s.crossJoin(broadcast(t))
      .withColumn("q", round(
        dot(col("s_vec"), col("t_vec")) /
          (col("s_norm") * col("t_norm")) * 1e6).cast("long"))
      .select(col("src_id"), col("tgt_id"), col("q"))
      .persistTracked() // feeds both k-NN sums AND the margin rank
    val fwdW = Window.partitionBy(col("src_id"))
      .orderBy(col("q").desc, col("tgt_id").asc)
    val bwdW = Window.partitionBy(col("tgt_id"))
      .orderBy(col("q").desc, col("src_id").asc)
    val fsum = scored.withColumn("fr", row_number().over(fwdW))
      .filter(col("fr") <= k)
      .groupBy(col("src_id")).agg(sum(col("q")).as("fsum"))
    val bsum = scored.withColumn("br", row_number().over(bwdW))
      .filter(col("br") <= k)
      .groupBy(col("tgt_id")).agg(sum(col("q")).as("bsum"))
    val margins = scored
      .join(fsum, Seq("src_id")).join(bsum, Seq("tgt_id"))
      .withColumn("margin_micro", floor(
        col("q") * lit(2L * k) * lit(1000000L) /
          greatest(col("fsum") + col("bsum"), lit(1L))))
    val bestF = Window.partitionBy(col("src_id"))
      .orderBy(col("margin_micro").desc, col("tgt_id").asc)
    val bestB = Window.partitionBy(col("tgt_id"))
      .orderBy(col("margin_micro").desc, col("src_id").asc)
    margins.withColumn("rf", row_number().over(bestF))
      .withColumn("rb", row_number().over(bestB))
      .filter(col("rf") === 1 && col("rb") === 1 &&
        col("margin_micro") >= minMarginMicro)
      .select(col("src_id"), col("tgt_id"), col("q").as("cos_micro"),
        col("margin_micro"))
  }

  /** ANN-SOURCED margin bitext mining — [[marginBitext]]'s production
    * path (the CCMatrix deployment shape, Schwenk et al. 2021): the
    * pair generator is swapped for candidate lists retrieved by any
    * ANN tier, the same seam s45 proves on the MaxSim lane. `fwdCand`
    * = (src_id, tgt_id) candidates per SOURCE query (src served over
    * a target-side index), `bwdCand` the mirror; both neighborhood
    * sums and the mutual-best cut run over candidates ONLY — fsum(x)
    * estimates x's neighborhood density from its top-k retrieved
    * forward candidates (by micro-quantized cosine, tgt_id tie-break)
    * and bsum(y) symmetrically, exactly the paper's regime where the
    * k-NN sets come from the ANN retrieval itself.
    *
    * Scale shape: pair count is candK·(|src| + |tgt|), never
    * |src|·|tgt| — BASELINE.md §12 (s47) holds the receipt. Everything
    * downstream of candidate scoring is the exact-baseline's integer
    * math verbatim (micro-quantized cosines, floor-division margins),
    * so the candidate-restricted twin stays SQL-expressible and the
    * oracle proves the full composed plan. A pair whose tgt drew no
    * backward candidates at all has no bsum and drops at the inner
    * join (an un-retrievable target cannot certify a margin) — the
    * SQL twin's JOIN agrees. */
  def marginBitextOn(src: DataFrame, tgt: DataFrame,
      fwdCand: DataFrame, bwdCand: DataFrame, idCol: String,
      vecCol: String, k: Int, minMarginMicro: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("s_vec"))
      .withColumn("s_norm", norm(col("s_vec")))
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("t_vec"))
      .withColumn("t_norm", norm(col("t_vec")))
    // union the two candidate relations keeping per-direction flags:
    // a pair retrieved both ways scores once but feeds both sums
    val cand = fwdCand.select(col("src_id"), col("tgt_id"),
        lit(1).as("fw"), lit(0).as("bw"))
      .unionByName(bwdCand.select(col("src_id"), col("tgt_id"),
        lit(0).as("fw"), lit(1).as("bw")))
      .groupBy(col("src_id"), col("tgt_id"))
      .agg(max(col("fw")).as("fw"), max(col("bw")).as("bw"))
    val scored = cand.join(s, Seq("src_id")).join(t, Seq("tgt_id"))
      .withColumn("q", round(
        dot(col("s_vec"), col("t_vec")) /
          (col("s_norm") * col("t_norm")) * 1e6).cast("long"))
      .select(col("src_id"), col("tgt_id"), col("q"), col("fw"),
        col("bw"))
      .persistTracked() // feeds both k-NN sums AND the margin rank
    val fwdW = Window.partitionBy(col("src_id"))
      .orderBy(col("q").desc, col("tgt_id").asc)
    val bwdW = Window.partitionBy(col("tgt_id"))
      .orderBy(col("q").desc, col("src_id").asc)
    val fsum = scored.filter(col("fw") === 1)
      .withColumn("fr", row_number().over(fwdW))
      .filter(col("fr") <= k)
      .groupBy(col("src_id")).agg(sum(col("q")).as("fsum"))
    val bsum = scored.filter(col("bw") === 1)
      .withColumn("br", row_number().over(bwdW))
      .filter(col("br") <= k)
      .groupBy(col("tgt_id")).agg(sum(col("q")).as("bsum"))
    val margins = scored
      .join(fsum, Seq("src_id")).join(bsum, Seq("tgt_id"))
      .withColumn("margin_micro", floor(
        col("q") * lit(2L * k) * lit(1000000L) /
          greatest(col("fsum") + col("bsum"), lit(1L))))
    val bestF = Window.partitionBy(col("src_id"))
      .orderBy(col("margin_micro").desc, col("tgt_id").asc)
    val bestB = Window.partitionBy(col("tgt_id"))
      .orderBy(col("margin_micro").desc, col("src_id").asc)
    margins.withColumn("rf", row_number().over(bestF))
      .withColumn("rb", row_number().over(bestB))
      .filter(col("rf") === 1 && col("rb") === 1 &&
        col("margin_micro") >= minMarginMicro)
      .select(col("src_id"), col("tgt_id"), col("q").as("cos_micro"),
        col("margin_micro"))
  }
}
