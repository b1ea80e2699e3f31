package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.InternalCaches.TrackedPersist
import graft.Tables

/** Block-partitioned inverted index — the token → posting-list
  * structure exact-phrase search, contamination probes (t7/t10's
  * grams) and TF-based scoring all stand on. Postings are grouped
  * into DOC-RANGE BLOCKS (`block = doc_id div blockSize`), which is
  * what makes the build scale: a stopword's posting list is corpus-
  * sized, but its (token, block) cells each hold at most `blockSize`
  * documents' occurrences, so no single reducer ever materializes a
  * full hot posting list — the same bounded-cell discipline as the
  * banded-LSH joins. Readers reassemble a list by scanning the
  * token's blocks in order; block boundaries double as skip pointers
  * (the classic skip-list layout, doc-id-ordered by construction).
  *
  * Everything is engine-pure: postings sort by (doc_id, pos) — a
  * total order — and serialize as `doc:pos` strings, so the whole
  * index is DuckDB-oracle-checkable by fingerprint.
  */
object InvertedIndex {

  /** The (tok, block, payload, n) posting-block relation: payload =
    * comma-joined `doc_id:pos` pairs in (doc_id, pos) order. One
    * explode + one (tok, block)-keyed aggregate — map-side combine
    * applies, shuffle rows are bounded by blockSize docs per cell. */
  def postingBlocks(docs: DataFrame, idCol: Column, textCol: Column,
      blockSize: Int = 64): DataFrame = {
    require(blockSize > 0, s"blockSize=$blockSize")
    val occ = docs.select(idCol.as("doc_id"),
      posexplode(TextAnalysis.tokens(textCol)).as(Seq("pos", "tok")))
    occ
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .groupBy(col("tok"), col("block"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"))))
        .as("ps"))
      .select(col("tok"), col("block"),
        array_join(transform(col("ps"),
          p => concat_ws(":", p("doc_id"), p("pos"))), ",").as("payload"),
        size(col("ps")).cast("long").as("n"))
  }

  /** Per-token index census — the t24 receipt: document frequency,
    * collection frequency, block count, and the summed md5-u32
    * fingerprint of every block payload (order-independent sum, so
    * the hash match proves every posting in every block). */
  def indexCensus(docs: DataFrame, idCol: Column, textCol: Column,
      blockSize: Int = 64, seed: Int = 13): DataFrame = {
    val blocks = postingBlocks(docs, idCol, textCol, blockSize)
    val stats = docs.select(idCol.as("doc_id"),
        explode(TextAnalysis.tokens(textCol)).as("tok"))
      .groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cf"))
    blocks.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(Tables.hashU32(col("payload"), seed)).as("postings_fp"))
      .join(stats, Seq("tok"))
      .select(col("tok"), col("df"), col("cf"), col("n_blocks"),
        col("postings_fp"))
  }

  /** Impact-ordered BM25 index: quantized per-(term, doc) impacts laid
    * out in the t24 doc-range blocks, plus the per-(term, block) MAX
    * impact — the block-max metadata WAND/BMW pruning reads instead of
    * the postings themselves.
    *
    * `impacts`  — (token, block, doc_id, contrib6): the FULL BM25
    *              contribution of term→doc, precomputed at build time
    *              with the t26 integer-micro-nat discipline (so query
    *              scoring is a pure lookup + BIGINT sum — the real-world
    *              impact-quantized index layout).
    * `blockMax` — (token, block, ub6): max impact within the block.
    *
    * The load-bearing property of DOC-RANGE blocks (`block = doc_id div
    * blockSize`): every term's postings for a given doc share ONE block
    * id, so (a) Σ_t blockMax(t, b) upper-bounds ANY doc score in block
    * b across the whole query, and (b) reading block b yields COMPLETE
    * exact scores for its docs — none of the partial-score hazard
    * term-at-a-time pruning has to fight. */
  final case class Bm25Index(impacts: DataFrame, blockMax: DataFrame)

  /** Build the impact-ordered index. One corpus tokenize; tf persisted
    * for its three consumers (dl, df, impacts), impacts persisted for
    * the seed-scoring and final-scoring probes. */
  def buildBm25Index(docs: DataFrame, idCol: Column, textCol: Column,
      blockSize: Int = 64, k1: Double = 1.2, b: Double = 0.75)
      : Bm25Index = {
    require(blockSize > 0, s"blockSize=$blockSize")
    // the bm25FromTf discipline (see TextAnalysis): ONE explicit
    // hash(doc_id) exchange — persisted so AQE's per-consumer query
    // stages share a single materialization — clusters dl's groupBy,
    // the tf⋈dl join, AND (doc_id ⊆ {query_id, doc_id}) both
    // scoreBlocks aggregations downstream, so none of them plans
    // another exchange (the final score aggs previously landed on one
    // AQE-coalesced task, ~0.7 s each on t30/t43)
    val nPart =
      docs.sparkSession.sessionState.conf.numShufflePartitions
    val tf = docs.select(idCol.as("doc_id"),
        explode(TextAnalysis.tokens(textCol)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .repartition(nPart, col("doc_id"))
      .persistTracked()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val tots = dl.agg(count(lit(1)).cast("double").as("n"),
      sum(col("dl")).cast("double").as("tot"))
    val idf6 = dfq.crossJoin(broadcast(tots))
      .withColumn("idf6", round(log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        * lit(1e6)).cast("long"))
      .select(col("token"), col("idf6"), col("n"), col("tot"))
    val impacts = tf
      .join(dl, Seq("doc_id"))
      .join(broadcast(idf6), Seq("token"))
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .withColumn("contrib6", round(col("idf6") *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") * col("n") / col("tot")))).cast("long"))
      .select(col("token"), col("block"), col("doc_id"), col("contrib6"))
      .persistTracked()
    val blockMax = impacts.groupBy(col("token"), col("block"))
      .agg(max(col("contrib6")).as("ub6"))
    Bm25Index(impacts, blockMax)
  }

  /** Exact scores for a (query_id, block) read set: pull every query
    * term's impacts in the selected blocks, sum per doc. Because blocks
    * are doc ranges, the per-doc sum inside a read block is the doc's
    * COMPLETE score — exact by construction. */
  private def scoreBlocks(sel: DataFrame, qterms: DataFrame,
      impacts: DataFrame): DataFrame =
    // NO broadcast hint on the read set: at serve |Q| it is tiny and
    // the planner broadcasts it anyway, but at batch |Q| (t30, 500
    // whole-document queries) sel⋈qterms is |readSet(q)|·|terms(q)|
    // rows — forcing it into a broadcast hash build was measured as a
    // 41 s-CPU scoring stage (round-14 profile); let size estimates
    // pick the build side
    sel.join(qterms, Seq("query_id"))
      .join(impacts, Seq("token", "block"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib6")).as("score6"))

  /** BM25 top-k SERVED FROM THE INDEX with block-max WAND pruning —
    * the retrieval-shaped twin of [[TextAnalysis.bm25TopK]] (which
    * rescans + reshuffles the corpus per query batch; right for
    * one-shot batch scoring, wrong for the repeated-query workload an
    * index exists for). Provably identical output:
    *
    *  1. UB pass (metadata only): ub(q, b) = Σ_{t∈T(q)} blockMax(t, b)
    *     over the query's terms — an upper bound on any doc score in b.
    *  2. Seed: exactly score the `seedBlocks` highest-UB blocks per
    *     query; θ_q = the k-th best seed score (a LOWER bound on the
    *     true k-th best, since adding docs only raises the k-th best).
    *  3. Prune: skip every block with ub < θ_q — its docs score
    *     ≤ ub < θ_q ≤ true k-th score, so they cannot enter the top-k
    *     even via the doc_id tiebreak (strictly lower score). Blocks
    *     with ub ≥ θ_q are read and scored exactly; queries whose seed
    *     produced < k docs take θ = −∞ (read everything — the t26
    *     plan, so degenerate queries stay exact too).
    *
    * Scale shape: the corpus is touched once at index build; per query
    * batch the plan joins query terms against BLOCK METADATA (rows =
    * Σ_t n_blocks(t), not postings), then probes only the read-set
    * blocks of the impact relation — work proportional to the
    * shortlist, not the corpus. All joins are equi-joins on
    * (token, block) / query_id; θ is a one-row-per-query relation,
    * broadcast into the prune filter. */
  def bm25FromIndex(docs: DataFrame, idCol: Column, textCol: Column,
      isQuery: Column, k: Int = 5, blockSize: Int = 64,
      seedBlocks: Int = 4, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val (topk, _) = bm25WandCore(docs, idCol, textCol, isQuery, k,
      blockSize, seedBlocks, k1, b)
    topk
  }

  /** The WAND pruning receipt: per query, how many candidate blocks
    * the query's terms touch (blocks_total), how many the θ bound let
    * it READ (blocks_read) and skip (blocks_skipped) — the proof the
    * upper bound actually prunes. Grows with the shortlist, not the
    * corpus (BASELINE.md §7, t30 row, records the curve). */
  def bm25WandReceipts(docs: DataFrame, idCol: Column, textCol: Column,
      isQuery: Column, k: Int = 5, blockSize: Int = 64,
      seedBlocks: Int = 4, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val (_, receipts) = bm25WandCore(docs, idCol, textCol, isQuery, k,
      blockSize, seedBlocks, k1, b)
    receipts
  }

  /** The pruning core — MaxScore essential terms × block-max WAND,
    * both driven by the same θ, both provably lossless:
    *
    *  - θ (a lower bound on the true k-th best score) comes from
    *    exactly scoring the `seedBlocks` highest-UB blocks per query.
    *  - MAXSCORE (term-level, the long-query pruner): sort the query's
    *    terms by global max impact ascending; the maximal prefix whose
    *    impacts sum < θ is NON-ESSENTIAL — a doc containing only those
    *    terms scores strictly below θ, so candidates are generated
    *    from the remaining (essential) terms' postings alone. This is
    *    what bites on whole-document queries, where dozens of low-idf
    *    terms carry most of the summed block-max bound but no doc can
    *    collect them all.
    *  - BMW (block-level): among candidate blocks, skip any with
    *    Σ_t blockMax(t, b) < θ — every doc there is bounded below θ.
    *
    * Every surviving block is scored COMPLETELY (doc-range blocks ⇒
    * complete scores), so any doc with score ≥ θ — in particular the
    * whole true top-k — is scored exactly; pruned docs score < θ
    * strictly and cannot displace even via the doc_id tiebreak. */
  private def bm25WandCore(docs: DataFrame, idCol: Column,
      textCol: Column, isQuery: Column, k: Int, blockSize: Int,
      seedBlocks: Int, k1: Double, b: Double)
      : (DataFrame, DataFrame) = {
    require(k > 0, s"k=$k")
    require(seedBlocks > 0, s"seedBlocks=$seedBlocks")
    val idx = buildBm25Index(docs, idCol, textCol, blockSize, k1, b)
    val termMax = idx.blockMax.groupBy(col("token"))
      .agg(max(col("ub6")).as("gmax6"))
    val qterms = docs.filter(isQuery)
      .select(idCol.as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(textCol)))
          .as("token"))
      .persistTracked() // UB pass, essential-term pass, scoring probes
    // per-(query, block) upper bound from block-max metadata alone
    val ub = idx.blockMax.join(qterms, Seq("token"))
      .groupBy(col("query_id"), col("block"))
      .agg(sum(col("ub6")).as("ub"))
      .persistTracked() // seed selection + prune filter + receipts
    val seed = Events.topKPerGroup(ub, Seq(col("query_id")),
        Seq(col("ub").desc, col("block").asc), seedBlocks)
      .select(col("query_id"), col("block"))
    val theta = Events.topKPerGroup(
        scoreBlocks(seed, qterms, idx.impacts), Seq(col("query_id")),
        Seq(col("score6").desc, col("doc_id").asc), k)
      .filter(col("rank") === k)
      .select(col("query_id"), col("score6").as("theta"))
    // MaxScore: ascending-gmax running sum per query; a term is
    // essential iff the cumulative sum through it reaches θ (the
    // strict-prefix below θ is exactly the maximal ignorable set)
    val wCum = Window.partitionBy(col("query_id"))
      .orderBy(col("gmax6").asc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val essential = qterms.join(termMax, Seq("token"))
      .join(broadcast(theta), Seq("query_id"), "left")
      .withColumn("cum", sum(col("gmax6")).over(wCum))
      .filter(col("theta").isNull || col("cum") >= col("theta"))
      .select(col("query_id"), col("token"))
    // candidate blocks: blocks holding ≥1 essential-term posting —
    // block METADATA suffices (which (token, block) cells exist), no
    // posting payloads are touched to build the read set
    val candBlocks = idx.blockMax.join(essential, Seq("token"))
      .select(col("query_id"), col("block")).distinct()
    val readSet = candBlocks.join(ub, Seq("query_id", "block"))
      .join(broadcast(theta), Seq("query_id"), "left")
      .filter(col("theta").isNull || col("ub") >= col("theta"))
      .select(col("query_id"), col("block"))
      .persistTracked() // final scoring + receipts
    val topk = Events.topKPerGroup(
        scoreBlocks(readSet, qterms, idx.impacts), Seq(col("query_id")),
        Seq(col("score6").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score6"))
    val receipts = ub.groupBy(col("query_id"))
      .agg(count(lit(1)).as("blocks_total"))
      .join(readSet.groupBy(col("query_id"))
        .agg(count(lit(1)).as("blocks_read")), Seq("query_id"))
      .select(col("query_id"), col("blocks_total"), col("blocks_read"),
        (col("blocks_total") - col("blocks_read")).as("blocks_skipped"))
    (topk, receipts)
  }

  // ——— t36: incremental index maintenance (segment model) ———————————
  // The Lucene/Delta discipline applied to the t24 posting blocks: a
  // new document batch builds ITS OWN segment of block-partitioned
  // postings (touching only the batch's docs — the incremental
  // property p10 gives the corpus but the retrieval index lacked);
  // every `every` segments a COMPACTION merges the prefix into one
  // segment (the q102 checkpoint discipline applied to postings); a
  // reader at the tip loads the newest compaction plus the suffix
  // segments only — segments_loaded is the O(1)+suffix receipt.
  // Search is served from the reassembled postings through the SAME
  // scoring as t26 (TextAnalysis.bm25FromTf), and is hash-equal to a
  // full rebuild because (a) batches PARTITION docs, so every
  // (doc, token) tf lives wholly inside one segment, and (b)
  // compaction is a multiset-preserving re-aggregation of postings —
  // the union [compacted prefix] ∪ [suffix segments] carries exactly
  // the rebuild's postings.

  /** Per-segment posting blocks, one pass: key the t24 aggregate by
    * (seg, tok, block) with seg = doc_id mod nBatches. Because seg is
    * a function of doc_id, each (seg, tok, block) cell's content is
    * IDENTICAL to building that batch alone — one corpus scan stands
    * in for nBatches incremental builds (each of which would only
    * aggregate its own batch's docs at ingest time). */
  def segmentedPostings(docs: DataFrame, idCol: Column, textCol: Column,
      nBatches: Int, blockSize: Int = 64): DataFrame = {
    require(nBatches > 0 && blockSize > 0,
      s"nBatches=$nBatches blockSize=$blockSize")
    docs.select(idCol.as("doc_id"),
        posexplode(TextAnalysis.tokens(textCol)).as(Seq("pos", "tok")))
      .withColumn("seg", col("doc_id") % nBatches)
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .groupBy(col("seg"), col("tok"), col("block"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"))))
        .as("ps"))
      .select(col("seg"), col("tok"), col("block"),
        array_join(transform(col("ps"),
          p => concat_ws(":", p("doc_id"), p("pos"))), ",")
          .as("payload"),
        size(col("ps")).cast("long").as("n"))
  }

  /** Compaction: merge segments 0..upTo into ONE segment — explode
    * the payloads back to (doc_id, pos) postings and re-run the t24
    * cell aggregate. The (doc_id, pos) sort is a total order, so a
    * compacted cell is STRING-IDENTICAL to the cell a from-scratch
    * build of those batches would produce (spec-proven by payload
    * fingerprint). Work ∝ the compacted segments' postings; at scale
    * this is the background merge that bounds the reader's
    * segment count, exactly Lucene's tiered merge. */
  def compactSegments(segs: DataFrame, upTo: Int): DataFrame =
    segs.filter(col("seg") <= upTo)
      .select(col("tok"), col("block"),
        explode(split(col("payload"), ",")).as("dp"))
      .select(col("tok"), col("block"),
        split(col("dp"), ":").getItem(0).cast("long").as("doc_id"),
        split(col("dp"), ":").getItem(1).cast("int").as("pos"))
      .groupBy(col("tok"), col("block"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"))))
        .as("ps"))
      .select(lit(upTo.toLong).as("seg"), col("tok"), col("block"),
        array_join(transform(col("ps"),
          p => concat_ws(":", p("doc_id"), p("pos"))), ",")
          .as("payload"),
        size(col("ps")).cast("long").as("n"))

  /** The newest compaction boundary at or below `tip` under a
    * compact-every-`every`-segments policy (segments 0-indexed): the
    * largest c with (c+1) % every == 0, or -1 when none exists. */
  def newestCompaction(tip: Int, every: Int): Int =
    ((tip + 1) / every) * every - 1

  /** The full t36 composition: build per-batch segments, compact at
    * the newest policy boundary, read compaction + suffix, serve the
    * t26-shaped BM25 from the reassembled postings. Output carries
    * the resolution receipt (ckpt_seg, segments_loaded) on every row
    * — the oracle pins both, q102-style.
    *
    * Internal representation (r13 optimization): the segments carry
    * their postings as the SORTED (doc_id, pos) struct array, not the
    * serialized `doc:pos` payload string — the string form existed
    * only to be regex-split right back apart by compaction and by the
    * tf reassembly (two parse passes over every posting, the
    * serialize-then-parse round trip guide §2.3 warns about). The
    * struct form is positionally identical (same sort order, same
    * multiset), so compaction = flatten + array_sort and tf = explode
    * + count produce byte-identical downstream relations — the
    * public [[segmentedPostings]]/[[compactSegments]] string layout
    * (spec-pinned) is unchanged for direct consumers. */
  def segmentServedBm25(docs: DataFrame, idCol: Column,
      textCol: Column, isQuery: Column, nBatches: Int, every: Int,
      k: Int = 5, blockSize: Int = 64): DataFrame = {
    require(every > 0, s"every=$every")
    val tip = nBatches - 1
    val segs = docs.select(idCol.as("doc_id"),
        posexplode(TextAnalysis.tokens(textCol)).as(Seq("pos", "tok")))
      .withColumn("seg", col("doc_id") % nBatches)
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .groupBy(col("seg"), col("tok"), col("block"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"))))
        .as("ps"))
      .persistTracked() // compaction + suffix reads
    val ckpt = newestCompaction(tip, every)
    val loaded =
      if (ckpt < 0) segs
      else segs.filter(col("seg") <= ckpt)
        .groupBy(col("tok"), col("block"))
        // per-segment arrays are sorted; the compacted cell is their
        // sorted merge — identical to compactSegments' re-aggregate
        .agg(array_sort(flatten(collect_list(col("ps")))).as("ps"))
        .select(lit(ckpt.toLong).as("seg"), col("tok"), col("block"),
          col("ps"))
        .unionByName(segs.filter(col("seg") > ckpt))
    val segmentsLoaded = if (ckpt < 0) tip + 1 else 1 + (tip - ckpt)
    val qterms = docs.filter(isQuery)
      .select(idCol.as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(textCol)))
          .as("token"))
    // tf reassembly straight off the struct postings (one explode,
    // no string parse); blocks are doc ranges, so every (doc, token)
    // tf lives wholly inside one cell — the count is complete
    val tf = loaded
      .select(col("tok").as("token"), explode(col("ps")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // no persist: bm25FromTf's doc_id repartition is the shared
    // materialization point for its three internal consumers
    TextAnalysis.bm25FromTf(tf, qterms, k)
      .withColumn("ckpt_seg", lit(ckpt.toLong))
      .withColumn("segments_loaded", lit(segmentsLoaded.toLong))
  }

  /** Exact-phrase occurrence count from the index alone (no rescan of
    * the corpus): adjacent-position self-joins of the query terms'
    * postings — the operation the positional index exists for. The
    * query is a handful of terms, so each join's probe side is one
    * token's postings; block alignment keeps the join keyed. */
  def phraseCount(blocks: DataFrame, phrase: Seq[String],
      blockSize: Int = 64): Long = {
    require(phrase.nonEmpty, "empty phrase")
    val perTerm = phrase.zipWithIndex.map { case (t, i) =>
      blocks.filter(col("tok") === t)
        .select(explode(split(col("payload"), ",")).as("dp"))
        .select(
          split(col("dp"), ":").getItem(0).cast("long").as("doc_id"),
          (split(col("dp"), ":").getItem(1).cast("long") - i).as("base"))
    }
    perTerm.reduce(_.join(_, Seq("doc_id", "base"))).count()
  }
}
