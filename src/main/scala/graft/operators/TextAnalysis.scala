package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.InternalCaches.TrackedPersist

/** Text-analysis operators for the LLM-data-pipeline extension surface
  * (north star in BASELINE.json; SURVEY.md §7 M7c): tokenization, token
  * counting, quality scoring, language ID (stopword-hit heuristic),
  * document fingerprinting, and tf-idf. Everything is built from
  * codegen'd `org.apache.spark.sql.functions` (no UDFs), stays fully
  * distributed (per-row or groupBy — no driver collects), and is
  * deterministic so the DuckDB oracle can hash-match it.
  */
object TextAnalysis {

  /** Whitespace tokenization with empty-token filtering — the
    * "whitespace + regex" tokenizer. Lowercases first. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** BPE-ish subword count approximation: whitespace tokens plus an
    * extra unit per 4 chars of long tokens (a cheap proxy for merges —
    * deterministic and SQL-expressible). */
  def tokenCountBpeIsh(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L),
      (acc, t) => acc + greatest(lit(1L), ceil(length(t) / 4.0).cast("long")))
  }

  /** Word n-gram shingles from an already-materialized token-array
    * COLUMN (not an expression): referencing a token *expression* here
    * would be inlined into the transform lambda by Catalyst and
    * re-evaluated per shingle position — O(tokens²) re-tokenization per
    * document (measured 10× slowdown). Callers must first project
    * `tokens(text)` to a named column (see [[explodedShingles]]). */
  def shinglesOf(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(toks, i + j)): _*)))

  /** Convenience composition — carries the O(tokens²) re-tokenization
    * caveat above (the tokens expression is inlined into the lambda), so
    * use only on short texts / small frames; operators go through
    * [[explodedShingles]] / [[shinglesOf]]. */
  def shingles(text: Column, n: Int): Column = shinglesOf(tokens(text), n)

  /** The (id, shingle) relation every shingle-based operator starts
    * from: tokenize once per row, then explode the n-grams. */
  def explodedShingles(docs: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column, n: Int): org.apache.spark.sql.DataFrame =
    docs.select(idCol.as("doc_id"), tokens(textCol).as("toks"))
      .select(col("doc_id"), explode(shinglesOf(col("toks"), n)).as("shingle"))

  /** Character n-gram shingles over the normalized text (for
    * fingerprinting / near-dup). */
  def charShingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    when(length(norm) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(norm) - (n - 1)),
        i => norm.substr(i, lit(n))))
  }

  val StopwordsEn: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  /** Fraction of tokens that are stopwords (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = StopwordsEn): Column = {
    val toks = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(sw, t)))
        .cast("double") / size(toks))
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, a sane
    * mean word length, and some stopword presence. Deterministic,
    * SQL-expressible (mirrors C4/Gopher-style length+ratio rules). */
  def qualityScore(text: Column): Column = {
    val nTok = size(tokens(text)).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val mwl = meanTokenLen(text)
    val wordScore = when(mwl >= 3.0 && mwl <= 10.0, 1.0).otherwise(0.5)
    val swScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    round((lenScore * 0.5 + wordScore * 0.3 + swScore * 0.2), 6)
  }

  /** Per-language marker words for the stopword-hit language heuristic.
    * Tiny on purpose: the operator shape (explode → hit-count → argmax)
    * is what scales, the dictionaries are pluggable. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** Language-ID by marker-token hits: for each candidate language count
    * matching tokens, pick the argmax (ties → lexicographically first
    * language; no hits anywhere → "und" = undetermined).
    * Returns df with `predOut` appended. Fully relational: explode the
    * marker table, join on token, count, rank — no driver state. */
  def withLangId(df: DataFrame, textCol: Column, idCol: Column,
      predOut: String = "pred_lang"): DataFrame = {
    val spark = df.sparkSession
    val markers = spark.createDataFrame(
      LangMarkers.flatMap { case (l, ws) => ws.map(w => (l, w)) })
      .toDF("cand_lang", "marker")
    val toks = df.select(idCol.as("__id"), explode(tokens(textCol)).as("tok"))
    val hits = toks.join(broadcast(markers), col("tok") === col("marker"))
      .groupBy(col("__id"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("hits").desc, col("cand_lang").asc)
    val best = hits.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("__id"), col("cand_lang").as(predOut))
    df.join(best, df(idCol.toString) === best("__id"), "left")
      .drop("__id")
      .withColumn(predOut, coalesce(col(predOut), lit("und")))
  }

  /** PII patterns, restricted to syntax whose semantics agree between
    * Java regex and DuckDB's RE2 (no lookaround, no backrefs): emails,
    * dotted-quad IPs, US-style phone numbers. Pluggable — the operator
    * shape (N sequential global replaces, codegen'd regexp_replace) is
    * what matters at scale, not the dictionary. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}-\\d{3}-\\d{4}\\b")

  /** Count of matches of one PII pattern in the text. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Redact every PII pattern (global replace, applied in [[PiiPatterns]]
    * order — emails first so their dotted domains aren't half-eaten by
    * the IP rule). Pure per-row string work: codegen'd, no shuffle, no
    * UDF — scales embarrassingly. */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (kind, re)) =>
      regexp_replace(acc, re, s"<${kind.toUpperCase}>")
    }

  /** Per-doc repetition metrics (Gopher-style quality rules): total and
    * distinct token counts, the most-frequent token's share, and the
    * repeated-token fraction (1 − distinct/total). Relational explode →
    * two-level aggregate: both groupBys are map-side combinable, and the
    * shuffle key is (doc, token) then doc — no skew beyond document
    * size. Returns (doc_id, n_tokens, n_distinct, top_frac, rep_frac). */
  def repetitionStats(docs: DataFrame, idCol: Column, textCol: Column)
      : DataFrame = {
    val tok = docs.select(idCol.as("doc_id"),
      explode(tokens(textCol)).as("tok"))
    tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("top_c").cast("double") / col("n_tokens"), 6)
          .as("top_frac"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_tokens"), 6).as("rep_frac"))
  }

  /** Benchmark-contamination check: for each corpus doc, the number of
    * distinct word n-grams it shares with ANY benchmark doc, and that
    * count as a fraction of the doc's own distinct n-grams. The join is
    * shingle-equality against the (small) benchmark shingle set —
    * broadcast at realistic benchmark sizes, so the corpus side never
    * shuffles; candidates-only, never all-pairs. Docs that ARE in the
    * benchmark are excluded from the report. */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: Column,
      textCol: Column, n: Int): DataFrame = {
    val docSh = explodedShingles(docs, idCol, textCol, n).distinct()
    val benchSh = explodedShingles(bench, idCol, textCol, n)
      .select(col("doc_id").as("bench_id"), col("shingle")).distinct()
    val benchSet = benchSh.select("shingle").distinct()
    val benchIds = bench.select(idCol.as("bench_id"))
    // benchmark sets are small by nature → broadcast; the corpus-side
    // shingle relation never shuffles for the membership probe
    val shared = docSh.join(broadcast(benchSet), "shingle")
    val totals = docSh.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    shared.groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .join(totals, "doc_id")
      .join(benchIds, col("doc_id") === col("bench_id"), "left_anti")
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** t41: contamination ATTRIBUTION — [[contamination]] reports how
    * much of a doc's shingle set the benchmark union reaches; a
    * release needs WHICH eval set. For every contaminated corpus doc
    * (≥ 1 shared shingle), the benchmark doc with the LARGEST
    * distinct-shingle overlap (deterministic tiebreak: lowest bench
    * id), the overlap size, and its fraction of the doc's own
    * distinct shingles. Same broadcast shingle probe as t7 with the
    * bench id carried through: the pair relation is bounded by
    * actually-shared shingles (candidates only, never corpus ×
    * benchmark), the argmax is one per-doc window over it, and the
    * corpus side still never shuffles for the probe. */
  def contaminationAttribution(docs: DataFrame, bench: DataFrame,
      idCol: Column, textCol: Column, n: Int): DataFrame = {
    val docSh = explodedShingles(docs, idCol, textCol, n).distinct()
    val benchSh = explodedShingles(bench, idCol, textCol, n)
      .select(col("doc_id").as("bench_id"), col("shingle")).distinct()
    val benchIds = bench.select(idCol.as("bid"))
    val pairs = docSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
    val totals = docSh.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_overlap").desc, col("bench_id").asc)
    pairs.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .join(totals, "doc_id")
      .join(benchIds, col("doc_id") === col("bid"), "left_anti")
      .select(col("doc_id"), col("bench_id"), col("n_overlap"),
        col("n_shingles"),
        round(col("n_overlap").cast("double") / col("n_shingles"), 6)
          .as("overlap_frac"))
  }

  /** t45: span-level contamination LOCALIZATION — t41 names the
    * culprit benchmark doc; a release review quotes the overlapping
    * PASSAGE. For every (corpus doc, benchmark doc) pair sharing at
    * least one word n-gram, the matched shingle start positions are
    * merged into maximal spans (gaps-and-islands per pair: a new span
    * starts when the next hit begins past the previous window's end),
    * each reported with token bounds, char offsets, and the excerpt
    * text itself. Offsets index the whitespace-canonical token stream
    * (the same " "-joined stream d13's survivor hash is over) — the
    * deterministic referent both engines can compute exactly, robust
    * to the original text's whitespace variation.
    *
    * Scale shape: the probe is t7's broadcast shingle join with
    * positions carried (the corpus side still never shuffles for it);
    * the island merge is one window per (doc, bench) pair over
    * HIT rows only — bounded by actually-shared shingles, never by
    * corpus size. Returns (doc_id, bench_id, span_idx, tok_start,
    * tok_end, char_start, char_end, excerpt); end bounds exclusive. */
  def contaminationSpans(docs: DataFrame, bench: DataFrame,
      idCol: Column, textCol: Column, n: Int): DataFrame = {
    val t = docs.select(idCol.as("doc_id"), tokens(textCol).as("w"))
      .persistTracked() // positional shingles + char-offset attach
    // positional n-gram starts (0-based), d13's gram construction
    val g = t.select(col("doc_id"), posexplode(
        when(size(col("w")) >= n,
          transform(sequence(lit(0), size(col("w")) - n),
            i => array_join(slice(col("w"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "gram")))
    val benchSh = explodedShingles(bench, idCol, textCol, n)
      .select(col("doc_id").as("bench_id"), col("shingle").as("gram"))
      .distinct()
    val benchIds = bench.select(idCol.as("bid"))
    val hits = g.join(broadcast(benchSh), "gram")
      .join(benchIds, col("doc_id") === col("bid"), "left_anti")
      .select(col("doc_id"), col("bench_id"), col("pos"))
    // islands: hits at pos and prev merge when pos <= prev + n
    // (overlapping or exactly adjacent windows form one passage)
    val wOrd = Window.partitionBy(col("doc_id"), col("bench_id"))
      .orderBy(col("pos"))
    val spans = hits
      .withColumn("prev", lag(col("pos"), 1).over(wOrd))
      .withColumn("ns", when(col("prev").isNull ||
        col("pos") > col("prev") + n, 1L).otherwise(0L))
      .withColumn("span_idx", sum(col("ns")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("bench_id"), col("span_idx"))
      .agg(min(col("pos")).as("ts"), (max(col("pos")) + n).as("te"))
    spans.join(t, "doc_id")
      .withColumn("excerpt",
        array_join(slice(col("w"), col("ts") + 1, col("te") - col("ts")),
          " "))
      .withColumn("char_start",
        (aggregate(slice(col("w"), lit(1), col("ts")), lit(0L),
          (a, x) => a + length(x)) + col("ts")).cast("long"))
      .select(col("doc_id"), col("bench_id"), col("span_idx"),
        col("ts").cast("long").as("tok_start"),
        col("te").cast("long").as("tok_end"),
        col("char_start"),
        (col("char_start") + length(col("excerpt"))).as("char_end"),
        col("excerpt"))
  }

  /** t46: contamination EXCISION — the removal half of the family
    * (t7 detects, t41 attributes, t45 localizes, this excises): every
    * token covered by a benchmark-matched n-gram window is removed,
    * the document's surviving text is its tokens minus the union of
    * matched spans — the d13 (ExactSubstr) excision with the dup test
    * swapped for benchmark membership. The right decontamination when
    * documents are long and only a passage leaks: dropping whole docs
    * (p9's decontam tier) throws away clean text with the leak.
    * Benchmark docs are excluded from the output (t7's convention —
    * they would otherwise be fully excised noise rows). Emits the
    * d13-shaped receipt (doc_id, n_tokens, n_removed, surv_fp) with
    * surv_fp hashing the exact surviving token stream.
    *
    * Scale shape: the probe is the broadcast benchmark shingle set
    * (the corpus side never shuffles for it); the only other shuffle
    * is the per-doc position collect, bounded by matched positions.
    * Single-pass caveat (d13's): excision can make previously-
    * separated tokens adjacent, so new cross-gap n-grams can appear —
    * iterate to a fixpoint if the policy demands it, each pass is
    * this same operator. */
  def exciseContaminatedSpans(docs: DataFrame, bench: DataFrame,
      idCol: Column, textCol: Column, n: Int): DataFrame = {
    val benchSh = explodedShingles(bench, idCol, textCol, n)
      .select(col("shingle").as("gram")).distinct()
    val benchIds = bench.select(idCol.as("bid"))
    val t0 = docs.select(idCol.as("doc_id"), tokens(textCol).as("w"))
      .join(benchIds, col("doc_id") === col("bid"), "left_anti")
    t0.select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"))
      .join(excisePass(t0, benchSh, n), "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("removed").as("n_removed"),
        graft.Tables.hashU32(array_join(col("w"), " "), 13)
          .as("surv_fp"))
  }

  /** One excision pass over a (doc_id, w) token-array relation:
    * tokens covered by a benchmark-matched n-gram window leave the
    * array. Returns (doc_id, w, removed) with `w` the survivors —
    * [[exciseContaminatedSpans]]' core, factored so the fixpoint
    * variant can chain passes. `benchSh` is the benchmark's distinct
    * shingle set as a `gram` column. */
  private def excisePass(t: DataFrame, benchSh: DataFrame,
      n: Int): DataFrame = {
    val g = t.select(col("doc_id"), posexplode(
        when(size(col("w")) >= n,
          transform(sequence(lit(0), size(col("w")) - n),
            i => array_join(slice(col("w"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "gram")))
    val starts = g.join(broadcast(benchSh), "gram")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("pos"))).as("starts"))
    t.join(starts, Seq("doc_id"), "left_outer")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("mask",
        when(size(col("w")) > 0,
          transform(sequence(lit(0), size(col("w")) - 1),
            p => exists(col("starts"), s => s <= p && p < s + n)))
          .otherwise(array().cast("array<boolean>")))
      .select(col("doc_id"),
        filter(zip_with(col("w"), col("mask"),
          (tok, m) => when(m, lit(null)).otherwise(tok)),
          x => x.isNotNull).as("w"),
        size(filter(col("mask"), m => m)).cast("long").as("removed"))
  }

  /** t47: excision to a (bounded) FIXPOINT — [[exciseContaminatedSpans]]
    * run for `passes` rounds, because a single pass can itself create
    * new matched n-grams (removing a span makes its neighbors
    * adjacent, and the re-joined tokens may spell a benchmark
    * shingle). Two passes close the overwhelming majority of corpora;
    * the `residual` column counts benchmark-matched grams STILL
    * present after the last pass, so non-convergence is visible in
    * the receipt rather than silent. Emits (doc_id, n_tokens,
    * removed_p1, removed_p2, residual, surv_fp). Per pass the cost is
    * one broadcast shingle probe + one per-doc position collect, and
    * pass p's input is pass p−1's survivors — strictly shrinking. */
  def exciseContaminatedFixpoint(docs: DataFrame, bench: DataFrame,
      idCol: Column, textCol: Column, n: Int): DataFrame = {
    val benchSh = explodedShingles(bench, idCol, textCol, n)
      .select(col("shingle").as("gram")).distinct()
      .persistTracked() // probed by both passes + the residual count
    val benchIds = bench.select(idCol.as("bid"))
    val t0 = docs.select(idCol.as("doc_id"), tokens(textCol).as("w"))
      .join(benchIds, col("doc_id") === col("bid"), "left_anti")
      .select(col("doc_id"), col("w"))
    val n0 = t0.select(col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"))
    val p1 = excisePass(t0, benchSh, n)
      .persistTracked() // feeds pass 2 + the p1 column
    val p2 = excisePass(p1.select(col("doc_id"), col("w")), benchSh, n)
      .persistTracked() // residual probe + final projection
    val residual = p2
      .select(col("doc_id"), posexplode(
          when(size(col("w")) >= n,
            transform(sequence(lit(0), size(col("w")) - n),
              i => array_join(slice(col("w"), i + 1, lit(n)), " ")))
            .otherwise(array().cast("array<string>")))
          .as(Seq("pos", "gram")))
      .join(broadcast(benchSh), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("residual"))
    n0.join(p1.select(col("doc_id"), col("removed").as("removed_p1")),
        "doc_id")
      .join(p2.select(col("doc_id"), col("removed").as("removed_p2"),
        col("w")), "doc_id")
      .join(residual, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("removed_p1"),
        col("removed_p2"),
        coalesce(col("residual"), lit(0L)).as("residual"),
        graft.Tables.hashU32(array_join(col("w"), " "), 13)
          .as("surv_fp"))
  }

  /** Bloom-pre-filtered contamination: SAME OUTPUT as [[contamination]]
    * (a Bloom filter has no false negatives, and false positives die in
    * the exact verification join), but the membership probe broadcasts
    * a compact deterministic bit array — `mBits/64` longs — instead of
    * the benchmark shingle set. This is the 100 TB shape for a
    * benchmark too large to broadcast as strings: a 1e9-shingle
    * benchmark at 10 bits/element is a ~1.2 GB bit array vs tens of GB
    * of shingle text, and the corpus side still never shuffles for the
    * probe. Positions are md5-derived and the build aggregate is an
    * integer bit_or — order-independent, so the filter (and therefore
    * the whole operator) is deterministic under any partitioning. */
  def contaminationBloom(docs: DataFrame, bench: DataFrame, idCol: Column,
      textCol: Column, n: Int, mBits: Int = 1 << 16,
      kHashes: Int = 3): DataFrame = {
    require(mBits % 64 == 0 && kHashes > 0, s"mBits=$mBits kHashes=$kHashes")
    val docSh = explodedShingles(docs, idCol, textCol, n).distinct()
      .persistTracked() // probe positions + per-doc totals
    val benchSh = explodedShingles(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .persistTracked() // bloom build + exact verification
    def positions(df: DataFrame): DataFrame = df
      .select(col("*"), explode(sequence(lit(0), lit(kHashes - 1))).as("j"))
      .withColumn("pos", pmod(
        Tables.hashU32(concat_ws("|", col("shingle"), col("j")), 1234),
        lit(mBits.toLong)))
      .withColumn("word", (col("pos") / 64).cast("long"))
      .withColumn("bit", expr("shiftleft(1L, CAST(pos % 64 AS INT))"))
    val bloom = positions(benchSh)
      .groupBy(col("word")).agg(expr("bit_or(bit)").as("mask"))
    val candidates = positions(docSh)
      .join(broadcast(bloom), Seq("word"), "left")
      .withColumn("hit",
        coalesce(col("mask").bitwiseAND(col("bit")) =!= 0, lit(false)))
      .groupBy(col("doc_id"), col("shingle"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("hits"))
      .filter(col("hits") === kHashes)
      .select(col("doc_id"), col("shingle"))
    // exact verification only on bloom-positive shingles — in the
    // too-big-to-broadcast scenario this is a shuffle equi-join whose
    // probe side the bloom has already decimated (no hint: AQE picks)
    val shared = candidates.join(benchSh, "shingle")
    val totals = docSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val benchIds = bench.select(idCol.as("bench_id"))
    shared.groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .join(totals, "doc_id")
      .join(benchIds, col("doc_id") === col("bench_id"), "left_anti")
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** Duplicate-span statistics (the RefinedWeb/MassiveText-style
    * "fraction of document covered by repeated spans" signal): a span
    * is a consecutive `w`-token window (stride 1); a span is DUPLICATED
    * if its text occurs in at least `minDocs` distinct documents. Emits
    * per doc the distinct-span count, duplicated-span count, and their
    * ratio. Relational end to end: one explode, one span-frequency
    * groupBy (map-side combined), one broadcast-size join per span.
    * Returns (doc_id, n_spans, n_dup_spans, dup_frac). */
  def dupSpanStats(docs: DataFrame, idCol: Column, textCol: Column,
      w: Int, minDocs: Int = 2): DataFrame = {
    val spans = explodedShingles(docs, idCol, textCol, w)
      .select(col("doc_id"), col("shingle").as("span")).distinct()
      .persistTracked() // span-frequency build + per-doc probe
    val freq = spans.groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span"))
    val dup = spans.join(freq, "span")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(dup, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_frac"))
  }

  /** Unigram-LM quality score (the CCNet-style statistical-LM signal,
    * with the LM trained on the corpus itself): token log-probability
    * ln(count/total), accumulated per document in MICRO-NAT INTEGERS —
    * each token's logprob is rounded to a long once (transcendentals
    * agree across engines at token granularity, cf. the tf-idf oracle)
    * and the per-doc sum is exact integer math, so the mean is
    * bit-deterministic under any partitioning. Low (very negative)
    * means rare-token-heavy text. Returns
    * (doc_id, n_tokens, mean_logprob). */
  def unigramLogProb(docs: DataFrame, idCol: Column,
      textCol: Column): DataFrame = {
    val tok = docs.select(idCol.as("doc_id"),
      explode(tokens(textCol)).as("token"))
    val totals = tok.groupBy()
      .agg(count(lit(1)).cast("double").as("total"))
    val lp = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(totals))
      .select(col("token"),
        round(log(col("c").cast("double") / col("total")) * 1e6)
          .cast("long").as("lp6"))
    tok.join(broadcast(lp), "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp6")).as("s6"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s6") / (col("n_tokens") * 1e6), 6).as("mean_logprob"))
  }

  /** Bigram-LM quality score (the conditional-probability step up from
    * [[unigramLogProb]], trained on the corpus itself): each bigram
    * (w1 w2) scores ln(c(w1 w2) / c(w1 ·)) — its count over the count
    * of all bigrams starting with w1 — and a document's score is the
    * mean over its n-1 bigrams, accumulated in MICRO-NAT integers so
    * the sum is order-independent and the DuckDB oracle hash-matches.
    * Low means improbable word TRANSITIONS (scrambled text scores far
    * below its unigram score — the signal unigrams can't see). Docs
    * with fewer than 2 tokens have no bigrams and are omitted.
    * Returns (doc_id, n_bigrams, mean_logprob). */
  def bigramLogProb(docs: DataFrame, idCol: Column,
      textCol: Column): DataFrame = {
    val big = explodedShingles(docs, idCol, textCol, 2)
      .withColumn("w1", substring_index(col("shingle"), " ", 1))
    // corpus LM: bigram counts once from the corpus; the first-word
    // continuation totals AGGREGATE THE BIGRAM RELATION (vocab-sized),
    // not the corpus again — Σ_w2 c(w1 w2) = c(w1 ·). Broadcast both
    // back (the tf-idf lesson: never shuffle the corpus by a skewed
    // token key)
    val c2 = big.groupBy(col("shingle"), col("w1"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val lp = c2.join(c1, "w1")
      .select(col("shingle"),
        round(log(col("c2").cast("double") / col("c1")) * 1e6)
          .cast("long").as("lp6"))
    big.join(broadcast(lp), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp6")).as("s6"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s6") / (col("n_bigrams") * 1e6), 6).as("mean_logprob"))
  }

  /** Gopher-style composite quality gate (Rae et al. 2021,
    * arXiv:2112.11446, Appendix A1.1 — the rule set production
    * corpora actually deploy): seven document-level rules, each
    * violation setting one bit of a `reasons` mask so downstream can
    * audit WHY a document dropped, not just that it did:
    *
    *   bit 1  word count outside [minWords, maxWords]
    *   bit 2  mean word length outside [3, 10]
    *   bit 4  symbol-to-word ratio ('#' or '...') > 0.1
    *   bit 8  > 90% of lines start with a bullet
    *   bit 16 > 30% of lines end with an ellipsis
    *   bit 32 < 80% of words contain an alphabetic character
    *   bit 64 fewer than 2 distinct required stopwords present
    *
    * Every ratio rule is an exact INTEGER cross-multiplication
    * (10·sym ≤ words, 5·alpha ≥ 4·words, …) — no float thresholds to
    * drift between engines. Pure per-row map work: no shuffle, no
    * model state; at 100 TB this is a scan-speed filter.
    * Returns (doc_id, n_words, reasons, keep ∈ {0,1}). */
  def gopherQuality(docs: DataFrame, idCol: Column, textCol: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      stops: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")): DataFrame = {
    val (nw, reasons) = gopherParts(textCol, minWords, maxWords, stops)
    docs.select(idCol.as("doc_id"), nw.as("n_words"),
      reasons.as("reasons"),
      when(reasons === 0, 1L).otherwise(0L).as("keep"))
  }

  /** t19's (n_words, reasons) pair as row-local EXPRESSIONS over
    * `textCol` — the single rule-set implementation behind
    * [[gopherQuality]] and the fused census gate
    * ([[qualityGatePass]]). Projection collapse gave the old
    * withColumn chain the same one-Project shape; building the tree
    * directly lets other per-row work fuse into the same codegen'd
    * pass without a join to re-attach a derived gate relation. */
  private[graft] def gopherParts(textCol: Column, minWords: Int,
      maxWords: Int, stops: Seq[String]): (Column, Column) = {
    val txt = lower(textCol)
    val w = tokens(textCol)
    val nw = size(w).cast("long")
    val chars = aggregate(w, lit(0L), (a, t) => a + length(t))
    val lines = split(txt, "\n")
    val nlines = size(lines).cast("long")
    val nbullet = size(filter(lines,
      l => ltrim(l).rlike("^[-*•]"))).cast("long")
    val nell = size(filter(lines,
      l => rtrim(l).rlike("\\.\\.\\.$"))).cast("long")
    val nsym =
      (length(txt) - length(replace(txt, lit("#"), lit("")))).cast("long") +
        floor((length(txt) - length(replace(txt, lit("..."),
          lit("")))) / 3).cast("long")
    val nalpha = size(filter(w, t => t.rlike("[a-z]"))).cast("long")
    val nstop = size(array_intersect(
      array_distinct(transform(w,
        t => regexp_replace(t, "^[^a-z]+|[^a-z]+$", ""))),
      array(stops.map(lit): _*))).cast("long")
    def bit(cond: Column, b: Int): Column =
      when(cond, lit(b.toLong)).otherwise(lit(0L))
    val reasons = bit(nw < minWords || nw > maxWords, 1) +
      bit(!(lit(3) * nw <= chars && chars <= lit(10) * nw), 2) +
      bit(lit(10) * nsym > nw, 4) +
      bit(lit(10) * nbullet > lit(9) * nlines, 8) +
      bit(lit(10) * nell > lit(3) * nlines, 16) +
      bit(lit(5) * nalpha < lit(4) * nw, 32) +
      bit(nstop < 2, 64)
    (nw, reasons)
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    * Chen & Goodman 1998 interpolated form) — the modern-smoothing
    * upgrade of [[bigramLogProb]]'s MLE scores and the LM
    * quality-filter shape production corpora actually use:
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1)
    *            + D·N1+(w1·)/c(w1) · N1+(·w2)/|bigram types|
    *
    * with fixed discount D. The continuation weight N1+(·w2) scores
    * how many CONTEXTS a word follows, not how often it occurs — the
    * KN insight. Scoring corpus members against the corpus-trained
    * model means every scored bigram has c ≥ 1, so the discounted
    * term never clips (no unseen-backoff branch in either engine).
    *
    * Scale shape: identical to [[bigramLogProb]] — all model
    * relations (c2/c1/N1+ forward/backward and the 1-row type count)
    * aggregate the vocabulary-sized bigram relation, never the
    * corpus, and broadcast back; log-probs are quantized to micro-nat
    * integers AT the model relation (the t12/t13 parity discipline)
    * so per-doc sums are order-independent longs. */
  def knBigramLogProb(docs: DataFrame, idCol: Column, textCol: Column,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount=$discount in (0,1)")
    val big = explodedShingles(docs, idCol, textCol, 2)
      .withColumn("w1", substring_index(col("shingle"), " ", 1))
      .withColumn("w2", substring_index(col("shingle"), " ", -1))
    val c2 = big.groupBy(col("shingle"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
      .persistTracked() // read by c1, n1b, the type count, and lp
    val c1 = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val n1b = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val tot = c2.agg(count(lit(1)).as("types"))
    val lp = c2.join(c1, "w1").join(n1b, "w2")
      .crossJoin(broadcast(tot))
      .select(col("shingle"),
        round(log((col("c2") - lit(discount)) / col("c1")
          + lit(discount) * col("n1f") / col("c1")
            * (col("n1b") / col("types"))) * 1e6)
          .cast("long").as("kn6"))
    big.join(broadcast(lp), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("kn6")).as("s6"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s6") / (col("n_bigrams") * 1e6), 6)
          .as("mean_kn_logprob"))
  }

  /** Multinomial Naive Bayes language classifier trained INSIDE the
    * engine: word-count likelihoods with add-one smoothing on the
    * train split, argmax posterior on the test split, confusion
    * matrix out. All log-probabilities are quantized to MICRO-NAT
    * integers at the vocabulary relation (the [[unigramLogProb]]
    * parity trick), so per-document score sums are order-independent
    * longs and the argmax is engine-exact. Unseen-in-class words
    * contribute the class's smoothed default; that is folded in as
    * score = prior6 + default6·|doc∩vocab| + Σ adj6(w,c), which needs
    * only the PRESENT (word, class) rows — no dense vocab×class
    * materialization. All model relations are vocabulary-sized and
    * broadcast; the corpus is never shuffled by a token key. Two
    * driver-side count actions (vocab size, train doc count) are
    * index-build-time scalars, same as the ANN autoCells count.
    * Returns (lang, pred, n) over the test split. */
  def nbLangIdConfusion(docs: DataFrame, idCol: Column, textCol: Column,
      labelCol: Column, testMod: Int = 5): DataFrame = {
    val base = docs.select(idCol.as("doc_id"), labelCol.as("cls_true"),
      tokens(textCol).as("toks"))
    val train = base.filter(col("doc_id") % testMod =!= 0)
    val test = base.filter(col("doc_id") % testMod === 0)
      .persistTracked() // scored against every class + the t_doc count
    val trainTok = train.select(col("cls_true").as("cls"),
      explode(col("toks")).as("token"))
    val wc = trainTok.groupBy(col("cls"), col("token"))
      .agg(count(lit(1)).as("cwc"))
      .persistTracked() // class totals + vocab + likelihood relation
    val vocabSize = wc.select(col("token")).distinct().count()
    val nDocs = train.count()
    val cls = train.groupBy(col("cls_true").as("cls"))
      .agg(count(lit(1)).as("nd"))
      .join(wc.groupBy(col("cls")).agg(sum(col("cwc")).as("nc")), "cls")
      .select(col("cls"),
        round(log(col("nd").cast("double") / nDocs) * 1e6)
          .cast("long").as("prior6"),
        round(log(lit(1.0) / (col("nc") + vocabSize)) * 1e6)
          .cast("long").as("default6"),
        col("nc"))
      .persistTracked() // likelihood build + per-doc scoring
    val lw = wc.join(cls, "cls")
      .select(col("cls"), col("token"),
        (round(log((col("cwc") + 1).cast("double")
            / (col("nc") + vocabSize)) * 1e6).cast("long")
          - col("default6")).as("adj6"))
    val testTok = test
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .join(broadcast(wc.select(col("token")).distinct()), "token")
      .persistTracked() // t_doc count + matched-adjustment sum
    val tdoc = testTok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("t_doc"))
    val matched = testTok.join(broadcast(lw), "token")
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("adj6")).as("madj6"))
    val scored = test.select(col("doc_id"), col("cls_true"))
      .join(tdoc, Seq("doc_id"), "left_outer")
      .na.fill(0, Seq("t_doc"))
      .crossJoin(broadcast(
        cls.select(col("cls"), col("prior6"), col("default6"))))
      .join(matched, Seq("doc_id", "cls"), "left_outer")
      .na.fill(0, Seq("madj6"))
      .withColumn("score6",
        col("prior6") + col("default6") * col("t_doc") + col("madj6"))
    scored.groupBy(col("doc_id"), col("cls_true"))
      .agg(min(struct((-col("score6")).as("ns"), col("cls"))).as("b"))
      .select(col("cls_true").as("lang"), col("b.cls").as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Exact-content fingerprint: md5 of whitespace-normalized lowercase
    * text (SURVEY §7 M7 "document fingerprinting"). */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " ").cast("binary"))

  /** Order-insensitive bag fingerprint: md5 of the sorted token list —
    * catches shuffled-word duplicates that the exact fingerprint misses. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(tokens(text))).cast("binary"))

  /** Rolling-hash-style fingerprint: the minimum 32-bit hash over char
    * k-grams (a 1-hash MinHash = winnowing with window == doc). */
  def minShingleFingerprint(text: Column, k: Int = 8): Column =
    array_min(transform(charShingles(text, k), s => Tables.hashU32(s, 7)))

  /** Document frequency + tf-idf, returned as (docId, token, tf, df,
    * tfidf). `nDocs` must be the exact corpus size — use this overload
    * only when the count is already known; otherwise prefer the
    * in-plan overload below. */
  def tfidf(docs: DataFrame, idCol: Column, textCol: Column,
      nDocs: Long): DataFrame =
    tfidfWithN(docs, idCol, textCol, lit(nDocs.toDouble))

  /** tf-idf with the corpus size computed IN-PLAN: the count(*) is a
    * scalar aggregate cross-joined in as a broadcast, so the whole
    * computation is ONE logical plan with no driver-side action and no
    * scheduling sync point at build time. */
  def tfidf(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val n = docs.groupBy()
      .agg(count(lit(1)).cast("double").as("__graft_n_docs"))
    tfidfWithN(docs, idCol, textCol, col("__graft_n_docs"), Some(n))
  }

  private def tfidfWithN(docs: DataFrame, idCol: Column, textCol: Column,
      nDocs: Column, nRel: Option[DataFrame] = None): DataFrame = {
    val tok = docs.select(idCol.as("doc_id"),
      explode(tokens(textCol)).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // dfreq has one row per VOCABULARY TERM — tiny relative to the
    // corpus (tens of MB even at web scale) but Catalyst can't estimate
    // an aggregate's size, so without the hint it shuffles the full tf
    // relation by token: on a skewed vocabulary every occurrence of a
    // hot token lands in one task (measured 13× growth at 10× corpus).
    // Broadcasting keeps tf partition-local — no shuffle, no skew.
    val joined = tf.join(broadcast(dfreq), "token")
    val withN = nRel.fold(joined)(n => joined.crossJoin(broadcast(n)))
    withN
      .withColumn("tfidf", col("tf") * log((nDocs + 1.0) / (col("df") + 1.0)))
      .drop("__graft_n_docs")
  }

  /** DSIR-style data selection via importance resampling (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by the log-likelihood ratio of
    * a TARGET distribution vs the RAW corpus over hashed n-gram
    * buckets, then draw k documents by Gumbel-top-k — equivalent to
    * sampling without replacement proportionally to the importance
    * weights, but fully deterministic here (md5-derived Gumbel noise).
    *
    * Distribution estimates: unigram+bigram occurrences hash into
    * `nBuckets` buckets; each gets add-one-smoothed probabilities under
    * target (rows where `isTarget`) and raw (all rows). The per-bucket
    * log-ratio is QUANTIZED to integer micro-nats at the bucket
    * relation — the only transcendentals are over the nBuckets-sized
    * aggregate, so every downstream per-document value is an exact
    * integer sum (the t12/t15 discipline; oracle hash-matches).
    *
    * Scale shape: the bucket relation is nBuckets rows — broadcast to
    * the occurrence relation (no shuffle of the corpus by bucket, no
    * vocabulary skew: hot n-grams just add to a long sum map-side).
    * The final draw is orderBy+limit — TakeOrderedAndProject keeps a
    * k-row heap per partition and merges k·partitions rows on the
    * driver; the corpus is never globally sorted. Rank assignment then
    * windows over k rows only (bounded single partition).
    *
    * Returns (doc_id, weight6, score6, rank): weight6 the importance
    * weight in micro-nats, score6 = weight6 + Gumbel noise (micro),
    * rank 1..k by score6 desc. Documents with no tokens never enter
    * the occurrence relation and cannot be drawn. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 256, k: Int = 100,
      hashSeed: Int = 23, gumbelSeed: Int = 57): DataFrame = {
    // respread the raw rows before tokenizing: the n-gram explode +
    // hash is the operator's CPU, and the file's scan splits (3 at
    // sf0.1 under the open-cost floor) would otherwise cap it at 3
    // cores (guide §2.5 input skew / repartition after the read)
    val base = docs.select(col(idCol).as("doc_id"),
        isTarget.as("is_t"), col(textCol).as("__t"))
      .repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("is_t"), tokens(col("__t")).as("w"))
    val ng = base.select(col("doc_id"), col("is_t"),
      explode(concat(col("w"), shinglesOf(col("w"), 2))).as("ng"))
    val bk = ng.select(col("doc_id"), col("is_t"),
      pmod(Tables.hashU32(col("ng"), hashSeed), lit(nBuckets.toLong))
        .as("bk"))
    // raw and target counts in ONE corpus pass (sum-of-flag ≡ the old
    // filtered count, including the 0-for-absent the left join's
    // coalesce supplied), and the totals off the nBuckets-row bucket
    // relation instead of a third corpus scan — until round 14 cr, ct
    // and tots each re-tokenized the corpus (four passes incl. the
    // weight join; now two, with no corpus-sized cache: the right
    // 100 TB shape is re-aggregating, not persisting 2×corpus n-grams)
    val counts = bk.groupBy(col("bk")).agg(count(lit(1)).as("cr"),
      sum(when(col("is_t"), lit(1L)).otherwise(lit(0L))).as("ct"))
    val tots = counts.agg(sum(col("cr")).as("tr"),
      sum(col("ct")).as("tt"))
    val b = lit(nBuckets.toDouble)
    val lr = counts
      .crossJoin(broadcast(tots))
      .withColumn("lr6", round(log(
        ((col("ct") + lit(1.0)) * (col("tr") + b)) /
          ((col("cr") + lit(1.0)) * (col("tt") + b))) * 1e6)
        .cast("long"))
      .select(col("bk"), col("lr6"))
    val wgt = bk.join(broadcast(lr), "bk")
      .groupBy(col("doc_id")).agg(sum(col("lr6")).as("weight6"))
    val scored = wgt.withColumn("gumbel6",
        round(-log(-log(
          (Tables.hashU32(col("doc_id"), gumbelSeed) + lit(0.5)) /
            lit(4294967296.0))) * 1e6).cast("long"))
      .withColumn("score6", col("weight6") + col("gumbel6"))
    PipelineOps.rankedTopK(scored,
        Seq(col("score6").desc, col("doc_id").asc), k)
      .select(col("doc_id"), col("weight6"), col("score6"), col("rank"))
  }

  /** WordPiece-family vocabulary: the `topV` most frequent substrings
    * of length 2..`maxLen` over all token occurrences (ties broken
    * lexicographically — a total order, so both engines pick the same
    * set), UNION every single character in the corpus (guaranteeing
    * the greedy segmenter below always matches). Counting is one
    * explode + hash aggregate with map-side combine; the top-V is
    * TakeOrdered (per-partition heaps merged on k rows — never a
    * global sort). Returns (piece, cnt) with cnt = −1 flagging
    * coverage singles that didn't make the frequency cut. */
  def wordPieceVocab(docs: DataFrame, textCol: Column, topV: Int,
      maxLen: Int = 4): DataFrame = {
    val toks = docs.select(explode(tokens(textCol)).as("word"))
    val subs = toks
      .select(col("word"), explode(sequence(lit(0),
        length(col("word")) - 1)).as("pos"))
      .select(col("word"), col("pos"),
        explode(sequence(lit(2), lit(maxLen))).as("len"))
      .filter(col("pos") + col("len") <= length(col("word")))
      .select(expr("substring(word, pos + 1, len)").as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(topV)
    // singles are length-1, the frequency cut is length ≥ 2 — the two
    // sets can never collide, so the union needs no dedup
    val singles = toks
      .select(col("word"), explode(sequence(lit(0),
        length(col("word")) - 1)).as("pos"))
      .select(expr("substring(word, pos + 1, 1)").as("piece"))
      .distinct()
      .withColumn("cnt", lit(-1L))
    subs.unionByName(singles)
  }

  /** Greedy longest-match-first segmentation (the WordPiece/BERT
    * tokenizer algorithm) against [[wordPieceVocab]], applied
    * engine-side, with a per-document census as the receipt.
    *
    * Longest-match greedy is UNIQUELY determined (a piece of length L
    * matching at a position IS that substring — no ties to break), so
    * the Spark fold and the oracle's recursive-CTE walk must agree
    * exactly. The scale shape: segmentation is computed once per
    * DISTINCT word, not per occurrence; candidate matches come from
    * `maxLen` broadcast EQUI-joins (substring(pos, L) = piece — never
    * a nested-loop scan of the vocab), reduced to a pos→piece map per
    * word; the greedy walk is then one in-row fold over the word's
    * characters consulting that map. Output:
    * (doc_id, n_words, n_pieces, seg_fp) where seg_fp sums the
    * md5-u32 of each word's '|'-joined segmentation. */
  def wordPieceSegment(docs: DataFrame, idCol: Column, textCol: Column,
      topV: Int, maxLen: Int = 4, seed: Int = 11): DataFrame = {
    val occurrences = docs.select(idCol.as("doc_id"),
      explode(tokens(textCol)).as("word"))
    val wordSeg = wordSegments(docs, textCol, topV, maxLen)
    occurrences.join(wordSeg, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_pieces"),
        sum(Tables.hashU32(col("seg"), seed)).as("seg_fp"))
  }

  /** The distinct-word → ('|'-joined pieces, piece count) relation
    * [[wordPieceSegment]] aggregates — exposed for direct testing
    * against a reference greedy. */
  def wordSegments(docs: DataFrame, textCol: Column,
      topV: Int, maxLen: Int = 4): DataFrame = {
    val vocab = wordPieceVocab(docs, textCol, topV, maxLen)
      .select(col("piece")).persistTracked()
    val words = docs.select(explode(tokens(textCol)).as("word")).distinct()
    val positions = words
      .select(col("word"), explode(sequence(lit(0),
        length(col("word")) - 1)).as("pos"))
    // candidate matches per (word, pos): one broadcast equi-join per
    // piece length — the join key is the substring itself
    val cands = (1 to maxLen).map { l =>
      positions
        .filter(col("pos") + l <= length(col("word")))
        .withColumn("piece", expr(s"substring(word, pos + 1, $l)"))
        .join(broadcast(vocab.filter(length(col("piece")) === l)),
          Seq("piece"))
    }.reduce(_ unionByName _)
    // longest match per (word, pos) is unique; max_by needs no tiebreak
    val best = cands.groupBy(col("word"), col("pos"))
      .agg(max_by(col("piece"), length(col("piece"))).as("best"))
    best.groupBy(col("word"))
      .agg(map_from_entries(
        collect_list(struct(col("pos"), col("best")))).as("pm"))
      .withColumn("st", aggregate(
        sequence(lit(1), length(col("word"))),
        struct(lit(0).as("pos"), lit("").as("seg"), lit(0L).as("np")),
        (st, _) => {
          val atEnd = st("pos") >= length(col("word"))
          // coverage singles make the lookup total; the coalesce is a
          // pure safety net (fall back to the raw character)
          val piece = coalesce(element_at(col("pm"), st("pos")),
            col("word").substr(st("pos") + 1, lit(1)))
          when(atEnd, st).otherwise(struct(
            (st("pos") + length(piece)).as("pos"),
            when(st("seg") === "", piece)
              .otherwise(concat(st("seg"), lit("|"), piece)).as("seg"),
            (st("np") + 1L).as("np")))
        }))
      .select(col("word"), col("st.seg").as("seg"), col("st.np").as("np"))
  }

  /** BYTE-FALLBACK WordPiece (the SentencePiece/Llama trick that makes
    * the tokenizer family loss-free on arbitrary input): the coverage
    * guarantee of [[wordPieceVocab]]'s singles is deliberately
    * RESTRICTED to the known alphabet `[a-z]`; any position no vocab
    * piece matches falls back to the UTF-8 BYTES of that one
    * codepoint, emitted as `<XX>` pseudo-tokens (uppercase hex — both
    * engines' `hex` agree). '中' → `<E4>|<B8>|<AD>` (3 pieces), 'ñ' →
    * `<C3>|<B1>` (2). No input can fail to tokenize and the byte
    * vocabulary is closed (256 symbols), exactly why production
    * tokenizers ship this path. Same scale shape as
    * [[wordSegments]]: per-DISTINCT-word, broadcast equi-join
    * candidates, one in-row fold. */
  def wordSegmentsByteFallback(docs: DataFrame, textCol: Column,
      topV: Int, maxLen: Int = 4): DataFrame = {
    val vocab = wordPieceVocab(docs, textCol, topV, maxLen)
      // the frequency tier keeps ALL pieces (multi-byte substrings
      // included — a hot unicode bigram may earn a real vocab slot);
      // the coverage tier is alphabet-gated, which is what CREATES
      // the fallback surface
      .filter(col("cnt") >= 0 || col("piece").rlike("^[a-z]$"))
      .select(col("piece")).persistTracked()
    val words = docs.select(explode(tokens(textCol)).as("word")).distinct()
    val positions = words
      .select(col("word"), explode(sequence(lit(0),
        length(col("word")) - 1)).as("pos"))
    val cands = (1 to maxLen).map { l =>
      positions
        .filter(col("pos") + l <= length(col("word")))
        .withColumn("piece", expr(s"substring(word, pos + 1, $l)"))
        .join(broadcast(vocab.filter(length(col("piece")) === l)),
          Seq("piece"))
    }.reduce(_ unionByName _)
    val best = cands.groupBy(col("word"), col("pos"))
      .agg(max_by(col("piece"), length(col("piece"))).as("best"))
    words.join(
        best.groupBy(col("word"))
          .agg(map_from_entries(
            collect_list(struct(col("pos"), col("best")))).as("pm")),
        Seq("word"), "left")
      .withColumn("st", aggregate(
        sequence(lit(1), length(col("word"))),
        struct(lit(0).as("pos"), lit("").as("seg"), lit(0L).as("np")),
        (st, _) => {
          val atEnd = st("pos") >= length(col("word"))
          val mp = element_at(col("pm"), st("pos"))
          val hexb = hex(encode(
            col("word").substr(st("pos") + 1, lit(1)), "UTF-8"))
          val fbTok = rtrim(
            regexp_replace(hexb, "(..)", "<$1>|"), "|")
          val piece = coalesce(mp, fbTok)
          val step = when(mp.isNull, lit(1)).otherwise(length(mp))
          val npInc = when(mp.isNull, (length(hexb) / 2).cast("long"))
            .otherwise(lit(1L))
          when(atEnd, st).otherwise(struct(
            (st("pos") + step).as("pos"),
            when(st("seg") === "", piece)
              .otherwise(concat(st("seg"), lit("|"), piece)).as("seg"),
            (st("np") + npInc).as("np")))
        }))
      .select(col("word"), col("st.seg").as("seg"), col("st.np").as("np"))
  }

  /** [[wordPieceSegment]]'s per-document census over the byte-fallback
    * segmenter — (doc_id, n_words, n_pieces, seg_fp), t23's shape. */
  def wordPieceSegmentByteFallback(docs: DataFrame, idCol: Column,
      textCol: Column, topV: Int, maxLen: Int = 4,
      seed: Int = 11): DataFrame = {
    val occurrences = docs.select(idCol.as("doc_id"),
      explode(tokens(textCol)).as("word"))
    occurrences
      .join(wordSegmentsByteFallback(docs, textCol, topV, maxLen),
        Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_pieces"),
        sum(Tables.hashU32(col("seg"), seed)).as("seg_fp"))
  }

  /** Okapi BM25 top-k retrieval: every document where `isQuery` holds
    * is a query (its DISTINCT tokens are the query terms) ranked
    * against the whole corpus; returns
    * (query_id, rank, doc_id, score6) with rank 1..k by BM25 desc,
    * doc_id tiebreak, self excluded.
    *
    * Exactness discipline (the t12/t20 rule): the ONLY transcendental
    * — idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — is evaluated on the
    * VOCABULARY relation and quantized to integer micro-nats there;
    * the per-(query, doc, term) contribution multiplies that integer
    * by the tf-saturation fraction
    * tf·(k1+1) / (tf + k1·(1 - b + b·dl·N/tot)) — pure IEEE +,*,/
    * over exactly-representable integers, bit-identical across
    * engines — and is itself rounded to an integer, so the final
    * per-pair score is an order-independent BIGINT SUM the oracle
    * hash-matches.
    *
    * Scale shape: df/idf live on the vocab relation (broadcast); the
    * query-term relation (queries × ≤vocab terms) is broadcast against
    * tf, so the corpus-sized side never shuffles for the candidate
    * join; only the (query, doc) pair relation shuffles, once, for the
    * score aggregation. At 100 TB with a real open vocabulary you
    * would serve this from the t24 block-partitioned inverted index
    * with WAND upper-bound pruning (skip terms whose idf ceiling
    * cannot lift a doc into the current top-k); the scoring semantics
    * here are exactly what that index would rank with. */
  def bm25TopK(docs: DataFrame, idCol: Column, textCol: Column,
      isQuery: Column, k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tok = docs.select(idCol.as("doc_id"),
      explode(tokens(textCol)).as("token"))
    // no persist here: bm25FromTf's explicit doc_id repartition is the
    // single materialization point — its shuffle files are reused by
    // all three consumers (dl, df, candidate join), so a persist on tf
    // would only add a second copy of the same rows
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val qterms = docs.filter(isQuery)
      .select(idCol.as("query_id"),
        explode(array_distinct(tokens(textCol))).as("token"))
    bm25FromTf(tf, qterms, k, k1, b)
  }

  /** [[bm25TopK]]'s scoring from an ALREADY-materialized (doc_id,
    * token, tf) relation — the single scoring definition shared by
    * the corpus-rescan path (t26) and the segment-served path (t36,
    * whose tf is reassembled from stored posting blocks), so the two
    * can never drift. `tf` needs no caller-side persist: the explicit
    * doc_id repartition below is the shared materialization point
    * (its shuffle files are read by all three consumers). */
  def bm25FromTf(tf: DataFrame, qterms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // ONE explicit corpus exchange: hash(doc_id) at the session's
    // shuffle parallelism. hash(doc_id) CLUSTERS every downstream
    // keyed step — dl's groupBy(doc_id), the tf⋈dl join, and
    // (because doc_id ⊆ {query_id, doc_id}) the final per-pair score
    // aggregation — so none of them plans another exchange. Before
    // this, the scoring groupBy's own exchange carried 119 MB of
    // partially-aggregated pairs and AQE coalesced its reduce side to
    // TWO tasks (64 MB advisory; profiled 4.2 s wall / 8.3 s CPU on
    // t26 at sf0.1, the query's single largest stage): byte-sized
    // coalescing is wrong for an agg whose cost is CPU per row, and
    // the explicit count (guide §2.1/§2.4: share one exchange across
    // same-keyed operations, size reducers for the work) keeps the
    // CPU-dense fan-out + aggregation on every core. The count
    // follows spark.sql.shuffle.partitions, so cluster deployments
    // size it by data volume as usual.
    // the persist ON TOP of the exchange is load-bearing: without it,
    // AQE compiles each consumer's query stage into its own RDD and
    // exchange-reuse fails to unify the three copies when the subtree
    // under tf contains an InMemoryTableScan (t36/t44's segment cache)
    // — profiled as the WHOLE segment-compaction chain executing 4×.
    // The cached relation is one RDD, so the DAGScheduler shares its
    // shuffle dependency across consumers, and InMemoryTableScan
    // reports the child's hash(doc_id) partitioning so the downstream
    // exchange elisions survive the cache boundary
    val nPart = tf.sparkSession.sessionState.conf.numShufflePartitions
    val tfd = tf.repartition(nPart, col("doc_id")).persistTracked()
    val dl = tfd.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfq = tfd.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val tots = dl.agg(count(lit(1)).cast("double").as("n"),
      sum(col("dl")).cast("double").as("tot"))
    val idf6 = dfq.crossJoin(broadcast(tots))
      .withColumn("idf6", round(log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        * lit(1e6)).cast("long"))
      .select(col("token"), col("idf6"), col("n"), col("tot"))
    // contrib6 attaches to the CORPUS-sized tf (one row per (doc,
    // token)) BEFORE the query fan-out — the old plan joined dl onto
    // the post-fan-out (query, token, doc) relation, which is |Q|×
    // larger (measured 119 MB shuffled into a sort-merge join on t26
    // at sf0.1). Same expression tree on the same single (dl, idf6)
    // match per row, so every contrib6 is bit-identical; only the
    // join order changed (guide §2.3: shuffle the thin relation)
    val impacts = tfd
      .join(dl, Seq("doc_id"))
      .join(broadcast(idf6), Seq("token"))
      .withColumn("contrib6", round(col("idf6") *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") * col("n") / col("tot")))).cast("long"))
      .select(col("token"), col("doc_id"), col("contrib6"))
    val cand = impacts.join(broadcast(qterms), Seq("token"))
      .filter(col("query_id") =!= col("doc_id"))
    val scored = cand.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib6")).as("score6"))
    Events.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("score6").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score6"))
  }

  /** Luhn checksum over a digit string as a Column: position i counts
    * from the RIGHT starting at 1; odd positions add the digit, even
    * positions add the doubled digit minus 9 when it exceeds 9. Valid
    * iff the sum ≡ 0 (mod 10). Pure integer fold — engine-exact. */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val s = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
      val d = digits.substr(n - i + 1, lit(1)).cast("long")
      acc + when(i % 2 === 1, d)
        .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
    })
    s % 10 === 0
  }

  /** Checksum-validated PII redaction (the t6 scrubber's precision
    * upgrade): candidate card-like digit runs (13–19 digits) are
    * redacted ONLY when they pass the Luhn check — a naive
    * all-digit-runs scrub would destroy order ids, timestamps and
    * phone numbers, so real pipelines validate before redacting.
    * Returns (doc_id, n_cand, n_valid, red_len, red_fp): candidate
    * and validated counts plus the redacted text's length and
    * fingerprint. Shuffle-free map stage — per-row regex + integer
    * fold, codegen'd end to end. */
  def luhnRedact(docs: DataFrame, idCol: Column, textCol: Column,
      seed: Int = 7): DataFrame = {
    val cands = regexp_extract_all(textCol, lit("[0-9]{13,19}"), lit(0))
    val redacted = aggregate(cands, textCol,
      (acc, c) => when(luhnValid(c),
        replace(acc, c, lit("<CARD>"))).otherwise(acc))
    docs.select(idCol.as("doc_id"),
      size(cands).cast("long").as("n_cand"),
      size(filter(cands, c => luhnValid(c))).cast("long").as("n_valid"),
      length(redacted).cast("long").as("red_len"),
      Tables.hashU32(redacted, seed).as("red_fp"))
  }

  /** Shannon character-entropy quality gate: H = −Σ p(c)·log₂ p(c) over
    * the document's character distribution. The gibberish detector the
    * ratio-based t3/t19 gates can't replace — base64 blobs and
    * key-mash rows sail through length/punct/stopword checks but sit at
    * the entropy extremes (repeated-char runs ≈ 0 bits, uniform random
    * ≈ log₂|alphabet|), so curation pipelines band-pass on H.
    *
    * Scale shape: entirely row-local higher-order functions — the
    * distinct-char alphabet and the count-per-char fold never leave the
    * row, so the operator is a shuffle-free codegen'd map stage
    * (embarrassingly parallel at 100 TB; cost O(len·|alphabet|) per
    * row, alphabet ≤ ~100 for real text). The fold walks the alphabet
    * in SORTED order so the IEEE summation order is canonical and the
    * DuckDB oracle (same sorted-list left fold) matches bit-for-bit
    * before the round. */
  def charEntropy(docs: DataFrame, idCol: Column, textCol: Column,
      loBits: Double = 3.0, hiBits: Double = 5.5): DataFrame = {
    val (nChars, nDistinct, ent) = entropyParts(textCol)
    docs.select(idCol.as("doc_id"),
      nChars.as("n_chars_text"),
      nDistinct.as("n_distinct"),
      round(ent, 4).as("entropy_bits"),
      (ent >= loBits && ent <= hiBits).as("pass_gate"))
  }

  /** t29's (n_chars, n_distinct, entropy_bits) as row-local
    * expressions — shared by [[charEntropy]] and [[qualityGatePass]]
    * (the same single-implementation discipline as [[gopherParts]]). */
  private[graft] def entropyParts(textCol: Column)
      : (Column, Column, Column) = {
    // drop zero-length elements: Spark's split('', '') yields [""],
    // which would count one phantom char on empty text and diverge
    // from the oracle's len>0-filtered list
    val chars = filter(split(textCol, ""), c => length(c) > 0)
    val alphabet = array_sort(array_distinct(chars))
    val n = size(chars).cast("double")
    val ent = aggregate(alphabet, lit(0.0), (acc, ch) => {
      val p = size(filter(chars, x => x === ch)).cast("double") / n
      acc - p * log2(p)
    })
    (size(chars).cast("long"), size(alphabet).cast("long"), ent)
  }

  /** The census stage-1 admission rule — t19's keep ∧ t29's
    * pass_gate — as ONE row-local boolean, so the gate tier runs as a
    * single codegen'd filter over one pass of the cached base instead
    * of two derived gate relations joined back on doc_id (round-13
    * verdict item 9; guide §2.4 one exchange-free pass, §"expressions
    * and codegen"). Exactly the expressions of the two public gates:
    * any rule change there is this predicate's change too. */
  private[graft] def qualityGatePass(textCol: Column, minWords: Int,
      stops: Seq[String], maxWords: Int = 100000,
      loBits: Double = 3.0, hiBits: Double = 5.5): Column = {
    val (_, reasons) = gopherParts(textCol, minWords, maxWords, stops)
    val (_, _, ent) = entropyParts(textCol)
    reasons === 0 && ent >= loBits && ent <= hiBits
  }

  /** t38: MODEL-BASED quality filtering — the fastText/CCNet-style
    * linear classifier gate every public LLM pipeline ships (GPT-3's
    * WebText-vs-CommonCrawl filter, CCNet's wiki-LM selection,
    * LLaMA's wiki-reference classifier): train a logistic-regression
    * scorer IN-ENGINE on weak source labels (curated sources = 1,
    * the rest = 0), apply it to every document, census per source.
    *
    * Determinism discipline (the t12/t15 micro-unit playbook, here
    * end-to-end through an ITERATIVE trainer): features are hashed
    * bag-of-words term frequencies quantized to micro-units
    * (x6 = round(1e6·cnt/t_doc), exact longs), weights live in
    * micro-units, the per-doc logit is an exact long dot product
    * (z12 = Σ w6·x6), and the ONLY float op per iteration is the
    * sigmoid — whose output is quantized straight back to micro-units
    * (p6). Per-row gradient contributions are quantized longs
    * (round((p6−y6)·x6/1e6), bounded by 1e6 so a 1e9-doc corpus sum
    * stays far inside long range), so every aggregation is an
    * order-independent integer sum and the DuckDB twin is exact.
    *
    * Scale shape: one corpus pass per GD iteration — the feature
    * relation is (doc, bucket)-keyed and map-side combines into
    * nBuckets+1 gradient rows; the weight relation (65 rows) is
    * broadcast back. No driver-side data paths (the labeled-count
    * scalar is an index-build-time count, the NB precedent). Work is
    * ∝ corpus·iters with a fixed tiny model — the classic
    * distributed full-batch GD. */
  def qualityScores(docs: DataFrame, idCol: Column, textCol: Column,
      sourceCol: Column, posSources: Seq[String], nBuckets: Int = 64,
      iters: Int = 4, lr: Double = 100.0): DataFrame = {
    require(nBuckets > 0 && iters >= 1 && lr > 0,
      s"need nBuckets/iters/lr positive, got $nBuckets/$iters/$lr")
    val base = docs.select(idCol.as("doc_id"), sourceCol.as("source"),
        tokens(textCol).as("toks"))
      .withColumn("t_doc", size(col("toks")))
      .filter(col("t_doc") > 0)
      .withColumn("y6",
        when(col("source").isInCollection(posSources), lit(1000000L))
          .otherwise(lit(0L)))
      .persistTracked() // feature build (twice) + labeled count + census
    val feats = base
      .select(col("doc_id"), col("y6"), col("t_doc"),
        explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("y6"), col("t_doc"),
        (Tables.hashU32(col("token"), 41) % nBuckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("y6"), col("bucket"),
        round(lit(1e6) * col("cnt") / col("t_doc")).cast("long")
          .as("x6"))
      .unionByName(base.select(col("doc_id"), col("y6"),
        lit(-1L).as("bucket"), lit(10000L).as("x6")))
      .persistTracked() // probed every iteration + the apply pass
    val n = base.count()
    var w = feats.select(col("bucket")).distinct()
      .withColumn("w6", lit(0L))
      .persistTracked()
    for (_ <- 1 to iters) {
      val p = feats.join(broadcast(w), "bucket")
        .groupBy(col("doc_id"), col("y6"))
        .agg(sum(col("w6") * col("x6")).as("z12"))
        .withColumn("p6", round(lit(1e6) /
          (lit(1.0) + exp(-col("z12") / lit(1e12)))).cast("long"))
      val grad = feats
        .join(p.select(col("doc_id"), col("p6")), "doc_id")
        .groupBy(col("bucket"))
        .agg(sum(round((col("p6") - col("y6")) * col("x6") / lit(1e6))
          .cast("long")).as("g6"))
      // pinStage, not persist: each iteration's w references the
      // previous w through BOTH the probability pass and the update
      // join, so the logical plan grows exponentially in iters (the
      // t38 formatted plan hit 55k lines at iters=4) and Catalyst
      // replans it per query stage. The checkpoint of nBuckets+1
      // rows truncates the recursion at metadata cost
      w = graft.InternalCaches.pinStage(
        w.join(grad, "bucket")
          .select(col("bucket"),
            (col("w6") - round(lit(lr) * col("g6") / lit(n.toDouble))
              .cast("long")).as("w6")))
    }
    feats.join(broadcast(w), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("w6") * col("x6")).as("z12"))
      .withColumn("quality6", round(lit(1e6) /
        (lit(1.0) + exp(-col("z12") / lit(1e12)))).cast("long"))
      .join(base.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("quality6"))
  }

  /** t38 census: per-source document count, kept count at the 0.5
    * decision threshold, and mean quality in micro-units. */
  def qualityClassifierCensus(docs: DataFrame, idCol: Column,
      textCol: Column, sourceCol: Column, posSources: Seq[String],
      nBuckets: Int = 64, iters: Int = 4, lr: Double = 100.0)
      : DataFrame =
    qualityScores(docs, idCol, textCol, sourceCol, posSources,
      nBuckets, iters, lr)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality6") >= 500000L, 1L).otherwise(0L))
          .as("n_kept"),
        round(sum(col("quality6")) * lit(1.0) / count(lit(1)))
          .cast("long").as("mean_quality6"))

  /** [[qualityScores]]' trainer factored out for the train→deploy
    * loop (q103): same feature build, same GD iterations, but the
    * RETURN VALUE is the trained weight relation (bucket, w6) — the
    * deployable artifact a serving gate broadcasts. nBuckets+1 rows,
    * so writing/broadcasting it is metadata-sized at any corpus. */
  def qualityWeights(docs: DataFrame, idCol: Column, textCol: Column,
      sourceCol: Column, posSources: Seq[String], nBuckets: Int = 64,
      iters: Int = 4, lr: Double = 100.0): DataFrame = {
    require(nBuckets > 0 && iters >= 1 && lr > 0,
      s"need nBuckets/iters/lr positive, got $nBuckets/$iters/$lr")
    val base = docs.select(idCol.as("doc_id"), sourceCol.as("source"),
        tokens(textCol).as("toks"))
      .withColumn("t_doc", size(col("toks")))
      .filter(col("t_doc") > 0)
      .withColumn("y6",
        when(col("source").isInCollection(posSources), lit(1000000L))
          .otherwise(lit(0L)))
    val feats = qualityFeatures(base, nBuckets)
      .join(base.select(col("doc_id"), col("y6")), "doc_id")
      .persistTracked() // probed every GD iteration
    val n = base.count()
    var w = feats.select(col("bucket")).distinct()
      .withColumn("w6", lit(0L))
      .persistTracked()
    for (_ <- 1 to iters) {
      val p = feats.join(broadcast(w), "bucket")
        .groupBy(col("doc_id"), col("y6"))
        .agg(sum(col("w6") * col("x6")).as("z12"))
        .withColumn("p6", round(lit(1e6) /
          (lit(1.0) + exp(-col("z12") / lit(1e12)))).cast("long"))
      val grad = feats
        .join(p.select(col("doc_id"), col("p6")), "doc_id")
        .groupBy(col("bucket"))
        .agg(sum(round((col("p6") - col("y6")) * col("x6") / lit(1e6))
          .cast("long")).as("g6"))
      // pinStage, not persist: each iteration's w references the
      // previous w through BOTH the probability pass and the update
      // join, so the logical plan grows exponentially in iters (the
      // t38 formatted plan hit 55k lines at iters=4) and Catalyst
      // replans it per query stage. The checkpoint of nBuckets+1
      // rows truncates the recursion at metadata cost
      w = graft.InternalCaches.pinStage(
        w.join(grad, "bucket")
          .select(col("bucket"),
            (col("w6") - round(lit(lr) * col("g6") / lit(n.toDouble))
              .cast("long")).as("w6")))
    }
    w
  }

  /** The t38 feature build shared by training and serving: hashed
    * bag-of-words term frequencies in micro-units plus the constant
    * bias feature (bucket −1). Input must carry (doc_id, toks,
    * t_doc > 0); output is (doc_id, bucket, x6). */
  private def qualityFeatures(base: DataFrame, nBuckets: Int)
      : DataFrame =
    base.select(col("doc_id"), col("t_doc"),
        explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("t_doc"),
        (Tables.hashU32(col("token"), 41) % nBuckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("bucket"),
        round(lit(1e6) * col("cnt") / col("t_doc")).cast("long")
          .as("x6"))
      .unionByName(base.select(col("doc_id"),
        lit(-1L).as("bucket"), lit(10000L).as("x6")))

  /** Score arbitrary documents with a TRAINED weight relation
    * (the serving half of the train→deploy loop, q103): identical
    * feature build and sigmoid quantization to [[qualityScores]]'
    * apply pass, weights broadcast. Fails CLOSED: a doc whose token
    * list is empty has no features, scores coalesce(0) and lands
    * under any sane keep-threshold. Returns the input rows plus
    * quality6. */
  def scoreWithWeights(docs: DataFrame, idCol: Column, textCol: Column,
      weights: DataFrame, nBuckets: Int = 64): DataFrame = {
    val base = docs.withColumn("doc_id", idCol)
      .withColumn("toks", tokens(textCol))
      .withColumn("t_doc", size(col("toks")))
    val scored = qualityFeatures(base.filter(col("t_doc") > 0), nBuckets)
      .join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("w6") * col("x6")).as("z12"))
      .withColumn("quality6", round(lit(1e6) /
        (lit(1.0) + exp(-col("z12") / lit(1e12)))).cast("long"))
      .select(col("doc_id"), col("quality6"))
    base.drop("toks", "t_doc")
      .join(scored, Seq("doc_id"), "left_outer")
      .withColumn("quality6", coalesce(col("quality6"), lit(0L)))
  }


  /** t40: ENCODING-ARTIFACT gate (the ftfy/mojibake class of web-text
    * defects): per-document counts of (a) double-encoded UTF-8
    * artifacts — the 'Ã'/'Â' lead characters that appear when UTF-8
    * bytes are re-decoded as Latin-1 ("cafÃ©"), (b) U+FFFD
    * replacement characters (lossy prior transcoding), and (c) C0
    * control characters other than tab/newline/CR. All three are
    * literal/char-class counts (length minus length-after-removal),
    * so the DuckDB twin is exact; `clean` is the gate flag. */
  def encodingArtifacts(docs: DataFrame, idCol: Column,
      textCol: Column): DataFrame = {
    def cnt1(c: String): Column =
      (length(textCol) - length(replace(textCol, lit(c), lit(""))))
        .cast("long")
    val ctrl = (length(textCol) - length(regexp_replace(textCol,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).cast("long")
    docs.select(idCol.as("doc_id"),
        (cnt1("\u00c3") + cnt1("\u00c2")).as("n_moji"),
        cnt1("\ufffd").as("n_repl"),
        ctrl.as("n_ctrl"))
      .withColumn("clean", col("n_moji") === 0 &&
        col("n_repl") === 0 && col("n_ctrl") === 0)
  }

  /** Mojibake repair (ftfy's core move, done relationally): text that
    * was UTF-8 bytes mis-decoded as Latin-1 shows the classic
    * lead-byte pattern (`Ã©` for é, `ä¸­` for 中 — UTF-8 lead bytes
    * 0xC2–0xF4 rendered as Latin-1 characters, each followed by
    * continuation-range chars). The repair reverses the mistake —
    * re-encode the characters as Latin-1 bytes, decode those bytes as
    * UTF-8 — and is GATED three ways so it can never corrupt healthy
    * text: (1) the moji marker pattern must be present, (2) every
    * char must be ≤ U+00FF (otherwise the Latin-1 re-encode is
    * lossy), (3) the re-encoded bytes must be valid UTF-8
    * (`is_valid_utf8` — checked on the BYTES, never by decoding).
    * Rows failing any gate pass through untouched. t40 detects; this
    * repairs — both pure codegen'd builtins (encode/decode/regexp),
    * no UDF, so the repair is a map stage at any corpus size.
    * Legitimate text that happens to look like mojibake is the known
    * ftfy tradeoff; the three gates make it require a lead-byte
    * sequence whose whole string also reinterprets cleanly. */
  def mojibakeRepair(docs: DataFrame, idCol: Column, textCol: Column)
      : DataFrame = {
    // any UTF-8 lead byte (0xC2-0xF4 as a Latin-1 char) followed by a
    // continuation-range char - covers 2-byte Latin AND 3/4-byte CJK
    // mojibake; healthy Latin-1 text rarely puts C1-control/top-half
    // punctuation right after an accented letter, and the whole-string
    // validity gate below catches those that do
    val marker = textCol.rlike("[\u00C2-\u00F4][\u0080-\u00BF]")
    val latin1Only = !textCol.rlike("[^\u0000-\u00FF]")
    val reenc = encode(textCol, "ISO-8859-1")
    // validity is checked on the RE-ENCODED BYTES (is_valid_utf8),
    // never by decoding: Spark 4's decode THROWS on malformed input,
    // so the gate must run before decode can ever see a bad byte
    val doFix = marker && latin1Only && is_valid_utf8(reenc)
    docs.select(idCol.as("doc_id"),
      when(doFix, decode(reenc, "UTF-8")).otherwise(textCol)
        .as("text_fixed"),
      doFix.as("was_moji"))
  }

  /** Unicode-script expectation per language tag — the script a doc
    * claiming that language should be written in (beyond Latin, which
    * is never flagged). Extend as the corpus grows languages. */
  private val ExpectedScript = Map("zh" -> "Han", "ru" -> "Cyrillic",
    "ar" -> "Arabic", "el" -> "Greek", "ja" -> "Han")

  /** Per-document Unicode-SCRIPT census + consistency gate (the
    * mC4/UniMax hygiene check: a doc tagged `fr` full of Cyrillic is
    * mislabeled or contaminated). Counts per script are
    * length-minus-length-after-removal over Java's
    * `\p{IsScript}` classes — entirely codegen'd regexp map work,
    * shuffle-free. `script_ok` is false when any counted non-Latin
    * script other than the language's expected one appears. */
  def scriptCensus(docs: DataFrame, idCol: Column, textCol: Column,
      langCol: Column): DataFrame = {
    def cnt(script: String): Column =
      (length(textCol) - length(regexp_replace(textCol,
        s"\\p{Is$script}", ""))).cast("long")
    val counted = Seq("Han", "Cyrillic", "Arabic", "Greek")
    val withCounts = docs.select(
      (Seq(idCol.as("doc_id"), langCol.as("lang")) ++
        counted.map(s => cnt(s).as(s"n_${s.toLowerCase}"))): _*)
    val expected = ExpectedScript.foldLeft(lit("")) {
      case (acc, (l, s)) => when(col("lang") === l, lit(s)).otherwise(acc)
    }
    withCounts.withColumn("script_ok",
      counted.map(s => col(s"n_${s.toLowerCase}") === 0L ||
        expected === s).reduce(_ && _))
  }

  /** Block-level HTML tags: their open AND close tags both end a text
    * block (the jusText/trafilatura segmentation rule). Inline tags
    * (a, b, span, em, …) do NOT split — their text belongs to the
    * enclosing block. */
  private val BlockTags =
    "p|div|br|hr|li|ul|ol|h[1-6]|nav|footer|header|aside|main|table|" +
      "thead|tbody|tr|td|th|section|article|blockquote|pre|form|" +
      "body|html|head|title|figure|figcaption"

  /** Decode the HTML entities that appear in escaped text content.
    * `&amp;` is decoded LAST — decoding it first would double-decode
    * `&amp;lt;` into `<`. Named entities beyond these (and numeric
    * references other than `&#39;`) are out of scope: they need a
    * table, not a rewrite. */
  private def decodeEntities(t: Column): Column = {
    val steps = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    steps.foldLeft(t) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to))
    }
  }

  private def collapseWs(t: Column): Column =
    trim(regexp_replace(t, "\\s+", " "))

  /** Strip comments, then script/style elements WITH their content
    * (two passes — RE2, the oracle engine's regex dialect, has no
    * backreferences so `</\1>` is off the table). */
  private def stripNonContent(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    // the whole <head> element is metadata, not content (title text
    // leaking into extracted body is a classic naive-stripper bug);
    // (?:\s[^>]*)? keeps <header> from matching the <head> pattern
    val noHead = regexp_replace(noComment,
      "(?is)<head(?:\\s[^>]*)?>.*?</head>", " ")
    val noScript = regexp_replace(noHead,
      "(?is)<script[^>]*>.*?</script>", " ")
    regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
  }

  /** Plain-text extraction from an HTML column: comments, script and
    * style elements removed with their content, every remaining tag
    * dropped, entities decoded, whitespace collapsed. Pure codegen'd
    * regexp/replace chain — NO UDF — so at 100 TB it is a map stage
    * inside whole-stage codegen. Attribute values containing a raw
    * `>` (legal but rare) are an accepted mis-split: a real crawl
    * pipeline normalizes those upstream. */
  def htmlToText(html: Column): Column =
    collapseWs(decodeEntities(
      regexp_replace(stripNonContent(html), "(?s)<[^>]*>", " ")))

  /** Main-content extraction with link-density boilerplate removal —
    * the jusText/trafilatura heuristic that separates navigation/
    * footer chrome from body text WITHOUT a model: split the page
    * into blocks at block-level tags, score each block by
    * anchor-text-length / text-length, and keep blocks under the
    * threshold. Navigation bars and footers are nearly 100% anchor
    * text; article bodies are nearly 0%.
    *
    * Returns one row per input row: (kept main text, n_blocks,
    * n_kept). Entirely built from split + higher-order array
    * functions over the block array — per-row local, shuffle-free. */
  def htmlMainText(docs: DataFrame, idCol: Column, htmlCol: Column,
      maxLinkDensity: Double): DataFrame = {
    val sentinel = "\u0001"
    val blocksRaw = split(
      regexp_replace(stripNonContent(htmlCol),
        s"(?i)</?(?:$BlockTags)(?:\\s[^>]*)?>", sentinel),
      sentinel)
    val out = docs.select(idCol.as("doc_id"),
        blocksRaw.as("blocks_html"))
      .withColumn("blocks", filter(
        transform(col("blocks_html"), b => struct(
          collapseWs(decodeEntities(
            regexp_replace(b, "(?s)<[^>]*>", " "))).as("text"),
          collapseWs(decodeEntities(regexp_replace(
            array_join(regexp_extract_all(b,
              lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " "),
            "(?s)<[^>]*>", " "))).as("anchor"))),
        b => length(b.getField("text")) > 0))
      .withColumn("kept", filter(col("blocks"), b =>
        length(b.getField("anchor")).cast("double") <=
          lit(maxLinkDensity) * length(b.getField("text"))
            .cast("double")))
    out.select(col("doc_id"),
      array_join(transform(col("kept"), _.getField("text")), "\n")
        .as("main_text"),
      size(col("blocks")).cast("long").as("n_blocks"),
      size(col("kept")).cast("long").as("n_kept"))
  }

  /** N-gram continuation serving with longest-suffix backoff — the
    * bounded-n relational form of an ∞-gram / suffix-array n-gram
    * index (Liu et al. 2024, "Infini-gram", arXiv:2401.17377, serve
    * the longest context with support; here n is bounded at `maxN`,
    * which is how a materialized n-gram store is actually deployed):
    * build the (context, next-token) count index for every context
    * length 0..maxN−1 in one corpus pass, then answer each query —
    * a (maxN−1)-token context — from its LONGEST suffix with any
    * support, emitting the argmax continuation and its probability
    * in integer micro-units.
    *
    * `queries` must be (qid LONG, q ARRAY<STRING> of maxN−1 tokens).
    *
    * Scale shape: the index is one tokenize+explode map and one
    * (ctx_len, ctx, next) aggregate (map-side combined — the classic
    * n-gram count job); a query batch probes it with maxN equi-joins
    * on (ctx_len, ctx) — broadcast when the batch is small, shuffle
    * otherwise — then one qid-keyed argmax window over ≤ maxN rows
    * each. No all-pairs anything; corpus work is O(tokens·maxN).
    *
    * Returns (qid, matched_len, total, top_next, top_c, p_micro). */
  def ngramServe(docs: DataFrame, idCol: Column, textCol: Column,
      maxN: Int, queries: DataFrame): DataFrame =
    // persist the live index: the serve probes it from two derivations
    // (per-length totals and the argmax), and with the tokenize cache
    // in its subtree AQE's per-consumer query stages cannot unify the
    // copies by exchange reuse — without the persist the whole gram
    // build ran once per consumer (the bm25FromTf mechanism)
    ngramServeFrom(
      ngramCounts(docs, idCol, textCol, maxN).persistTracked(), maxN,
      queries)

  /** The n-gram count INDEX relation of [[ngramServe]] — (ctx_len,
    * ctx, next, c) for every context length 0..maxN−1 — split out so
    * the index can be built ONCE, persisted as a versioned table, and
    * served query-many (the s9/s28 build-once discipline), or
    * accumulated incrementally by a streaming ingest (counts are
    * additive, so per-batch partials merge by sum — slicing-
    * independent by construction). */
  def ngramCounts(docs: DataFrame, idCol: Column, textCol: Column,
      maxN: Int): DataFrame = {
    require(maxN >= 2 && maxN <= 5, s"maxN must be in [2,5], got $maxN")
    val t = docs.select(idCol.as("doc_id"), tokens(textCol).as("w"))
      .filter(size(col("w")) > 0)
      // NOT respread (measured, round 14): spreading the cached
      // tokenize to 32 partitions made the gram explode's map-side
      // combine collapse — (ctx, next) repeats concentrate within a
      // partition, and 96 thin legs shipped 5.5 MB where 9 fat legs
      // shipped 0.7 MB, at 7× the aggregate CPU (guide §2.3 aggregate
      // before you shuffle beats §2.5 here)
      .persistTracked() // one tokenize feeds maxN gram projections
    // for each context length L (0..maxN-1): positions i with
    // i+L < len(w); context = w[i..i+L), next = w[i+L]
    val grams = (0 until maxN).map { l =>
      t.filter(size(col("w")) > l)
        .select(explode(transform(
          sequence(lit(0), size(col("w")) - (l + 1)),
          i => struct(
            array_join(slice(col("w"), i + 1, lit(l)), " ").as("ctx"),
            element_at(col("w"), i + (l + 1)).as("next"))))
          .as("g"))
        .select(lit(l).as("ctx_len"), col("g.ctx"), col("g.next"))
    }.reduce(_.unionAll(_))
    grams.groupBy(col("ctx_len"), col("ctx"), col("next"))
      .agg(count(lit(1)).as("c"))
  }

  /** [[ngramServe]]'s probe/backoff/argmax half over ANY (ctx_len,
    * ctx, next, c) counts relation — live, loaded from a stored
    * index, or read from streaming-accumulated state; the serve plan
    * is identical, which is what lets one oracle text check every
    * execution path. */
  def ngramServeFrom(counts: DataFrame, maxN: Int,
      queries: DataFrame): DataFrame = {
    require(maxN >= 2 && maxN <= 5, s"maxN must be in [2,5], got $maxN")
    // each query probes all suffix lengths; suffix of length L is the
    // LAST L tokens of q
    val probes = queries.select(col("qid"), explode(transform(
        sequence(lit(0), lit(maxN - 1)),
        // slice(q, 0, …) is ILLEGAL in Spark, so the length-0 suffix
        // (the empty context) is guarded INSIDE the branch — CaseWhen
        // evaluates only the taken branch, the slice never sees 0
        l => struct(l.cast("int").as("ctx_len"),
          when(l === 0, lit("")).otherwise(
            array_join(slice(col("q"), -l, l), " ")).as("ctx"))))
        .as("p"))
      .select(col("qid"), col("p.ctx_len"), col("p.ctx"))
    val hits = probes.join(counts, Seq("ctx_len", "ctx"))
    val perLen = hits.groupBy(col("qid"), col("ctx_len"))
      .agg(sum(col("c")).as("total"))
    val top = hits.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"), col("ctx_len"))
          .orderBy(col("c").desc, col("next").asc)))
      .filter(col("rk") === 1)
      .select(col("qid"), col("ctx_len"), col("next").as("top_next"),
        col("c").as("top_c"))
    val best = perLen.join(top, Seq("qid", "ctx_len"))
      .withColumn("lrk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ctx_len").desc)))
      .filter(col("lrk") === 1)
    queries.select(col("qid")).join(best, Seq("qid"), "left_outer")
      .select(col("qid"),
        coalesce(col("ctx_len").cast("long"), lit(-1L))
          .as("matched_len"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("top_next"), lit("")).as("top_next"),
        coalesce(col("top_c"), lit(0L)).as("top_c"),
        coalesce(floor(col("top_c") * 1000000L / col("total")), lit(0L))
          .as("p_micro"))
  }

  /** License classification for code-data curation — the gate public
    * code-corpus pipelines (The Stack, StarCoder data) run before
    * anything else: detect the declared license and keep only
    * permissively-licensed files. Precedence: an explicit
    * SPDX-License-Identifier tag wins (the machine-readable form),
    * then the common prose declarations, then a bare
    * "All rights reserved" (proprietary), else "none". Returns the
    * normalized SPDX id ("MIT", "Apache-2.0", "GPL-3.0-only", ...),
    * "proprietary", or "none". Row-local regex/contains only — a
    * shuffle-free codegen'd map at any scale. */
  def licenseClass(text: Column): Column = {
    val spdx = regexp_extract(text,
      "SPDX-License-Identifier:\\s*([A-Za-z0-9.+-]+)", 1)
    when(spdx =!= "", spdx)
      .when(text.contains("Apache License, Version 2.0"),
        lit("Apache-2.0"))
      .when(text.contains("MIT License"), lit("MIT"))
      .when(text.contains("GNU General Public License"),
        lit("GPL-3.0-only"))
      .when(text.contains("All rights reserved"), lit("proprietary"))
      .otherwise(lit("none"))
  }

  /** Per-doc license gate rows: (doc_id, license, permitted) with
    * `permitted` = membership in the permissive allowlist — an
    * UNDECLARED license is NOT permitted (the conservative default
    * every production code-data pipeline ships). */
  def licenseGate(docs: DataFrame, idCol: Column, textCol: Column,
      permissive: Seq[String] =
        Seq("MIT", "Apache-2.0", "BSD-2-Clause", "BSD-3-Clause",
          "ISC", "Unlicense")): DataFrame = {
    val lic = licenseClass(textCol)
    docs.select(idCol.as("doc_id"), lic.as("license"),
      lic.isin(permissive: _*).as("permitted"))
  }

}
