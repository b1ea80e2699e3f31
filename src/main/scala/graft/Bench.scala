package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness: times every registered query at the SF dir given by
  * SPARK_GRAFT_SF_DIR and emits one machine-readable JSON line.
  *
  * Timing protocol (steady-state): each query runs TWICE and the reported
  * number is the MINIMUM of the two runs. The first execution of any query
  * absorbs whatever JIT/codegen/scheduler warm-up happens to land on it —
  * measured drift of 5-9 s on identical code between rounds — so the min of
  * two back-to-back runs is the stable per-query cost. Caches are dropped
  * between runs, so the second run re-reads and re-shuffles everything; the
  * only thing it skips is JVM warm-up, which is exactly the noise we want
  * out of the number.
  *
  * Failure protocol: a query that throws is NOT timed as a success. Failed
  * names are collected, reported under a "failed" key in both JSON lines,
  * and the process exits non-zero so a runtime-only regression can never
  * masquerade as a speed-up.
  *
  * Output protocol: the compact JSON line is printed LAST on stdout (inside
  * a ~2 KB log-tail window), AND unprefixed on stderr, AND written to
  * bench_last.json in the working directory — three chances for the driver
  * to parse it.
  *
  * Contention protocol: host CPU contention (other processes sharing the
  * box during a timed run) once inflated a full-suite run 2.8× with zero
  * code change — uniform 2-5× slowdowns across unrelated queries. Guard:
  * bench_reference.json (committed, recorded from a quiet window) gives a
  * per-query reference band; any query whose min-of-N lands above
  * max(3× reference, reference + 1 s) gets ONE extra re-run, and if it is
  * still above the band it is flagged in a "contended" key in the JSON so
  * a polluted run is self-diagnosing rather than silently gate-failing.
  */
object Bench {

  /** Parse the reference-band file into (short query name → seconds).
    * Whitespace-tolerant on purpose: the round-7 re-recording was
    * written with spaces after colons and the previous no-whitespace
    * regex matched ZERO bands, silently disabling the contention
    * guard for a whole round. Returns empty when the file's sf does
    * not match the current sf dir (bands from another scale are pure
    * noise); HARD-errors when the sf matches but zero bands parse —
    * that is the disabled-guard failure mode and must never be
    * silent again. Exposed for BenchGuardSpec. */
  def parseReference(txt: String, sfDir: String): Map[String, Double] = {
    // the LAST stdout line Bench prints is format-identical to a
    // recording but carries only the top-12 queries (marked by its
    // "queries_file" key); accepting it would leave ~95% of the
    // suite unguarded with no error — the partial form of the exact
    // silent-guard-loss this parser hard-errors on
    if (txt.contains("\"queries_file\""))
      sys.error(
        "bench_reference.json looks like Bench's truncated summary " +
        "line (it carries \"queries_file\") — record bands from " +
        "bench_last.json / the merge script, never from the log tail.")
    val refSf = "\"sf\"\\s*:\\s*([0-9.]+)".r.findFirstMatchIn(txt)
      .map(_.group(1))
    val curSf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1))
    if (refSf.isEmpty || refSf != curSf) Map.empty
    else {
      val bands = "\"([A-Za-z0-9]+)\"\\s*:\\s*([0-9.]+)".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .toMap - "sf" - "value"
      if (bands.isEmpty)
        sys.error(
          "bench_reference.json exists at the current SF but parsed " +
          "to ZERO bands — the contention guard would run disabled. " +
          "Fix the file format or delete it.")
      bands
    }
  }

  /** A measured time is contention-suspect when it exceeds its band's
    * limit. TIERED (the round-8 verdict's calibration, boundary
    * re-measured in round 9; heavy tier tightened in round 14): bands
    * ≤ 5 s keep max(3× band, band + 1 s) — measured run-to-run spread
    * on the 2–5 s entries (the BM25 serve twins, the two-Lloyd ANN
    * entries) reaches ~2.1× between isolated and in-suite contexts
    * with zero contention, so a 2× limit there false-flags — while a
    * > 5 s query repeats within ~±30% in-suite. Bands above 5 s flag
    * at 1.5× band: under the old 2× heavy limit a REAL 1.8× regression
    * (round-13 s18, 13.47 s vs 7.42 band) slid through unflagged; the
    * heavy queries' clean in-suite spread (~±30%) leaves headroom
    * under 1.5×. Exposed for BenchGuardSpec. */
  def bandLimit(ref: Double): Double =
    if (ref > 5.0) 1.5 * ref // for ref > 5, 1.5·ref > ref + 1 always
    else math.max(3 * ref, ref + 1.0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // the shared harness session (GraftSession): identical scan-split
    // sizing, AQE posture and cleaner cadence across Bench / Verify /
    // PlanDump / StageProfile, so the bench can never measure under a
    // different plan than the dumps or the oracle gate (each knob is
    // documented in GraftSession)
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.warmup(spark, sfDir)

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // operator-internal persists are per-query scratch state; drop
      // them (storage AND the registry's handles) so queries are timed
      // in isolation rather than under accumulated storage pressure
      InternalCaches.releaseAll()
      spark.catalog.clearCache()
      if (ok) Some(sec) else None
    }
    // local-iteration filter: SPARK_GRAFT_BENCH_ONLY=d8_x,q31_y runs a
    // subset; unset (the driver's case) runs everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // per-query reference bands from a quiet-window run (short name →
    // seconds); parsed with a whitespace-tolerant regex (the round-7
    // re-recording was written with spaces after colons and the old
    // no-whitespace regex silently matched ZERO bands, disabling the
    // guard for a whole round). Bands only apply when the reference
    // was recorded at the SAME scale factor — against any other SF
    // every query would trivially exceed its band and the "contended"
    // signal would be pure noise. A reference file that exists, names
    // the current SF, and still parses to zero bands is a HARD error:
    // that exact failure mode already shipped once.
    val reference: Map[String, Double] = {
      val refPath = java.nio.file.Paths.get("bench_reference.json")
      if (!java.nio.file.Files.exists(refPath)) Map.empty
      else parseReference(
        new String(java.nio.file.Files.readAllBytes(refPath), "UTF-8"),
        sfDir)
    }
    if (only.isEmpty && reference.isEmpty)
      System.err.println(
        "BENCH WARNING: no reference bands loaded; contention guard is OFF")
    // a query absent from the reference runs UNGUARDED — legitimate
    // for queries added since the last recording, but it must be
    // visible, not silent (the round-7 lesson, applied per-query)
    if (only.isEmpty && reference.nonEmpty) {
      val unbanded = selected.keys
        .filter(k => !reference.contains(k.takeWhile(_ != '_')))
      if (unbanded.nonEmpty)
        System.err.println("BENCH NOTE: unguarded (no band yet): " +
          unbanded.toSeq.sorted.mkString(","))
    }
    val contended = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.flatMap { case (name, fn) =>
      val times = (1 to runs).flatMap(_ => timeOnce(name, fn))
      if (times.isEmpty) { failed += name; None }
      else {
        val band = reference.get(name.takeWhile(_ != '_'))
          .map(bandLimit)
        val best = band match {
          case Some(b) if times.min > b =>
            val retried = (times ++ timeOnce(name, fn)).min
            if (retried > b) {
              contended += name
              System.err.println(
                f"BENCH CONTENDED $name: $retried%.2fs vs band $b%.2fs")
            }
            retried
          case _ => times.min
        }
        Some(name -> best)
      }
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalR = math.round(total * 1000) / 1000.0
    spark.stop()
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contendedJson =
      contended.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Three result lines, ordered so the CRITICAL fields are the last
    // bytes on stdout. Tail capture keeps the final ~2000 chars of the
    // log; at 210 queries the per-query dict alone is ~2.4 KB, so a
    // single line carrying everything loses its FRONT — which is
    // exactly where total/failed/contended live (this nulled the
    // driver's parse in rounds 6 and 7). Order now: (1) full-name
    // per-query line, (2) compact short-key per-query line, (3) a
    // short summary line LAST with total/failed/contended/sf plus only
    // the top-12 heaviest queries — sized to survive any tail window.
    // The full compact line is also written to bench_last.json and
    // echoed on stderr.
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"detail":"per_query_full","total":$totalR,"runs_per_query":$runs,"failed":$failedJson,"contended":$contendedJson,"queries_full":$qsFull,"sf":"$sfDir"}""")
    def round2(v: Double) = math.round(v * 100) / 100.0
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + round2(v)
    }.mkString("{", ",", "}")
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    val compact =
      s"""{"metric":"total","value":$totalR,"unit":"sec","failed":$failedJson,"contended":$contendedJson,"queries":$qs,"sf":$sfNum}"""
    // file copy — survives any stdout prefixing/truncation by the runner
    try {
      val w = new java.io.PrintWriter("bench_last.json")
      try w.println(compact) finally w.close()
    } catch { case _: Throwable => () }
    System.err.println(compact) // unprefixed stderr copy
    println(compact)            // full per-query stdout copy
    val topQs = results.toSeq.sortBy(-_._2).take(12).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + round2(v)
    }.mkString("{", ",", "}")
    // LAST line: short enough (~400 chars) that total/failed/contended
    // always land inside the tail window
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","failed":$failedJson,"contended":$contendedJson,"queries":$topQs,"queries_file":"bench_last.json","sf":$sfNum}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
