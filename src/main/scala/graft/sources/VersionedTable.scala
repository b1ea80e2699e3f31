package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SchemaMemo

/** Versioned snapshot table with time travel — the manifest-commit
  * protocol of the open lakehouse formats (Delta/Iceberg's core idea,
  * reduced to its essence): data files are INVISIBLE until a manifest
  * naming them appears, and the manifest appears atomically.
  *
  * Commit protocol:
  *   1. write the snapshot's parquet files under `data/v<N>/`
  *   2. write `_manifests/v<N>.json.tmp` listing exactly those files
  *   3. RENAME it to `_manifests/v<N>.json` — the commit point
  *
  * A reader resolves a version by loading its manifest and scanning
  * ONLY the listed files; the current version is the highest
  * committed manifest. A crash between (1) and (3) leaves orphan data
  * files and possibly a `.tmp` — both invisible to every reader, so
  * a half-finished commit can never be observed (same guarantee the
  * q65 CDC sink gets from its atomic directory swap, here per
  * version with full history retained).
  *
  * Scale shape: the manifest holds file PATHS (one line per file, the
  * unit a 100 TB table is managed in), not data; reads are plain
  * parquet scans of the listed files — pushdown/pruning/AQE all apply
  * unchanged. Version resolution is one directory listing of
  * `_manifests/` (O(versions), not O(files)). Snapshots are
  * copy-on-write full versions — the honest baseline; incremental
  * (append/delta) commits would add file-level reuse to the same
  * manifest mechanics.
  */
object VersionedTable {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestDir(dir: String) = new Path(dir, "_manifests")

  /** Committed versions, ascending (empty if none). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  /** Write the new version's data files and atomically publish its
    * manifest; shared tail of [[commit]], [[appendCommit]] and
    * [[deleteCommit]]. `dvs` are deletion-vector files (see
    * [[deleteCommit]]) the version carries alongside its data. */
  private def publish(df: DataFrame, dir: String, v: Int,
      carriedFiles: Seq[String], dvs: Seq[String] = Seq.empty,
      statsCol: Option[String] = None,
      carriedStats: Seq[String] = Seq.empty,
      bloomMeta: Option[(String, Int, Int)] = None,
      carriedBlooms: Seq[String] = Seq.empty,
      carriedCounts: Seq[String] = Seq.empty,
      countRows: Boolean = false): Int = {
    val f = fs(df.sparkSession, dir)
    val dataDir = new Path(dir, s"data/v$v")
    df.write.mode("overwrite").parquet(dataDir.toString)
    SchemaMemo.recordWrite(df, dataDir.toString)
    val newFiles = f.listStatus(dataDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .sorted
      .map(n => s"data/v$v/$n")
    val newStats = statsCol.map(c =>
      fileStats(df.sparkSession, dataDir, s"data/v$v", c))
      .getOrElse(Seq.empty)
    val newBlooms = bloomMeta.map { case (c, bits, k) =>
      fileBlooms(df.sparkSession, dataDir, s"data/v$v", c, bits, k)
    }.getOrElse(Seq.empty)
    val newCounts =
      if (countRows) fileCounts(df.sparkSession, dataDir, s"data/v$v")
      else Seq.empty
    writeManifest(f, dir, v, carriedFiles ++ newFiles, dvs,
      statsCol, carriedStats ++ newStats,
      bloomMeta, carriedBlooms ++ newBlooms,
      carriedCounts ++ newCounts)
    v
  }

  /** Per-file ROW COUNTS of the just-written files (Delta's
    * `numRecords` statistic): one scan of only the new files — the
    * same read-back [[fileStats]] pays — collected as O(files)
    * `rel|n` strings. What makes [[countFast]]'s metadata-only
    * COUNT(*) possible. */
  private def fileCounts(spark: SparkSession, dataDir: Path,
      relPrefix: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val counted = SchemaMemo.parquet(spark, dataDir.toString)
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(count(lit(1)).as("n"))
      .collect().toSeq
      .map(r => r.getString(0).split("/").last -> r.getLong(1))
      .toMap
    // seed from the directory listing: a zero-row part file emits no
    // groupBy row, but it still needs an explicit |0 entry or countFast
    // forever classifies it as a scan file
    val fsys = dataDir.getFileSystem(
      spark.sessionState.newHadoopConf())
    fsys.listStatus(dataDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(name => s"$relPrefix/$name|${counted.getOrElse(name, 0L)}")
      .sorted
  }

  /** Per-file min/max of `statsCol` for the just-written files under
    * `dataDir` — ONE scan of only the new files (the same read-back
    * the committer already pays for its file listing on an object
    * store), collected as O(files) pipe-packed `rel|min|max` strings.
    * Integral columns only: values are stored as longs. */
  private def fileStats(spark: SparkSession, dataDir: Path,
      relPrefix: String, statsCol: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    SchemaMemo.parquet(spark, dataDir.toString)
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(min(col(statsCol)).cast("long").as("mn"),
        max(col(statsCol)).cast("long").as("mx"))
      .collect().toSeq
      .map { r =>
        val name = r.getString(0).split("/").last
        s"$relPrefix/$name|${r.getLong(1)}|${r.getLong(2)}"
      }.sorted
  }

  /** Logical commit timestamp for the NEXT manifest written on this
    * thread — the deterministic hook `TIMESTAMP AS OF` resolution
    * rides on. Unset, manifests stamp wall-clock millis (the Delta
    * behavior); tests and oracle-checked entries pin explicit instants
    * via [[withCommitTimestamp]] so resolution is reproducible. */
  private val commitTs = new ThreadLocal[Long] {
    override def initialValue: Long = -1L
  }

  /** Run `body` with every manifest it commits stamped `tsMillis`
    * (driver-side commits only — the stamp is thread-local). */
  def withCommitTimestamp[T](tsMillis: Long)(body: => T): T = {
    commitTs.set(tsMillis)
    try body finally commitTs.set(-1L)
  }

  private def writeManifest(f: FileSystem, dir: String, v: Int,
      files: Seq[String], dvs: Seq[String],
      statsCol: Option[String] = None,
      stats: Seq[String] = Seq.empty,
      bloomMeta: Option[(String, Int, Int)] = None,
      blooms: Seq[String] = Seq.empty,
      counts: Seq[String] = Seq.empty): Unit = {
    val statsPart = statsCol.map(c =>
      s""","statsCol":"$c","stats":[${
        stats.map(n => "\"" + n + "\"").mkString(",")}]""").getOrElse("")
    val bloomPart = bloomMeta.map { case (c, bits, k) =>
      s""","bloomCol":"$c","bloomBits":$bits,"bloomK":$k,"blooms":[${
        blooms.map(n => "\"" + n + "\"").mkString(",")}]""" }.getOrElse("")
    val countsPart =
      if (counts.isEmpty) ""
      else s""","counts":[${
        counts.map(n => "\"" + n + "\"").mkString(",")}]"""
    val ts =
      if (commitTs.get >= 0) commitTs.get else System.currentTimeMillis()
    val json = s"""{"version":$v,"ts":$ts,"files":[${
      files.map(n => "\"" + n + "\"").mkString(",")}],"dvs":[${
      dvs.map(n => "\"" + n + "\"").mkString(",")
      }]$statsPart$bloomPart$countsPart}"""
    val md = manifestDir(dir)
    f.mkdirs(md)
    val tmp = new Path(md, s"v$v.json.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(md, s"v$v.json")))
      throw new java.io.IOException(s"commit of v$v lost the rename race")
    writeHint(f, dir, v)
  }

  /** `_manifests/_latest` — a best-effort O(1) pointer to the newest
    * committed version, the Delta `_last_checkpoint` pattern. On an
    * object store, discovering the tip via LIST is a paged,
    * eventually-consistent scan over O(commits) keys (a year of
    * minutely streaming commits is ~500k manifests); one GET of this
    * hint plus a bounded probe-forward replaces it. The hint is NEVER
    * load-bearing: it is written after the manifest rename (the commit
    * point), so it can only LAG — a crash between the two, an
    * interleaved committer pair finishing out of order, or a lost
    * hint file all leave a stale-or-missing hint that
    * [[currentVersionFast]] repairs by probing v+1, v+2, … until a
    * miss. Correctness never depends on it. */
  private def hintPath(dir: String) = new Path(manifestDir(dir), "_latest")

  private[graft] def writeHint(f: FileSystem, dir: String,
      v: Int): Unit =
    try {
      val tmp = new Path(manifestDir(dir), "_latest.tmp")
      val out = f.create(tmp, true)
      try out.write(v.toString.getBytes(UTF_8)) finally out.close()
      val dst = hintPath(dir)
      if (f.exists(dst)) f.delete(dst, false)
      if (!f.rename(tmp, dst)) f.delete(tmp, false)
    } catch { case _: Throwable => () } // a hint, never a gate

  /** Test/entry seam: plant a (possibly stale) hint value directly. */
  private[graft] def writeHint(spark: SparkSession, dir: String,
      v: Int): Unit = writeHint(fs(spark, dir), dir, v)

  private[graft] def readHint(spark: SparkSession,
      dir: String): Option[Int] = readHint(fs(spark, dir), dir)

  private[graft] def readHint(f: FileSystem, dir: String): Option[Int] =
    try {
      val p = hintPath(dir)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val txt =
          try {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](64)
            Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
              .foreach(n => bos.write(buf, 0, n))
            new String(bos.toByteArray, UTF_8).trim
          } finally in.close()
        if (txt.matches("\\d+")) Some(txt.toInt) else None
      }
    } catch { case _: Throwable => None }

  /** The newest committed version in O(1) manifest-store requests:
    * one hint GET, one existence check, then probe-forward past any
    * commits the hint missed. Falls back to the full LIST when the
    * hint is absent, unparseable, or names a vacuumed/never-committed
    * version. The probe loop is bounded by the number of commits that
    * landed since the hint was written — normally 0 or 1. */
  def currentVersionFast(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    def manifestOf(v: Int) = new Path(manifestDir(dir), s"v$v.json")
    val start = readHint(f, dir).filter(v => f.exists(manifestOf(v)))
      .getOrElse {
        val vs = versions(spark, dir)
        require(vs.nonEmpty, s"no committed versions at $dir")
        vs.last
      }
    var v = start
    while (f.exists(manifestOf(v + 1))) v += 1
    v
  }

  /** [[readCurrent]] resolved through the O(1) hint protocol. */
  def readCurrentFast(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, currentVersionFast(spark, dir))

  /** Write `df` as the next snapshot version; returns its number.
    * The manifest rename is the commit point — readers never see a
    * version whose data is incomplete.
    *
    * Concurrency contract: ONE committer per table (the same
    * assumption the open formats make absent a put-if-absent store or
    * coordination service — HDFS rename fails on an existing
    * destination and surfaces the race below, but POSIX rename
    * REPLACES silently, so local-FS concurrent committers could both
    * believe they own a version). Readers are always safe. */
  def commit(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val v = versions(spark, dir).lastOption.map(_ + 1).getOrElse(0)
    publish(df, dir, v, Seq.empty)
  }

  /** [[commit]] that also records per-file min/max of the integral
    * column `statsCol` in the manifest — the data-skipping statistics
    * every lakehouse format keeps. [[readVersionWhere]] then prunes
    * files by range at the MANIFEST level: a 100 TB scan for a narrow
    * key range opens only the files whose [min,max] overlaps it,
    * deciding from O(files) metadata with zero data I/O for the rest.
    * Cluster the data on `statsCol` first (`repartitionByRange`) or
    * the per-file ranges all overlap and nothing can prune — layout
    * is what makes the statistics sharp. Later commits of any kind
    * carry and extend the stats automatically. */
  def commit(df: DataFrame, dir: String, statsCol: String): Int = {
    val spark = df.sparkSession
    val v = versions(spark, dir).lastOption.map(_ + 1).getOrElse(0)
    publish(df, dir, v, Seq.empty, statsCol = Some(statsCol))
  }

  /** [[commit]] that also records per-file ROW COUNTS in the manifest
    * (Delta's `numRecords`), enabling [[countFast]]'s metadata-only
    * COUNT(*). [[appendCommit]] and [[deleteCommit]] carry and extend
    * the counts automatically; commit paths that don't (MERGE,
    * OPTIMIZE, …) simply drop them and countFast degrades to a scan —
    * never wrong, only slower. */
  def commitWithCounts(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val v = versions(spark, dir).lastOption.map(_ + 1).getOrElse(0)
    publish(df, dir, v, Seq.empty, countRows = true)
  }

  /** Seeds for the bloom hash family start here; each of the k hashes
    * is the md5-derived u32 of (value, seed) mod bloomBits — the same
    * engine-pure primitive every oracle-checked hash in the repo uses
    * ([[graft.Tables.hashU32]]), so membership is deterministic under
    * retries and reproducible from the stored value alone. */
  private val BloomSeedBase = 101

  /** Per-file Bloom filters over the just-written files: ONE scan of
    * the new files (same read-back [[fileStats]] pays), k md5-derived
    * bit positions per row, bits OR-ed per file on the EXECUTORS
    * (collect_set per file ≤ bloomBits ints) — the driver only packs
    * ≤ bits/8 bytes per file into base64. O(files · bits/8) manifest
    * bytes, exactly the footprint Delta's bloom index pays. */
  private def fileBlooms(spark: SparkSession, dataDir: Path,
      relPrefix: String, colName: String, bits: Int,
      k: Int): Seq[String] = {
    import org.apache.spark.sql.functions._
    val pos = (0 until k).map(s => pmod(
      graft.Tables.hashU32(col(colName), BloomSeedBase + s),
      lit(bits.toLong)).cast("int"))
    SchemaMemo.parquet(spark, dataDir.toString)
      .select(col("_metadata.file_path").as("fp"),
        explode(array(pos: _*)).as("p"))
      .groupBy(col("fp")).agg(collect_set(col("p")).as("ps"))
      .collect().toSeq
      .map { r =>
        val name = r.getString(0).split("/").last
        val bytes = new Array[Byte](bits / 8)
        r.getSeq[Int](1).foreach { p =>
          bytes(p >> 3) = (bytes(p >> 3) | (1 << (p & 7))).toByte }
        s"$relPrefix/$name|${
          java.util.Base64.getEncoder.encodeToString(bytes)}"
      }.sorted
  }

  /** [[commit]] that also records a PER-FILE BLOOM FILTER over
    * `bloomCol` in the manifest — the point-lookup complement to
    * min/max stats (which only help on range-clustered layouts): on
    * ANY layout, a needle-in-100-TB key lookup via
    * [[readVersionPoint]] opens only the files whose bloom claims the
    * key — expected O(1 + fp·files) files instead of all of them, with
    * zero false negatives by construction. `bloomBits`/`bloomK` size
    * the filter: defaults suit ~1k rows/file (fp « 1%); size bits ≈
    * 10× rows/file for ~1% fp at k=5. Later commits of any kind carry
    * and extend the blooms automatically (files from pre-bloom
    * commits are simply never pruned). */
  def commitWithBloom(df: DataFrame, dir: String, bloomCol: String,
      bloomBits: Int = 8192, bloomK: Int = 5): Int = {
    require(bloomBits > 0 && (bloomBits & 7) == 0,
      s"bloomBits=$bloomBits must be a positive multiple of 8")
    require(bloomK >= 1, s"bloomK=$bloomK must be >= 1")
    val spark = df.sparkSession
    val v = versions(spark, dir).lastOption.map(_ + 1).getOrElse(0)
    publish(df, dir, v, Seq.empty,
      bloomMeta = Some((bloomCol, bloomBits, bloomK)))
  }

  private val BloomColField = """"bloomCol":"([^"]*)"""".r
  private val BloomBitsField = """"bloomBits":(\d+)""".r
  private val BloomKField = """"bloomK":(\d+)""".r

  /** (bloomCol, bits, k) recorded in a manifest, if any. */
  private def bloomMetaOf(json: String): Option[(String, Int, Int)] =
    for {
      c <- BloomColField.findFirstMatchIn(json).map(_.group(1))
      b <- BloomBitsField.findFirstMatchIn(json).map(_.group(1).toInt)
      k <- BloomKField.findFirstMatchIn(json).map(_.group(1).toInt)
    } yield (c, b, k)

  /** The manifest-level bloom pruning decision for `key` on version
    * `v`: (files kept, total files). A file is kept iff its bloom has
    * all k bits of the key set — or it carries no bloom (pre-bloom
    * commit: never wrongly pruned). Pure manifest metadata plus one
    * 1-row local job to evaluate the hash family exactly as the
    * committer did. */
  private[graft] def filesForKey(spark: SparkSession, dir: String,
      v: Int, key: Long): (Seq[String], Int) = {
    import org.apache.spark.sql.functions._
    val json = manifestJson(spark, dir, v)
    val (fileRels, _) = manifestLists(json, v)
    val (_, bits, k) = bloomMetaOf(json).getOrElse(
      throw new IllegalArgumentException(
        s"version $v has no bloom filters — commitWithBloom to " +
          "enable point-lookup skipping"))
    val posCols = (0 until k).map(s => pmod(
      graft.Tables.hashU32(lit(key), BloomSeedBase + s),
      lit(bits.toLong)).cast("int"))
    val pos = spark.range(1).select(array(posCols: _*).as("p"))
      .head.getSeq[Int](0)
    val blooms = parseArray(json, "blooms").getOrElse(Seq.empty)
      .map { s =>
        val i = s.lastIndexOf('|')
        s.substring(0, i) ->
          java.util.Base64.getDecoder.decode(s.substring(i + 1))
      }.toMap
    val kept = fileRels.filter { rel =>
      blooms.get(rel).forall(bytes =>
        pos.forall(p => (bytes(p >> 3) & (1 << (p & 7))) != 0))
    }
    (kept, fileRels.length)
  }

  /** Point lookup with BLOOM SKIPPING: scans only the files whose
    * manifest bloom claims `key` (plus the exact row filter — blooms
    * admit false positives, never false negatives), DVs applied as in
    * [[readVersion]]. Layout-independent: unlike range stats this
    * prunes on hash-partitioned and unsorted tables too — the
    * O(matching files) lookup a 100 TB key fetch needs. */
  def readVersionPoint(spark: SparkSession, dir: String, v: Int,
      key: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val json = manifestJson(spark, dir, v)
    val (fileRels, dvRels) = manifestLists(json, v)
    val bloomCol = bloomMetaOf(json).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"version $v has no bloom filters — commitWithBloom to " +
          "enable point-lookup skipping"))
    val (kept, _) = filesForKey(spark, dir, v, key)
    if (kept.isEmpty)
      readFiles(spark, dir, v, fileRels, dvRels).filter(lit(false))
    else readFiles(spark, dir, v, kept, dvRels)
      .filter(col(bloomCol) === lit(key))
  }

  /** APPEND commit: the new version's manifest lists the previous
    * version's files UNCHANGED plus the freshly written ones — no
    * data is rewritten or copied (file-level reuse, the property that
    * makes daily ingest O(new data) instead of O(table)). Requires a
    * base version to append to. */
  def appendCommit(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"appendCommit needs a base version at $dir")
    val prev = vs.last
    val json = manifestJson(spark, dir, prev)
    val (files, dvs) = manifestLists(json, prev)
    val carriedCounts = parseArray(json, "counts").getOrElse(Seq.empty)
    publish(df, dir, prev + 1, files, dvs,
      statsColOf(json), parseArray(json, "stats").getOrElse(Seq.empty),
      bloomMetaOf(json), parseArray(json, "blooms").getOrElse(Seq.empty),
      carriedCounts, countRows = carriedCounts.nonEmpty)
  }

  /** Atomically claim version `v`: the manifest CAS primitive. The
    * claim token is an exclusive-create of `v$v.json.lock` — on HDFS
    * `createNewFile` is an atomic namespace op; on a local FS it is
    * exists+create (the same best-effort every local-mode lakehouse
    * accepts); on an object store you would swap in a put-if-absent.
    * A claim fails if the version's manifest OR lock already exists —
    * i.e. some other committer owns that slot, published or in
    * flight. The winner publishes under the claimed name (readers
    * never see partial manifests — the tmp+rename inside
    * [[writeManifest]] is unchanged) and releases the lock. A crashed
    * winner leaves a stale lock that parks its slot; [[versions]]
    * skips it (no manifest), and recovery is manual lock removal —
    * the documented trade every lock-file protocol makes. */
  private def tryClaim(f: FileSystem, dir: String, v: Int): Boolean = {
    val md = manifestDir(dir)
    f.mkdirs(md)
    if (f.exists(new Path(md, s"v$v.json"))) false
    else
      try f.createNewFile(new Path(md, s"v$v.json.lock"))
      catch { case _: java.io.IOException => false }
  }

  private def releaseClaim(f: FileSystem, dir: String, v: Int): Unit =
    f.delete(new Path(manifestDir(dir), s"v$v.json.lock"), false)

  /** Optimistic-concurrency APPEND: the multi-writer-safe twin of
    * [[appendCommit]]. Data files are written ONCE under a
    * nonce-keyed txn directory (never rewritten on conflict), then
    * the committer loops: read the latest version, CAS-claim the next
    * slot ([[tryClaim]]), and on success REBASE — carry the file/DV/
    * stats lists of whatever version is latest NOW (not the one read
    * before the claim), append the new files, publish. The claimed
    * slot's exclusivity also lets the txn directory be RENAMED to the
    * canonical `data/v<N>` before the manifest lands (one O(1)
    * metadata op), so every committed file keeps the `/data/vN/` path
    * the deletion-vector protocol derives file versions from — a
    * later DELETE or MERGE masks atomically-appended rows exactly
    * like lockstep-appended ones. Appends commute, so rebase is
    * always safe: two interleaved committers serialize as (winner,
    * loser-rebased) and NEITHER commit is lost. A committer that
    * cannot claim a slot within `maxRetries` rebases aborts with
    * ConcurrentModificationException — its data files are removed,
    * nothing observable remains.
    *
    * `onBeforeClaim` is a test seam: it runs between the latest-read
    * and the claim, which is exactly the window a concurrent
    * committer can steal the slot in (the q90 entry and the spec
    * drive it deterministically). */
  def appendCommitAtomic(df: DataFrame, dir: String,
      maxRetries: Int = 5, onBeforeClaim: () => Unit = () => ()): Int = {
    val spark = df.sparkSession
    require(versions(spark, dir).nonEmpty,
      s"appendCommitAtomic needs a base version at $dir")
    val f = fs(spark, dir)
    val nonce = java.util.UUID.randomUUID().toString.take(12)
    val dataDir = new Path(dir, s"data/c$nonce")
    df.write.mode("errorifexists").parquet(dataDir.toString)
    val newNames = f.listStatus(dataDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .sorted
    var attempt = 0
    while (attempt <= maxRetries) {
      val base = versions(spark, dir).last
      val v = base + 1
      onBeforeClaim()
      if (tryClaim(f, dir, v)) {
        try {
          // the claim owns slot v exclusively, so data/v$v cannot be
          // live (a leftover from a crashed claimer would mean a
          // stale lock this claim could not have acquired)
          val vDir = new Path(dir, s"data/v$v")
          if (!f.rename(dataDir, vDir))
            throw new java.io.IOException(
              s"could not place data/v$v at $dir (stale dir?)")
          SchemaMemo.recordWrite(df, vDir.toString)
          val newFiles = newNames.map(n => s"data/v$v/$n")
          // rebase point: carry the lists of the version the claim
          // actually landed on top of (v - 1), not the pre-claim read
          val json = manifestJson(spark, dir, v - 1)
          val (files, dvs) = manifestLists(json, v - 1)
          val statsCol = statsColOf(json)
          val newStats = statsCol.map(c =>
            fileStats(spark, vDir, s"data/v$v", c))
            .getOrElse(Seq.empty)
          // carry + extend row counts like the lockstep appendCommit:
          // dropping them here would disable countFast's metadata
          // path forever after one atomic append
          val carriedCounts =
            parseArray(json, "counts").getOrElse(Seq.empty)
          val newCounts =
            if (carriedCounts.nonEmpty)
              fileCounts(spark, vDir, s"data/v$v")
            else Seq.empty
          writeManifest(f, dir, v, files ++ newFiles, dvs,
            statsCol,
            parseArray(json, "stats").getOrElse(Seq.empty) ++ newStats,
            bloomMetaOf(json),
            parseArray(json, "blooms").getOrElse(Seq.empty),
            carriedCounts ++ newCounts)
          return v
        } finally releaseClaim(f, dir, v)
      }
      attempt += 1
    }
    f.delete(dataDir, true) // abort: leave nothing observable
    throw new java.util.ConcurrentModificationException(
      s"appendCommitAtomic lost $maxRetries claim races at $dir")
  }

  /** The shared CAS discipline: verify the table is still at
    * `expectedBase`, claim the next slot, re-validate inside the
    * claim (belt and braces against claim/publish orderings on
    * non-atomic stores), run `body`, release. `body` publishes
    * version expectedBase + 1; any conflict aborts with
    * ConcurrentModificationException BEFORE body runs, so an aborted
    * transaction leaves nothing observable. */
  private def withCas(spark: SparkSession, dir: String,
      expectedBase: Int)(body: => Int): Int = {
    val f = fs(spark, dir)
    def latestOrNone = versions(spark, dir).lastOption.getOrElse(-1)
    val latest = latestOrNone
    if (latest != expectedBase)
      throw new java.util.ConcurrentModificationException(
        s"table at $dir moved: expected v$expectedBase, found v$latest")
    val v = expectedBase + 1
    if (!tryClaim(f, dir, v))
      throw new java.util.ConcurrentModificationException(
        s"version v$v at $dir already claimed by a concurrent committer")
    try {
      val now = latestOrNone
      if (now != expectedBase)
        throw new java.util.ConcurrentModificationException(
          s"table at $dir moved to v$now during claim")
      body
    } finally releaseClaim(f, dir, v)
  }

  /** Snapshot-commit CAS for NON-commuting transactions (overwrite,
    * merge-shaped rewrites): publish `df` as the next version ONLY if
    * the table is still at `expectedBase` when the slot is claimed —
    * otherwise abort with ConcurrentModificationException. This is
    * the conflict-DETECTION half of optimistic concurrency: a
    * transaction that read version N and cannot re-validate its reads
    * must not blind-publish over an interloper's commit (lost
    * update); the caller re-reads the new latest and re-runs its
    * transaction logic. `expectedBase = -1` CAS-creates version 0 of
    * an empty table. */
  def commitIfUnchanged(df: DataFrame, dir: String,
      expectedBase: Int): Int =
    withCas(df.sparkSession, dir, expectedBase) {
      publish(df, dir, expectedBase + 1, Seq.empty)
    }

  private val TsField = """"ts":(\d+)""".r

  /** The commit instant stamped in version `v`'s manifest (0 for
    * pre-timestamp manifests) — [[versionAsOf]]'s raw material, also
    * the replay-detection key streaming ingest protocols use. */
  private[graft] def commitTsOf(spark: SparkSession, dir: String,
      v: Int): Long =
    TsField.findFirstMatchIn(manifestJson(spark, dir, v))
      .map(_.group(1).toLong).getOrElse(0L)

  /** Batch-id stamp space for streaming ingest replay detection:
    * far enough past wall-clock millis (~1.7e12 in 2026) that an
    * ingest stamp can never collide with a default-stamped commit
    * (compactions, manual maintenance) on the same table. */
  private[graft] val IngestTsBase = 2_000_000_000_000L

  /** `TIMESTAMP AS OF` resolution: the LATEST version whose commit
    * timestamp is ≤ `tsMillis`. Semantics match Delta's: the version
    * you'd have read had you queried the table at that instant.
    * Versions from pre-timestamp manifests (no "ts" field) are
    * treated as ts = 0 (always visible). Timestamps are expected
    * monotone in version order (single-writer or CAS committers make
    * them so); resolution scans O(versions) manifests — driver-side
    * metadata, the same cost [[versions]] pays. */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no versions at $dir")
    val visible = vs.filter { v =>
      TsField.findFirstMatchIn(manifestJson(spark, dir, v))
        .map(_.group(1).toLong).getOrElse(0L) <= tsMillis
    }
    require(visible.nonEmpty,
      s"no version at or before ts=$tsMillis at $dir " +
        s"(earliest commit is later)")
    visible.max
  }

  /** [[readVersion]] at the version [[versionAsOf]] resolves. */
  def readAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): DataFrame =
    readVersion(spark, dir, versionAsOf(spark, dir, tsMillis))

  // ———— manifest checkpoint compaction (q102) ————
  //
  // The Delta `_checkpoint` pattern: every N commits, the full table
  // state (files, DVs, stats, blooms, counts) PLUS the complete
  // (version → commit-ts) history up to that version is written as
  // one parquet checkpoint. Metadata readers then load the latest
  // checkpoint plus only the SUFFIX manifests committed after it —
  // after thousands of streaming commits (q81/q89/q93 make that
  // normal) `TIMESTAMP AS OF` resolution stops being an O(versions)
  // JSON-GET chain and becomes one parquet read + O(interval) GETs.
  // Checkpoints are derived state: losing every checkpoint loses no
  // data, only the O(1) resolution shortcut.

  private def checkpointRoot(dir: String) = new Path(dir, "_checkpoints")

  private def ckptHintPath(dir: String) =
    new Path(checkpointRoot(dir), "_last_checkpoint")

  /** Committed checkpoint versions, ascending (empty if none). */
  def checkpoints(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val cd = checkpointRoot(dir)
    if (!f.exists(cd)) Seq.empty
    else f.listStatus(cd).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") =>
        n.stripPrefix("v").toInt }
      .sorted
  }

  /** The newest checkpoint in O(1) requests via the `_last_checkpoint`
    * hint (Delta's exact file), falling back to a listing. Like the
    * q94 tip hint, it is NEVER load-bearing: a lagging hint only
    * means extra suffix-manifest probes during resolution, never a
    * wrong answer. */
  def latestCheckpoint(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    val hinted =
      try {
        val p = ckptHintPath(dir)
        if (!f.exists(p)) None
        else {
          val in = f.open(p)
          val txt =
            try {
              val bos = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](64)
              Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
                .foreach(n => bos.write(buf, 0, n))
              new String(bos.toByteArray, UTF_8).trim
            } finally in.close()
          if (txt.matches("\\d+")) Some(txt.toInt) else None
        }
      } catch { case _: Throwable => None }
    hinted.filter(v => f.exists(new Path(checkpointRoot(dir), s"v$v")))
      .orElse(checkpoints(spark, dir).lastOption)
  }

  /** Write the checkpoint for version `v`: the version's full manifest
    * state plus the (version, ts) history ≤ v, one parquet directory
    * under `_checkpoints/v<v>/`, published by directory rename (same
    * tmp+rename discipline as the manifest itself). History is
    * assembled INCREMENTALLY — the previous checkpoint's history rows
    * plus the manifests committed since — so each checkpoint write
    * loads O(interval) manifest JSONs, not O(versions). */
  def checkpointCommit(spark: SparkSession, dir: String, v: Int): Unit = {
    val f = fs(spark, dir)
    val json = manifestJson(spark, dir, v)
    val (files, dvs) = manifestLists(json, v)
    val stats = parseArray(json, "stats").getOrElse(Seq.empty)
    val blooms = parseArray(json, "blooms").getOrElse(Seq.empty)
    val counts = parseArray(json, "counts").getOrElse(Seq.empty)
    val metaRows = Seq.newBuilder[(String, String, Int, Long)]
    files.foreach(r => metaRows += (("file", r, v, 0L)))
    dvs.foreach(r => metaRows += (("dv", r, v, 0L)))
    stats.foreach(r => metaRows += (("stat", r, v, 0L)))
    blooms.foreach(r => metaRows += (("bloom", r, v, 0L)))
    counts.foreach(r => metaRows += (("count", r, v, 0L)))
    statsColOf(json).foreach(c => metaRows += (("statscol", c, v, 0L)))
    bloomMetaOf(json).foreach { case (c, bits, k) =>
      metaRows += (("bloommeta", s"$c|$bits|$k", v, 0L)) }
    // history ≤ v: previous checkpoint's rows + the suffix manifests
    val prev = checkpoints(spark, dir).filter(_ < v).lastOption
    val carried: Seq[(String, String, Int, Long)] = prev match {
      case Some(p) =>
        checkpointRows(spark, dir, p)
          .filter(_._1 == "hist").filter(_._3 <= v)
      case None => Seq.empty
    }
    val carriedMax = carried.map(_._3).foldLeft(-1)(math.max)
    val fresh = ((carriedMax + 1) to v).map(vv =>
      ("hist", "", vv, commitTsOf(spark, dir, vv)))
    val all = metaRows.result() ++ carried ++ fresh
    import spark.implicits._
    val tmp = new Path(checkpointRoot(dir), s".v$v.tmp-${
      System.nanoTime()}")
    val rows = all.toDF("kind", "rel", "ver", "ts")
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(checkpointRoot(dir), s"v$v")
    if (f.exists(dst)) { f.delete(tmp, true) } // idempotent re-write
    else if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"checkpoint v$v lost the rename race")
    else SchemaMemo.recordWrite(rows, dst.toString)
    try {
      val htmp = new Path(checkpointRoot(dir), "_last_checkpoint.tmp")
      val out = f.create(htmp, true)
      try out.write(v.toString.getBytes(UTF_8)) finally out.close()
      val hp = ckptHintPath(dir)
      if (f.exists(hp)) f.delete(hp, false)
      if (!f.rename(htmp, hp)) f.delete(htmp, false)
    } catch { case _: Throwable => () } // a hint, never a gate
  }

  /** Write a checkpoint at the current tip iff `every` commits have
    * landed since the last one (or none exists) — the call streaming
    * committers drop after each commit. */
  def maybeCheckpoint(spark: SparkSession, dir: String,
      every: Int): Boolean = {
    require(every > 0, s"every=$every")
    versions(spark, dir).lastOption match {
      case None => false
      case Some(tip) =>
        val since = latestCheckpoint(spark, dir) match {
          case Some(c) => tip - c
          case None => tip + 1
        }
        if (since >= every) { checkpointCommit(spark, dir, tip); true }
        else false
    }
  }

  private def checkpointRows(spark: SparkSession, dir: String,
      v: Int): Seq[(String, String, Int, Long)] = {
    import spark.implicits._
    SchemaMemo.parquet(spark, new Path(checkpointRoot(dir), s"v$v").toString)
      .select("kind", "rel", "ver", "ts")
      .as[(String, String, Int, Long)].collect().toSeq
  }

  /** `TIMESTAMP AS OF` served from the checkpoint: the (version, ts)
    * answer comes from the newest checkpoint's history rows (one
    * parquet read, zero manifest GETs) plus probes of only the
    * manifests committed AFTER the checkpoint — and none at all when
    * the target instant predates the checkpoint itself. Returns
    * (resolved version, suffix manifests loaded) so callers can
    * assert the O(1)+suffix claim; falls back to the chain scan when
    * no checkpoint exists (manifests loaded = all of them). Same
    * monotone-timestamp contract as [[versionAsOf]]. */
  def versionAsOfCheckpointed(spark: SparkSession, dir: String,
      tsMillis: Long): (Int, Int) = {
    val f = fs(spark, dir)
    latestCheckpoint(spark, dir) match {
      case None =>
        (versionAsOf(spark, dir, tsMillis),
          versions(spark, dir).size)
      case Some(c) =>
        val hist = checkpointRows(spark, dir, c)
          .filter(_._1 == "hist").map(r => r._3 -> r._4).toMap
        var cand = hist.filter(_._2 <= tsMillis).keys
          .foldLeft(-1)(math.max)
        var loads = 0
        // suffix probes only when the target could postdate the
        // checkpoint (ts monotone ⇒ nothing newer qualifies otherwise;
        // non-strict so exact-tie targets still see same-ts successors)
        if (hist.get(c).forall(_ <= tsMillis)) {
          var vv = c + 1
          var stop = false
          while (!stop &&
              f.exists(new Path(manifestDir(dir), s"v$vv.json"))) {
            loads += 1
            if (commitTsOf(spark, dir, vv) <= tsMillis) {
              cand = vv; vv += 1
            } else stop = true
          }
        }
        require(cand >= 0,
          s"no version at or before ts=$tsMillis at $dir " +
            s"(earliest commit is later)")
        (cand, loads)
    }
  }

  /** [[readVersion]] that serves the file/DV lists from the checkpoint
    * when one exists at exactly `v` — zero manifest GETs on the
    * dominant read-the-checkpointed-tip path — and from the (single,
    * self-contained) manifest otherwise. */
  def readVersionCheckpointed(spark: SparkSession, dir: String,
      v: Int): DataFrame =
    if (checkpoints(spark, dir).contains(v)) {
      val rows = checkpointRows(spark, dir, v)
      val files = rows.filter(_._1 == "file").map(_._2)
      val dvs = rows.filter(_._1 == "dv").map(_._2)
      readFiles(spark, dir, v, files, dvs)
    } else readVersion(spark, dir, v)

  /** SHALLOW CLONE (Delta `CLONE` semantics): publish `dstDir`'s v0
    * as a manifest whose entries point at the SOURCE version's data,
    * DV, stats and bloom files by ABSOLUTE path — a metadata-only
    * commit, O(files) strings, ZERO data I/O regardless of table
    * size. Readers need no changes: `new Path(dir, rel)` keeps an
    * absolute child as-is, and the DV file-version masking derives
    * from the `/data/vN/` segment which absolute paths preserve. The
    * clone then lives its own life — appends, deletes, MERGEs and
    * OPTIMIZE land new files under `dstDir` and never touch the
    * source; the source keeps evolving without affecting the clone's
    * pinned v0. Documented hazard (exactly Delta's): a VACUUM on the
    * SOURCE can reclaim files a clone still references — cloning pins
    * nothing in the source's retention accounting.
    *
    * Concurrency guarantee (spec-proven): a clone racing a CAS
    * committer on the source is STALE BUT CONSISTENT, never torn.
    * Manifests are immutable once renamed in, so `srcV`'s file list
    * cannot change under the clone no matter how many commits land
    * concurrently — the clone materializes exactly the version it was
    * given; and the clone never touches the source's version counter,
    * so concurrent CAS commits against the source win or abort
    * exactly as they would without the clone. */
  def cloneCommit(spark: SparkSession, srcDir: String, dstDir: String,
      srcV: Int): Int = {
    require(versions(spark, dstDir).isEmpty,
      s"cloneCommit target $dstDir already has versions")
    val json = manifestJson(spark, srcDir, srcV)
    val (files, dvs) = manifestLists(json, srcV)
    // DV file-version masking derives versions from paths, and a
    // carried DV's source version number is meaningless against the
    // clone's own counter (it would wrongly mask rows the clone
    // appends, or wrongly spare rows the source DV masked). Rather
    // than ship subtly-wrong deletes, require the source version to
    // be DV-free — rewriteCommit folds delete debt into clean files.
    require(dvs.isEmpty,
      s"cloneCommit source v$srcV at $srcDir carries deletion " +
        "vectors; run rewriteCommit on the source (or clone the " +
        "rewritten version) first")
    val srcRoot = fs(spark, srcDir)
      .makeQualified(new Path(srcDir))
    def abs(rel: String): String =
      if (rel.startsWith("/") || rel.contains("://")) rel
      else new Path(srcRoot, rel).toString
    def absFirst(s: String): String = {
      val parts = s.split('|')
      (abs(parts(0)) +: parts.tail.toSeq).mkString("|")
    }
    writeManifest(fs(spark, dstDir), dstDir, 0,
      files.map(abs), Seq.empty,
      statsColOf(json),
      parseArray(json, "stats").getOrElse(Seq.empty).map(absFirst),
      bloomMetaOf(json),
      parseArray(json, "blooms").getOrElse(Seq.empty).map(absFirst))
    0
  }

  /** CAS-guarded MERGE — [[mergeCommit]] wrapped in the
    * [[commitIfUnchanged]] conflict-detection discipline: the merge
    * plan (update files + deletion vector) is only published if the
    * table is still at `expectedBase` when the slot is claimed.
    * MERGE does NOT commute (its DV masks exactly the pre-merge
    * files, and its update rows were computed against the base
    * snapshot), so unlike [[appendCommitAtomic]] there is no safe
    * rebase: a lost race aborts with ConcurrentModificationException
    * and the CALLER re-reads the new latest and re-runs its merge
    * logic — the standard optimistic-transaction retry loop every
    * lakehouse MERGE runs. Nothing observable is left on abort (the
    * conflict check precedes any write). */
  def mergeCommitAtomic(updates: DataFrame, dir: String,
      keyCol: String, expectedBase: Int): Int =
    withCas(updates.sparkSession, dir, expectedBase) {
      mergeCommit(updates, dir, keyCol)
    }

  /** DELETE commit via a deletion vector: the new version's manifest
    * lists the previous version's data files UNCHANGED plus one more
    * deletion-vector file holding the deleted KEYS — no data file is
    * rewritten (merge-on-read, the Delta/Iceberg deletion-vector
    * idea at key granularity). `keys` must be a single-column frame;
    * its column name is stored in the vector file's schema, which is
    * what makes the vector self-describing at read time.
    *
    * A reader of any later version anti-joins the accumulated vectors
    * out ([[readVersion]]); versions before this commit still see the
    * rows — deletes are versioned like every other change. Delete
    * debt accumulates until a [[rewriteCommit]] folds it into fresh
    * data files. */
  def deleteCommit(keys: DataFrame, dir: String): Int = {
    require(keys.columns.length == 1,
      s"deletion vector must be single-column, got ${
        keys.columns.mkString(",")}")
    val spark = keys.sparkSession
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"deleteCommit needs a base version at $dir")
    val prev = vs.last
    // a misnamed key would COMMIT fine and then fail every later
    // read's anti-join — reject it before anything is published
    // (schema-only check: no job runs)
    val tableCols = readVersion(spark, dir, prev).columns.toSet
    require(tableCols.contains(keys.columns.head),
      s"deletion-vector key '${keys.columns.head}' is not a column " +
        s"of the table (${tableCols.toSeq.sorted.mkString(",")})")
    val v = prev + 1
    val f = fs(spark, dir)
    val dvDir = new Path(dir, s"deletes/v$v")
    keys.write.mode("overwrite").parquet(dvDir.toString)
    SchemaMemo.recordWrite(keys, dvDir.toString)
    val newDvs = f.listStatus(dvDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .sorted
      .map(n => s"deletes/v$v/$n")
    val json = manifestJson(spark, dir, prev)
    val (files, dvs) = manifestLists(json, prev)
    writeManifest(f, dir, v, files, dvs ++ newDvs,
      statsColOf(json), parseArray(json, "stats").getOrElse(Seq.empty),
      bloomMetaOf(json), parseArray(json, "blooms").getOrElse(Seq.empty),
      parseArray(json, "counts").getOrElse(Seq.empty))
    v
  }

  /** MERGE (upsert) commit — ONE atomic version: the update rows are
    * appended as fresh data files AND a deletion vector over their
    * keys masks any old copies in pre-existing files. Because DVs are
    * file-scoped strictly (a vector at N masks only files from
    * versions < N), the freshly appended rows survive their own
    * vector — matched keys read as their update row, unmatched keys
    * insert, untouched rows are never rewritten. Equivalent to
    * [[deleteCommit]] + [[appendCommit]] but without the intermediate
    * deleted-only version a time-traveling reader could observe, and
    * with O(updates) I/O like every lakehouse MERGE-on-read.
    *
    * `updates` must carry the table's schema and at most one row per
    * key (the standard MERGE source contract — duplicate update keys
    * would ALL survive). The data files are written FIRST and the
    * vector keys derive from reading them back, so `updates` is
    * computed once and a crash before the manifest rename leaves
    * nothing observable. */
  def mergeCommit(updates: DataFrame, dir: String, keyCol: String): Int = {
    import org.apache.spark.sql.functions.col
    val spark = updates.sparkSession
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"mergeCommit needs a base version at $dir")
    val prev = vs.last
    val tableCols = readVersion(spark, dir, prev).columns
    require(tableCols.sorted.sameElements(updates.columns.sorted),
      s"update schema (${updates.columns.sorted.mkString(",")}) does " +
        s"not match the table (${tableCols.sorted.mkString(",")})")
    require(updates.columns.contains(keyCol),
      s"merge key '$keyCol' is not a column of the updates")
    val v = prev + 1
    val f = fs(spark, dir)
    def listed(p: Path, prefix: String): Seq[String] =
      f.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted.map(n => s"$prefix/$n")
    val dataDir = new Path(dir, s"data/v$v")
    updates.write.mode("overwrite").parquet(dataDir.toString)
    SchemaMemo.recordWrite(updates, dataDir.toString)
    val newFiles = listed(dataDir, s"data/v$v")
    val dvDir = new Path(dir, s"deletes/v$v")
    val dvKeys = SchemaMemo.parquet(spark, dataDir.toString)
      .select(col(keyCol)).distinct()
    dvKeys.write.mode("overwrite").parquet(dvDir.toString)
    SchemaMemo.recordWrite(dvKeys, dvDir.toString)
    val newDvs = listed(dvDir, s"deletes/v$v")
    val json = manifestJson(spark, dir, prev)
    val (files, dvs) = manifestLists(json, prev)
    val statsCol = statsColOf(json)
    val newStats = statsCol.map(c =>
      fileStats(spark, dataDir, s"data/v$v", c)).getOrElse(Seq.empty)
    val bloomMeta = bloomMetaOf(json)
    val newBlooms = bloomMeta.map { case (c, bits, k) =>
      fileBlooms(spark, dataDir, s"data/v$v", c, bits, k)
    }.getOrElse(Seq.empty)
    writeManifest(f, dir, v, files ++ newFiles, dvs ++ newDvs,
      statsCol,
      parseArray(json, "stats").getOrElse(Seq.empty) ++ newStats,
      bloomMeta,
      parseArray(json, "blooms").getOrElse(Seq.empty) ++ newBlooms)
    v
  }

  /** Copy-on-write compaction: materialize the current version WITH
    * its deletion vectors applied as the next full version (fresh data
    * files, empty dvs) — pays off the merge-on-read debt so later
    * scans are plain again. History stays intact: older versions still
    * time-travel, including the merge-on-read ones. */
  def rewriteCommit(spark: SparkSession, dir: String): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"rewriteCommit needs a base version at $dir")
    val json = manifestJson(spark, dir, vs.last)
    publish(readVersion(spark, dir, vs.last), dir, vs.last + 1,
      Seq.empty, statsCol = statsColOf(json),
      bloomMeta = bloomMetaOf(json))
  }

  /** (dir-relative path, bytes) of a version's data files — the
    * O(files) driver-side metadata listing every lakehouse OPTIMIZE
    * planner starts from; no data is read. */
  def fileSizes(spark: SparkSession, dir: String,
      v: Int): Seq[(String, Long)] = {
    val f = fs(spark, dir)
    manifestFiles(spark, dir, v).map(rel =>
      rel -> f.getFileStatus(new Path(dir, rel)).getLen)
  }

  private val DataPathVersion = """data/v(\d+)/""".r

  /** Partial OPTIMIZE (bin-packing compaction): rewrite ONLY the data
    * files smaller than `targetBytes` — coalesced into ~target-sized
    * outputs with the deletion-vector debt they carry already applied
    * — and CARRY every file at or above target untouched, by path.
    * The commit costs O(small files), not O(table): the difference
    * between an affordable nightly OPTIMIZE on a 100 TB table and
    * [[rewriteCommit]]'s full copy-on-write. Deletion vectors that no
    * carried file predates are dropped (decided from path metadata
    * alone — a vector at N masks only files from versions < N); the
    * rest carry, and they cannot touch the freshly packed files,
    * which sit at the new version by construction. Data-skipping
    * stats carry for kept files and re-measure for packed ones.
    *
    * Returns the new version — or the current one UNCHANGED when
    * fewer than two files are below target (nothing to pack; no
    * empty commits). History is intact either way: older versions
    * still time-travel, and [[vacuum]] reclaims the packed-away
    * originals once they fall out of retention. */
  def optimizeCommit(spark: SparkSession, dir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes=$targetBytes must be > 0")
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"optimizeCommit needs a base version at $dir")
    val prev = vs.last
    val json = manifestJson(spark, dir, prev)
    val (files, dvs) = manifestLists(json, prev)
    val f = fs(spark, dir)
    val sized = files.map(rel =>
      rel -> f.getFileStatus(new Path(dir, rel)).getLen)
    val (small, large) = sized.partition(_._2 < targetBytes)
    if (small.length < 2) prev
    else {
      val v = prev + 1
      val largeRels = large.map(_._1)
      // read ONLY the small files; ALL vectors apply here so the
      // packed rows carry no debt (file-scoped masking comes from the
      // path-derived version, exactly as in readVersion)
      val nOut = math.max(1, math.ceil(
        small.map(_._2).sum.toDouble / targetBytes).toInt)
      val packed = readFiles(spark, dir, prev, small.map(_._1), dvs)
        .coalesce(nOut)
      // shallow-clone carried entries are absolute paths whose
      // /data/vN/ numbers come from the SOURCE's counter — against
      // this table's DV counter they are version 0 (pre-everything),
      // the same rule readFiles applies
      def external(rel: String): Boolean =
        rel.startsWith("/") || rel.contains("://")
      def fileV(rel: String): Int =
        if (external(rel)) 0
        else DataPathVersion
          .findFirstMatchIn(rel).map(_.group(1).toInt).getOrElse(0)
      def dvV(rel: String): Int = DvPathVersion
        .findFirstMatchIn(rel).map(_.group(1).toInt).getOrElse(0)
      val keptDvs = dvs.filter(dv =>
        largeRels.exists(fileV(_) < dvV(dv)))
      val largeSet = largeRels.toSet
      val carriedStats = parseArray(json, "stats").getOrElse(Seq.empty)
        .filter(s => largeSet.contains(s.split('|')(0)))
      val carriedBlooms = parseArray(json, "blooms").getOrElse(Seq.empty)
        .filter(s => largeSet.contains(s.substring(0, s.lastIndexOf('|'))))
      publish(packed, dir, v, largeRels, keptDvs,
        statsColOf(json), carriedStats,
        bloomMetaOf(json), carriedBlooms)
    }
  }

  /** RESTORE (rollback) commit: publish version `v`'s exact manifest —
    * files, deletion vectors, stats, blooms, everything — as the NEW
    * current version. Zero data I/O (one manifest read + one write):
    * rolling a 100 TB table back after a bad load costs the same as a
    * metadata operation, which is the whole point of manifest-level
    * versioning. History is append-only — the bad version stays
    * time-travelable until [[vacuum]] retires it, and the restore
    * itself is a first-class version later audits can see. */
  def restoreCommit(spark: SparkSession, dir: String, v: Int): Int = {
    val vs = versions(spark, dir)
    require(vs.contains(v), s"cannot restore: version $v was never " +
      s"committed at $dir (have ${vs.mkString(",")})")
    val nv = vs.last + 1
    val json = manifestJson(spark, dir, v)
      .replaceFirst("\"version\":\\d+", s""""version":$nv""")
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    val tmp = new Path(md, s"v$nv.json.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(md, s"v$nv.json")))
      throw new java.io.IOException(s"restore to v$v lost the rename race")
    nv
  }

  /** Change data feed between two committed versions: every key that
    * differs, labeled insert / delete / update (compared with
    * null-safe equality on all non-key columns — no content hashing,
    * so no hash-collision false-negatives). One full-outer join on
    * the key — the same shuffle MERGE pays — and unchanged rows never
    * leave it, so a consumer incrementally syncing a downstream table
    * reads O(changes), not O(table). Both versions resolve with their
    * deletion vectors applied, so a DV-only commit surfaces as plain
    * `delete` rows here. Returns (keyCol, op). */
  def changes(spark: SparkSession, dir: String, fromV: Int, toV: Int,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readVersion(spark, dir, fromV)
    val b = readVersion(spark, dir, toV)
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"schemas differ between v$fromV and v$toV")
    val cols = a.columns.filterNot(_ == keyCol).sorted.toSeq
    val aa = a.select(col(keyCol) +: lit(1).as("__a") +:
      cols.map(c => col(c).as(s"a_$c")): _*)
    val bb = b.select(col(keyCol) +: lit(1).as("__b") +:
      cols.map(c => col(c).as(s"b_$c")): _*)
    aa.join(bb, Seq(keyCol), "full_outer")
      .withColumn("op",
        when(col("__a").isNull, lit("insert"))
          .when(col("__b").isNull, lit("delete"))
          .when(cols.map(c => col(s"a_$c") <=> col(s"b_$c"))
            .reduce(_ && _), lit(null).cast("string"))
          .otherwise(lit("update")))
      .filter(col("op").isNotNull)
      .select(col(keyCol), col("op"))
  }

  /** Retention vacuum: physically delete the data and deletion-vector
    * files referenced ONLY by versions older than the newest
    * `retainLast`, then drop those versions' manifests. Retained
    * versions time-travel exactly as before (a file they share with a
    * dropped version survives — reference counting by set membership);
    * dropped versions are gone for good, which is the contract every
    * lakehouse retention job has. Returns the deleted relative paths.
    * Driver-side listing is O(retained + dropped manifests), not
    * O(table files). */
  def vacuum(spark: SparkSession, dir: String,
      retainLast: Int): Seq[String] = {
    require(retainLast >= 1, s"retainLast=$retainLast must be >= 1")
    val vs = versions(spark, dir)
    val drop = vs.dropRight(retainLast)
    val keep = vs.takeRight(retainLast)
    val f = fs(spark, dir)
    def both(v: Int): Seq[String] = {
      val (files, dvs) = manifest(spark, dir, v); files ++ dvs
    }
    val referenced = keep.flatMap(both).toSet
    val doomed = drop.flatMap(both).distinct.filterNot(referenced)
    doomed.foreach(rel => f.delete(new Path(dir, rel), false))
    drop.foreach(v =>
      f.delete(new Path(manifestDir(dir), s"v$v.json"), false))
    // version directories no retained manifest references at all go
    // WHOLE (removes the committer's _SUCCESS markers and the empty
    // dirs themselves — otherwise one orphan dir per vacuumed version
    // accumulates forever)
    def verDir(rel: String) = rel.split("/").take(2).mkString("/")
    val dirsInUse = referenced.map(verDir)
    (doomed.map(verDir).toSet -- dirsInUse)
      .foreach(d => f.delete(new Path(dir, d), true))
    doomed
  }

  private def manifestJson(spark: SparkSession, dir: String,
      v: Int): String = {
    val f = fs(spark, dir)
    val mf = new Path(manifestDir(dir), s"v$v.json")
    require(f.exists(mf), s"version $v was never committed at $dir")
    val in = f.open(mf)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
        .foreach(n => bos.write(buf, 0, n))
      new String(bos.toByteArray, UTF_8)
    } finally in.close()
  }

  /** One manifest fetch → (files, dvs). Callers needing both lists
    * MUST use this instead of the two single-field helpers below: on
    * an object store each manifest read is a remote GET. */
  private def manifest(spark: SparkSession, dir: String,
      v: Int): (Seq[String], Seq[String]) =
    manifestLists(manifestJson(spark, dir, v), v)

  /** (files, dvs) out of an already-fetched manifest body — for
    * callers that also need the stats fields from the same GET. */
  private def manifestLists(json: String,
      v: Int): (Seq[String], Seq[String]) =
    (parseArray(json, "files").getOrElse(
      throw new IllegalArgumentException(
        s"manifest v$v missing files array")),
      parseArray(json, "dvs").getOrElse(Seq.empty))

  private val StatsColField = """"statsCol":"([^"]*)"""".r

  /** The data-skipping stats column a manifest carries, if any. */
  private def statsColOf(json: String): Option[String] =
    StatsColField.findFirstMatchIn(json).map(_.group(1))

  /** The (dir-relative) file list of a committed version. */
  private def manifestFiles(spark: SparkSession, dir: String,
      v: Int): Seq[String] = manifest(spark, dir, v)._1

  /** The (dir-relative) deletion-vector list of a committed version
    * (empty for manifests written before deletes existed). */
  private def manifestDvs(spark: SparkSession, dir: String,
      v: Int): Seq[String] = manifest(spark, dir, v)._2

  /** Minimal extractor for a manifest's string-array field (the format
    * is fixed by [[writeManifest]]; no JSON library on the classpath). */
  private[graft] def parseArray(json: String,
      field: String): Option[Seq[String]] =
    (s""""$field":\\[([^\\]]*)\\]""").r.findFirstMatchIn(json).map { m =>
      val body = m.group(1).trim
      if (body.isEmpty) Seq.empty
      else body.split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }

  /** Back-compat alias for the original files extractor. */
  private[graft] def parseFiles(json: String): Seq[String] =
    parseArray(json, "files").getOrElse(
      throw new IllegalArgumentException(
        s"manifest missing files array: $json"))

  private val DvPathVersion = """deletes/v(\d+)/""".r

  /** Time-travel read: exactly the files version `v`'s manifest
    * names, with the version's accumulated deletion vectors applied
    * (anti-join on the vector's own key column — merge-on-read).
    *
    * DVs are FILE-SCOPED, like the lakehouse formats': a vector
    * committed at version N masks a key only in data files that
    * already existed WHEN the vector was committed (every data file
    * is immutably named `data/vK/…`, so "existed before N" is just
    * K < N — derivable from paths, no extra manifest state; the
    * strict inequality is what lets [[mergeCommit]] append fresh
    * copies of the very keys its vector masks). A later append that
    * re-inserts a previously deleted key is therefore VISIBLE — the
    * delete is not a forever-tombstone. The anti-join only exists for versions
    * that carry deletes; plain versions scan untouched, and the join
    * key side is the deleted-key relation, typically a sliver of the
    * table (Spark broadcasts it when small; at worst it shuffles both
    * sides on the key, the same cost every MERGE pays). */
  def readVersion(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val (fileRels, dvRels) = manifest(spark, dir, v)
    readFiles(spark, dir, v, fileRels, dvRels)
  }

  /** Metadata-only COUNT(*) (the Delta "metadata-only query"): when
    * the manifest carries per-file row counts ([[commitWithCounts]]),
    * a version's count is answered by SUMMING O(files) manifest
    * integers — zero data I/O. Deletion vectors narrow, not break,
    * the optimization: a DV at version N only masks rows in files of
    * version < N, so files newer than every DV stay metadata-counted
    * and ONLY the maskable older files are scanned (with DVs applied).
    * Files without a recorded count force themselves into the scanned
    * set — countFast is never wrong, only slower, when a commit path
    * dropped the counts.
    *
    * Returns one row (cnt, files_scanned, files_meta) — the file
    * split is the receipt that the answer did not come from a full
    * scan. */
  def countFast(spark: SparkSession, dir: String, v: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val json = manifestJson(spark, dir, v)
    val (fileRels, dvRels) = manifestLists(json, v)
    val counts: Map[String, Long] =
      parseArray(json, "counts").getOrElse(Seq.empty)
        .map { s =>
          val i = s.lastIndexOf('|')
          s.substring(0, i) -> s.substring(i + 1).toLong
        }.toMap
    val maxDvV = dvRels
      .flatMap(rel => DvPathVersion.findFirstMatchIn(rel)
        .map(_.group(1).toInt))
      .foldLeft(-1)(math.max)
    // own-ness mirrors readFiles: only THIS table's relative
    // "data/vN/" paths carry a version from our counter — a
    // shallow-cloned absolute path keeps its SOURCE dir's /data/vN/
    // segment (a different counter) and must read as version 0, or
    // countFast and the DV mask would disagree on which files a
    // delete touches
    def fileV(rel: String): Int =
      if (!rel.startsWith("data/v")) 0
      else "^data/v(\\d+)/".r.findFirstMatchIn(rel)
        .map(_.group(1).toInt).getOrElse(0)
    // a DV masks rows only where dv_v > file_v (strict — see
    // readFiles), so a file at version ≥ every DV's version is safe
    val (metaFiles, scanFiles) = fileRels.partition(rel =>
      fileV(rel) >= maxDvV && counts.contains(rel))
    val metaSum = metaFiles.map(counts).sum
    val scanned =
      if (scanFiles.isEmpty) 0L
      else readFiles(spark, dir, v, scanFiles, dvRels).count()
    spark.range(1).select(
      lit(metaSum + scanned).as("cnt"),
      lit(scanFiles.size.toLong).as("files_scanned"),
      lit(metaFiles.size.toLong).as("files_meta"))
  }

  /** The shared scan core: exactly `fileRels`, DVs applied.
    *
    * SCHEMA EVOLUTION: footers are merged (`mergeSchema`), so an
    * [[appendCommit]] may legally WIDEN the schema — rows from
    * pre-widening files read the added columns as null, and
    * time-traveling to a pre-widening version still returns exactly
    * that version's narrower schema (its manifest lists only old
    * files). Footer merging is a distributed O(files) metadata pass,
    * the same cost the scan's split planning already pays; every commit
    * here records the schema it wrote ([[SchemaMemo.recordWrite]]), so
    * reading back files this JVM committed folds the recorded schemas
    * instead and runs no job. */
  private def readFiles(spark: SparkSession, dir: String, v: Int,
      fileRels: Seq[String], dvRels: Seq[String]): DataFrame = {
    require(fileRels.nonEmpty, s"version $v manifest lists no files")
    val files = fileRels.map(rel => new Path(dir, rel).toString)
    val data = SchemaMemo.parquet(spark, files, mergeSchema = true)
    if (dvRels.isEmpty) data
    else {
      import org.apache.spark.sql.functions._
      val dv = dvRels.map { rel =>
        val dvV = DvPathVersion.findFirstMatchIn(rel)
          .map(_.group(1).toInt)
          .getOrElse(throw new IllegalArgumentException(
            s"deletion vector outside deletes/vN/: $rel"))
        SchemaMemo.parquet(spark, new Path(dir, rel).toString)
          .withColumn("__dv_v", lit(dvV))
      }.reduce(_ unionByName _)
      val keyCols = dv.columns.filterNot(_ == "__dv_v")
      require(keyCols.length == 1,
        s"deletion vectors must be single-column, got ${
          keyCols.mkString(",")}")
      val key = keyCols.head
      // file version from the path — but ONLY for this table's own
      // files: a shallow-cloned (carried, absolute-path) file keeps
      // its SOURCE dir's /data/vN/ segment, whose number is from a
      // different counter. Carried files all predate every clone-
      // local DV by construction, so they read as version 0. Own-ness
      // is decided scheme-insensitively (_metadata.file_path may
      // carry file:// while makeQualified renders file:/).
      val ownData = fs(spark, dir)
        .makeQualified(new Path(dir, "data")).toUri.getPath + "/"
      val withFileV = data.withColumn("__file_v",
        when(col("_metadata.file_path").contains(ownData),
          regexp_extract(col("_metadata.file_path"), "/data/v(\\d+)/", 1)
            .cast("int"))
          .otherwise(lit(0)))
      val dvk = dv.withColumnRenamed(key, "__dv_key")
      withFileV.join(dvk,
          withFileV(key) === dvk("__dv_key") &&
            dvk("__dv_v") > withFileV("__file_v"), "left_anti")
        .drop("__file_v")
    }
  }

  /** The manifest-level file-skipping decision for `statsCol ∈
    * [lo, hi]` on version `v`: (files kept, total files). A file is
    * kept iff its recorded [min,max] overlaps the range — or it has
    * no stats (carried from a pre-stats commit: never wrongly
    * pruned). Pure manifest metadata: no data file is opened. */
  private[graft] def filesInRange(spark: SparkSession, dir: String,
      v: Int, lo: Long, hi: Long): (Seq[String], Int) = {
    val json = manifestJson(spark, dir, v)
    val (fileRels, _) = manifestLists(json, v)
    val stats = parseArray(json, "stats").getOrElse(Seq.empty)
      .map { s =>
        val parts = s.split('|')
        parts(0) -> (parts(1).toLong, parts(2).toLong)
      }.toMap
    val kept = fileRels.filter { rel =>
      stats.get(rel).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
    (kept, fileRels.length)
  }

  /** Range read with DATA SKIPPING: scans only the files whose
    * manifest [min,max] stats overlap `[lo, hi]` (plus the residual
    * row filter — overlap does not mean containment), DVs applied as
    * in [[readVersion]]. On a range-clustered table this is the
    * O(selectivity) scan a 100 TB point-lookup needs; without stats
    * it degrades gracefully to readVersion + filter. */
  def readVersionWhere(spark: SparkSession, dir: String, v: Int,
      lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val json = manifestJson(spark, dir, v)
    val (fileRels, dvRels) = manifestLists(json, v)
    val statsCol = statsColOf(json).getOrElse(
      throw new IllegalArgumentException(
        s"version $v has no stats column — commit with statsCol " +
          "to enable data skipping"))
    val (kept, _) = filesInRange(spark, dir, v, lo, hi)
    // an all-pruned range still needs the schema: ONE file's footer
    // (mergeSchema reads every listed footer eagerly, so handing the
    // full list to the reader would cost O(files) driver I/O just to
    // carry a schema) + the same residual filter as the non-empty
    // branch + filter(false), which folds to an empty LocalRelation
    // at plan time — zero row I/O
    if (kept.isEmpty)
      readFiles(spark, dir, v, fileRels.take(1), dvRels)
        .filter(col(statsCol).between(lo, hi)).filter(lit(false))
    else readFiles(spark, dir, v, kept, dvRels)
      .filter(col(statsCol).between(lo, hi))
  }

  /** The files of version `v` whose manifest [min,max] stats contain
    * AT LEAST ONE of `keys` (sorted-unique'd here; binary-searched
    * per file) → (kept, total) — the multi-point companion of
    * [[filesInRange]]: an index serve probes a SET of keys, and one
    * covering range would defeat the pruning entirely. */
  private[graft] def filesMatchingAny(spark: SparkSession, dir: String,
      v: Int, keys: Seq[Long]): (Seq[String], Int) = {
    val json = manifestJson(spark, dir, v)
    val (fileRels, _) = manifestLists(json, v)
    val stats = parseArray(json, "stats").getOrElse(Seq.empty)
      .map { s =>
        val parts = s.split('|')
        parts(0) -> (parts(1).toLong, parts(2).toLong)
      }.toMap
    val sorted = keys.distinct.sorted.toArray
    val kept = fileRels.filter { rel =>
      stats.get(rel).forall { case (mn, mx) =>
        val i = java.util.Arrays.binarySearch(sorted, mn)
        val from = if (i >= 0) i else -i - 1
        from < sorted.length && sorted(from) <= mx
      }
    }
    (kept, fileRels.length)
  }

  /** Point-SET read with data skipping: scans only the files kept by
    * [[filesMatchingAny]], plus the residual `isin` row filter
    * (containing a key does not mean every row matches). On a
    * range-clustered table this is the O(matched files) read an
    * index SERVE needs — the query batch's keys prune the stored
    * relation before any row is touched. `keys` must be
    * metadata-sized (a query batch), never data-sized. */
  def readVersionIn(spark: SparkSession, dir: String, v: Int,
      keys: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val json = manifestJson(spark, dir, v)
    val (fileRels, dvRels) = manifestLists(json, v)
    val statsCol = statsColOf(json).getOrElse(
      throw new IllegalArgumentException(
        s"version $v has no stats column — commit with statsCol " +
          "to enable data skipping"))
    val (kept, _) = filesMatchingAny(spark, dir, v, keys)
    // all-pruned: schema from ONE footer, symmetric residual filter,
    // plan-time-empty (see readVersionRange's empty branch)
    if (kept.isEmpty)
      readFiles(spark, dir, v, fileRels.take(1), dvRels)
        .filter(col(statsCol).isin(keys.distinct: _*))
        .filter(lit(false))
    else readFiles(spark, dir, v, kept, dvRels)
      .filter(col(statsCol).isin(keys.distinct: _*))
  }

  /** Read the highest committed version. */
  def readCurrent(spark: SparkSession, dir: String): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed versions at $dir")
    readVersion(spark, dir, vs.last)
  }
}
