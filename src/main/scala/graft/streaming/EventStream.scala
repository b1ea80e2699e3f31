package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.InternalCaches.TrackedPersist
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, Trigger, ValueState}

/** Structured Streaming slice (SURVEY.md §7 M6): the reference's only
  * streaming-like traits are bounded epoch-limited queues, backpressure,
  * and end-of-stream signaling (§2.8) — their Spark-native analogue is a
  * file-source stream with a watermark and a tumbling event-time window.
  *
  * `windowedCounts` builds the streaming DataFrame (unbounded plan);
  * `runOnce` executes it with Trigger.AvailableNow against a memory sink
  * and returns the bounded result — deterministic, so the DuckDB oracle
  * can check it against the equivalent batch GROUP BY.
  */
object EventStream {

  /** Tumbling-window counts per event_type with a watermark. */
  def windowedCounts(stream: DataFrame, windowDur: String,
      watermarkDelay: String): DataFrame =
    stream
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Read `events.parquet`-shaped data as a file stream. The schema is
    * taken from a batch peek (file streams require an explicit schema),
    * inferred once per listing of the original path ([[graft.SchemaMemo]]);
    * maxFilesPerTrigger bounds each micro-batch — the C3 backpressure
    * analogue. ns-timestamps ride the same nanosAsLong + truncate path
    * as Tables.events. */
  /** The file-stream source wants a directory; when given a bare
    * `.parquet` file, stage it into a temp dir via symlink. */
  private def asStreamDir(path: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory) path
    else {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_stream_").toFile
      tmp.deleteOnExit()
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(tmp, f.getName).toPath, f.toPath.toAbsolutePath)
      tmp.getAbsolutePath
    }
  }

  /** Generic parquet file stream (no timestamp munging): the ingestion
    * shape for non-event tables — e.g. a crawler dropping document
    * shards into a landing directory. maxFilesPerTrigger bounds each
    * micro-batch (the C3 backpressure analogue). */
  def parquetFileStream(spark: SparkSession, fileOrDir: String): DataFrame = {
    val dir = asStreamDir(fileOrDir)
    spark.readStream.schema(graft.SchemaMemo.parquet(spark, fileOrDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  def eventsFileStream(spark: SparkSession, fileOrDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = asStreamDir(fileOrDir)
    val schema = graft.SchemaMemo.parquet(spark, fileOrDir).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // µs parquet without isAdjustedToUTC infers NTZ (Spark 4);
      // watermarks require the LTZ type — UTC session zone makes the
      // cast instant-preserving
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** One event for the keyed-state sessionizer. */
  final case class SessEvent(user_id: Long, ts_us: Long, value: Double)
  /** Open-session state carried between micro-batches. */
  final case class SessState(start_us: Long, last_us: Long, n: Long,
      sum_value: Double)
  /** One emitted (closed) session. */
  final case class Session(user_id: Long, start_us: Long, n_events: Long,
      duration_sec: Double, sum_value: Double)

  /** Custom keyed state via flatMapGroupsWithState (the §2.8 checklist's
    * "custom state" slice): gap-based sessionization where sessions
    * closed by a later event are emitted incrementally and the open
    * session per user rides GroupState between micro-batches. Events
    * inside a micro-batch are sorted per user in-function (the iterator
    * carries no order guarantee) — group-per-batch volumes are bounded
    * by maxFilesPerTrigger, the C3 backpressure knob. Note: the
    * still-open trailing session per user is intentionally NOT emitted
    * (it would need a timeout to close); batch `Events.sessionize` is
    * the bounded twin that includes it. */
  def sessionizeStream(events: DataFrame, gapSeconds: Long)
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SessEvent], state: GroupState[SessState]) =>
          val evs = it.toArray.sortBy(e => (e.ts_us, e.value))
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          for (e <- evs) {
            if (cur == null) {
              cur = SessState(e.ts_us, e.ts_us, 1L, e.value)
            } else if (e.ts_us - cur.last_us > gapUs) {
              out += Session(user, cur.start_us, cur.n,
                (cur.last_us - cur.start_us) / 1000000.0, cur.sum_value)
              cur = SessState(e.ts_us, e.ts_us, 1L, e.value)
            } else {
              cur = SessState(cur.start_us, e.ts_us, cur.n + 1,
                cur.sum_value + e.value)
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  /** Per-user running stats via `transformWithState` — the
    * arbitrary-stateful-processing API that supersedes
    * (flat)mapGroupsWithState: typed state variables (here a ValueState
    * counter plus a MapState of per-type counts) managed by the state
    * store directly, instead of one opaque case-class blob per key.
    * Requires the RocksDB state-store provider (set by [[runOnce]]'s
    * caller via `rocksdb = true`). Emits one row per key per
    * micro-batch; deterministic under AvailableNow on a bounded
    * single-batch source. */
  def userStatsStream(events: DataFrame): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"),
        col("event_type"), col("value")).as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** The q57 batch shape: per-user event count and distinct-type count
    * from typed state, aggregated to a compact per-(n_types) profile. */
  case class TypedEvent(user_id: Long, event_type: String, value: Double)
  case class UserStats(user_id: Long, n_events: Long, n_types: Long)

  class UserStatsProcessor
      extends StatefulProcessor[Long, TypedEvent, UserStats] {
    @transient private var nEvents: ValueState[Long] = _
    @transient private var typeCounts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nEvents = getHandle.getValueState[Long]("n_events",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      typeCounts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[UserStats] = {
      // fold the batch locally first: one state-store read/write per
      // DISTINCT type per batch instead of ~3 RocksDB ops per event
      var n = if (nEvents.exists()) nEvents.get() else 0L
      val delta = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { e =>
        n += 1
        delta.updateWith(e.event_type)(c => Some(c.getOrElse(0L) + 1))
      }
      delta.foreach { case (tpe, d) =>
        val cur =
          if (typeCounts.containsKey(tpe)) typeCounts.getValue(tpe) else 0L
        typeCounts.updateValue(tpe, cur + d)
      }
      nEvents.update(n)
      Iterator.single(UserStats(key, n, typeCounts.keys().size.toLong))
    }
  }

  /** One event for the streaming funnel. */
  final case class FunnelEvent(user_id: Long, ts_us: Long,
      event_type: String)
  /** Per-user funnel progress: step times so far (-1 = unreached),
    * the max event time processed so far, and the cumulative count of
    * cross-batch disorder violations (events arriving in a later
    * micro-batch with ts below an already-processed event's). */
  final case class FunnelTimes(t: Seq[Long], maxSeen: Long,
      disordered: Long)
  final case class FunnelReach(user_id: Long, reached: Long,
      times: Seq[Long], disordered: Long)

  /** The q99 funnel automaton as keyed streaming state: per user, the
    * step-time vector rides a ValueState; each micro-batch sorts its
    * rows by event time and replays the "first matching event strictly
    * after the previous step, within the anchor window" rule, setting
    * each step time at most once. Because sorted single-batch replay
    * picks the MINIMUM qualifying timestamp per step, the result is
    * exactly the batch funnel whenever each user's events arrive in
    * event-time order across batches (trivially true for a one-batch
    * AvailableNow source; in production the same guarantee comes from
    * the watermark's bounded-lateness contract — the funnel's version
    * of every streaming aggregation's correctness condition). */
  class FunnelProcessor(steps: Array[String], windowUs: Long)
      extends StatefulProcessor[Long, FunnelEvent, FunnelReach] {
    @transient private var times: ValueState[FunnelTimes] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      times = getHandle.getValueState[FunnelTimes]("step_times",
        org.apache.spark.sql.Encoders.product[FunnelTimes], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelReach] = {
      val st =
        if (times.exists()) times.get()
        else FunnelTimes(Seq.fill(steps.length)(-1L), Long.MinValue, 0L)
      val cur: Array[Long] = st.t.toArray
      // batch≡stream holds only when each user's events arrive in
      // event-time order ACROSS batches; count violations (an event in
      // this batch older than anything already folded) so a silent
      // divergence from the q99 batch answer becomes a visible signal
      val sorted = rows.toArray.sortBy(_.ts_us)
      val disordered = st.disordered +
        sorted.count(_.ts_us < st.maxSeen)
      val maxSeen =
        if (sorted.isEmpty) st.maxSeen
        else math.max(st.maxSeen, sorted.last.ts_us)
      sorted.foreach { e =>
        val i = steps.indexOf(e.event_type)
        if (i == 0) {
          if (cur(0) < 0) cur(0) = e.ts_us
        } else if (i > 0 && cur(i) < 0 && cur(i - 1) >= 0 &&
            e.ts_us > cur(i - 1) && e.ts_us <= cur(0) + windowUs) {
          cur(i) = e.ts_us
        }
      }
      times.update(FunnelTimes(cur.toSeq, maxSeen, disordered))
      Iterator.single(FunnelReach(key,
        cur.takeWhile(_ >= 0).length.toLong, cur.toSeq, disordered))
    }
  }

  /** Streaming funnel over the typed event stream (see
    * [[FunnelProcessor]]); `Events.funnel` is the bounded oracle
    * twin. */
  def funnelStream(events: DataFrame, steps: Seq[String],
      windowUs: Long): Dataset[FunnelReach] = {
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps") // indexOf matching
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(steps.toArray, windowUs),
        TimeMode.None(), OutputMode.Append())
  }

  /** Run a streaming DataFrame to completion (AvailableNow ≈ the
    * reference's bounded, epoch-limited queue that closes and signals
    * OutOfRange — B5) into a memory sink; return the bounded result.
    *
    * State-store partitioning: a streaming query binds its state-store
    * partition count from the session's shuffle-partition conf at
    * start, permanently. That count should track STATE VOLUME, not
    * core count — every micro-batch touches every state partition
    * (open/commit per store), so oversized counts turn into fixed
    * per-batch latency; a production deployment sizes it to keep each
    * store's state in memory and no smaller. The conf is set for the
    * stream's lifetime only and restored after (results are
    * partition-count-invariant — re-verified by the oracle gate at
    * multiple settings). */
  def runOnce(streamed: Dataset[_], queryName: String,
      outputMode: String = "complete", statePartitions: Int = 8,
      rocksdb: Boolean = false): DataFrame = {
    val spark = streamed.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(key, statePartitions.toString)
    // transformWithState requires the RocksDB provider (typed state
    // variables are a RocksDB-column-family feature); other stateful
    // ops stay on the default HDFS-backed store
    if (rocksdb) spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = streamed.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set(key, prev)
      if (rocksdb) prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
    spark.table(queryName)
  }

  /** The foreachBatch CDC apply loop: every micro-batch is reduced to
    * per-key latest changes and merged latest-wins
    * ([[graft.operators.ChangeData.mergeLatest]]) into a parquet state
    * table, swapped in atomically (write to a temp dir, delete, rename
    * — the hand-rolled form of the Delta foreachBatch-MERGE pattern,
    * portable to any Hadoop FS). Because the merge is order-
    * independent and idempotent, replayed or reordered batches
    * converge to the same table — the property that makes the loop
    * restart-safe without coordination. Runs the stream to completion
    * (AvailableNow); read `stateDir` afterwards for the result. */
  def cdcApplyOnce(src: DataFrame, stateDir: String, keyCol: String,
      tsCol: String, tbCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val q = src.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sess = batch.sparkSession
        val changes = graft.operators.ChangeData.mergeLatest(
          batch.limit(0), batch.toDF(), keyCol, tsCol, tbCol)
        val fs = new Path(stateDir)
          .getFileSystem(sess.sessionState.newHadoopConf())
        // crash recovery FIRST: a previous run may have died between
        // the two swap renames, leaving the only copy of the state at
        // __old — restore it before reading (and before the stale-
        // backup delete below, which would otherwise destroy it)
        val statePre = new Path(stateDir)
        val oldPre = new Path(stateDir + "__old")
        if (!fs.exists(statePre) && fs.exists(oldPre))
          require(fs.rename(oldPre, statePre),
            s"cannot restore crashed state from $oldPre")
        val cur =
          if (fs.exists(new Path(stateDir))) sess.read.parquet(stateDir)
          else batch.limit(0).toDF()
        val next = graft.operators.ChangeData.mergeLatest(
          cur, changes, keyCol, tsCol, tbCol)
        // swap via rename-away + rename-in, with every rename CHECKED:
        // Hadoop rename reports most failures by returning false, and
        // delete-before-rename would lose the table if the rename then
        // failed — this way the previous state survives at __old until
        // the new table is in place
        val state = new Path(stateDir)
        val tmp = new Path(stateDir + "__swap")
        val old = new Path(stateDir + "__old")
        next.write.mode("overwrite").parquet(tmp.toString)
        fs.delete(old, true)
        if (fs.exists(state))
          require(fs.rename(state, old), s"cannot move aside $state")
        require(fs.rename(tmp, state), s"cannot install $tmp as $state")
        fs.delete(old, true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-to-TABLE ingest: every micro-batch lands as one APPEND
    * commit on a [[graft.sources.VersionedTable]] — the streaming
    * side of the lakehouse story. Each batch is O(batch) I/O
    * (file-level reuse carries all earlier files unchanged), the
    * manifest rename is the atomic publish, and every batch boundary
    * becomes a time-travelable version: a consumer reads the table as
    * of any micro-batch, or diffs two of them with the change feed.
    *
    * Replay idempotence without sink-side state: batch b owns version
    * b exactly, so a batch whose version number already exists is a
    * REPLAY (restart after a crash between commit and checkpoint, or
    * a full re-run without a checkpoint) and is skipped — the same
    * (appId, batchId) transaction-marker trick the lakehouse
    * streaming sinks use, here folded into the version counter. */
  def tableIngestOnce(src: DataFrame, dir: String): Unit = {
    val q = src.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        lockstepCommit(batch.toDF(), dir, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Batch b owns version b: commit only when the table has exactly
    * `batchId` versions — a replayed batch (same id, table already
    * advanced) is a no-op, so the ingest is idempotent with NO
    * sink-side state; a version/batch mismatch in either direction
    * means the dir is not this stream's table. */
  private def lockstepCommit(df: org.apache.spark.sql.DataFrame,
      dir: String, batchId: Long): Unit = {
    val vt = graft.sources.VersionedTable
    val vs = vt.versions(df.sparkSession, dir)
    if (vs.length <= batchId) {
      require(vs.length == batchId,
        s"table at $dir has ${vs.length} versions but batch " +
          s"$batchId arrived — not this stream's table")
      if (vs.isEmpty) vt.commit(df, dir)
      else vt.appendCommit(df, dir)
    }
  }

  /** Streaming table ingest with AUTO-COMPACTION (Delta's
    * autoCompact): each micro-batch append-commits as usual, and
    * whenever the table's under-target file count exceeds
    * `maxSmallFiles` a partial OPTIMIZE ([[graft.sources
    * .VersionedTable.optimizeCommit]], O(small files)) runs inline —
    * the maintenance loop that keeps a streaming table's file count
    * bounded instead of growing one sliver per batch forever.
    *
    * Replay idempotency CANNOT be q81's version↔batch lockstep here
    * (compaction commits extra versions), so each ingest commit is
    * stamped `IngestTsBase + batchId` and a replayed batch is
    * detected by that stamp's presence — checkpoint-less, crash-safe
    * in both windows (crash before the stamp lands → the append
    * rolls forward on replay; crash before compaction → a later
    * batch's check re-triggers it; compaction itself is
    * content-neutral so replays never duplicate rows). */
  def autoCompactIngestOnce(src: DataFrame, dir: String,
      targetBytes: Long, maxSmallFiles: Int): Unit = {
    val vt = graft.sources.VersionedTable
    val q = src.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val stamp = vt.IngestTsBase + batchId
        val vs = vt.versions(spark, dir)
        val replayed = vs.exists(v => vt.commitTsOf(spark, dir, v) == stamp)
        if (!replayed) {
          vt.withCommitTimestamp(stamp) {
            if (vs.isEmpty) vt.commit(batch.toDF(), dir)
            else vt.appendCommit(batch.toDF(), dir)
          }
        }
        // the compaction check runs for REPLAYED batches too: a crash
        // between the final batch's append and its compaction would
        // otherwise never be repaired (every replayed batch skips the
        // ingest, and no new batch arrives to re-trigger the check)
        val latest = vt.versions(spark, dir).last
        val smalls = vt.fileSizes(spark, dir, latest)
          .count(_._2 < targetBytes)
        if (smalls > maxSmallFiles)
          vt.optimizeCommit(spark, dir, targetBytes)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming TRANSFORM-AND-APPEND ingest (s34 — the q81 shape with
    * a per-batch transform): every micro-batch runs `f` (e.g. assign
    * vectors to a broadcast codebook) and append-commits the result
    * to ONE versioned table in version↔batch lockstep — same
    * idempotent replay semantics as the gated ingests, O(batch) per
    * batch. The final table content is the union of the transformed
    * batches, independent of batch slicing — which is what lets a
    * one-shot oracle check a streaming plan. */
  /** STREAMING GRAPH-INDEX INGEST (s36 — s34's lockstep discipline
    * for the graph tier): new vectors arrive in micro-batches and
    * each batch SPLICES into the stored HNSW graph index
    * ([[graft.operators.Similarity.appendHnswGraphIndexState]] —
    * batch assignment at the frozen codebook, edge re-derivation only
    * for touched srcs). State lives in four versioned tables under
    * `baseDir` — `vectors`/`ranked`/`toplayer` advance with O(batch)
    * APPEND commits (those relations only ever grow); `graphs` takes
    * a full snapshot commit per batch, because a splice mutates
    * existing srcs' edge lists in place (a production store would
    * partition edges by cell and rewrite only touched partitions —
    * the recompute itself is already touched-cells-sized).
    *
    * Exactly-once under replay: the caller seeds each table at
    * version 0 (the base index), batch b owns version b+1 of each,
    * and each table's commit is SEPARATELY lockstep-guarded — a crash
    * between the four commits replays the batch, the already-
    * committed tables no-op, the missing ones land (the gated-ingest
    * two-sink argument, extended to four). Batch b reads the PINNED
    * version b of every table (the [[selfHealingGraphIngestOnce]]
    * discipline, now the single replay pattern across the streaming
    * ingests): the splice inputs are a pure function of (seeded
    * state, batches ≤ b), so a partial-crash replay recomputes
    * byte-identical commit contents even when vectors/ranked/toplayer
    * already advanced. Because sequential splices compose (append ≡
    * rebuild at the same codebook, spec-proven), the final index is
    * independent of batch slicing — the oracle is s31's one-shot
    * rebuild twin VERBATIM. */
  def graphIngestOnce(src: DataFrame, baseDir: String,
      corpusBase: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, degree: Int, nProbeBuild: Int, layerRatio: Int,
      nLayers: Int): Unit = {
    val vt = graft.sources.VersionedTable
    // seeded state is version 0; batch b brings a table to b+1 —
    // commit iff the table still has exactly b+1 versions, so a
    // replayed batch (table already advanced) is a no-op per table
    def lockstepSeeded(df: DataFrame, dir: String,
        batchId: Long): Unit = {
      val vs = vt.versions(df.sparkSession, dir)
      if (vs.length <= batchId + 1) {
        require(vs.length == batchId + 1,
          s"table at $dir has ${vs.length} versions but batch " +
            s"$batchId arrived — state was not seeded for this stream")
        vt.appendCommit(df, dir)
      }
    }
    val q = src.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val gDir = s"$baseDir/graphs"
        if (vt.versions(s, gDir).length <= batchId + 1) {
          val b = batch.toDF().select(col(idCol), col(vecCol))
          // pre-batch state is version batchId of EVERY table —
          // pinned reads: a crash between the four commits can leave
          // THIS batch already appended to vectors/ranked/toplayer,
          // and readCurrent would hand the splice a corpus containing
          // the batch twice; reading the pinned pre-batch version
          // makes every splice input (and so every commit content) a
          // pure function of (seeded state, batches ≤ b), no
          // anti-join needed.
          def pre(t: String) =
            vt.readVersion(s, s"$baseDir/$t", batchId.toInt)
          val corpus = corpusBase.select(col(idCol), col(vecCol))
            .unionByName(pre("vectors")).unionByName(b)
          val (_, graphs2, rankedDelta, topDelta) =
            graft.operators.Similarity.appendHnswGraphIndexState(
              corpus, b, centroids, pre("ranked"), pre("toplayer"),
              pre("graphs"),
              idCol, vecCol, degree, nProbeBuild, layerRatio, nLayers)
          lockstepSeeded(b, s"$baseDir/vectors", batchId)
          lockstepSeeded(rankedDelta, s"$baseDir/ranked", batchId)
          lockstepSeeded(topDelta, s"$baseDir/toplayer", batchId)
          // the graphs snapshot commits LAST: its version count is
          // the replay gate for the whole batch, so every append
          // above is already durable when the gate advances
          vt.commit(graphs2, gDir)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** s41/s42: SELF-HEALING streaming graph ingest — [[graphIngestOnce]]
    * with the s35 drift census wired where mutations actually happen.
    * Every micro-batch: assign the batch at the CURRENT codebook
    * (O(batch)), merge its per-cell census aggregate into the stored
    * one (O(nCells) integer adds — [[graft.operators.Similarity
    * .censusCells]] composes exactly), and evaluate the hot/drift
    * trigger. Quiet → the batch splices like [[graphIngestOnce]]
    * (edge re-derivation bounded to touched cells). Fired → the
    * codebook RETRAINS on the full current corpus and the index
    * rebuilds from scratch, committed as this batch's versions — the
    * steady state stays O(batch) and the corpus-scale rebuild runs
    * exactly when the frozen codebook stopped describing the stream.
    *
    * Seven versioned state tables under `baseDir` (caller seeds each
    * at version 0): `vectors` (ingested rows, append-only),
    * `ranked`/`toplayer`/`graphs` (the index — appends on quiet
    * batches, snapshots on a rebuild), `centroids` (the live
    * codebook), `cellsbuild`/`cellsnow` (the census baseline and
    * running aggregate, nCells rows each — the baseline resets to
    * the fresh full-corpus aggregate on a rebuild).
    *
    * Exactly-once under replay, rebuild decisions included: every
    * table advances exactly ONE version per batch, so batch b's
    * PRE-state is version b of every table — each batch reads those
    * PINNED versions (never readCurrent), making the census, the
    * fire/quiet decision, and every commit a pure function of
    * (seeded state, batches ≤ b). A crash between the seven commits
    * replays the batch: already-committed tables no-op on their
    * lockstep guard, missing ones land with byte-identical content.
    * The graphs snapshot commits LAST as the whole-batch gate. */
  def selfHealingGraphIngestOnce(src: DataFrame, baseDir: String,
      corpusBase: DataFrame, idCol: String, vecCol: String,
      degree: Int, nProbeBuild: Int, layerRatio: Int, nLayers: Int,
      nCells: Int, iters: Int, capFactor: Double = 2.0,
      drop6: Long = 20000L): Unit = {
    val vt = graft.sources.VersionedTable
    val sim = graft.operators.Similarity
    def commitAt(df: DataFrame, dir: String, batchId: Long,
        append: Boolean): Unit = {
      val vs = vt.versions(df.sparkSession, dir)
      if (vs.length <= batchId + 1) {
        require(vs.length == batchId + 1,
          s"table at $dir has ${vs.length} versions but batch " +
            s"$batchId arrived — state was not seeded for this stream")
        if (append) vt.appendCommit(df, dir)
        else vt.commit(df, dir)
      }
    }
    val q = src.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val gDir = s"$baseDir/graphs"
        if (vt.versions(s, gDir).length <= batchId + 1) {
          val b = batch.toDF().select(col(idCol), col(vecCol))
          // pre-batch state is version batchId of EVERY table —
          // pinned reads, so a partial-crash replay recomputes the
          // identical census, decision, and commit contents even
          // when some tables already advanced
          def pre(t: String) =
            vt.readVersion(s, s"$baseDir/$t", batchId.toInt)
          val cents = pre("centroids")
          val batchCells = sim.censusCells(
            sim.assignWithSim(b, cents, idCol, vecCol))
          val nowCells = sim.mergeCensusCells(pre("cellsnow"),
            batchCells)
          val census = sim.indexDriftCensusFromCells(
            pre("cellsbuild"), nowCells, nCells, capFactor, drop6)
          val corpus = corpusBase.select(col(idCol), col(vecCol))
            .unionByName(pre("vectors")).unionByName(b)
          if (sim.driftTriggered(census)) {
            // the census fired: retrain on the full current corpus
            // and rebuild; baseline and running census both reset to
            // the fresh assignment's aggregate
            val cents2 = sim.kmeansCentroids(corpus, idCol, vecCol,
              nCells, iters)
            val (top2, graphs2, ranked2) =
              sim.buildHnswGraphIndexWith(corpus, cents2, idCol,
                vecCol, degree, nProbeBuild, layerRatio, nLayers)
            val fullCells = sim.censusCells(
              sim.assignWithSim(corpus, cents2, idCol, vecCol))
              .persistTracked() // committed twice (baseline + now)
            commitAt(b, s"$baseDir/vectors", batchId, append = true)
            commitAt(ranked2, s"$baseDir/ranked", batchId,
              append = false)
            commitAt(top2, s"$baseDir/toplayer", batchId,
              append = false)
            commitAt(cents2, s"$baseDir/centroids", batchId,
              append = false)
            commitAt(fullCells, s"$baseDir/cellsbuild", batchId,
              append = false)
            commitAt(fullCells, s"$baseDir/cellsnow", batchId,
              append = false)
            commitAt(graphs2, gDir, batchId, append = false)
          } else {
            // quiet: the graphIngestOnce splice at pinned state
            val (_, graphs2, rankedDelta, topDelta) =
              graft.operators.Similarity.appendHnswGraphIndexState(
                corpus, b, cents, pre("ranked"), pre("toplayer"),
                pre("graphs"), idCol, vecCol, degree, nProbeBuild,
                layerRatio, nLayers)
            commitAt(b, s"$baseDir/vectors", batchId, append = true)
            commitAt(rankedDelta, s"$baseDir/ranked", batchId,
              append = true)
            commitAt(topDelta, s"$baseDir/toplayer", batchId,
              append = true)
            // unchanged on a quiet batch, but re-committed (nCells
            // rows) so every table stays in version↔batch lockstep
            commitAt(cents, s"$baseDir/centroids", batchId,
              append = false)
            commitAt(pre("cellsbuild"), s"$baseDir/cellsbuild",
              batchId, append = false)
            commitAt(nowCells, s"$baseDir/cellsnow", batchId,
              append = false)
            commitAt(graphs2, gDir, batchId, append = false)
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  def transformIngestOnce(src: DataFrame, f: DataFrame => DataFrame,
      tableDir: String): Unit = {
    val q = src.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        lockstepCommit(f(batch.toDF()), tableDir, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[gatedIngestOnce]] with a LEARNED rule (q103 — the
    * train→deploy loop closed for the t38 classifier): instead of
    * row-local constraint predicates, each micro-batch is scored by
    * `score` (e.g. broadcast-weight logistic scoring — an aggregation
    * per doc, which a Column rule cannot express), keepers
    * (score ≥ threshold) append-commit to `baseDir/table`, the rest
    * (with their scores) to `baseDir/quarantine` — same lockstep
    * version↔batch discipline, same exactly-once replay semantics.
    * Scoring cost is O(batch) against a broadcast model; both sinks
    * stay O(batch) appends. The quarantine predicate is the exact
    * COMPLEMENT of the keep predicate (`!(score >= threshold)`), not
    * `score < threshold`: a NULL score satisfies neither comparison,
    * so the `<` form would silently drop NULL-scored rows from BOTH
    * tables — with the complement they land in quarantine, keeping
    * the every-row-in-exactly-one-table contract for any scorer. */
  def scoredGatedIngestOnce(src: DataFrame,
      score: DataFrame => DataFrame, scoreCol: String,
      threshold: Long, baseDir: String): Unit = {
    val q = src.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist/unpersist (not localCheckpoint): score once, feed
        // both sinks, then RELEASE — a checkpoint would pin executor
        // blocks the stream never revisits, accumulating across
        // batches of a long-running ingest
        val scored = score(batch.toDF()).persist()
        try {
          lockstepCommit(scored.filter(col(scoreCol) >= threshold),
            s"$baseDir/table", batchId)
          lockstepCommit(scored.filter(!(col(scoreCol) >= threshold)),
            s"$baseDir/quarantine", batchId)
        } finally scored.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAMING expectations (the DLT shape): every micro-batch is
    * gated by [[graft.operators.Constraints.check]] — clean rows
    * append-commit to `baseDir/table`, violators (with their per-rule
    * `reasons` bitmask) to `baseDir/quarantine`, each table advancing
    * in version↔batch lockstep. The two commits are SEPARATELY
    * idempotent: a crash between them replays the batch, the
    * already-committed side no-ops, the missing side lands — every
    * input row ends up in exactly one table exactly once, with no
    * checkpoint-side state. Gating cost is one codegen'd map over the
    * batch; both sinks are O(batch) appends, never O(table). */
  def gatedIngestOnce(src: DataFrame,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      baseDir: String): Unit = {
    val q = src.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist/unpersist, not localCheckpoint — see
        // scoredGatedIngestOnce: blocks release per batch
        val checked = graft.operators.Constraints
          .check(batch.toDF(), rules).persist()
        try {
          lockstepCommit(
            checked.filter(col("reasons") === 0L).drop("reasons"),
            s"$baseDir/table", batchId)
          lockstepCommit(checked.filter(col("reasons") =!= 0L),
            s"$baseDir/quarantine", batchId)
        } finally checked.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Incremental view maintenance (IVM) over a CDC stream: alongside
    * the latest-wins state table ([[cdcApplyOnce]]'s semantics, plus
    * delete tombstones), an aggregate VIEW — (group, cnt, sum6) over
    * the LIVE rows — is maintained from per-batch DELTAS instead of
    * recomputed: each batch touches only its own keys, subtracts their
    * old contributions and adds their new ones. At 100 TB this is the
    * difference between an O(changed keys) and an O(table) view
    * refresh per batch. The oracle proves incremental == recompute
    * exactly — possible because the summed measure is pre-quantized to
    * integer micro-units (`val6Col`), so add/subtract replay is
    * lossless (double sums would drift from a fresh recompute).
    *
    * Order independence: delete ops are kept in the state as
    * TOMBSTONE rows carrying their timestamp — an out-of-order upsert
    * older than the tombstone loses the latest-wins merge, exactly as
    * it would have in timestamp order. View rows whose count reaches 0
    * are dropped. Both tables live under `baseDir/{state,view}` and
    * move together in ONE atomic parent-dir swap — a crash can never
    * observe a state/view pair from different batches (same checked
    * rename discipline as [[cdcApplyOnce]]). */
  def ivmApplyOnce(src: DataFrame, baseDir: String, keyCol: String,
      tsCol: String, tbCol: String, opCol: String, groupCol: String,
      val6Col: String): Unit = {
    import org.apache.hadoop.fs.Path
    val q = src.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sess = batch.sparkSession
        val fs = new Path(baseDir)
          .getFileSystem(sess.sessionState.newHadoopConf())
        val base = new Path(baseDir)
        val old = new Path(baseDir + "__old")
        if (!fs.exists(base) && fs.exists(old))
          require(fs.rename(old, base),
            s"cannot restore crashed state from $old")
        val hasCur = fs.exists(base)
        val empty = batch.limit(0).toDF()
        val curState =
          if (hasCur) sess.read.parquet(s"$baseDir/state") else empty
        val curView =
          if (hasCur) sess.read.parquet(s"$baseDir/view")
          else empty.select(col(groupCol), lit(0L).as("cnt"),
            lit(0L).as("sum6"))
        val batchLatest = graft.operators.ChangeData.mergeLatest(
          empty, batch.toDF(), keyCol, tsCol, tbCol)
        val keys = batchLatest.select(col(keyCol)).distinct()
        val oldAffected = curState.join(keys, Seq(keyCol), "left_semi")
        val nextState = graft.operators.ChangeData.mergeLatest(
          curState, batchLatest, keyCol, tsCol, tbCol)
        // the state is WRITTEN first and the view's delta reads the
        // written files back — deriving both from the nextState plan
        // would execute the full-table latest-wins window twice per
        // batch (lineage is not a cache)
        val tmp = new Path(baseDir + "__swap")
        fs.delete(tmp, true)
        nextState.write.parquet(s"${tmp.toString}/state")
        val newAffected = sess.read.parquet(s"${tmp.toString}/state")
          .join(keys, Seq(keyCol), "left_semi")
        def contrib(df: DataFrame, sign: Long) = df
          .filter(col(opCol) =!= "delete")
          .groupBy(col(groupCol))
          .agg((count(lit(1)) * sign).as("dcnt"),
            (coalesce(sum(col(val6Col)), lit(0L)) * sign).as("dsum6"))
        val delta = contrib(oldAffected, -1L)
          .unionByName(contrib(newAffected, 1L))
          .groupBy(col(groupCol))
          .agg(sum(col("dcnt")).as("dcnt"), sum(col("dsum6")).as("dsum6"))
        val nextView = curView.join(delta, Seq(groupCol), "full_outer")
          .select(col(groupCol),
            (coalesce(col("cnt"), lit(0L)) +
              coalesce(col("dcnt"), lit(0L))).as("cnt"),
            (coalesce(col("sum6"), lit(0L)) +
              coalesce(col("dsum6"), lit(0L))).as("sum6"))
          .filter(col("cnt") > 0)
        nextView.write.parquet(s"${tmp.toString}/view")
        fs.delete(old, true)
        if (fs.exists(base))
          require(fs.rename(base, old), s"cannot move aside $base")
        require(fs.rename(tmp, base), s"cannot install $tmp as $base")
        fs.delete(old, true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming WARC ingest — the crawl-arrival shape: the stream
    * carries CDX index rows (parquet, so it streams natively) and each
    * micro-batch FETCHES its records from the shards via
    * [[graft.sources.WarcShards.readIndexed]] — seek-and-read of
    * exactly the batch's members, the Common Crawl access pattern
    * inside foreachBatch. Each batch folds its records into a
    * canonical-URL dedup census STATE table at (canonical_url, url)
    * grain; the merged aggregates (counts, id sums, min ids) are
    * ADDITIVE and order-independent, so the final census is
    * independent of batch slicing — the oracle is d22's batch census
    * VERBATIM (one oracle text, two execution paths, the q99/q100
    * pattern). State advances by q79-style MERGE commits: only the
    * batch's (canonical_url, url) groups are re-derived and written
    * (O(batch) commit I/O — untouched groups are never rewritten),
    * version↔batch lockstep on top of the empty v0 seed makes
    * replays no-op. */
  def warcCensusIngestOnce(cdxStream: DataFrame, warcDir: String,
      stateDir: String): Unit = {
    val q = cdxStream.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        warcCensusMergeBatch(batch.toDF(), warcDir, stateDir, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch of the WARC census ingest (the foreachBatch body,
    * callable directly — the stress harness drives it with a fixed
    * batch against a grown state to prove the merge is O(batch)):
    * fetch the batch's records via the CDX, fold them to partials,
    * MERGE-commit only the touched groups under the lockstep guard. */
  def warcCensusMergeBatch(cdxBatch: DataFrame, warcDir: String,
      stateDir: String, batchId: Long): Unit = {
    val vt = graft.sources.VersionedTable
    val sess = cdxBatch.sparkSession
    val recs = graft.sources.WarcShards
      .readIndexed(cdxBatch, warcDir)
      .filter(col("warc_type") === "response")
    // the row id rides in the deterministic record uuid's last
    // 12 hex digits (WarcShards.recordId) — the raw URL cannot
    // carry it recoverably, that's the point of the fixture
    val part = recs.select(col("target_uri").as("url"),
        graft.operators.Dedup.canonicalizeUrl(col("target_uri"))
          .as("canonical_url"),
        conv(regexp_extract(col("record_id"),
          "8000-([0-9a-f]{12})>", 1), 16, 10)
          .cast("long").as("doc_id"))
      .groupBy(col("canonical_url"), col("url"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"),
        sum(col("doc_id")).as("id_sum"))
      // mergeCommit takes ONE key column; the state grain is the
      // pair, so the key is its sentinel-joined concatenation
      .withColumn("k", concat_ws("\u0001",
        col("canonical_url"), col("url")))
    if (vt.versions(sess, stateDir).isEmpty) {
      require(batchId == 0,
        s"state at $stateDir is unseeded but batch $batchId " +
          "arrived — not this stream's table")
      vt.commit(part.limit(0), stateDir) // empty v0 seed
    }
    val vs = vt.versions(sess, stateDir)
    if (vs.length <= batchId + 1) {
      require(vs.length == batchId + 1,
        s"state at $stateDir has ${vs.length} versions but " +
          s"batch $batchId arrived — not this stream's table")
      // re-derive ONLY the groups this batch touches: prior rows
      // for affected keys merge with the batch partials; the
      // MERGE commit masks their old copies and appends the new
      // rows — untouched groups are never read back or rewritten.
      // persisted: the batch partials feed both the affected-key
      // semi-join and the merge union — one seek-fetch pass
      val partP = part.persistTracked()
      val prior = vt.readCurrent(sess, stateDir)
        .join(partP.select(col("k")), Seq("k"), "left_semi")
      val updates = prior.unionByName(partP)
        .groupBy(col("k"), col("canonical_url"), col("url"))
        .agg(sum(col("cnt")).as("cnt"),
          min(col("min_id")).as("min_id"),
          sum(col("id_sum")).as("id_sum"))
      vt.mergeCommit(updates, stateDir, "k")
      ()
    }
  }

  /** STREAMING n-gram index ingest — the t51/t53 count index
    * accumulated as documents arrive instead of rebuilt per corpus
    * scan: each micro-batch folds its own (ctx_len, ctx, next)
    * partial counts (O(batch·maxN) map + one batch-sized aggregate)
    * and MERGE-commits only the touched grams into the versioned
    * state table, in version↔batch lockstep. Counts are additive, so
    * the final index is slicing-independent — the oracle for a serve
    * over the final state is the batch build's text VERBATIM.
    *
    * Scale shape: steady-state work per batch is O(batch grams) —
    * the prior-state read is a left-semi join on the batch's keys
    * (never a full state scan rewrite; the MERGE masks old copies of
    * touched keys only), which is the same O(batch) commit receipt
    * q106 carries. */
  def ngramIngestOnce(docStream: DataFrame, maxN: Int,
      stateDir: String): Unit = {
    val q = docStream.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ngramMergeBatch(batch.toDF(), maxN, stateDir, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch of the n-gram index ingest (the foreachBatch
    * body, callable directly): per-batch gram partials MERGE-commit
    * under the lockstep guard; a replayed batch id is a proven no-op
    * (versions already advanced past it). */
  def ngramMergeBatch(batch: DataFrame, maxN: Int, stateDir: String,
      batchId: Long): Unit = {
    val vt = graft.sources.VersionedTable
    val sess = batch.sparkSession
    val part = graft.operators.TextAnalysis
      .ngramCounts(batch, col("doc_id"), col("text"), maxN)
      // mergeCommit takes ONE key column; the gram grain is the
      // triple, so the key is its sentinel-joined concatenation
      .withColumn("k", concat_ws("\u0001",
        col("ctx_len"), col("ctx"), col("next")))
    if (vt.versions(sess, stateDir).isEmpty) {
      require(batchId == 0,
        s"state at $stateDir is unseeded but batch $batchId " +
          "arrived — not this stream's table")
      vt.commit(part.limit(0), stateDir) // empty v0 seed
    }
    val vs = vt.versions(sess, stateDir)
    if (vs.length <= batchId + 1) {
      require(vs.length == batchId + 1,
        s"state at $stateDir has ${vs.length} versions but " +
          s"batch $batchId arrived — not this stream's table")
      // re-derive ONLY the grams this batch touches; persisted: the
      // partials feed both the affected-key semi-join and the merge
      // union — one tokenize pass per batch
      val partP = part.persistTracked()
      val prior = vt.readCurrent(sess, stateDir)
        .join(partP.select(col("k")), Seq("k"), "left_semi")
      val updates = prior.unionByName(partP)
        .groupBy(col("k"), col("ctx_len"), col("ctx"), col("next"))
        .agg(sum(col("c")).as("c"))
      vt.mergeCommit(updates, stateDir, "k")
      ()
    }
  }

  /** BUDGET-CAPPED streaming admission — p15's token-budget fill done
    * online: documents arrive in micro-batches and a domain admits
    * while its CONSUMED token state is under budget (fill-then-cut
    * within each batch, md5-ordered inside the batch — admission is
    * arrival-ordered across batches by construction, the honest
    * semantics of online admission; p15 is the global-order batch
    * twin). State is one metadata-sized row per domain
    * (consumed_toks, n_admitted, admitted_id_sum) advanced by MERGE
    * commits in version↔batch lockstep — domains a batch doesn't
    * touch (or whose budget is already full with nothing arriving)
    * are never read back or rewritten. */
  def budgetIngestOnce(docStream: DataFrame, budgets: DataFrame,
      stateDir: String): Unit = {
    val q = docStream.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        budgetIngestMergeBatch(batch.toDF(), budgets, stateDir, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch of the budget-capped admission (the foreachBatch
    * body, callable directly). `batch` must carry (doc_id, domain,
    * n_toks); `budgets` must be (domain, budget_toks),
    * metadata-sized. */
  def budgetIngestMergeBatch(batch: DataFrame, budgets: DataFrame,
      stateDir: String, batchId: Long): Unit = {
    val vt = graft.sources.VersionedTable
    val sess = batch.sparkSession
    val zeroState = batch.sparkSession.range(0)
      .select(lit("").as("domain"), lit(0L).as("consumed_toks"),
        lit(0L).as("n_admitted"), lit(0L).as("admitted_id_sum"))
      .limit(0)
    if (vt.versions(sess, stateDir).isEmpty) {
      require(batchId == 0,
        s"state at $stateDir is unseeded but batch $batchId " +
          "arrived — not this stream's table")
      vt.commit(zeroState, stateDir)
    }
    val vs = vt.versions(sess, stateDir)
    if (vs.length <= batchId + 1) {
      require(vs.length == batchId + 1,
        s"state at $stateDir has ${vs.length} versions but " +
          s"batch $batchId arrived — not this stream's table")
      val prior = vt.readCurrent(sess, stateDir)
      val cum = batch.select(col("doc_id"), col("domain"),
          col("n_toks").cast("long").as("n_toks"))
        .withColumn("__h", graft.Tables.hashU32(col("doc_id"), 91))
        .withColumn("__cum", sum(col("n_toks")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("domain"))
            .orderBy(col("__h"), col("doc_id"))))
        .join(broadcast(budgets), Seq("domain"))
        .join(broadcast(prior
            .select(col("domain"), col("consumed_toks"))),
          Seq("domain"), "left_outer")
        .withColumn("__base", coalesce(col("consumed_toks"), lit(0L)))
        .filter(col("__base") + col("__cum") - col("n_toks") <
          col("budget_toks"))
      val admitted = cum.groupBy(col("domain"))
        .agg(sum(col("n_toks")).as("a_toks"),
          count(lit(1)).as("a_n"), sum(col("doc_id")).as("a_ids"))
        .persistTracked() // feeds the semi-join AND the merge union
      val touched = prior.join(admitted.select(col("domain")),
        Seq("domain"), "left_semi")
      val updates = touched.unionByName(admitted.select(col("domain"),
          col("a_toks").as("consumed_toks"), col("a_n").as("n_admitted"),
          col("a_ids").as("admitted_id_sum")))
        .groupBy(col("domain"))
        .agg(sum(col("consumed_toks")).as("consumed_toks"),
          sum(col("n_admitted")).as("n_admitted"),
          sum(col("admitted_id_sum")).as("admitted_id_sum"))
      vt.mergeCommit(updates, stateDir, "domain")
      ()
    }
  }

  /** Streaming PREFERENCE-OUTCOME ingest — the online side of the
    * t55 leaderboard lane: pairwise (winner, loser) outcome events
    * arrive in micro-batches (human labels land continuously in a
    * production preference pipeline) and MERGE-commit into a directed
    * outcome-count state table in version↔batch lockstep. Counts
    * aggregate ADDITIVELY, so the merged state after any prefix of
    * batches equals a batch aggregation over those outcomes — the
    * Bradley–Terry solve reads the state table directly
    * (Preference.bradleyTerryFromCounts) and q111's result is
    * provably t55's on the same outcome set. O(batch) per commit:
    * only pairs the batch touches are read back or rewritten. */
  def prefIngestOnce(outcomeStream: DataFrame,
      stateDir: String): Unit = {
    val q = outcomeStream.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        prefIngestMergeBatch(batch.toDF(), stateDir, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch of the preference-outcome ingest (the
    * foreachBatch body, callable directly). `batch` must carry
    * (winner, loser) outcome rows; state rows are
    * (k, winner, loser, n) keyed by the sentinel-joined pair. */
  def prefIngestMergeBatch(batch: DataFrame, stateDir: String,
      batchId: Long): Unit = {
    val vt = graft.sources.VersionedTable
    val sess = batch.sparkSession
    val part = batch
      .groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("n"))
      .withColumn("k",
        concat_ws("\u0001", col("winner"), col("loser")))
    if (vt.versions(sess, stateDir).isEmpty) {
      require(batchId == 0,
        s"state at $stateDir is unseeded but batch $batchId " +
          "arrived — not this stream's table")
      vt.commit(part.limit(0), stateDir) // empty v0 seed
    }
    val vs = vt.versions(sess, stateDir)
    if (vs.length <= batchId + 1) {
      require(vs.length == batchId + 1,
        s"state at $stateDir has ${vs.length} versions but " +
          s"batch $batchId arrived — not this stream's table")
      // persisted: the partial feeds both the touched-key semi-join
      // and the merge union — one aggregation pass per batch
      val partP = part.persistTracked()
      val prior = vt.readCurrent(sess, stateDir)
        .join(partP.select(col("k")), Seq("k"), "left_semi")
      val updates = prior.unionByName(partP)
        .groupBy(col("k"), col("winner"), col("loser"))
        .agg(sum(col("n")).as("n"))
      vt.mergeCommit(updates, stateDir, "k")
      ()
    }
  }

  /** Streaming WARC ARCHIVER — the write side of the crawl lane (q106
    * is the read side): each micro-batch of documents becomes ONE
    * complete `.warc.gz` shard (warcinfo + member-per-record, written
    * executor-side by [[graft.sources.WarcShards.writeShard]]) and its
    * CDX rows append-commit to a versioned index table in
    * version↔batch lockstep. Shard bytes are deterministic (pinned
    * date, id-derived uuids, batch-keyed warcinfo id), so the crash
    * window between shard write and CDX commit replays byte-identical
    * — the archive is idempotent with no sink-side state. */
  def warcArchiveOnce(docStream: DataFrame, dir: String,
      baseName: String, cdxDir: String, idCol: String, uriCol: String,
      bodyCol: String): Unit = {
    val vt = graft.sources.VersionedTable
    val q = docStream.writeStream
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        val vs = vt.versions(sess, cdxDir)
        if (vs.length <= batchId) {
          require(vs.length == batchId,
            s"cdx at $cdxDir has ${vs.length} versions but batch " +
              s"$batchId arrived — not this stream's archive")
          val name = f"${baseName}_b$batchId%05d.warc.gz"
          val cdx = graft.sources.WarcShards.writeShard(batch.toDF(),
            idCol, uriCol, bodyCol, dir, name, infoId = -1L - batchId)
          if (vs.isEmpty) vt.commit(cdx, cdxDir)
          else vt.appendCommit(cdx, cdxDir)
          ()
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
