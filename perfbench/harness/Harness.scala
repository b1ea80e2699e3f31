package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftSession, InternalCaches, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JVM side of the benchmark: runs one workload's queries pass after
  * pass in one Spark session and writes raw records (one JSON object a
  * line) for `run.py` to turn into metrics.
  *
  * Each query is timed as four calls made from here, never from inside
  * the program: build (`SparkEntry.queries(name)(spark, dir)`), plan
  * (force `queryExecution.executedPlan`), action ([[ContentHash]] over
  * that executed plan, which reads every output column) and release
  * (`InternalCaches.releaseAll()` + `clearCache()`).
  *
  * Between passes every entry of the scratch root (this JVM's
  * `java.io.tmpdir`) except the `graftcache_*` fixture caches is
  * deleted, so each pass starts from fresh query state and fixture
  * builds land in the first pass only.
  *
  * A cold pass is followed by a fixed number of warm passes, whatever
  * their speed, so that every run measures the same passes. A pass that
  * takes longer than `seconds` fails the run.
  *
  * Args: `key=value` pairs — queries, data, root, seconds, warm,
  * setups, cpus, trace (0/1), out. `selftest=1` runs [[SelfTest]].
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    if (kv.get("selftest").contains("1")) { SelfTest.run(); return }
    val queries = kv("queries").split(",").toSeq
    val data = kv("data")
    val root = new File(kv("root")).toPath
    val seconds = kv("seconds").toDouble
    val warm = kv("warm").toInt
    val traced = kv.getOrElse("trace", "0") == "1"
    val out = new PrintWriter(kv("out"), "UTF-8")
    val rec = new Records(out)
    queries.filterNot(SparkEntry.queries.contains).foreach { q =>
      System.err.println(s"[perfbench] unknown query $q"); sys.exit(2) }

    // set-up, repeated so run.py can report a median
    var spark: SparkSession = null
    for (i <- 1 to kv("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.build(kv("cpus"))
      val t1 = System.nanoTime()
      spark.sparkContext.setLogLevel("ERROR")
      GraftSession.warmup(spark, data)
      val t2 = System.nanoTime()
      rec.line("setup", "i" -> i, "build_s" -> sec(t1 - t0),
        "warmup_s" -> sec(t2 - t1))
    }
    val tracer = new Tracer(rec)
    spark.sparkContext.addSparkListener(tracer)
    spark.streams.addListener(tracer.streams)

    val runner = new Runner(spark, data, root, tracer, rec)
    val start = System.nanoTime()
    for (pass <- 0 to warm) {
      if (pass > 0) wipeScratch(root)
      // pass 0 is cold; it also probes live memory, so that the warm
      // passes all run alike. A traced run traces warm passes 1 and 4
      // and leaves 2 and 3 untraced, so the tracing overhead is measured
      // within the same JVM and the passes' JIT drift cancels out.
      tracer.enabled = traced && Set(0, 1, 4)(pass)
      val wall = runner.pass(pass, queries, probeMemory = pass == 0)
      if (wall > seconds) {
        System.err.println(f"[perfbench] pass $pass took $wall%.1f s, " +
          f"more than the cap of $seconds%.0f s")
        spark.stop()
        sys.exit(3)
      }
    }
    rec.line("end", "wall_s" -> sec(System.nanoTime() - start),
      "cores" -> spark.sparkContext.defaultParallelism)
    spark.stop()
    rec.flush()
    out.close()
  }

  def sec(nanos: Long): Double = nanos / 1e9

  /** Delete everything under `root` except the `graftcache_*` fixture
    * caches. */
  def wipeScratch(root: Path): Unit =
    Option(root.toFile.listFiles()).getOrElse(Array.empty[File])
      .filterNot(_.getName.startsWith("graftcache_"))
      .foreach(f => deleteTree(f.toPath))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** Runs one pass of the workload's queries and records each query's
  * phases. */
class Runner(spark: SparkSession, data: String, root: Path, tracer: Tracer,
    rec: Records) {
  private val sc = spark.sparkContext

  private var probeNs = 0L

  /** Runs the queries once; returns the pass's wall time, without the
    * time spent in memory probes. */
  def pass(pass: Int, queries: Seq[String], probeMemory: Boolean): Double = {
    val passSpan = tracer.open(s"p$pass", None, "pass")
    val gcBefore = gcMs()
    probeNs = 0L
    val t0 = System.nanoTime()
    queries.foreach(q => query(pass, q, passSpan, probeMemory))
    tracer.close(passSpan)
    val wall = Harness.sec(System.nanoTime() - t0 - probeNs)
    rec.line("pass", "pass" -> pass, "wall_s" -> wall,
      "probe_s" -> Harness.sec(probeNs),
      "jvm_gc_s" -> (gcMs() - gcBefore) / 1e3, "traced" -> tracer.enabled)
    wall
  }

  /** Memory the program still holds once a query's result is computed
    * and before it is released: heap and non-heap in use right after a
    * full collection, in MB. The listener bus is drained first, so that
    * its queued events are not counted. */
  private def probe(): (Double, Double) = {
    val t = System.nanoTime()
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val out = (mem.getHeapMemoryUsage.getUsed / 1048576.0,
      mem.getNonHeapMemoryUsage.getUsed / 1048576.0)
    probeNs += System.nanoTime() - t
    out
  }

  private def query(pass: Int, name: String, passSpan: String,
      probeMemory: Boolean): Unit = {
    val qSpan = tracer.open(s"$passSpan/$name", Some(passSpan), "query")
    val fixturesBefore = fixtures()
    val bytesBefore = scratchBytes()
    val compilesBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNsBefore = CodeGenerator.compileTime
    val jobsBefore = tracer.jobCount.get
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var error: Option[String] = None
    var hash = ""
    var df: DataFrame = null
    def phase(p: String)(body: => Unit): Unit = {
      val span = tracer.open(s"$qSpan/$p", Some(qSpan), "phase")
      if (tracer.enabled) sc.setJobGroup(span, span, interruptOnCancel = false)
      val t = System.nanoTime()
      try if (error.isEmpty) body catch {
        case e: Throwable =>
          error = Some(s"$p: ${e.getClass.getName}: ${e.getMessage}".take(400))
      } finally {
        walls(p) = Harness.sec(System.nanoTime() - t)
        tracer.close(span)
        if (tracer.enabled) sc.clearJobGroup()
      }
    }
    phase("build") { df = SparkEntry.queries(name)(spark, data) }
    val bytesWritten = scratchBytes() - bytesBefore
    phase("plan") { df.queryExecution.executedPlan }
    phase("action") { hash = ContentHash.of(df) }
    val (heapMb, nonHeapMb) = if (probeMemory) probe() else (0.0, 0.0)
    val persisted = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    // release always runs, also after a failed phase
    val failed = error
    error = None
    phase("release") {
      InternalCaches.releaseAll()
      spark.catalog.clearCache()
    }
    error = failed.orElse(error)
    tracer.close(qSpan)
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    rec.line("query", "pass" -> pass, "query" -> name,
      "build_s" -> walls("build"), "plan_s" -> walls("plan"),
      "action_s" -> walls("action"), "release_s" -> walls("release"),
      "jobs" -> (tracer.jobCount.get - jobsBefore),
      "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesBefore),
      "compile_s" -> (CodeGenerator.compileTime - compileNsBefore) / 1e9,
      "fixtures_built" -> (fixtures() -- fixturesBefore).size,
      "persisted_rdds" -> persisted, "storage_mb" -> storageMb,
      "scratch_bytes_written" -> bytesWritten,
      "live_heap_mb" -> heapMb, "live_nonheap_mb" -> nonHeapMb,
      "hash" -> hash, "error" -> error.getOrElse(""))
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Fixture caches that finished building (`_built` marker). */
  private def fixtures(): Set[String] =
    Option(root.toFile.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("graftcache_") &&
        new File(f, "_built").exists()).map(_.getName).toSet

  /** Bytes under the scratch root outside the fixture caches. */
  private def scratchBytes(): Long =
    Option(root.toFile.listFiles()).getOrElse(Array.empty[File])
      .filterNot(_.getName.startsWith("graftcache_"))
      .map { f =>
        val s = Files.walk(f.toPath)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
        finally s.close()
      }.sum
}

/** Order-independent content hash of a DataFrame's full result.
  *
  * Runs the frame's own executed plan (`queryExecution.toRdd`), so the
  * plan forced in the plan phase is the one executed and every output
  * column is read. Each row is hashed with Spark's `xxhash64` over all
  * columns; the row hashes are summed as unsigned 64-bit limbs into a
  * 128-bit total. Addition is commutative, so row and partition order do
  * not matter, and the total wraps explicitly instead of overflowing: a
  * SQL `sum(xxhash64(...))` throws under ANSI mode after a few rows.
  *
  * Timing `count()` instead lets Spark prune every column the count does
  * not need: `k1_image_pipeline` then planned as `Aggregate[count(1)]`
  * over `Aggregate[k]` without its image columns and took 0.22 s, against
  * 4.6–5.6 s with every column read (4-core host).
  */
object ContentHash {
  def of(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }
    val h = XxHash64(fields.toSeq, 42L)
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val acc = new Acc
      rows.foreach(r => acc.add(h.eval(r).asInstanceOf[Long]))
      Iterator(acc)
    }.collect()
    val total = new Acc
    parts.foreach(total.merge)
    total.render
  }

  /** Row count plus the 128-bit sum of unsigned 64-bit row hashes. */
  final class Acc extends Serializable {
    var rows = 0L
    var lo = 0L
    var hi = 0L
    def add(h: Long): Unit = {
      rows += 1
      val s = lo + h
      if (java.lang.Long.compareUnsigned(s, lo) < 0) hi += 1
      lo = s
    }
    def merge(o: Acc): Unit = {
      rows += o.rows
      val s = lo + o.lo
      hi += o.hi + (if (java.lang.Long.compareUnsigned(s, lo) < 0) 1 else 0)
      lo = s
    }
    def render: String = f"$rows:$hi%016x$lo%016x"
  }
}

/** Spans pass → query → phase (opened by [[Runner]]) → job → stage (from
  * Spark's listener bus). Jobs are attributed to the phase whose span id
  * is their job group; jobs a streaming query runs under its own group
  * are attributed by time in `run.py`. Always
  * counts jobs, which the work-parity check needs; records spans only
  * while `enabled`. Records are buffered in memory until the run ends. */
class Tracer(rec: Records) extends SparkListener {
  @volatile var enabled = false
  val jobCount = new AtomicLong
  private val started = new ConcurrentHashMap[String, (Option[String], String, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val failedTasks = new ConcurrentHashMap[Int, Int]()

  def open(id: String, parent: Option[String], kind: String): String = {
    if (enabled) started.put(id, (parent, kind, System.currentTimeMillis()))
    id
  }

  def close(id: String): Unit = Option(started.remove(id)).foreach {
    case (parent, kind, t0) =>
      rec.line("span", "id" -> id, "parent" -> parent.getOrElse(""),
        "kind" -> kind, "start_ms" -> t0, "end_ms" -> System.currentTimeMillis())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    if (enabled) {
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      rec.line("job", "job" -> e.jobId, "parent" -> group,
        "start_ms" -> e.time, "stages" -> e.stageIds.size)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled)
    rec.line("job_end", "job" -> e.jobId, "end_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    taskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      .synchronized(taskMs.get(e.stageId) += e.taskInfo.duration)
    if (!e.taskInfo.successful)
      failedTasks.merge(e.stageId, 1, (a: Int, b: Int) => a + b)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) {
      val i = e.stageInfo
      val m = i.taskMetrics
      val durations = Option(taskMs.remove(i.stageId)).map(_.sorted)
        .getOrElse(ArrayBuffer.empty[Long])
      val skew =
        if (durations.isEmpty) 1.0
        else durations.last.toDouble / durations(durations.size / 2).max(1L)
      rec.line("stage", "stage" -> i.stageId,
        "job" -> Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1),
        "start_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L),
        "tasks" -> i.numTasks,
        "failed_tasks" -> Option(failedTasks.remove(i.stageId)).map(_.intValue).getOrElse(0),
        "task_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> m.diskBytesSpilled,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten,
        "skew" -> skew)
    }

  /** Streaming progress: rows each micro-batch handed to its sink. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) rec.line("stream", "rows" -> e.progress.sink.numOutputRows.max(0L),
        "ts" -> e.progress.timestamp)
  }
}

/** One JSON object a line, buffered in memory and written at `flush`. */
class Records(out: PrintWriter) {
  private val buf = new StringBuilder

  def line(kind: String, fields: (String, Any)*): Unit = synchronized {
    buf.append("{\"type\":\"").append(kind).append('"')
    fields.foreach { case (k, v) =>
      buf.append(",\"").append(k).append("\":").append(Records.json(v)) }
    buf.append("}\n")
  }

  def flush(): Unit = synchronized {
    out.write(buf.toString); out.flush(); buf.clear()
  }
}

object Records {
  def json(v: Any): String = v match {
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n => n.toString
  }
}
