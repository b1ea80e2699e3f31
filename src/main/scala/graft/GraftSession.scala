package graft
import org.apache.spark.sql.SparkSession

/** The ONE session builder every harness main (Bench, Verify,
  * PlanDump, StageProfile, Smoke, ScaleData) goes through — the same
  * scan-split sizing, AQE posture and cleaner cadence everywhere, so a
  * tuning change can never make the bench measure under one plan while
  * the plan dumps or the oracle gate run under another (the
  * copy-paste drift the round-13 advice flagged). No other file under
  * `src/main` calls `SparkSession.builder` (SessionBuilderGuardSpec).
  *
  * Config rationale (each knob documented where it is set):
  *  - shuffle.partitions = cpus: local default; cluster deployments
  *    size it by data volume. Every main takes `cpus` from
  *    SPARK_GRAFT_CPUS, read once here (default 4).
  *  - AQE coalescing by SIZE (parallelismFirst=false, 64 MB
  *    advisory): reducer count should follow data volume, not core
  *    count — the correct 100 TB posture; operators whose post-shuffle
  *    work is CPU-dense rather than byte-dense size their own
  *    exchanges explicitly (e.g. bm25FromTf's doc_id repartition).
  *  - periodicGC 2 min: a 288-query suite in one JVM leaks driver-side
  *    weak-ref'd shuffle/broadcast state that the ContextCleaner only
  *    frees after a GC; the default 30 min interval outlives the run.
  *  - openCostInBytes (default 256 KB via SPARK_GRAFT_OPEN_COST): the
  *    4 MB default floor caps byte-small local parquet at ≤3 splits,
  *    starving CPU-dense text scans; at any real corpus size
  *    bytes/parallelism dominates and the knob never binds.
  *  - codegen.cache.maxEntries = CodegenCacheEntries (Spark default
  *    100): the generated-class cache is JVM-global and one pass over
  *    a workload generates about 225-280 classes, so at 100 every pass
  *    evicts the classes of the one before and recompiles them all;
  *    Bench's min-of-2 needs all of p9's 233 or s47's 263 classes to
  *    stay resident between its two runs. A retained class costs about
  *    30-40 KB of live memory. Static conf: `CodeGenerator` reads it
  *    once per JVM at its first codegen, so it must be set here, before
  *    any harness runs a query.
  *  - artifact.isolation.enabled = false: the cache is keyed on the
  *    compiling thread's context class loader as well as the source.
  *    With isolation on, every session gets its own executor class
  *    loader, and Spark clones a session for each streaming query, so
  *    every class a micro-batch compiles is compiled again at each
  *    stream start (q103: 25 of them per pass) and the stale copies
  *    stay in the cache. No code here adds per-session artifacts (jars,
  *    files) for the isolation to protect.
  *  - codegen.useIdInClassName = false: a whole-stage class is named
  *    after its codegen stage id, and AQE numbers the stages it
  *    re-plans in the order their inputs finish. So the same stage
  *    under another id is new source: p5's and s24's symmetric branches
  *    swapped ids between passes and recompiled 4 classes each. Without
  *    the id, one source compiles once (stack traces lose the id; the
  *    `codegenStageId` comment in the source keeps it).
  */
object GraftSession {
  /** Local cores for every main: SPARK_GRAFT_CPUS, default 4. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Entries of Spark's generated-class cache. */
  val CodegenCacheEntries: Int = 1000

  /** The confs that keep generated classes reusable across queries and
    * passes (rationale above). Set here and nowhere else
    * (SessionBuilderGuardSpec); the test session applies the same map. */
  val CodegenConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false")

  def build(cpus: String = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config(CodegenConfs)
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "262144"))
      .getOrCreate()
    GraftFunctions.installOptimizations(spark)
    spark
  }

  /** Session warmup: one tiny scan+shuffle so the first timed/dumped
    * query doesn't absorb JVM/codegen/scheduler initialization.
    * Optional by design — a non-TPC-H sf dir without a region table
    * must degrade to a slower first query, never abort the run. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().count()
    catch { case _: Throwable => () }
}
