package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads that run no footer job when the schema is known.
  *
  * `spark.read.parquet(paths)` without a schema runs one Spark job that
  * reads the files' footers, on every call. [[parquet]] passes the
  * schema in instead when one of two entries gives it:
  *  - a writer entry. [[recordWrite]] keeps, per written directory, the
  *    schema the writer wrote and the files it left there (name, length,
  *    mtime). When every data file of a read is a recorded file directly
  *    under a read root, the schema is resolved from those entries as
  *    inference resolves it: the files sorted by path, then the first
  *    one's schema, or with mergeSchema all of them folded with Spark's
  *    merge; last, made nullable, as Spark's file sources make every
  *    data schema. Spark stores its own schema in each parquet footer
  *    and inference returns it whatever the session's confs, so a writer
  *    entry holds under any conf.
  *  - an earlier inference of the same read, keyed on the path list,
  *    the mergeSchema flag and the session's inference confs
  *    (`Tables.events` reads under `legacy.parquet.nanosAsLong`), and
  *    valid while a listing of the roots (every file's path, length and
  *    mtime) is unchanged.
  * Otherwise the read infers as before and the result is kept. Either
  * check costs one more driver-side listing of the roots per read,
  * beside the file index's own; on an object store that listing is the
  * price of skipping the footer job. A file rewritten in place with the
  * same name, length and mtime would be served its old schema; Spark
  * names every part file it writes with a per-write UUID, so a Spark
  * rewrite always changes the listing.
  *
  * Bounded by paths, not by passes: a writer entry is keyed per
  * directory and a rewrite replaces it; an inferred entry is keyed per
  * path list and a changed listing replaces it, and the inferred map is
  * emptied once it holds [[MaxInferred]] entries. Both maps are
  * concurrent: two queries may read and write at once (two concurrent
  * misses both infer, and the last put wins), and nothing needs
  * releasing.
  */
object SchemaMemo {

  /** Session confs parquet schema inference depends on. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.session.timeZone")

  /** Inferred entries kept before the map is emptied. */
  private val MaxInferred = 4096

  /** One file under a read root. */
  private final case class Leaf(path: String, len: Long, mtime: Long)

  private final case class Key(paths: Seq[String], merge: Boolean,
      confs: Seq[Option[String]])

  /** The files one write left in its directory, by name, and its schema. */
  private final case class Written(files: Map[String, (Long, Long)],
      schema: StructType)

  private val inferred = new ConcurrentHashMap[Key, (Seq[Leaf], StructType)]()
  private val written = new ConcurrentHashMap[String, Written]()

  def parquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, Seq(path))

  /** `spark.read.parquet(paths: _*)`, with `mergeSchema` set when asked,
    * and the schema passed in when it is known (see above). */
  def parquet(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read
    val merge = mergeSchema ||
      spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    val key = Key(paths, merge, InferenceConfs.map(spark.conf.getOption))
    listing(spark, paths) match {
      case None => reader.parquet(paths: _*)
      case Some((roots, leaves)) =>
        val known = Option(inferred.get(key)).collect {
          case (seen, schema) if seen == leaves => schema
        }.orElse(fromWriters(spark, roots, leaves, merge))
        known match {
          case Some(schema) => reader.schema(schema).parquet(paths: _*)
          case None =>
            val df = reader.parquet(paths: _*)
            if (inferred.size >= MaxInferred) inferred.clear()
            inferred.put(key, (leaves, df.schema))
            df
        }
    }
  }

  /** Record that `df` was just written as parquet into `dir`: its schema
    * and the files now directly in `dir`. Call it after the write (and
    * after any rename that put the files at `dir`). */
  def recordWrite(df: DataFrame, dir: String): Unit =
    try {
      val path = new Path(dir)
      val fs = path.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      val st = fs.getFileStatus(path)
      if (st.isDirectory) {
        val files = fs.listStatus(st.getPath).iterator.filter(_.isFile)
          .map(f => f.getPath.getName -> (f.getLen, f.getModificationTime))
          .toMap
        written.put(st.getPath.toString, Written(files, df.schema))
      }
    } catch { case _: java.io.IOException => () }

  /** The qualified roots and every file under them, or None when a path
    * is a glob or cannot be listed (the plain read then reports it). */
  private def listing(spark: SparkSession, paths: Seq[String])
      : Option[(Seq[String], Seq[Leaf])] =
    if (paths.isEmpty || paths.exists(_.exists("*?[{".contains(_)))) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val statuses = paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        (fs, fs.getFileStatus(path))
      }
      Some((statuses.map(_._2.getPath.toString),
        statuses.flatMap { case (fs, st) => leaves(fs, st) }))
    } catch { case _: java.io.IOException => None }

  private def leaves(fs: FileSystem, st: FileStatus): Seq[Leaf] =
    if (st.isDirectory)
      fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName)
        .flatMap(leaves(fs, _))
    else Seq(Leaf(st.getPath.toString, st.getLen, st.getModificationTime))

  /** The schema inference would give, from writer entries alone, or None
    * when a data file is not a recorded file directly under a root, or
    * summary files (which inference may prefer) are present. */
  private def fromWriters(spark: SparkSession, roots: Seq[String],
      leaves: Seq[Leaf], merge: Boolean): Option[StructType] = {
    // Spark's file index skips names starting with '_' or '.' (but
    // keeps the `_metadata` / `_common_metadata` summary files)
    def name(l: Leaf) = new Path(l.path).getName
    def summary(n: String) =
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    val data = leaves.filterNot(l => hidden(name(l))).sortBy(_.path)
    if (data.isEmpty || leaves.exists(l => summary(name(l)))) None
    else {
      val rootSet = roots.toSet
      val schemas = data.map { l =>
        val p = new Path(l.path)
        val dir = p.getParent.toString
        Option(written.get(dir))
          .filter(w => rootSet(dir) || rootSet(l.path))
          .filter(_.files.get(p.getName).contains((l.len, l.mtime)))
          .map(_.schema)
      }
      if (schemas.exists(_.isEmpty)) None
      else {
        val caseSensitive =
          spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
        val all = schemas.flatten
        try Some(GraftSqlBridge.asNullable(
          if (merge) all.reduce(GraftSqlBridge.mergeSchemas(_, _, caseSensitive))
          else all.head))
        // conflicting types: let inference raise Spark's own error
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }
}
