package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared low-overhead filesystem + parquet read/write helpers (r16
  * optimization round). Three measured costs motivate this file (the
  * first two profiled with graft.tools.ProfileQuery on the MOR
  * ladders):
  *
  *  1. `FileSystem.listFiles(path, recursive)` materializes
  *     `LocatedFileStatus`es whose constructor EAGERLY loads POSIX
  *     permissions; on a local filesystem without the Hadoop native
  *     library that is one forked `ls -ld` PROCESS PER FILE
  *     (RawLocalFileSystem.DeprecatedRawLocalFileStatus
  *     .loadPermissionInfoByNonNativeIO). Graft's listings only ever
  *     need (path, length), so [[walkFiles]] walks with `listStatus`,
  *     whose statuses keep permissions lazy — zero forks. At cluster
  *     scale the same call is one NameNode RPC per directory instead
  *     of one per file: strictly fewer round trips there too.
  *
  *  2. `spark.read.parquet(path)` with no explicit schema runs
  *     ParquetFileFormat.inferSchema → mergeSchemasInParallel, which
  *     launches a SPARK JOB (plus a gzip-serialized Hadoop-conf
  *     broadcast) just to read one footer. [[readParquet]] resolves
  *     the schema DRIVER-SIDE from the lexicographically-first data
  *     file's footer — the same file Spark's own inference would pick
  *     with mergeSchema=false — preferring the Spark-written
  *     `row.metadata` key exactly as Spark does, and caches it keyed
  *     on (path, length, mtime) since parquet files are immutable.
  *     Use it for graft-managed single-writer artifacts (sidecars,
  *     summaries, index layouts, scratch tables); NOT for
  *     hive-partitioned directory layouts, where a user-supplied
  *     schema would drop the partition columns.
  *
  *  3. `DataFrameWriter.parquet` (Spark's `FileFormatWriter`) packs the
  *     session's whole Hadoop conf — 1,106 properties, ~114 KB — into
  *     every write stage's task binary, and commits through
  *     `FileOutputCommitter`'s `_temporary` rename round.
  *     [[writeParquet]] ships Spark's parquet writer factory, the few
  *     keys that configure it and the session conf broadcast, and
  *     returns the files its tasks wrote, for the caller to move in.
  *
  * This object owns graft's staged table writes: GraftMor, SQL INSERT,
  * the SQL delta DML writer (through [[ParquetTaskWriter.open]]), the
  * ALTER rewrite and rebucket all write a stage with [[writeStage]]
  * and land exactly the returned files with [[land]] / [[moveIn]]
  * (or, for the COW swaps, a journal of them), so every table file
  * comes from one writer with one file naming.
  */
object GraftIO {

  /** One top-level graft call's resolved session Hadoop conf, and the
    * conf broadcast handle made from it.
    */
  private final class CallConf(val session: SparkSession, resolve: () => Configuration) {
    lazy val conf: Configuration = resolve()
    var shipped: graft.sources.v2.GraftV2.SessionConf = _
  }

  private val callConf = new ThreadLocal[CallConf]

  private def inCall(s: SparkSession): Option[CallConf] =
    Option(callConf.get).filter(_.session eq s)

  /** Run `body` as one top-level call on `s`: every [[hadoopConf]] of
    * `s` inside it, on this thread, is ONE copy of the session conf.
    * `SessionState.newHadoopConf()` copies the whole conf (~1,100
    * properties) per call, which a write or compaction used to pay at
    * every listing and probe. The copy is taken at its first use;
    * nested calls share the outer one, and a `spark.conf.set` reaches
    * the next top-level call.
    */
  def withCallConf[T](s: SparkSession)(body: => T): T =
    withCallConf(s, s.sessionState.newHadoopConf())(body)

  /** [[withCallConf]] over a conf the caller already resolved. */
  def withCallConf[T](s: SparkSession, conf: => Configuration)(body: => T): T =
    if (inCall(s).isDefined) body
    else {
      val prev = callConf.get
      callConf.set(new CallConf(s, () => conf))
      try body finally callConf.set(prev)
    }

  /** The session Hadoop conf: the current call's copy inside
    * [[withCallConf]], a fresh copy outside. Read it, never `set` on it.
    */
  def hadoopConf(s: SparkSession): Configuration =
    inCall(s).fold(s.sessionState.newHadoopConf())(_.conf)

  /** The conf broadcast handle `ship` makes from [[hadoopConf]], made
    * once per top-level call.
    */
  private[graft] def shippedPerCall(s: SparkSession)(
      ship: Configuration => graft.sources.v2.GraftV2.SessionConf)
      : graft.sources.v2.GraftV2.SessionConf =
    inCall(s) match {
      case Some(c) =>
        if (c.shipped == null) c.shipped = ship(c.conf)
        c.shipped
      case None => ship(s.sessionState.newHadoopConf())
    }

  /** Every FILE under `root`, recursively, without ever touching
    * permissions (no process forks on local FS, one RPC per directory
    * on a remote one). Returns the same arbitrary FS-listing order
    * `listFiles` produced — callers that need determinism sort, as
    * before.
    */
  def walkFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def go(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) go(st.getPath) else out += st
      }
    go(root)
    out.result()
  }

  /** As [[walkFiles]] but keeps only visible files: every path segment
    * BELOW `root` must not start with `_` or `.` (recursive listings
    * descend into `_bloom_*` / `_dv`-style bookkeeping dirs whose
    * files carry unremarkable names).
    */
  def walkVisibleFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val rootPath = root.toUri.getPath
    walkFiles(fs, root).filter { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
      !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
    }
  }

  /** A small text file's whole body (UTF-8), None when the file does
    * not exist — the one read every marker, manifest and journal
    * shares. One open, no existence probe.
    */
  def readText(fs: FileSystem, path: Path): Option[String] =
    try {
      val in = fs.open(path)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
        Some(bytes.toString(java.nio.charset.StandardCharsets.UTF_8.name()))
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** [[readText]] for a marker that is usually absent: one status
    * probe answers the absent case, so only a present marker is opened
    * (a failed open costs more than a status call on every store).
    */
  def readMarker(fs: FileSystem, path: Path): Option[String] =
    if (fs.exists(path)) readText(fs, path) else None

  /** Delete the directory `dir` when it is empty — a shared parent
    * such as a table's `_staging` shell. Best-effort: another writer
    * may add its own entry between the listing and the delete (which a
    * non-recursive delete then refuses) or remove `dir` first; either
    * way what is left is that writer's to clear, and the caller's
    * commit does not fail over it.
    */
  def dropIfEmpty(fs: FileSystem, dir: Path): Unit =
    try { if (fs.listStatus(dir).isEmpty) fs.delete(dir, false) }
    catch { case _: java.io.IOException => }

  /** Write `body` (UTF-8) as the whole content of `path`, closing the
    * stream on every exit. `overwrite = false` fails on an existing
    * file (create-if-absent).
    */
  def writeText(fs: FileSystem, path: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(path, overwrite)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // (path, length, mtime) -> footer schema; parquet files are immutable
  // so the key can only collide with an identical schema. Bounded.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def visibleName(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".")

  /** Lexicographically-first visible data file under `p` (or `p`
    * itself when it is a file) — the file mergeSchema=false inference
    * reads. None when nothing is there.
    */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    if (st.isFile) return Some(st)
    def go(d: Path): Option[FileStatus] = {
      val kids = fs.listStatus(d).filter(k => visibleName(k.getPath.getName))
        .sortBy(_.getPath.getName)
      kids.find(k => k.isFile && k.getLen > 0)
        .orElse(kids.iterator.filter(_.isDirectory).map(k => go(k.getPath))
          .collectFirst { case Some(f) => f })
    }
    go(p)
  }

  /** Driver-side parquet schema of the first data file under `path`
    * (no Spark job): the Spark-written `row.metadata` footer key when
    * present (bit-exact round trip of what Spark wrote), else the
    * MessageType converted with Spark's own session-conf-aware
    * converter — the identical logic mergeSchemasInParallel runs on
    * executors. None when the path has no data file yet.
    */
  def parquetSchema(s: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val conf = hadoopConf(s)
    val fs = p.getFileSystem(conf)
    firstDataFile(fs, p).map { st =>
      val key = st.getPath.toString + "#" + st.getLen + "#" + st.getModificationTime
      val hit = schemaCache.get(key)
      if (hit != null) hit
      else {
        val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          conf, st.getPath,
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val meta = footer.getFileMetaData
        val fromKey = Option(meta.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          .flatMap { j =>
            try Some(DataType.fromJson(j).asInstanceOf[StructType])
            catch { case _: Throwable => None }
          }
        val schema = fromKey.getOrElse {
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter(s.sessionState.conf)
            .convert(meta.getSchema)
        }
        if (schemaCache.size > 4096) schemaCache.clear()
        schemaCache.put(key, schema)
        schema
      }
    }
  }

  /** As [[parquetSchema]] but only when the first data file sits
    * DIRECTLY under `path` (flat layout): a hive-partitioned dir gets
    * None so the caller keeps Spark inference (a user-supplied schema
    * would drop the partition columns).
    */
  def flatParquetSchema(s: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf(s))
    firstDataFile(fs, p) match {
      case Some(st) if st.getPath.getParent.toUri.getPath == p.toUri.getPath
          || st.getPath.toUri.getPath == p.toUri.getPath =>
        parquetSchema(s, st.getPath.toString)
      case _ => None
    }
  }

  /** `spark.read.parquet(path)` minus the schema-inference Spark job
    * when the layout allows it: flat layouts (data files directly
    * under `path`, or `path` a file) get the driver-side footer
    * schema; nested/partitioned layouts and not-yet-written paths fall
    * back to plain inference unchanged — safe to use as a drop-in at
    * any internal read site.
    */
  def readParquet(s: SparkSession, path: String): DataFrame = withCallConf(s) {
    flatParquetSchema(s, path) match {
      case Some(sch) => s.read.schema(sch).parquet(path)
      case None      => s.read.parquet(path)
    }
  }

  /** Multi-path form: schema from the first path that has a data file. */
  def readParquet(s: SparkSession, paths: Seq[String]): DataFrame = {
    val sch = paths.iterator.map(parquetSchema(s, _))
      .collectFirst { case Some(x) => x }
    sch match {
      case Some(x) => s.read.schema(x).parquet(paths: _*)
      case None    => s.read.parquet(paths: _*)
    }
  }

  /** Write `df` as parquet files under the batch-private directory
    * `stage` and return the files written, relative to `stage`. One
    * Spark job, run as a SQL execution named `graft <op>`. Each task
    * writes its rows with Spark's own parquet output writer (the
    * factory `ParquetFileFormat.prepareWrite` returns), so footers,
    * codec and types are those of `DataFrameWriter.parquet`; a task
    * ships that factory, the few conf keys `prepareWrite` sets and the
    * session conf broadcast handle, never the conf itself.
    *
    * A task with no rows writes no file. A failed task attempt's files
    * are not returned, so a caller that moves in exactly the returned
    * files never lands them; dropping `stage` discards them.
    * `partitionCols` lays the files out in hive `col=value` directories
    * and leaves those columns out of the files, as `partitionBy` does;
    * each task sorts its rows by them, stably, so an order `df` already
    * carries (a declared layout's key sort) survives inside every file.
    * `keepEmpty` writes one row-less file when no task wrote any, for
    * a result that must stay readable with its schema.
    */
  def writeParquet(df: DataFrame, stage: Path, op: String,
      partitionCols: Seq[String] = Nil, keepEmpty: Boolean = false): Seq[String] = {
    require(!(keepEmpty && partitionCols.nonEmpty),
      "[GRAFT] keepEmpty applies to unpartitioned writes only")
    val s = df.sparkSession
    val dataSchema = StructType(df.schema.filterNot(f => partitionCols.contains(f.name)))
    // partition values travel as their hive strings, grouped per task
    // so each task holds one open file at a time (Spark's own rule).
    // The row's position breaks ties, and being nondeterministic it
    // also keeps the optimizer from dropping a sort below this one.
    val input =
      if (partitionCols.isEmpty) df
      else df.withColumn(RowSeqCol, monotonically_increasing_id())
        .sortWithinPartitions(partitionCols.map(col) :+ col(RowSeqCol): _*)
        .select(dataSchema.fieldNames.map(col) ++
          partitionCols.map(c => col(c).cast("string").as(c)): _*)
    val writer = taskWriter(s, dataSchema, stage, partitionCols)
    val written = org.apache.spark.sql.graft.Bridge.withExecution(input, s"graft $op") { rdd =>
      runWrite(s.sparkContext, rdd, writer)
    }
    if (written.nonEmpty || !keepEmpty) written
    else Seq(writeRows(s, dataSchema, Nil, stage).getName)
  }

  private val RowSeqCol = "__graft_row_seq"

  /** A batch-private staging dir `<root>/_staging/<batch>_<uuid>`: the
    * `_` prefix hides it from every read path and data-file listing.
    */
  def stageDir(root: String, batch: String): Path =
    new Path(s"$root/_staging/${batch}_${java.util.UUID.randomUUID()}")

  /** [[writeParquet]] into a fresh [[stageDir]] under `root`: returns
    * the stage with the files written, relative to it. A write that
    * throws drops its stage, so `root` is left as it was.
    */
  def writeStage(df: DataFrame, root: String, batch: String, op: String,
      partitionCols: Seq[String] = Nil, keepEmpty: Boolean = false): (Path, Seq[String]) = {
    val stage = stageDir(root, batch)
    try (stage, writeParquet(df, stage, op, partitionCols, keepEmpty))
    catch { case NonFatal(e) =>
      dropStage(stage.getFileSystem(hadoopConf(df.sparkSession)), stage); throw e }
  }

  /** Delete `stage`, then its `_staging` shell when nothing else is in
    * it. Best-effort: it runs once the batch has landed or failed, and
    * must not fail that call; a stage left behind holds no landed file,
    * and its `_` prefix hides it from every read.
    */
  def dropStage(f: FileSystem, stage: Path): Unit = {
    try f.delete(stage, true)
    catch { case NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(s"[GRAFT] left stage $stage behind", e)
    }
    dropIfEmpty(f, stage.getParent)
  }

  /** [[land]] the stage's files in `dest`, then drop the stage. */
  def moveIn(f: FileSystem, dest: String, stage: Path, files: Seq[String],
      op: String): Seq[String] =
    try land(f, dest, stage, files, op) finally dropStage(f, stage)

  /** Rename exactly `files` (relative to `stage`, as the writer
    * returned them) into `dest`, keeping their path below the stage
    * (hive partition dirs). The batch's file set is known exactly: a
    * before/after listing diff could capture (and mis-sequence) a
    * concurrent writer's appends, and a failed task attempt's files
    * are discarded with the stage. `dest` is created even when `files`
    * is empty. Returns the landed files' scheme-less paths.
    */
  def land(f: FileSystem, dest: String, stage: Path, files: Seq[String],
      op: String): Seq[String] = {
    val moves = files.map(rel => (new Path(stage, rel), new Path(dest, rel)))
    (new Path(dest) +: moves.map(_._2.getParent)).distinct.foreach(f.mkdirs)
    moves.map { case (src, dst) =>
      if (!f.rename(src, dst))
        throw new IllegalStateException(
          s"[GRAFT] $op move-in failed: rename($src -> $dst) returned false")
      graft.sources.v2.GraftMorMask.norm(dst.toUri.getPath)
    }
  }

  /** Run `writer` over every partition of `rdd` and return the files
    * written. A failed job returns only once none of its tasks still
    * runs: Spark fails the job at the first failed task and kills the
    * others asynchronously, and a task still writing could otherwise
    * recreate the stage after the caller dropped it. The wait is
    * bounded.
    */
  private def runWrite(sc: org.apache.spark.SparkContext,
      rdd: org.apache.spark.rdd.RDD[InternalRow], writer: ParquetTaskWriter): Seq[String] = {
    val out = new Array[Seq[String]](rdd.partitions.length)
    val job = sc.submitJob(rdd, (rows: Iterator[InternalRow]) => writer.write(TaskContext.get(), rows),
      rdd.partitions.indices, (i: Int, files: Seq[String]) => out(i) = files, ())
    scala.concurrent.Await.ready(job, scala.concurrent.duration.Duration.Inf)
    job.value.get match {
      case scala.util.Failure(e) =>
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        def running = job.jobIds.flatMap(sc.statusTracker.getJobInfo(_)).flatMap(_.stageIds)
          .flatMap(sc.statusTracker.getStageInfo(_)).map(_.numActiveTasks).sum
        while (running > 0 && System.nanoTime() < deadline) Thread.sleep(10)
        throw e
      case _ => out.toSeq.flatten
    }
  }

  /** What one write's tasks receive: Spark's parquet writer factory
    * for `dataSchema`, the conf keys that configure it and the session
    * conf broadcast handle.
    */
  private[graft] def taskWriter(s: SparkSession, dataSchema: StructType, stage: Path,
      partitionCols: Seq[String]): ParquetTaskWriter = {
    val (factory, keys, _) = prepareParquet(s, dataSchema)
    new ParquetTaskWriter(factory, keys, graft.sources.v2.GraftV2.sessionConf(s),
      stage.toString, dataSchema, partitionCols, java.util.UUID.randomUUID().toString,
      s.sessionState.conf.maxRecordsPerFile)
  }

  /** Write `rows` as one parquet file in `dir` on the driver, through
    * the same Spark writer as [[writeParquet]], and return the file.
    * No Spark job; the file is written under a hidden name without the
    * `.parquet` suffix and renamed, so neither a reader nor a sidecar
    * listing ever sees it half written.
    */
  def writeRows(s: SparkSession, schema: StructType, rows: Seq[InternalRow],
      dir: Path): Path = {
    val (factory, _, conf) = prepareParquet(s, schema)
    val ctx = ParquetTaskWriter.attemptContext(conf, 0, 0)
    val name = ParquetTaskWriter.fileName(0, java.util.UUID.randomUUID().toString, 0L, 0,
      factory.getFileExtension(ctx))
    val tmp = new Path(dir, s".$name.tmp")
    val fs = tmp.getFileSystem(conf)
    try {
      val out = factory.newInstance(tmp.toString, schema, ctx)
      try rows.foreach(out.write) finally out.close()
    } catch { case NonFatal(e) =>
      try fs.delete(tmp, false) catch { case NonFatal(x) => e.addSuppressed(x) }
      throw e
    }
    val dst = new Path(dir, name)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"[GRAFT] rename($tmp -> $dst) returned false")
    dst
  }

  /** Spark's parquet writer factory for `schema`, the conf keys
    * `prepareWrite` set to configure it (the keys whose value differs
    * from the session's conf) and the job's own copy of the conf with
    * those keys set.
    */
  private def prepareParquet(s: SparkSession, schema: StructType)
      : (OutputWriterFactory, Map[String, String], Configuration) = {
    val conf = hadoopConf(s)
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(s, job, Map.empty, schema)
    val keys = job.getConfiguration.iterator().asScala.collect {
      case e if conf.getRaw(e.getKey) != e.getValue => e.getKey -> e.getValue
    }.toMap
    (factory, keys, job.getConfiguration)
  }
}

/** The task half of [[GraftIO.writeParquet]] and of the SQL delta
  * writer: everything a write task receives. It holds no Hadoop
  * `Configuration`: each task copies the session conf from its
  * broadcast and sets `keys` on the copy. Input rows carry the data
  * columns, then the partition columns as their hive strings.
  */
private[graft] final class ParquetTaskWriter(factory: OutputWriterFactory,
    keys: Map[String, String], sessionConf: graft.sources.v2.GraftV2.SessionConf,
    stage: String, dataSchema: StructType, partitionCols: Seq[String],
    writeId: String, maxRecordsPerFile: Long) extends Serializable {

  /** Write one partition's rows, grouped by their partition columns,
    * and return the files written, relative to the stage.
    */
  def write(tc: TaskContext, rows: Iterator[InternalRow]): Seq[String] = {
    val t = open(tc, grouped = true)
    try { rows.foreach(t.write); t.commit() }
    catch { case e: Throwable => t.abort(); throw e }
  }

  /** A push-style writer for one task attempt. With `grouped` rows
    * arrive grouped by partition directory, so a new directory closes
    * the open file; otherwise (delta inserts, in any order) each
    * directory keeps one file open until [[ParquetTaskWriter.Task.commit]].
    */
  def open(tc: TaskContext, grouped: Boolean): ParquetTaskWriter.Task = {
    val conf = new Configuration(sessionConf.value)
    keys.foreach { case (k, v) => conf.set(k, v) }
    val ctx = ParquetTaskWriter.attemptContext(conf, tc.partitionId, tc.attemptNumber)
    val ext = factory.getFileExtension(ctx)
    val nData = dataSchema.length
    val project =
      if (partitionCols.isEmpty) null
      else UnsafeProjection.create(dataSchema.fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(i, f.dataType, f.nullable) })
    def dirOf(r: InternalRow): String = partitionCols.indices.map { i =>
      val v = if (r.isNullAt(nData + i)) null else r.getUTF8String(nData + i).toString
      ExternalCatalogUtils.getPartitionPathString(partitionCols(i), v)
    }.mkString("/")
    var counter = -1
    def newFile(dir: String): (String, OutputWriter) = {
      counter += 1
      val name = ParquetTaskWriter.fileName(tc.partitionId, writeId, tc.taskAttemptId,
        counter, ext)
      val rel = if (dir.isEmpty) name else s"$dir/$name"
      (rel, factory.newInstance(s"$stage/$rel", dataSchema, ctx))
    }
    new ParquetTaskWriter.Task(r => if (project == null) "" else dirOf(r),
      r => if (project == null) r else project(r), newFile, grouped, maxRecordsPerFile)
  }
}

private[graft] object ParquetTaskWriter {

  /** One task attempt's open files, one per partition directory. The
    * attempt's files are returned only by [[commit]]; an aborted
    * attempt leaves its files unreturned in the stage.
    */
  final class Task private[ParquetTaskWriter] (dirOf: InternalRow => String,
      dataOf: InternalRow => InternalRow, newFile: String => (String, OutputWriter),
      grouped: Boolean, maxRecordsPerFile: Long) {
    private final class Open(val out: OutputWriter) { var rows = 0L }
    private val open = scala.collection.mutable.HashMap.empty[String, Open]
    private val files = Seq.newBuilder[String]
    private var lastDir: String = null
    private var last: Open = null

    def write(row: InternalRow): Unit = {
      val d = dirOf(row)
      if (last == null || d != lastDir) {
        last = open.getOrElse(d, null)
        lastDir = d
      }
      if (last == null || (maxRecordsPerFile > 0 && last.rows >= maxRecordsPerFile)) {
        if (last != null) { open.remove(d); last.out.close() }
        if (grouped) closeAll()
        val (rel, out) = newFile(d)
        files += rel
        last = new Open(out)
        open(d) = last
      }
      last.out.write(dataOf(row))
      last.rows += 1
    }

    private def closeAll(): Unit = {
      val xs = open.values.toList
      open.clear()
      xs.foreach(_.out.close())
    }

    /** Close every open file and return the files written, relative to
      * the stage.
      */
    def commit(): Seq[String] = {
      closeAll()
      last = null
      files.result()
    }

    /** Close every open file without returning any; close failures are
      * dropped, as the attempt has already failed.
      */
    def abort(): Unit = {
      val xs = open.values.toList
      open.clear()
      last = null
      xs.foreach(o => try o.out.close() catch { case NonFatal(_) => })
    }
  }

  def fileName(partition: Int, writeId: String, attempt: Long, counter: Int,
      ext: String): String =
    f"part-$partition%05d-$writeId-$attempt-c$counter%03d$ext"

  def attemptContext(conf: Configuration, partition: Int,
      attempt: Int): TaskAttemptContext =
    new TaskAttemptContextImpl(conf, new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partition), attempt))
}
