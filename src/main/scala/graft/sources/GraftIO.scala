package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared low-overhead filesystem + parquet-read helpers (r16
  * optimization round). Two measured driver-side costs motivate this
  * file (profiled with graft.tools.ProfileQuery on the MOR ladders):
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
  */
object GraftIO {

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
    val conf = s.sessionState.newHadoopConf()
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
    val conf = s.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
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
  def readParquet(s: SparkSession, path: String): DataFrame =
    flatParquetSchema(s, path) match {
      case Some(sch) => s.read.schema(sch).parquet(path)
      case None      => s.read.parquet(path)
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
}
