package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, max, regexp_replace}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A42/A43: MERGE-ON-READ mutation via DELETION VECTORS — the other
  * half of the mutation cost spectrum from the copy-on-write merges
  * (GraftSink.mergeUpsert/mergeDelete). COW pays the rewrite at WRITE
  * time (every affected partition re-materialized — right for rare,
  * large mutations); merge-on-read pays a tiny tombstone write
  * instead and defers the rewrite to an explicit compaction — right
  * for frequent, small mutations (GDPR single-row erasure, streaming
  * corrections) where rewriting a 100 TB table's partitions per batch
  * is the dominant cost. This is the Delta/Iceberg deletion-vector
  * design re-expressed Spark-first: the tombstone is the parquet
  * metadata coordinate (`_metadata.file_path`, `_metadata.row_index`)
  * Spark already exposes on every file scan, so no custom reader is
  * needed — the read path is a broadcast anti-join the fact side
  * never shuffles for.
  *
  * Layout: tombstones accumulate under `<table>/_dv/epoch=N/` —
  * underscore-prefixed, so every `listDataFiles` listing skips them.
  * Masks are applied by EVERY engine read surface: `morRead` and
  * `GraftCatalog.table/scan` compose them as gated anti-joins
  * (`applyMasks`), the SQL catalog (GraftTableCatalog) serves
  * position vectors split-locally and refuses unmerged equality
  * sidecars BY NAME, and erase tombstones additionally mask
  * time-traveled/diff reads (`applyCurrentEraseMask` — GDPR erasure
  * is retroactive by contract). Only a RAW `spark.read.parquet` of
  * the directory bypasses them — `GraftForget` reports that residual
  * surface and the advisor flags it until compaction. Each mutation
  * writes one new epoch (O(matched) bytes, zero data files touched);
  * `morCompact` folds all tombstones into the affected files ONLY
  * and clears the sidecar.
  *
  * Concurrency contract (same class as the COW paths): a delete /
  * upsert never unlinks a data file, so live pinned readers are SAFE
  * during mutation — only `morCompact` destroys files and only it
  * takes the A24 lease gate. Mutation visibility for catalog readers
  * is snapshot-grained as everywhere else: publish an epoch after the
  * batch.
  *
  * Reference anchor: the reference's table layer is read-only
  * (ArgodbMapreduceInputFormat.java:52-279 — scans, no mutation);
  * this module is part of the write-side surface the engine adds.
  */
object GraftMor {

  val DvDir = "_dv"
  val EqDir = "_eq"
  val SeqDir = "_seqm"

  /** Marker dir holding the table's EVOLVED schema as one DDL file —
    * written the first time an upsert batch lands an additive column
    * (A36-classified), honored by every read path here and by the
    * catalog surfaces: an explicit read schema makes parquet null-fill
    * the column in pre-evolution files without the per-read
    * mergeSchema footer storm. Permanent table metadata: compaction
    * never clears it.
    */
  val SchemaDir = "_schema"

  /** Sequence value that masks a key in EVERY data file, present and
    * future — the GDPR-erase semantics (A44). Finite sequence numbers
    * (A45) mask only files appended BEFORE them.
    */
  val EraseSeq = Long.MaxValue

  /** Tombstone ROW cap for the SQL serving surface's driver-composed
    * position mask (the Iceberg deletion-vector shape the v2 scan
    * applies split-locally): past it the catalog refuses BY NAME and
    * the answer is a compaction. 4M coordinate rows ≈ tens of MB on
    * the driver.
    */
  val MaxBroadcastTombstones = 4L * 1000 * 1000

  /** Sidecar PARQUET-BYTE volume up to which read paths hint a
    * broadcast for the mask anti-joins. Decided from the directory
    * LISTING alone (the A25/B71 listing-size discipline) — sizing a
    * broadcast must not itself launch per-read counting jobs. 64 MB
    * of coordinate/key parquet ≈ the 4M-row class above; past it the
    * join degrades to a shuffled plan and the advisor story is to
    * compact long before that.
    */
  val MaxBroadcastSidecarBytes = 64L * 1024 * 1024

  /** One table's live mutation-sidecar state, captured from a single
    * metadata listing per sidecar flavor: the (path, bytes) of every
    * sidecar parquet file plus the evolved-schema DDL if recorded.
    * This is the unit the catalog surfaces PIN — reading frames from
    * the explicit file lists keeps a pinned reader's masks as
    * snapshot-stable as its data files.
    */
  final case class Sidecars(
      dv: Seq[(String, Long)], eq: Seq[(String, Long)],
      seqm: Seq[(String, Long)], schemaDdl: Option[String]) {
    def dvBytes: Long = dv.map(_._2).sum
    def eqBytes: Long = eq.map(_._2).sum
    def any: Boolean = dv.nonEmpty || eq.nonEmpty
  }

  /** List one sidecar dir's parquet files as (path, bytes) — one
    * recursive listing, no footer opened.
    */
  private def sidecarFiles(s: SparkSession, tablePath: String,
      dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$tablePath/$dir")
    val f = fs(s, tablePath)
    if (!f.exists(p)) Seq.empty
    else GraftIO.walkFiles(f, p)
      .collect { case st if st.getPath.getName.endsWith(".parquet") =>
        (st.getPath.toString, st.getLen) }
      .sortBy(_._1)
  }

  /** Record externally-appended files (a SQL INSERT's stage) in the
    * A45 file→sequence manifest AT THE CURRENT EPOCH SEQUENCE, so the
    * new rows OUTRANK every existing finite equality tombstone (a
    * fresh insert must serve even where an older upsert-eq masked the
    * key's prior versions) while erases — sequence ∞ — still mask
    * them (the GDPR forward contract: an insert cannot resurrect an
    * erased key). No-op when the table has no equality sidecar (plain
    * appends need no sequence).
    */
  private[sources] def sequenceAppendedFiles(s: SparkSession,
      tablePath: String, files: Seq[String]): Unit = {
    if (files.isEmpty) return
    if (sidecarFiles(s, tablePath, EqDir).isEmpty) return
    // the sequence respects in-flight RESERVATIONS (A59): an eq-upsert
    // that allocated epoch N but has not yet written its tombstones
    // will mask files below seq N+1 — a concurrent insert must
    // sequence at or above that, or the in-flight batch would mask it
    val seq = math.max(nextEpoch(s, tablePath, eqPath),
      reservedFloor(fs(s, tablePath), eqPath(tablePath))).toLong
    import s.implicits._
    files.map(f => normPathStr(f)).toDF("file_norm")
      .withColumn("file_seq", org.apache.spark.sql.functions.lit(seq))
      .coalesce(1).write.mode(SaveMode.Append).parquet(seqmPath(tablePath))
  }

  private def normPathStr(p: String): String =
    p.replaceFirst("^[a-zA-Z0-9.+-]+:/+", "/")

  /** Refuse a COW rewrite BY NAME while mutation sidecars are live: a
    * raw-read rewrite (merge/compact) would RESURRECT tombstoned rows
    * and dangle the position vector's file coordinates — the masks
    * must fold (`morCompact`) before any whole-file rewrite. Two
    * existence probes; a sidecar-free table pays nothing.
    */
  def failIfMutationSidecars(s: SparkSession, tablePath: String,
      op: String): Unit = {
    val f = fs(s, tablePath)
    val live = Seq(DvDir, EqDir).filter(d =>
      f.exists(new org.apache.hadoop.fs.Path(s"$tablePath/$d")))
    if (live.nonEmpty)
      throw new IllegalStateException(
        s"[GRAFT] $op on $tablePath refused: live merge-on-read mutation " +
          s"sidecars (${live.mkString(",")}) would be invalidated and their " +
          "tombstoned rows resurrected by a raw rewrite - fold them with " +
          "morCompact first")
  }

  /** The table's current sidecar state — three listings + one tiny
    * marker read, the whole metadata cost of a mask-aware read.
    */
  def sidecars(s: SparkSession, tablePath: String): Sidecars =
    Sidecars(
      sidecarFiles(s, tablePath, DvDir),
      sidecarFiles(s, tablePath, EqDir),
      sidecarFiles(s, tablePath, SeqDir),
      readSchemaDdl(s, tablePath))

  private def schemaMarker(tablePath: String) =
    new org.apache.hadoop.fs.Path(s"$tablePath/$SchemaDir/ddl")

  private[sources] def readSchemaDdl(s: SparkSession,
      tablePath: String): Option[String] = {
    val f = fs(s, tablePath)
    val p = schemaMarker(tablePath)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body = try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
        bytes.toString(java.nio.charset.StandardCharsets.UTF_8.name())
      } finally in.close()
      Some(body)
    }
  }

  private def writeSchemaDdl(s: SparkSession, tablePath: String,
      ddl: String): Unit = {
    val f = fs(s, tablePath)
    val out = f.create(schemaMarker(tablePath), true)
    try out.write(ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The table's data files read with the recorded evolved schema when
    * one exists (pre-evolution files null-fill the added columns) and
    * plainly otherwise — the one table-read entry every path here
    * shares.
    */
  private[sources] def readTable(s: SparkSession, tablePath: String,
      sc: Sidecars): DataFrame = {
    val reader = s.read
    sc.schemaDdl match {
      case Some(d) =>
        reader.schema(org.apache.spark.sql.types.StructType.fromDDL(d))
      case None =>
        // driver-side footer schema (no inference job, r16); flat
        // layouts only — partitioned dirs keep Spark inference
        GraftIO.flatParquetSchema(s, tablePath).foreach(reader.schema)
    }
    reader.parquet(tablePath)
  }

  /** basePath read of table data FILES with the schema resolved
    * without a Spark inference job where possible: the declared
    * (evolved) DDL when the caller holds one, else — on flat layouts
    * only — the subset's first-lex file footer driver-side, which is
    * byte-identical to what mergeSchema=false inference would return
    * for these files. Partitioned layouts without a DDL keep plain
    * inference (a user schema would drop the partition columns).
    */
  private[sources] def readFilesWithBase(s: SparkSession, tablePath: String,
      files: Seq[String], ddl: Option[String] = None): DataFrame = {
    val reader = s.read.option("basePath", tablePath)
    ddl match {
      case Some(d) =>
        reader.schema(org.apache.spark.sql.types.StructType.fromDDL(d))
      case None =>
        val root = new org.apache.hadoop.fs.Path(tablePath).toUri.getPath
        val flat = files.nonEmpty && files.forall { f =>
          val par = new org.apache.hadoop.fs.Path(f).getParent
          par != null && par.toUri.getPath == root
        }
        if (flat) GraftIO.parquetSchema(s, files.min).foreach(reader.schema)
    }
    reader.parquet(files: _*)
  }

  private def dvPath(tablePath: String) = s"$tablePath/$DvDir"
  private def eqPath(tablePath: String) = s"$tablePath/$EqDir"
  private def seqmPath(tablePath: String) = s"$tablePath/$SeqDir"

  /** Scheme-less absolute form of a path string, so FileSystem
    * listings (`file:/...`) and `_metadata.file_path` (`file:///...`)
    * agree as join keys.
    */
  private def normPath(c: Column): Column =
    org.apache.spark.sql.functions.regexp_replace(c, "^[a-zA-Z0-9.+-]+:/+", "/")

  private def fs(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sessionState.newHadoopConf())

  /** All accumulated tombstones as (dv_file, dv_pos) from the
    * sidecar's listed files, or None when no mutation epoch exists
    * (the fast path: `morRead` degrades to a plain scan with zero
    * overhead).
    */
  private def dvFrame(s: SparkSession, sc: Sidecars): Option[DataFrame] =
    if (sc.dv.isEmpty) None
    // explicit schema: a sidecar read must not pay (or launch) a
    // schema-inference job per serve
    else Some(s.read.schema("dv_file STRING, dv_pos BIGINT")
      .parquet(sc.dv.map(_._1): _*).select("dv_file", "dv_pos"))

  private def dvFrame(s: SparkSession, tablePath: String): Option[DataFrame] =
    dvFrame(s, sidecars(s, tablePath))

  /** Next epoch number for a sidecar flavor: one past the max of the
    * LISTED epochs and the compaction HIGH-WATER MARK — epoch numbers
    * are globally monotone per (table, flavor), so a consumer that
    * stored "applied epochs = N" can never see a LATER mutation
    * arrive with a number below N (the silent-omission corruption a
    * zero-rewrite compaction used to make possible).
    */
  private def nextEpoch(s: SparkSession, tablePath: String,
      dir: String => String = dvPath): Int = {
    val p = new org.apache.hadoop.fs.Path(dir(tablePath))
    val f = fs(s, tablePath)
    val listed =
      if (!f.exists(p)) 0
      else f.listStatus(p).map(_.getPath.getName)
        .collect { case n if n.startsWith("epoch=") => n.drop(6).toInt }
        .foldLeft(-1)(math.max) + 1
    math.max(listed, readHwm(f, dir(tablePath)))
  }

  private def hwmMarker(sidecarDir: String) =
    new org.apache.hadoop.fs.Path(sidecarDir + ".hwm")

  private def readHwm(f: org.apache.hadoop.fs.FileSystem,
      sidecarDir: String): Int = {
    val p = hwmMarker(sidecarDir)
    if (!f.exists(p)) 0
    else {
      val in = f.open(p)
      try in.readInt() finally in.close()
    }
  }

  private def writeHwm(f: org.apache.hadoop.fs.FileSystem,
      sidecarDir: String, next: Int): Unit = {
    val out = f.create(hwmMarker(sidecarDir), true)
    try out.writeInt(next) finally out.close()
  }

  private def allocDir(sidecarDir: String) =
    new org.apache.hadoop.fs.Path(sidecarDir + ".alloc")

  /** One past the highest RESERVED epoch number for a sidecar flavor
    * (0 when nothing is reserved) — the in-flight writers' claim on
    * the number line, which `sequenceAppendedFiles` must respect: an
    * insert sequencing at or above every reservation can never be
    * outranked by a tombstone batch that allocated first.
    */
  private def reservedFloor(f: org.apache.hadoop.fs.FileSystem,
      sidecarDir: String): Int = {
    val d = allocDir(sidecarDir)
    if (!f.exists(d)) 0
    else f.listStatus(d).map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.toInt).toOption)
      .foldLeft(-1)(math.max) + 1
  }

  /** A59: ATOMICALLY allocate the next epoch number for a sidecar
    * flavor. `nextEpoch` is a read-listing + HWM max — two concurrent
    * writers (now an EXPECTED shape: A55/A58 made SQL DML a
    * multi-session surface) could both derive N and share an epoch
    * (worst case: two same-sequence eq-upserts, each masking neither's
    * appends — served duplicate key versions). The fix is to make the
    * RESERVATION itself the atomic step: a marker file
    * `<sidecar>.alloc/<n>` created with overwrite=false — an atomic
    * create-if-absent on HDFS (namenode-arbitrated) and object stores
    * with conditional puts — so exactly one writer wins each number
    * and the loser re-derives one higher. The marker is durable: a
    * writer crashing between allocation and its epoch write burns the
    * number (readers never see epoch numbers, only epoch DIRS, and
    * consumers read sparse epochs by `epoch >= applied` predicates, so
    * a gap is invisible); markers below the listed/HWM floor are GC'd
    * in passing, keeping the alloc dir O(in-flight writers).
    */
  private[graft] def allocateEpoch(s: SparkSession, tablePath: String,
      dir: String => String = dvPath): Int = {
    val f = fs(s, tablePath)
    val sidecarDir = dir(tablePath)
    val d = allocDir(sidecarDir)
    f.mkdirs(d)
    var attempt = 0
    while (attempt < 1000) {
      val floor = nextEpoch(s, tablePath, dir)
      val reserved = f.listStatus(d).map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.toInt).toOption)
      // GC consumed reservations (their epoch dirs are listed now)
      reserved.filter(_ < floor - 1).foreach(n =>
        f.delete(new org.apache.hadoop.fs.Path(d, n.toString), false))
      val cand = math.max(floor, reserved.foldLeft(-1)(math.max) + 1)
      try {
        f.create(new org.apache.hadoop.fs.Path(d, cand.toString), false)
          .close()
        return cand
      } catch {
        case _: java.io.IOException => attempt += 1 // lost the race: re-derive
      }
    }
    throw new IllegalStateException(
      s"[GRAFT] epoch allocation on $sidecarDir contended 1000 times - " +
        "writer storm or a filesystem that cannot create-if-absent; " +
        "serialize writers externally")
  }

  /** Atomically allocate the next EQUALITY-sidecar epoch — exposed for
    * the writer-coordination spec (simulates an in-flight eq-upsert
    * holding a reservation).
    */
  private[graft] def allocateEqEpoch(s: SparkSession, tablePath: String): Int =
    allocateEpoch(s, tablePath, eqPath)

  /** All accumulated EQUALITY tombstones as key columns + `seq`, or
    * None when no erase/upsert-eq epoch exists. `seq` is [[EraseSeq]]
    * for erases (mask everything, forever) and the commit's sequence
    * number for A45 upserts (mask only older files). Explicit-file
    * reads carry no `epoch` partition column; directory reads do —
    * dropped either way.
    */
  private def eqFrame(s: SparkSession, sc: Sidecars): Option[DataFrame] =
    if (sc.eq.isEmpty) None
    else {
      // key columns vary per table: one DRIVER footer read supplies the
      // schema (no inference job); explicit-file reads carry no epoch
      // partition column
      val schema = graft.sources.v2.GraftV2.readSchema(
        sc.eq.head._1, s.sessionState.newHadoopConf())
      val df = s.read.schema(schema).parquet(sc.eq.map(_._1): _*)
      Some(if (df.columns.contains("epoch")) df.drop("epoch") else df)
    }

  private def eqFrame(s: SparkSession, tablePath: String): Option[DataFrame] =
    eqFrame(s, sidecars(s, tablePath))

  /** The file→sequence manifest (A45), or None when no eq-upsert has
    * ever appended. Files absent from the manifest are base files:
    * sequence 0, older than every tombstone.
    */
  private def seqFrame(s: SparkSession, sc: Sidecars): Option[DataFrame] =
    if (sc.seqm.isEmpty) None
    else Some(s.read.schema("file_norm STRING, file_seq BIGINT")
      .parquet(sc.seqm.map(_._1): _*)
      .select("file_norm", "file_seq"))

  /** Broadcast-or-not by the sidecar's LISTED parquet bytes — the
    * per-read sizing decision, with zero jobs launched.
    */
  private def gate(df: DataFrame, bytes: Long, maxBytes: Long): DataFrame =
    if (bytes <= maxBytes) broadcast(df) else df

  /** Every visible data file's scheme-less absolute path —
    * `_`/`.`-prefixed bookkeeping excluded at every segment. O(files)
    * namenode metadata, the same cost class every table-format commit
    * protocol pays.
    */
  private def listDataFiles(s: SparkSession, tablePath: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val f = fs(s, tablePath)
    GraftIO.walkVisibleFiles(f, root).map(_.getPath.toUri.getPath)
  }

  /** Key-column consistency against the existing eq sidecar: every
    * epoch must mask on the SAME key columns or the composed anti-join
    * would silently mask nothing.
    */
  private def checkEqKeys(s: SparkSession, tablePath: String, sc: Sidecars,
      keyCols: Seq[String], op: String): Unit = {
    val tableCols = readTable(s, tablePath, sc).columns.toSet
    val missing = keyCols.filterNot(tableCols.contains)
    require(missing.isEmpty,
      s"[GRAFT] $op key columns absent from table: ${missing.mkString(",")}")
    eqFrame(s, sc).foreach { prior =>
      val priorKeys = prior.columns.filterNot(_ == "seq").sorted.toSeq
      require(priorKeys == keyCols.sorted,
        s"[GRAFT] $op key columns ${keyCols.sorted.mkString(",")} differ " +
          s"from the existing erase sidecar's ${priorKeys.mkString(",")}")
    }
  }

  /** A36 × MOR: classify an upsert batch's schema against the table's.
    * Additive nullable columns LAND — the widened schema is recorded
    * in the `_schema` marker so every read path (and pre-evolution
    * files) serves it null-filled; anything breaking (dropped column,
    * retype/widen, non-nullable add) is refused BY NAME. Returns the
    * batch's write column order: table order first, added columns
    * appended (parquet appends are positional at write time).
    */
  private def evolveForBatch(s: SparkSession, tablePath: String,
      sc: Sidecars, updates: DataFrame, op: String): Seq[String] = {
    val tableSchema = readTable(s, tablePath, sc).schema
    val changes = GraftSchemaPolicy.diff(tableSchema, updates.schema)
    // an added column is recorded NULLABLE here whatever the batch
    // claims (a lit()-derived column arrives non-nullable) — old files
    // null-fill it, so A36's "non-nullable add" refusal doesn't apply
    // to this surface; every other breaking class still refuses
    val broken = changes.filter {
      case _: GraftSchemaPolicy.AddedColumn => false
      case c => c.breaking
    }
    if (broken.nonEmpty)
      throw new IllegalStateException(
        s"[GRAFT] $op batch carries breaking schema changes vs $tablePath:\n  " +
          broken.map(_.describe).mkString("\n  ") +
          "\n(evolve additively — new nullable columns — or rewrite the table)")
    val added = changes.collect {
      case a: GraftSchemaPolicy.AddedColumn => a.name }
    if (added.nonEmpty) {
      val widened = org.apache.spark.sql.types.StructType(
        tableSchema.fields ++ added.map(n =>
          updates.schema(n).copy(nullable = true)))
      writeSchemaDdl(s, tablePath, widened.toDDL)
    }
    tableSchema.fieldNames.toSeq ++ added
  }

  /** The (file, position) coordinates of every CURRENT row matching
    * `cond` — current meaning: already-tombstoned rows are excluded,
    * so re-deleting an overlapping predicate writes no duplicate
    * coordinates and each epoch is the true delta. Scan cost: the
    * predicate's columns only (column pruning), plus the two
    * metadata columns parquet produces for free.
    */
  private def currentMatches(s: SparkSession, tablePath: String,
      sc: Sidecars, matcher: DataFrame => DataFrame): DataFrame = {
    // the metadata coordinate must be projected while the plan is
    // still the file relation — a join output no longer resolves
    // `_metadata`
    val withCoords = readTable(s, tablePath, sc)
      .select(col("*"), normPath(col("_metadata.file_path")).as("dv_file"),
              col("_metadata.row_index").as("dv_pos"))
    val coords = matcher(withCoords).select("dv_file", "dv_pos")
    dvFrame(s, sc) match {
      case None     => coords
      case Some(dv) =>
        // same listing-byte broadcast gate as the read path: a
        // write-path delete against a huge accumulated vector degrades
        // to a shuffled anti-join instead of OOMing the driver
        coords.join(gate(dv, sc.dvBytes, MaxBroadcastSidecarBytes),
          Seq("dv_file", "dv_pos"), "left_anti")
    }
  }

  private def writeEpoch(s: SparkSession, tablePath: String,
      tombstones: DataFrame): Unit =
    tombstones.write.mode(SaveMode.Overwrite)
      .parquet(s"${dvPath(tablePath)}/epoch=${allocateEpoch(s, tablePath)}")

  /** Allocate (and name) the next position-tombstone epoch dir — the
    * A55 delta DML commit lands its task-written coordinate files
    * there, so SQL DELETE/UPDATE/MERGE epochs number in the same
    * monotone sequence as `morDelete`'s. Allocation is ATOMIC (A59):
    * two concurrent DML commits can never share an epoch.
    */
  private[graft] def allocateDvEpochDir(s: SparkSession,
      tablePath: String): String =
    s"${dvPath(tablePath)}/epoch=${allocateEpoch(s, tablePath)}"

  /** A42: merge-on-read DELETE by predicate. Writes one tombstone
    * epoch of O(matched rows); touches NO data file — safe under live
    * pinned readers, and at 100 TB the difference between a
    * row-coordinate write and rewriting every affected partition.
    */
  def morDelete(s: SparkSession, tablePath: String, cond: Column): Unit =
    writeEpoch(s, tablePath,
      currentMatches(s, tablePath, sidecars(s, tablePath), _.where(cond)))

  /** A42 (key form): delete every row whose key appears in
    * `deleteKeys` — the GDPR erasure batch. The key set is broadcast;
    * the table is scanned once (key columns only) with a map-side
    * semi-join — no shuffle of the fact.
    */
  def morDeleteKeys(s: SparkSession, tablePath: String,
      deleteKeys: DataFrame, keyCols: Seq[String]): Unit = {
    val keys = deleteKeys.select(keyCols.map(col): _*)
    writeEpoch(s, tablePath, currentMatches(s, tablePath,
      sidecars(s, tablePath), _.join(broadcast(keys), keyCols, "left_semi")))
  }

  /** A44: EQUALITY delete — the other Iceberg-v2 delete-file flavor,
    * and the true GDPR-erasure fast path. A42's position deletes pay
    * a DISCOVERY scan at write time (find the matching coordinates);
    * an equality delete writes ONLY the key set — O(keys) total, the
    * table is not read at all — and the read path masks by key
    * instead of by coordinate. The contract difference is the
    * feature: an erased key is masked in EVERY row, including rows
    * appended AFTER the erase (a straggler ingesting an erased user's
    * records cannot resurrect them), until `morCompact` folds the
    * erasure physically and clears it. Re-inserting an erased key is
    * therefore compact-then-append by design. Keys are deduplicated
    * within the batch; all epochs must erase on the SAME key columns
    * (checked — a mixed-key sidecar would silently mask nothing).
    */
  def morErase(s: SparkSession, tablePath: String,
      eraseKeys: DataFrame, keyCols: Seq[String]): Unit = {
    checkEqKeys(s, tablePath, sidecars(s, tablePath), keyCols, "morErase")
    eraseKeys.select(keyCols.map(col): _*).distinct()
      .withColumn("seq", org.apache.spark.sql.functions.lit(EraseSeq))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${eqPath(tablePath)}/epoch=${allocateEpoch(s, tablePath, eqPath)}")
  }

  /** A45: SEQUENCE-NUMBERED equality upsert — the Flink-CDC-into-
    * Iceberg write shape, and the only upsert that reads ZERO table
    * bytes per batch. A43's position upsert pays a discovery scan to
    * find the matched coordinates; this one writes (1) an equality
    * tombstone for the batch keys stamped with the commit's sequence
    * number and (2) the new versions as appended files recorded in a
    * file→sequence manifest at that same number. The read-side rule
    * is Iceberg v2's: an equality delete at sequence N masks a key's
    * rows only in files with sequence < N — so the tombstone hides
    * every OLDER version (base files are sequence 0) but never the
    * rows it ships with, and the next batch's higher sequence
    * supersedes this one. A44 erases stamp [[EraseSeq]] (mask forever:
    * finite sequences never outrank an erase — re-inserting an erased
    * key stays compact-then-append). Plain `mode(Append)` stragglers
    * carry no manifest entry, so they sequence as base files. As in
    * SQL MERGE, `updates` carries at most one row per key.
    */
  def morUpsertEq(s: SparkSession, tablePath: String, updates: DataFrame,
      keyCols: Seq[String]): Unit = {
    val sc = sidecars(s, tablePath)
    checkEqKeys(s, tablePath, sc, keyCols, "morUpsertEq")
    val targetCols = evolveForBatch(s, tablePath, sc, updates, "morUpsertEq")
    // the commit sequence: one past the last eq epoch (erases consume
    // epoch numbers too, keeping the counter monotone across flavors);
    // the epoch is ATOMICALLY allocated (A59) — two concurrent upserts
    // get distinct epochs, hence distinct sequences, so neither can
    // mask the other's appends at its own number
    val epoch = allocateEpoch(s, tablePath, eqPath)
    val seq = epoch.toLong + 1L
    // the new versions stage and move in by name (the A52 staging
    // rule, see `moveIn`). They LAND AND SEQUENCE BEFORE the tombstone
    // epoch writes, so a crash mid-commit serves transient duplicates
    // (old + new versions), never a pure delete with the new versions
    // stranded.
    val stage = stageDir(tablePath, s"eqbatch_$epoch")
    updates.select(targetCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val landed = moveIn(fs(s, tablePath), tablePath, stage, "morUpsertEq")
    if (landed.nonEmpty) {
      import s.implicits._
      landed.toDF("file_norm")
        .withColumn("file_seq", org.apache.spark.sql.functions.lit(seq))
        .coalesce(1).write.mode(SaveMode.Append).parquet(seqmPath(tablePath))
    }
    updates.select(keyCols.map(col): _*).distinct()
      .withColumn("seq", org.apache.spark.sql.functions.lit(seq))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${eqPath(tablePath)}/epoch=$epoch")
  }

  /** A43: merge-on-read UPSERT — tombstone the matched keys' current
    * versions, then APPEND the update rows as new data files. Two
    * O(batch) writes, zero rewrites; the read path hides the old
    * versions. Matched coordinates are materialized (the epoch write
    * IS the action) BEFORE the append, so the tombstone scan can
    * never see — and kill — the rows it is inserting. As in SQL
    * MERGE, `updates` carries at most one row per key. Repeated
    * upserts of the same key chain naturally: the next batch's
    * semi-join tombstones the previously-appended version too. With a
    * live equality sidecar the appended files are sequenced (A45), so
    * an older `morUpsertEq` tombstone of the key cannot mask them.
    */
  def morUpsert(s: SparkSession, tablePath: String, updates: DataFrame,
      keyCols: Seq[String]): Unit = {
    val sc = sidecars(s, tablePath)
    val keys = updates.select(keyCols.map(col): _*)
    // pin the target column ORDER before appending: parquet appends
    // are positional at write time, and a reordered batch would write
    // files whose footers disagree with the table's. Additive columns
    // land (recorded in the _schema marker); breaking changes are
    // refused by name.
    val targetCols = evolveForBatch(s, tablePath, sc, updates, "morUpsert")
    writeEpoch(s, tablePath, currentMatches(s, tablePath, sc,
      _.join(broadcast(keys), keyCols, "left_semi")))
    val rows = updates.select(targetCols.map(col): _*)
    if (sc.eq.isEmpty) rows.write.mode(SaveMode.Append).parquet(tablePath)
    else {
      // a live equality sidecar masks by file sequence, and a plain
      // append reads as base sequence 0 — an older morUpsertEq of the
      // same key would mask the new version. Stage the batch so its
      // exact file set is known, then sequence it above every existing
      // finite tombstone (erases still outrank it).
      val stage = stageDir(tablePath, s"upsert_${java.util.UUID.randomUUID()}")
      rows.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      sequenceAppendedFiles(s, tablePath,
        moveIn(fs(s, tablePath), tablePath, stage, "morUpsert"))
    }
  }

  /** A batch-private staging dir `<table>/_staging/<batch>` — the
    * `_` prefix hides it from every read path and data-file listing.
    */
  private def stageDir(tablePath: String, batch: String) =
    new org.apache.hadoop.fs.Path(s"$tablePath/_staging/$batch")

  /** The A52 staging rule's move-in: rename every visible file written
    * under `stage` into the table, keeping its path below the stage
    * (hive partition dirs), then drop the stage and its `_staging`
    * shell when empty. The batch's file set is known EXACTLY — a
    * before/after listing diff could capture (and mis-sequence) a
    * concurrent writer's simultaneous appends. Files `keep` rejects
    * are discarded with the stage. Returns the landed files'
    * scheme-less paths.
    */
  private def moveIn(f: org.apache.hadoop.fs.FileSystem, tablePath: String,
      stage: org.apache.hadoop.fs.Path, op: String,
      keep: org.apache.hadoop.fs.Path => Boolean = _ => true): Seq[String] = {
    val root = stage.toUri.getPath
    val landed = GraftIO.walkVisibleFiles(f, stage).map(_.getPath).filter(keep)
      .map { src =>
        val rel = src.toUri.getPath.stripPrefix(root).stripPrefix("/")
        val dst = new org.apache.hadoop.fs.Path(tablePath, rel)
        if (rel.contains('/')) f.mkdirs(dst.getParent)
        if (!f.rename(src, dst))
          throw new IllegalStateException(
            s"[GRAFT] $op move-in failed: rename($src -> $dst) returned false")
        normPathStr(dst.toUri.getPath)
      }
    f.delete(stage, true)
    val shell = stage.getParent
    if (f.exists(shell) && f.listStatus(shell).isEmpty)
      f.delete(shell, false)
    landed
  }

  /** The merge-on-read SCAN: data files anti-joined against the
    * accumulated deletion vector on the (file, position) coordinate.
    * No vector → a plain scan, zero overhead. The vector side
    * broadcasts while its row count (a sidecar-only count, never a
    * table scan) stays under `maxBroadcast`; past that the join
    * degrades to a shuffled anti-join and the right answer is a
    * compaction, not a bigger broadcast.
    */
  def morRead(s: SparkSession, tablePath: String,
      maxBroadcastBytes: Long = MaxBroadcastSidecarBytes): DataFrame = {
    val sc = sidecars(s, tablePath)
    applyMasks(s, readTable(s, tablePath, sc), sc, maxBroadcastBytes)
  }

  /** Compose the live mutation masks onto `raw` — which must still be
    * the bare FILE RELATION (a join output no longer resolves
    * `_metadata`). Shared by `morRead` and the catalog serving
    * surfaces (GraftCatalog.table pins a [[Sidecars]] and serves
    * through this, so `SELECT`-style reads and `morRead` give one
    * answer). Broadcast-vs-shuffle is decided from the sidecars'
    * LISTED bytes — no sizing job ever launches.
    */
  private[sources] def applyMasks(s: SparkSession, raw: DataFrame,
      sc: Sidecars,
      maxBroadcastBytes: Long = MaxBroadcastSidecarBytes): DataFrame = {
    val dvOpt = dvFrame(s, sc)
    val eqOpt = eqFrame(s, sc)
    val seqOpt = if (eqOpt.isEmpty) None else seqFrame(s, sc)
    // every coordinate an active mask needs is projected while the
    // plan is still the file relation
    var data = raw
    if (dvOpt.nonEmpty) data = data
      .withColumn("dv_file", normPath(col("_metadata.file_path")))
      .withColumn("dv_pos", col("_metadata.row_index"))
    if (seqOpt.nonEmpty) data = data
      .withColumn("__fn", normPath(col("_metadata.file_path")))
    val afterDv = dvOpt match {
      case None => data
      case Some(dv) =>
        data.join(gate(dv, sc.dvBytes, maxBroadcastBytes),
            Seq("dv_file", "dv_pos"), "left_anti")
          .drop("dv_file", "dv_pos")
    }
    // A44/A45 equality masks apply AFTER (independently of) the
    // position vector: a key anti-join — same broadcast/shuffle gate,
    // same "compact long before the cap" advisor story
    eqOpt match {
      case None => afterDv
      case Some(eq) =>
        val keyColsEq = eq.columns.filterNot(_ == "seq").toSeq
        // using-form joins hoist the key columns to the front; pin the
        // served schema to the table's own column order
        val outCols = afterDv.columns.filterNot(_ == "__fn")
        seqOpt match {
          case None =>
            // pure-erase sidecar: every tombstone outranks every file,
            // so the sequence rule degenerates to a plain key anti-join
            val keys = eq.select(keyColsEq.map(col): _*).distinct()
            afterDv.join(gate(keys, sc.eqBytes, maxBroadcastBytes),
                keyColsEq, "left_anti")
              .select(outCols.map(col): _*)
          case Some(m) =>
            // Iceberg-v2 sequence rule: a key's tombstone at sequence N
            // masks its rows only in files with sequence < N. One max
            // per key suffices (masks accumulate monotonically).
            val tomb = eq.groupBy(keyColsEq.map(col): _*)
              .agg(max("seq").as("__max_seq"))
            val side = gate(tomb, sc.eqBytes, maxBroadcastBytes)
            val mb = broadcast(m) // O(appended files), tiny
            val withSeq = afterDv
              .join(mb, afterDv("__fn") === mb("file_norm"), "left")
              .withColumn("__file_seq", coalesce(col("file_seq"), lit(0L)))
            val cond = keyColsEq.map(k => withSeq(k) === side(k))
              .reduce(_ && _) && withSeq("__file_seq") < side("__max_seq")
            withSeq.join(side, cond, "left_anti")
              .select(outCols.map(col): _*)
        }
    }
  }

  /** GDPR forward mask for ANY serving surface: anti-join the CURRENT
    * erase keys (seq == [[EraseSeq]]) onto `df`, read FRESH — an
    * erased key must stop serving immediately, pinned snapshot or
    * time-traveled history notwithstanding (ordinary deletes/upserts
    * stay epoch-relative; erasure is the one mutation that is
    * retroactive by contract). `unlessSame` skips the extra anti-join
    * when the caller already composed this exact sidecar state.
    */
  private[sources] def applyCurrentEraseMask(s: SparkSession,
      tablePath: String, df: DataFrame,
      unlessSame: Seq[(String, Long)] = Seq.empty): DataFrame = {
    val fresh = sidecarFiles(s, tablePath, EqDir)
    if (fresh.isEmpty || fresh == unlessSame) return df
    val eqSchema = graft.sources.v2.GraftV2.readSchema(
      fresh.head._1, s.sessionState.newHadoopConf())
    val eqDf = s.read.schema(eqSchema).parquet(fresh.map(_._1): _*)
    val eq = if (eqDf.columns.contains("epoch")) eqDf.drop("epoch") else eqDf
    val keyColsEq = eq.columns.filterNot(_ == "seq").toSeq
    val missing = keyColsEq.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"[GRAFT] cannot apply the erase mask of $tablePath: key column(s) " +
        s"${missing.mkString(",")} absent from the served schema")
    val keys = eq.where(col("seq") === lit(EraseSeq))
      .select(keyColsEq.map(col): _*).distinct()
    val outCols = df.columns.toSeq
    df.join(gate(keys, fresh.map(_._2).sum, MaxBroadcastSidecarBytes),
        keyColsEq, "left_anti")
      .select(outCols.map(col): _*)
  }

  /** Fold the deletion vector into the data: ONLY files that appear
    * in the vector are rewritten (their survivors re-land as fresh
    * appends); every untouched file keeps its bytes — the A18/A19
    * affected-only discipline at FILE grain instead of partition
    * grain. Clears the sidecar, so the next `morRead` is a plain
    * scan again. The only MOR operation that unlinks files, hence
    * the only one behind the A24 lease gate. Pass `partitionCols`
    * for a hive-partitioned table so survivors re-land in their
    * directories. Idempotent: no vector → no-op.
    *
    * Survivors are written to a batch-private `_staging/` dir BEFORE
    * anything live is touched (the A52 staging rule), so a failed
    * write leaves the table, its data files and its sidecars as they
    * were; only then are the affected files deleted, the sidecars
    * cleared and the staged files moved in by rename. A crash in that
    * tail leaves the survivors under `_staging/compact_*`, never only
    * in memory.
    */
  def morCompact(s: SparkSession, tablePath: String,
      partitionCols: Seq[String] = Nil): Unit = {
    GraftLease.failIfLeased(s, tablePath, "morCompact")
    val sc = sidecars(s, tablePath)
    val dvOpt = dvFrame(s, sc)
    // fold the eq sidecar to one max-sequence row per key up front —
    // that is the whole mask (sequences accumulate monotonically)
    val eqOpt = eqFrame(s, sc).map { eq =>
      val keyColsEq = eq.columns.filterNot(_ == "seq").toSeq
      eq.groupBy(keyColsEq.map(col): _*).agg(max("seq").as("__max_seq"))
    }
    val seqOpt = seqFrame(s, sc)
    if (dvOpt.isEmpty && eqOpt.isEmpty) return
    // monotone epoch counters survive the clear: a consumer that
    // stored "applied = N" can never later see a fresh epoch < N
    val nextDv = nextEpoch(s, tablePath)
    val nextEq = nextEpoch(s, tablePath, eqPath)
    // attach each row's file sequence (manifest absent/missing → base
    // sequence 0) and build the A45 mask condition against `tomb`
    def withFileSeq(df: DataFrame): DataFrame = seqOpt match {
      case None    => df.withColumn("__file_seq", lit(0L))
      case Some(m) =>
        val mb = broadcast(m)
        df.join(mb, df("__fn") === mb("file_norm"), "left")
          .withColumn("__file_seq", coalesce(col("file_seq"), lit(0L)))
          .drop("file_norm", "file_seq")
    }
    def maskCond(seqd: DataFrame, tomb: DataFrame) = {
      val keyColsEq = tomb.columns.filterNot(_ == "__max_seq").toSeq
      keyColsEq.map(k => seqd(k) === tomb(k)).reduce(_ && _) &&
        seqd("__file_seq") < tomb("__max_seq")
    }
    // affected files = the position vector's files plus every file
    // holding an equality-MASKED row (sequence rule applied). The eq
    // half is the DEFERRED discovery scan A44 skipped at write time —
    // key columns only, paid exactly once, here.
    val dvFiles = dvOpt.toSeq.flatMap(
      _.select("dv_file").distinct().collect().map(_.getString(0)))
    val eqFiles = eqOpt.toSeq.flatMap { tomb =>
      val seqd = withFileSeq(readTable(s, tablePath, sc)
        .withColumn("dv_file", normPath(col("_metadata.file_path")))
        .withColumn("__fn", normPath(col("_metadata.file_path"))))
      seqd.join(gate(tomb, sc.eqBytes, MaxBroadcastSidecarBytes),
          maskCond(seqd, tomb), "left_semi")
        .select("dv_file").distinct().collect().map(_.getString(0))
    }
    val affected = (dvFiles ++ eqFiles).distinct
    val f = fs(s, tablePath)
    def clear(): Unit = clearSidecars(f, tablePath, dvOpt.nonEmpty,
      eqOpt.nonEmpty, seqOpt.nonEmpty, nextDv, nextEq)
    if (affected.isEmpty) { clear(); return }
    // basePath keeps hive partition columns attached when the affected
    // FILES are addressed directly
    val scanned = readFilesWithBase(s, tablePath, affected, sc.schemaDdl)
      .withColumn("dv_file", normPath(col("_metadata.file_path")))
      .withColumn("dv_pos", col("_metadata.row_index"))
      .withColumn("__fn", normPath(col("_metadata.file_path")))
    val afterDv = dvOpt match {
      case None     => scanned
      case Some(dv) => scanned.join(
        gate(dv, sc.dvBytes, MaxBroadcastSidecarBytes),
        Seq("dv_file", "dv_pos"), "left_anti")
    }
    val masked = eqOpt match {
      case None       => afterDv
      case Some(tomb) =>
        val seqd = withFileSeq(afterDv)
        seqd.join(gate(tomb, sc.eqBytes, MaxBroadcastSidecarBytes),
          maskCond(seqd, tomb), "left_anti")
    }
    // re-landed files keep the table's own column order (the dv
    // using-join hoisted its keys to the front)
    val dataCols = scanned.columns
      .filterNot(Set("dv_file", "dv_pos", "__fn", "file_norm", "file_seq",
        "__file_seq"))
    val stage = stageDir(tablePath, s"compact_${java.util.UUID.randomUUID()}")
    try {
      val w = masked.select(dataCols.map(col): _*).write.mode(SaveMode.Overwrite)
      if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*).parquet(stage.toString)
      else w.parquet(stage.toString)
    } catch { case NonFatal(e) =>
      // nothing live was touched: drop the partial stage and rethrow
      try f.delete(stage, true) catch { case NonFatal(_) => }
      throw e
    }
    affected.foreach { file =>
      if (!f.delete(new org.apache.hadoop.fs.Path(file), false))
        throw new IllegalStateException(
          s"[GRAFT] morCompact failed to remove $file")
    }
    clear()
    // Spark's first write task keeps a row-less file for the schema
    // even when it has no rows; its footer says so, and it is dropped
    // instead of landing
    val conf = s.sessionState.newHadoopConf()
    moveIn(f, tablePath, stage, "morCompact", p =>
      graft.sources.v2.GraftV2.withReader(p.toString, conf)(
        _.getFooter.getBlocks.asScala.exists(_.getRowCount > 0)))
  }

  private[sources] def toMicros(t: java.time.LocalDateTime): Long =
    t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
      t.getNano / 1000L

  /** Distributed footer pass: per data file the (min, max) micros of
    * `tsCol` — None when any block lacks stats (conservative). The
    * A25 one-task-per-footer discipline; no row is read.
    */
  private[sources] def footerTsStats(s: SparkSession, tablePath: String,
      tsCol: String): Array[(String, Option[(Long, Long)])] = {
    import graft.sources.v2.GraftV2
    val conf = GraftV2.sessionConf()
    val files = GraftV2.dataFiles(tablePath, s.sessionState.newHadoopConf())
    if (files.isEmpty) return Array.empty
    val slices = math.max(1, math.min(files.length,
      s.sparkContext.defaultParallelism))
    s.sparkContext.parallelize(files, slices).map { f =>
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var ok = true
      GraftV2.withReader(f, conf.value) { r =>
        r.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == tsCol) {
              val st = c.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue) ok = false
              else {
                mn = math.min(mn, st.genericGetMin.asInstanceOf[Number].longValue)
                mx = math.max(mx, st.genericGetMax.asInstanceOf[Number].longValue)
              }
            }
          }
        }
      }
      (f, if (ok && mn <= mx) Some((mn, mx)) else None)
    }.collect()
  }

  /** A48: footer-pruned RETENTION delete — the "expire everything
    * older than N days" sweep every 100 TB table runs nightly, priced
    * by parquet's own statistics instead of a scan: a distributed
    * footer pass classifies each data file by its (min, max) of the
    * timestamp column, files WHOLLY past the cutoff unlink directly
    * (zero rows read — on a time-ordered table that is almost all of
    * the expired volume; the one op that destroys files, so it takes
    * the A24 lease gate), and only the STRADDLING files (cutoff
    * between their min and max — typically one per partition lane)
    * pay a scoped coordinate-tombstone scan of their old rows, which
    * `morRead` hides and the next `morCompact` folds. Files with
    * missing/empty stats classify as straddling — conservative, never
    * wrong. Returns (files dropped, rows tombstoned).
    */
  def retentionSweep(s: SparkSession, tablePath: String, tsCol: String,
      cutoff: java.time.LocalDateTime): (Int, Long) = {
    val cutoffMicros = toMicros(cutoff)
    val stats = footerTsStats(s, tablePath, tsCol)
    if (stats.isEmpty) return (0, 0L)
    val wholly = stats.collect {
      case (f, Some((_, mx))) if mx < cutoffMicros => f }
    val straddling = stats.collect {
      case (f, Some((mn, mx))) if mn < cutoffMicros && mx >= cutoffMicros => f
      case (f, None) => f }
    val f = fs(s, tablePath)
    if (wholly.nonEmpty) {
      GraftLease.failIfLeased(s, tablePath, "retentionSweep")
      wholly.foreach { file =>
        if (!f.delete(new org.apache.hadoop.fs.Path(file), false))
          throw new IllegalStateException(
            s"[GRAFT] retentionSweep failed to remove $file")
      }
    }
    var tombstoned = 0L
    if (straddling.nonEmpty) {
      // scoped discovery: ONLY the straddling files' old rows, minus
      // already-tombstoned coordinates (the true-delta rule)
      val coords0 = readFilesWithBase(s, tablePath, straddling.toIndexedSeq)
        .select(col(tsCol).as("__ts"),
          normPath(col("_metadata.file_path")).as("dv_file"),
          col("_metadata.row_index").as("dv_pos"))
        .where(col("__ts") < lit(cutoff)).drop("__ts")
      val scNow = sidecars(s, tablePath)
      val coords = (dvFrame(s, scNow) match {
        case None     => coords0
        case Some(dv) =>
          coords0.join(gate(dv, scNow.dvBytes, MaxBroadcastSidecarBytes),
            Seq("dv_file", "dv_pos"), "left_anti")
      }).localCheckpoint(true)
      try {
        tombstoned = coords.count()
        if (tombstoned > 0L) writeEpoch(s, tablePath, coords)
      } finally graft.GraftSession.releaseCheckpoint(coords)
    }
    (wholly.length, tombstoned)
  }

  /** A49: OUTBOUND change feed for a merge-on-read table — the other
    * direction from A41's COW feed: MOR mutations already ARE a
    * change log (tombstone epochs name exactly the rows that left;
    * the file listing diff names exactly the rows that arrived), so
    * publishing deltas costs the churn, never the table. Each call
    * derives the segment since the stored watermark and persists it
    * under `feedRoot/segments/seq=N` as row IMAGES tagged
    * `change_type` 'I'/'D' — SET semantics (adds and subtracts,
    * order-free), the B69 signed-delta envelope, so a downstream
    * rollup folds segments without keys or ordering. The first call
    * publishes the whole CURRENT state as the snapshot segment.
    *
    * Crash contract: the segment dir writes BEFORE the state
    * advances, re-derivation is deterministic, and a replayed publish
    * overwrites the same seq dir — so a crash anywhere re-publishes
    * an identical segment, never a double or a gap. Refusals BY NAME:
    * equality sidecars (their deletions carry no coordinates until
    * compaction — fold first) and rewritten history (a compaction
    * since the last publish invalidates coordinates and file
    * identity: downstream must resync from a fresh snapshot root).
    */
  def publishMorFeed(s: SparkSession, tablePath: String,
      feedRoot: String): Long = {
    val f = fs(s, feedRoot)
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    val statePath = s"$feedRoot/state"
    val stagePath = s"$feedRoot/state.staging"
    def marker(dir: String) = hp(s"$dir/_published")
    if (!f.exists(hp(statePath)) && f.exists(marker(stagePath)) &&
        !f.rename(hp(stagePath), hp(statePath)))
      throw new IllegalStateException(
        s"[GRAFT] publishMorFeed crash-recovery swap failed: " +
          s"rename($stagePath -> $statePath) returned false")
    require(sidecars(s, tablePath).eq.isEmpty,
      s"[GRAFT] publishMorFeed requires an equality-sidecar-free table " +
        s"($tablePath has $EqDir/): fold erases with morCompact first")
    val curFiles = listDataFiles(s, tablePath).toSet
    val curEpochs = nextEpoch(s, tablePath)
    val live = f.exists(marker(statePath))
    val (seq, applied, stored) =
      if (!live) (0L, 0, Set.empty[String])
      else {
        val in = f.open(marker(statePath))
        val (sq, a) = try (in.readLong(), in.readInt()) finally in.close()
        val st = graft.sources.GraftIO.readParquet(s, s"$statePath/files")
          .collect().map(_.getString(0)).toSet
        (sq, a, st)
      }
    if (live && (stored -- curFiles).nonEmpty)
      throw new IllegalStateException(
        "[GRAFT] publishMorFeed: table history was rewritten (compaction) " +
          "since the last publish - downstream must resync from a fresh " +
          "snapshot under a new feed root")
    // epoch counters are monotone (compaction persists a high-water
    // mark), so a regression means hand-rewritten history — later
    // epochs numbered below `applied` would silently drop from the feed
    if (live && curEpochs < applied)
      throw new IllegalStateException(
        s"[GRAFT] publishMorFeed: tombstone epochs regressed ($curEpochs < " +
          s"applied $applied) - history was rewritten; downstream must " +
          "resync from a fresh snapshot under a new feed root")
    if (live && curFiles == stored && curEpochs == applied) return seq // no-op
    val scNow = sidecars(s, tablePath)
    val dataCols = readTable(s, tablePath, scNow).columns
    val parts = Seq.newBuilder[DataFrame]
    var dHeld: Option[DataFrame] = None
    if (!live) {
      parts += morRead(s, tablePath).withColumn("change_type", lit("I"))
    } else {
      val newFiles = (curFiles -- stored).toSeq
      if (newFiles.nonEmpty)
        parts += readFilesWithBase(s, tablePath, newFiles)
          .select(dataCols.map(col): _*).withColumn("change_type", lit("I"))
      // the sidecar dir may be GONE past the watermark (a zero-rewrite
      // compaction folded only empty epochs and bumped the HWM): the
      // consumed-state still advances below, with nothing to subtract
      if (curEpochs > applied && scNow.dv.nonEmpty) {
        val dv = s.read
          // dv layout is fixed (epoch=N partition dirs of coordinate
          // files); declaring it skips the schema-inference job (r16).
          // epoch is declared BIGINT: the epoch counter is Long in the
          // API, and partition-value parsing to the wider declared
          // type is still inference-job-free (r17, ADVICE).
          .schema("dv_file STRING, dv_pos BIGINT, epoch BIGINT")
          .parquet(dvPath(tablePath))
          .where(col("epoch") >= applied).select("dv_file", "dv_pos")
          .localCheckpoint(true)
        try {
          val doomedFiles = dv.select("dv_file").distinct()
            .collect().map(_.getString(0))
          // the fresh epochs may hold ZERO coordinates (a predicate
          // delete that matched nothing) — no files, no 'D' part
          if (doomedFiles.nonEmpty) {
            // eager checkpoint: materializes NOW, so dv can release in
            // the finally; the frame itself releases after the write
            val d = readFilesWithBase(s, tablePath, doomedFiles.toIndexedSeq)
              .withColumn("dv_file", normPath(col("_metadata.file_path")))
              .withColumn("dv_pos", col("_metadata.row_index"))
              .join(broadcast(dv), Seq("dv_file", "dv_pos"), "left_semi")
              .select(dataCols.map(col): _*)
              .withColumn("change_type", lit("D"))
              .localCheckpoint(true)
            dHeld = Some(d)
            parts += d
          }
        } finally graft.GraftSession.releaseCheckpoint(dv)
      }
    }
    val nextSeq = if (live) seq + 1L else 0L
    // an all-empty delta (zero-row epochs advanced the counter with no
    // new files) still publishes a typed EMPTY segment: the sequence
    // stays gapless and the state still advances past the epochs
    val body = parts.result() match {
      case Seq() => readTable(s, tablePath, scNow)
        .select(dataCols.map(col): _*).limit(0)
        .withColumn("change_type", lit("I"))
      case ps => ps.reduce(_ unionByName _)
    }
    try body
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$feedRoot/segments/seq=$nextSeq")
    finally dHeld.foreach(graft.GraftSession.releaseCheckpoint)
    // state advances AFTER the segment is durable
    import s.implicits._
    curFiles.toSeq.toDF("file_norm").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$stagePath/files")
    val out = f.create(marker(stagePath), true)
    try { out.writeLong(nextSeq); out.writeInt(curEpochs) } finally out.close()
    f.delete(hp(statePath), true)
    if (!f.rename(hp(stagePath), hp(statePath)))
      throw new IllegalStateException(
        s"[GRAFT] publishMorFeed commit swap failed: " +
          s"rename($stagePath -> $statePath) returned false")
    nextSeq
  }

  /** Read the published feed segments with seq in (fromSeq, toSeq] —
    * the consumer half of [[publishMorFeed]].
    */
  def readMorFeed(s: SparkSession, feedRoot: String,
      fromSeq: Long, toSeq: Long): DataFrame = {
    val seg = s"$feedRoot/segments"
    val reader = s.read
    // data schema from one segment footer driver-side + the seq=N
    // partition column declared LONG (the fromSeq/toSeq API type, so a
    // counter past Int.MaxValue still parses): skips the
    // schema-inference job without losing partition pruning
    GraftIO.parquetSchema(s, seg).foreach(sch =>
      reader.schema(sch.add("seq", org.apache.spark.sql.types.LongType)))
    reader.parquet(seg)
      .where(col("seq") > fromSeq && col("seq") <= toSeq)
      .drop("seq")
  }

  /** Merge additive partial frames: sum every non-group measure
    * (types preserved) and drop groups whose row count reached zero —
    * shared by the incremental aggregate (A46) and the feed consumer
    * (A50). Partials must carry a row count named `n` by contract.
    */
  private[graft] def foldPartials(parts: Seq[DataFrame],
      groupCols: Seq[String]): DataFrame = {
    val unioned = parts.reduce(_ unionByName _)
    val schema = unioned.schema
    require(schema.fieldNames.contains("n"),
      "[GRAFT] additive partials must carry a row count named n")
    val measures = schema.fields.filterNot(fld => groupCols.contains(fld.name))
    unioned.groupBy(groupCols.map(col): _*)
      .agg(measures.head.name -> "sum",
        measures.tail.map(m => m.name -> "sum").toSeq: _*)
      .select(groupCols.map(col) ++ measures.map { m =>
        col(s"sum(${m.name})").cast(m.dataType).as(m.name) }: _*)
      .where(col("n") =!= lit(0L))
  }

  /** Negate every non-group measure of an additive partial frame,
    * preserving declared types — the subtract side of a fold.
    */
  private[graft] def negatePartials(part: DataFrame,
      groupCols: Seq[String]): DataFrame =
    part.select(part.schema.fields.map { fld =>
      if (groupCols.contains(fld.name)) col(fld.name)
      else (col(fld.name) * lit(-1)).cast(fld.dataType).as(fld.name)
    }.toSeq: _*)

  /** A50: DURABLE consumer for the A49 feed — the downstream half of
    * the loop: fold every segment past the stored watermark into a
    * persisted rollup ('I' images add their partials, 'D' images
    * subtract), commit rollup + watermark atomically with the staged
    * swap, and make replays/no-news no-ops — so a cron or stream
    * driver needs no state of its own. This is A46's fold running on
    * the OTHER side of a feed boundary: the consumer never sees the
    * table, only segments sized by the churn.
    */
  def consumeMorFeed(s: SparkSession, feedRoot: String, rollupRoot: String,
      groupCols: Seq[String],
      partialAgg: DataFrame => DataFrame): DataFrame = {
    val f = fs(s, rollupRoot)
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    val livePath = s"$rollupRoot/rollup"
    val stagePath = s"$rollupRoot/rollup.staging"
    def marker(dir: String) = hp(s"$dir/_consumed_seq")
    if (!f.exists(hp(livePath)) && f.exists(marker(stagePath)) &&
        !f.rename(hp(stagePath), hp(livePath)))
      throw new IllegalStateException(
        s"[GRAFT] consumeMorFeed crash-recovery swap failed: " +
          s"rename($stagePath -> $livePath) returned false")
    // the tip is the publisher's COMMITTED sequence (its swapped-in
    // state marker), never the raw segment listing: a publisher
    // crashed — or running concurrently — mid-segment-write leaves a
    // partial seq dir that a listing would fold and watermark past,
    // permanently skipping the complete re-publish of that sequence
    val feedFs = fs(s, feedRoot)
    val pubMarker = hp(s"$feedRoot/state/_published")
    require(feedFs.exists(pubMarker),
      s"[GRAFT] no committed publish under $feedRoot - publishMorFeed first")
    val tip = {
      val in = feedFs.open(pubMarker)
      try in.readLong() finally in.close()
    }
    val watermark: Long =
      if (!f.exists(marker(livePath))) -1L
      else {
        val in = f.open(marker(livePath))
        try in.readLong() finally in.close()
      }
    if (tip <= watermark) return graft.sources.GraftIO.readParquet(s, livePath) // no-op
    val seg = readMorFeed(s, feedRoot, watermark, tip)
    val parts = Seq.newBuilder[DataFrame]
    if (f.exists(hp(livePath))) parts += graft.sources.GraftIO.readParquet(s, livePath)
    parts += partialAgg(seg.where(col("change_type") === "I")
      .drop("change_type"))
    parts += negatePartials(
      partialAgg(seg.where(col("change_type") === "D").drop("change_type")),
      groupCols)
    val merged = foldPartials(parts.result(), groupCols)
      .localCheckpoint(true) // the swap deletes the files this read
    try {
      merged.write.mode(SaveMode.Overwrite).parquet(stagePath)
      val out = f.create(marker(stagePath), true)
      try out.writeLong(tip) finally out.close()
      f.delete(hp(livePath), true)
      if (!f.rename(hp(stagePath), hp(livePath)))
        throw new IllegalStateException(
          s"[GRAFT] consumeMorFeed commit swap failed: " +
            s"rename($stagePath -> $livePath) returned false")
    } finally graft.GraftSession.releaseCheckpoint(merged)
    graft.sources.GraftIO.readParquet(s, livePath)
  }

  /** Pending tombstone rows across both sidecar flavors — the
    * per-read anti-join probe debt. Footer counts only (the A25
    * discipline, distributed): no sidecar row is scanned.
    */
  def tombstoneDebt(s: SparkSession, tablePath: String): Long = {
    val f = fs(s, tablePath)
    Seq(DvDir, EqDir).map { d =>
      val sub = new org.apache.hadoop.fs.Path(s"$tablePath/$d")
      if (!f.exists(sub)) 0L
      else {
        val files = GraftIO.walkFiles(f, sub)
          .collect { case st if st.getPath.getName.endsWith(".parquet") =>
            st.getPath.toString }
        GraftBloomIndex.footerRowCounts(s, files).values.sum
      }
    }.sum
  }

  /** A46: MUTATION-AWARE incremental aggregate maintenance — A20's
    * "refresh from the diff, never rescan the base" discipline
    * extended to a mutating MOR table. The summary is a persisted
    * frame of ADDITIVE partials (group columns + summable measures,
    * one of which must be a row count named `n`); a refresh applies
    * only what changed since the last one:
    *
    *   - files appended since the stored listing → their partials ADD
    *     (scan of the NEW files only);
    *   - tombstone epochs past the stored watermark → the doomed
    *     rows' partials SUBTRACT (scan of the tombstones' own files
    *     only, coordinate semi-join — the churn-bounded cost class);
    *   - groups whose count reaches zero leave the summary, so the
    *     result is exactly the full recompute's row set.
    *
    * Correct under any A42/A43 mix because epochs are TRUE DELTAS (no
    * coordinate is ever tombstoned twice) and an upsert's append and
    * tombstone are both visible to the same refresh. EQUALITY
    * sidecars are refused BY NAME (their discovery scan is deferred —
    * fold them with `morCompact` first), and a compaction (any stored
    * file vanishing, or the tombstone dir resetting) triggers a full
    * rebuild: rewritten history cannot be diffed. Summary + state
    * (file listing, applied-epoch watermark) commit ATOMICALLY with
    * the A39 staged-swap protocol (marker inside staging, checked
    * renames, crash adoption at the next call).
    */
  def morIncrementalAgg(s: SparkSession, tablePath: String,
      summaryPath: String, groupCols: Seq[String],
      partialAgg: DataFrame => DataFrame): DataFrame = {
    val f = fs(s, summaryPath)
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    val stagePath = s"$summaryPath.staging"
    def marker(dir: String) = hp(s"$dir/_state/applied")
    // crash recovery: committed staging with no live summary → adopt
    if (!f.exists(hp(summaryPath)) && f.exists(marker(stagePath)) &&
        !f.rename(hp(stagePath), hp(summaryPath)))
      throw new IllegalStateException(
        s"[GRAFT] morIncrementalAgg crash-recovery swap failed: " +
          s"rename($stagePath -> $summaryPath) returned false")
    require(sidecars(s, tablePath).eq.isEmpty,
      s"[GRAFT] morIncrementalAgg requires an equality-sidecar-free table " +
        s"($tablePath has ${EqDir}/): fold erases with morCompact first")
    val curFiles = listDataFiles(s, tablePath).toSet
    val curEpochs = nextEpoch(s, tablePath)
    val live = f.exists(marker(summaryPath))
    val (rebuild, applied, stored) =
      if (!live) (true, 0, Set.empty[String])
      else {
        val in = f.open(marker(summaryPath))
        val a = try in.readInt() finally in.close()
        val st = graft.sources.GraftIO.readParquet(s, s"$summaryPath/_state/files")
          .collect().map(_.getString(0)).toSet
        // rewritten history (compaction, overwrite) cannot be diffed
        ((st -- curFiles).nonEmpty || curEpochs < a, a, st)
      }
    val parts = Seq.newBuilder[DataFrame]
    var dvHeld: Option[DataFrame] = None
    if (rebuild) parts += partialAgg(morRead(s, tablePath))
    else {
      val summary = graft.sources.GraftIO.readParquet(s, summaryPath)
      if (curFiles == stored && curEpochs == applied) return summary // no-op
      parts += summary
      val newFiles = (curFiles -- stored).toSeq
      if (newFiles.nonEmpty)
        parts += partialAgg(
          readFilesWithBase(s, tablePath, newFiles))
      // dir-existence guard: a zero-rewrite compaction can bump the
      // HWM past `applied` with the sidecar dir already cleared
      if (curEpochs > applied &&
          fs(s, tablePath).exists(
            new org.apache.hadoop.fs.Path(dvPath(tablePath)))) {
        // checkpointed because the coordinate list is reused (file
        // discovery + the semi-join); released after `merged`
        // materializes below
        val dv = s.read
          // dv layout is fixed (epoch=N partition dirs of coordinate
          // files); declaring it skips the schema-inference job (r16).
          // epoch is declared BIGINT: the epoch counter is Long in the
          // API, and partition-value parsing to the wider declared
          // type is still inference-job-free (r17, ADVICE).
          .schema("dv_file STRING, dv_pos BIGINT, epoch BIGINT")
          .parquet(dvPath(tablePath))
          .where(col("epoch") >= applied).select("dv_file", "dv_pos")
          .localCheckpoint(true)
        dvHeld = Some(dv)
        val doomedFiles = dv.select("dv_file").distinct()
          .collect().map(_.getString(0))
        // zero-coordinate epochs (a delete that matched nothing)
        // advance the watermark but subtract no partials
        if (doomedFiles.nonEmpty) {
          val doomed = readFilesWithBase(s, tablePath, doomedFiles.toIndexedSeq)
            .withColumn("dv_file", normPath(col("_metadata.file_path")))
            .withColumn("dv_pos", col("_metadata.row_index"))
            .join(broadcast(dv), Seq("dv_file", "dv_pos"), "left_semi")
            .drop("dv_file", "dv_pos")
          parts += negatePartials(partialAgg(doomed), groupCols)
        }
      }
    }
    val merged = foldPartials(parts.result(), groupCols)
      .localCheckpoint(true) // the swap deletes the files this read
    try {
      merged.write.mode(SaveMode.Overwrite).parquet(stagePath)
      import s.implicits._
      curFiles.toSeq.toDF("file_norm").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$stagePath/_state/files")
      val out = f.create(marker(stagePath), true)
      try out.writeInt(curEpochs) finally out.close()
      f.delete(hp(summaryPath), true)
      if (!f.rename(hp(stagePath), hp(summaryPath)))
        throw new IllegalStateException(
          s"[GRAFT] morIncrementalAgg commit swap failed: " +
            s"rename($stagePath -> $summaryPath) returned false")
    } finally {
      graft.GraftSession.releaseCheckpoint(merged)
      dvHeld.foreach(graft.GraftSession.releaseCheckpoint)
    }
    graft.sources.GraftIO.readParquet(s, summaryPath)
  }

  /** Drop the folded sidecars, FIRST persisting each flavor's epoch
    * high-water mark so post-compaction epochs keep numbering past the
    * cleared ones — feed/incremental consumers key on "epochs applied
    * so far", and a zero-rewrite compaction (only empty epochs folded)
    * must not let fresh mutations reuse consumed numbers. The
    * `_schema` marker is permanent metadata and survives.
    */
  private def clearSidecars(f: org.apache.hadoop.fs.FileSystem,
      tablePath: String, hasDv: Boolean, hasEq: Boolean,
      hasSeqm: Boolean, nextDv: Int, nextEq: Int): Unit = {
    if (hasDv) writeHwm(f, dvPath(tablePath), nextDv)
    if (hasEq) writeHwm(f, eqPath(tablePath), nextEq)
    // consumed A59 reservations die with the sidecar (the HWM carries
    // monotonicity past them; compaction is lease-gated, so no writer
    // is in flight here by contract)
    f.delete(allocDir(dvPath(tablePath)), true)
    f.delete(allocDir(eqPath(tablePath)), true)
    if (hasDv && !f.delete(new org.apache.hadoop.fs.Path(dvPath(tablePath)), true))
      throw new IllegalStateException(
        s"[GRAFT] morCompact failed to clear ${dvPath(tablePath)}")
    if (hasEq && !f.delete(new org.apache.hadoop.fs.Path(eqPath(tablePath)), true))
      throw new IllegalStateException(
        s"[GRAFT] morCompact failed to clear ${eqPath(tablePath)}")
    if (hasSeqm && !f.delete(new org.apache.hadoop.fs.Path(seqmPath(tablePath)), true))
      throw new IllegalStateException(
        s"[GRAFT] morCompact failed to clear ${seqmPath(tablePath)}")
  }
}
