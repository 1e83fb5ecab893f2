package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** The connector layer: Spark-native analog of the reference's
  * `ArgodbMapreduceInputFormat` + `MetaUtils` surface.
  *
  * The reference opens `database.table`, discovers the schema
  * (MetaUtils.java:25-82), applies an optional single-value partition
  * filter `col=value` that prunes to exactly one partition/section
  * (ArgodbMapreduceInputFormat.java:208-255), generates locality-aware
  * splits, and re-attaches partition values as typed columns with
  * Hive default-partition handling (ArgodbMapreduceRecordReader.java:182-201).
  *
  * Spark-first re-expression: a catalog over a directory of parquet
  * tables. Schema discovery = parquet footer read. The partition
  * filter compiles to a typed Catalyst predicate so Catalyst pushes it
  * into the scan — on a hive-partitioned layout that is directory-level
  * partition pruning; on flat parquet it is row-group min/max pruning.
  * Split generation + locality is Spark's FileSourceScanExec; snapshot
  * consistency is parquet immutability + a pinned file listing.
  */
final class GraftCatalog(spark: SparkSession, root: String) {

  import GraftCatalog._

  /** Pinned per-table file listings (path, length), captured at the
    * FIRST read of each table through this catalog and reused for
    * every subsequent read — the Spark-native analog of the
    * reference's job-spanning read-only transaction
    * (ArgodbMapreduceInputFormat.java:80-99 begins one transaction and
    * serializes its token into every split; :257-279 releases it).
    * Parquet files are immutable once committed, so pinning the
    * listing IS the snapshot: a file landing in the directory
    * mid-job is invisible to this catalog, and two readers of the
    * same table through one catalog see identical data.
    */
  private val pinnedListings =
    scala.collection.concurrent.TrieMap.empty[String, PinnedTable]

  /** Pinned merge-on-read sidecar state per table (A42-A45 masks +
    * the evolved-schema marker), captured WITH the data-file pin so a
    * reader's masks are as snapshot-stable as its files. REFRESH
    * (`invalidate`) re-pins both.
    */
  private val pinnedMor =
    scala.collection.concurrent.TrieMap.empty[String, GraftMor.Sidecars]

  /** The session Hadoop conf, resolved once per catalog: a copy of the
    * whole conf per listing or probe was the largest driver cost of a
    * catalog read.
    */
  private lazy val hadoopConf = GraftIO.hadoopConf(spark)

  private lazy val rootFs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(root).getFileSystem(hadoopConf)

  private def morPin(name: String): GraftMor.Sidecars =
    pinnedMor.getOrElseUpdate(name, GraftIO.withCallConf(spark, hadoopConf)(
      GraftMor.sidecars(spark, s"$root/$name.parquet")))

  /** Eagerly pin EVERY table currently under the root, making this
    * catalog's view of N tables ATOMIC — the analog of the
    * reference's job-spanning transaction, which locks all tables +
    * sections once at job submit (ArgodbMapreduceInputFormat.java:
    * 52-102) rather than per table at first access. Without this, two
    * tables first-read at different times could straddle a writer
    * committing between them. Runs at construction; a table created
    * under the root AFTER construction is still pinned lazily at its
    * first read (scratch-table flows).
    */
  def pinAll(): Unit = tableNames().foreach(pinned)

  /** Tables currently present under the root (`<name>.parquet` file
    * or directory entries).
    */
  def tableNames(): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(root)
    if (!rootFs.exists(path)) Seq.empty
    else rootFs.listStatus(path).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
  }

  pinAll()

  /** Schema discovery without reading data (MetaUtils.getTableInfo analog). */
  def tableSchema(name: String): StructType = table(name).schema

  /** Hive-style column descriptor list: (name, hive type name). */
  def describeTable(name: String): Seq[(String, String)] =
    tableSchema(name).fields.toSeq.map(f => f.name -> HiveTypeMapping.toHiveName(f.dataType))

  private def pinned(name: String): PinnedTable =
    pinnedListings.getOrElseUpdate(name, listDataFiles(hadoopConf, s"$root/$name.parquet"))

  /** The (path, length) snapshot this catalog has pinned for a table —
    * pins it on first call.
    */
  def snapshotFiles(name: String): Seq[(String, Long)] = pinned(name).files

  /** Share leases this catalog holds, per table (see acquireLease). */
  private val heldLeases =
    scala.collection.concurrent.TrieMap.empty[String, List[String]]

  /** Pin AND share-lease a table: the snapshot is registered with the
    * writer side, so a copy-on-write rewrite (mergeUpsert/mergeDelete)
    * FAILS FAST instead of deleting files this catalog still reads —
    * the reference's job-spanning share lock
    * (ArgodbMapreduceInputFormat.java:52-102), lease-shaped. Released
    * by `invalidate` (the REFRESH path) or by TTL expiry if the
    * reader crashes.
    */
  def acquireLease(name: String, ttlMs: Long = GraftLease.DefaultTtlMs): String = {
    pinned(name) // the lease covers THIS snapshot
    val id = GraftLease.acquire(spark, s"$root/$name.parquet", ttlMs)
    heldLeases.updateWith(name) { prev => Some(id :: prev.getOrElse(Nil)) }
    id
  }

  /** Drop ONE table's pinned listing so its next read re-pins the
    * current files — the explicit REFRESH escape hatch for a table
    * that was legitimately rewritten mid-session. Other tables'
    * snapshots are untouched. Share leases held on the table are
    * released with the pin (REFRESH = "I give up my snapshot").
    */
  def invalidate(name: String): Unit = {
    pinnedListings.remove(name)
    pinnedMor.remove(name)
    heldLeases.remove(name).foreach(_.foreach(
      GraftLease.release(spark, s"$root/$name.parquet", _)))
  }

  /** True when any file sits in a hive-partitioned sub-directory of
    * the table root — i.e. '=' appears in the path segment BELOW
    * `$root/$name.parquet/`. Testing the ABSOLUTE path would mark
    * every table of a warehouse whose own path contains '='
    * (e.g. /data/run=3/wh) partitioned and silently disable the
    * footer-schema fast path. If the root prefix cannot be located in
    * a path (scheme-qualified vs bare), that file falls back to the
    * whole-path test — the conservative direction (inference, never a
    * dropped partition column).
    */
  private def partitionedBelowRoot(name: String,
      files: Iterable[String]): Boolean = {
    val prefix = s"$root/$name.parquet/"
    files.exists { f =>
      val i = f.indexOf(prefix)
      (if (i >= 0) f.substring(i + prefix.length) else f).contains("=")
    }
  }

  /** Full-table scan against the pinned snapshot: the read names the
    * pinned files explicitly instead of re-listing the directory, so
    * Catalyst's FileIndex never sees later arrivals. `basePath` keeps
    * hive-style partition discovery working on partitioned layouts
    * (only legal when the table root is a directory).
    *
    * MERGE-ON-READ AWARE (A42-A47): live `_dv`/`_eq`/`_seqm` sidecars
    * — pinned with the files — compose as the same gated anti-joins
    * `morRead` serves, so `table()` and `morRead` give ONE answer on
    * a mutated table (the reference's single-entry snapshot-consistent
    * read contract, ArgodbMapreduceInputFormat.java:52-102). Erase
    * tombstones written AFTER the pin additionally mask FRESH
    * (`GraftMor.applyCurrentEraseMask`): GDPR erasure is retroactive
    * by contract and outranks snapshot stability. A table with no
    * sidecars pays two metadata listings at pin time and nothing per
    * read.
    */
  def table(name: String): DataFrame = GraftIO.withCallConf(spark, hadoopConf) {
    val pin = pinned(name)
    require(pin.files.nonEmpty, s"[GRAFT] Table [$name] has no data files under $root")
    val sc = morPin(name)
    val reader = spark.read
    sc.schemaDdl match {
      case Some(d) =>
        reader.schema(org.apache.spark.sql.types.StructType.fromDDL(d))
      case None =>
        // no declared schema: resolve it DRIVER-SIDE from the first
        // pinned file's footer instead of paying Spark's
        // schema-inference JOB per construction (r16 optimization;
        // identical schema — GraftIO reads the same footer key /
        // converter Spark's inference uses). Hive-partitioned layouts
        // keep inference: a user-supplied schema would drop the
        // partition columns.
        val partitioned = pin.rootIsDir &&
          partitionedBelowRoot(name, pin.files.map(_._1))
        if (!partitioned)
          GraftIO.parquetSchema(spark, pin.files.map(_._1).min)
            .foreach(reader.schema)
    }
    if (pin.rootIsDir) reader.option("basePath", s"$root/$name.parquet")
    val base = reader.parquet(pin.files.map(_._1): _*)
    val masked = if (sc.any) GraftMor.applyMasks(spark, base, sc) else base
    GraftMor.applyCurrentEraseMask(spark, s"$root/$name.parquet", masked,
      unlessSame = sc.eq)
  }

  /** Incremental read: rows of `name` that arrived AFTER the `since`
    * catalog pinned its snapshot — the files in THIS catalog's pinned
    * listing minus `since`'s, read directly. Parquet immutability
    * makes the file-set difference exactly the data difference, so a
    * periodic job can process each epoch's arrivals once without
    * rescanning the table: at 100 TB the increment costs IO
    * proportional to the NEW data only. (The reference's snapshot
    * transaction gives the same two-points-in-time semantics; this is
    * its read-incrementally consequence.)
    */
  def diffTable(name: String, since: GraftCatalog): DataFrame = {
    val newFiles = snapshotFiles(name).toSet -- since.snapshotFiles(name).toSet
    if (newFiles.isEmpty) table(name).limit(0)
    else {
      val reader = spark.read
      // driver-side footer schema (no inference job); see table()
      val partitioned = pinned(name).rootIsDir &&
        partitionedBelowRoot(name, newFiles.map(_._1))
      if (!partitioned)
        GraftIO.parquetSchema(spark, newFiles.map(_._1).min)
          .foreach(reader.schema)
      if (pinned(name).rootIsDir) reader.option("basePath", s"$root/$name.parquet")
      // the GDPR forward mask applies to increments too: an erased
      // key's straggler arrival must not ride the diff downstream
      GraftMor.applyCurrentEraseMask(spark, s"$root/$name.parquet",
        reader.parquet(newFiles.map(_._1).toSeq.sorted: _*))
    }
  }

  /** A30: row-level change data feed between two PUBLISHED epochs —
    * every row inserted or deleted from `fromId` to `toId`, tagged
    * `change_type` ('insert' | 'delete'); an update surfaces as the
    * delete of its old version plus the insert of the new one.
    *
    * Scale shape: the manifests are diffed as FILE sets first, and
    * only churned files are ever read — a file common to both epochs
    * contributes nothing and is skipped without opening it, so the
    * cost is O(churn), not O(table). Within the churned files,
    * `exceptAll` (multiset difference — a hash aggregate on the full
    * row, bounded by churned-row count) cancels rows present on both
    * sides exactly, leaving just the true row deltas. Exact because
    * parquet round-trips every engine type bit-identically. By
    * construction: epoch1 ⊎ inserts ∖ deletes = epoch2 as multisets
    * (spec-asserted).
    *
    * Scope: requires BOTH epochs' churned files to still exist —
    * append-only epochs always qualify (parquet immutability); a
    * copy-on-write MERGE destroys its pre-image, so its feed must be
    * captured AT WRITE TIME instead (GraftSink.mergeUpsertCdf — the
    * same reason Delta/Iceberg emit CDF during the write). A missing
    * file fails fast here, same as any stale-epoch read.
    */
  def changesBetween(name: String, fromId: Long, toId: Long): DataFrame = {
    // a mask-bearing epoch's row deltas are NOT visible as a file-set
    // diff (a morDelete changes no file); the mutation-aware route is
    // the A49 feed — refuse BY NAME rather than emit a silently
    // incomplete feed
    val m1 = manifest(name, fromId)
    val m2 = manifest(name, toId)
    Seq(fromId -> m1, toId -> m2).foreach { case (id, m) =>
      if (m.sidecars.any) throw new IllegalStateException(
        s"[GRAFT] changesBetween cannot diff [$name] v$id: the epoch " +
          "records live mutation-sidecar state, whose row deltas a " +
          "file-set diff cannot see - use GraftMor.publishMorFeed (the " +
          "mutation-aware change feed), or fold with morCompact and " +
          "republish")
    }
    val (rootIsDir1, f1) = (m1.rootIsDir, m1.paths)
    val (rootIsDir2, f2) = (m2.rootIsDir, m2.paths)
    val removed = (f1.toSet -- f2.toSet).toSeq.sorted
    val added = (f2.toSet -- f1.toSet).toSeq.sorted
    def readSide(files: Seq[String], rootIsDir: Boolean): DataFrame = {
      val reader = spark.read
      // driver-side footer schema (no inference job); see table()
      if (!(rootIsDir && partitionedBelowRoot(name, files)))
        GraftIO.parquetSchema(spark, files.min).foreach(reader.schema)
      if (rootIsDir) reader.option("basePath", s"$root/$name.parquet")
      reader.parquet(files: _*)
    }
    if (removed.isEmpty && added.isEmpty) {
      // identical manifests: an empty but fully-typed feed
      tableAsOf(name, toId).limit(0)
        .withColumn("change_type", org.apache.spark.sql.functions.lit(""))
    } else {
      val template =
        if (added.nonEmpty) readSide(added, rootIsDir2)
        else readSide(removed, rootIsDir1)
      val addedDf = if (added.isEmpty) template.limit(0) else readSide(added, rootIsDir2)
      val removedDf = if (removed.isEmpty) template.limit(0) else readSide(removed, rootIsDir1)
      val ins = addedDf.exceptAll(removedDf)
        .withColumn("change_type", org.apache.spark.sql.functions.lit("insert"))
      val del = removedDf.exceptAll(addedDf)
        .withColumn("change_type", org.apache.spark.sql.functions.lit("delete"))
      // erased keys leave the feed on BOTH sides (retroactive by
      // contract): downstream must neither insert nor re-delete them
      GraftMor.applyCurrentEraseMask(spark, s"$root/$name.parquet",
        ins.unionByName(del))
    }
  }

  /** A26: publish this catalog's pinned snapshot of `name` as a
    * NUMBERED, durable epoch under `<root>/_snapshots/<name>/v<id>` —
    * the time-travel completion of the snapshot story: the in-memory
    * pin dies with the catalog, but a published pin can be read AS OF
    * by any later session (`tableAsOf`). The log entry is a tiny
    * file-listing manifest (one metadata write per epoch — at 100 TB
    * the cost is O(files), not O(data)); parquet immutability makes
    * the manifest sufficient: files named by an old epoch are
    * byte-identical forever, append-only epochs simply don't list the
    * new files, and a copy-on-write rewrite that deletes files makes
    * the stale epoch fail FAST on read (the lease layer, A24, exists
    * to prevent exactly that race for live readers).
    * (Reference analog: the job-spanning snapshot transaction,
    * ArgodbMapreduceInputFormat.java:257-279 — this makes the
    * transaction's view durable and addressable.)
    */
  def publishSnapshot(name: String): Long = {
    val pin = pinned(name)
    val dir = SnapshotManifest.dir(root, name)
    val fs = dir.getFileSystem(hadoopConf)
    fs.mkdirs(dir)
    // the epoch pins the table STATE, not just the file set: live
    // merge-on-read sidecar listings (A42-A45 masks) and the evolved
    // schema publish WITH the data files, so `tableAsOf` of an epoch
    // published after a morDelete/morUpsert serves the post-mutation
    // state — the reference's snapshot transaction is of the table
    // state (ArgodbMapreduceInputFormat.java:257-279); sidecar parquet
    // is immutable like data files.
    val sc = morPin(name)
    // per-file, per-row-group planning stats (the manifest's stats
    // section — row counts, byte ranges, prunable-column min/max): one
    // footer pass per NEW file at publish buys ZERO-footer scan
    // planning for every later read (the reference's one-metadata-read
    // split planning, ArgodbMapreduceInputFormat.java:104-199). Files
    // the PRIOR epoch already recorded re-emit their lines verbatim
    // (parquet immutability — publish cost is O(new files), never
    // O(table)); uncovered files take the bounded parallel footer
    // pool. Computed once outside the id-collision retry loop.
    val statsLines = graft.sources.v2.GraftPlanStats.statsLines(pin.files,
      hadoopConf,
      prior = graft.sources.v2.GraftPlanStats.rawForTable(s"$root/$name.parquet", hadoopConf))
    // the PUBLISH INSTANT lives INSIDE the manifest body: file mtime
    // is fs-level state an fs copy / restore / distcp rewrites, which
    // would silently re-address every epoch.
    // create-if-absent makes concurrent publishers atomic: the loser
    // RE-DERIVES the next id and retries (the A59 allocator
    // discipline) instead of throwing, so publishers interleave
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val id = snapshotIds(name).lastOption.getOrElse(0L) + 1L
      val m = SnapshotManifest.Manifest(pin.rootIsDir,
        Some(System.currentTimeMillis()), pin.files, sc, statsLines,
        complete = true)
      SnapshotManifest.create(fs, dir, id, m) match {
        case Right(()) => committed = id
        case Left(collision) =>
          attempt += 1 // lost the race: re-derive one higher
          if (attempt >= 100) throw new IllegalStateException(
            s"[GRAFT] publishSnapshot($name) contended $attempt times - " +
              "publisher storm or a filesystem that cannot " +
              "create-if-absent; serialize publishers externally", collision)
      }
    }
    committed
  }

  /** A35: durable multi-table TAG — one name for a CONSISTENT set of
    * epochs across N tables, the durable form of this catalog's
    * construction-time `pinAll` atomicity (and of the reference's
    * job-spanning multi-table transaction,
    * ArgodbMapreduceInputFormat.java:52-102): every listed table's
    * current pin is published as its next epoch, then ONE tag file
    * records the (table, epoch) pairs. Readers resolve the tag and
    * read each table AS OF its recorded epoch — a writer landing in
    * any table after the tag is invisible through it. The pins all
    * come from THIS catalog (one atomic pinAll view), so the tag is
    * cross-table consistent by construction, not by timing luck.
    * `create(overwrite=false)` makes a duplicate tag name collide
    * loudly.
    */
  def publishTag(tag: String, tables: Seq[String]): Map[String, Long] = {
    require(tables.nonEmpty, "[GRAFT] a tag needs at least one table")
    require(tag.nonEmpty && !tag.contains("/"),
      s"[GRAFT] bad tag name: '$tag'")
    val epochs = tables.map(t => t -> publishSnapshot(t))
    SnapshotManifest.writeTag(rootFs, root, tag, epochs)
    epochs.toMap
  }

  /** The (table, epoch) pairs a tag pinned. */
  def readTag(tag: String): Map[String, Long] =
    SnapshotManifest.readTag(rootFs, root, tag).getOrElse(
      throw new IllegalArgumentException(
        s"[GRAFT] no published tag '$tag' under $root"))

  /** Read `name` AS OF the epoch a tag pinned for it. */
  def tableAtTag(tag: String, name: String): DataFrame = {
    val epochs = readTag(tag)
    require(epochs.contains(name),
      s"[GRAFT] tag '$tag' does not cover table [$name] " +
        s"(covers: ${epochs.keys.toSeq.sorted.mkString(", ")})")
    tableAsOf(name, epochs(name))
  }

  /** Published epoch ids for `name`, ascending. */
  def snapshotIds(name: String): Seq[Long] =
    SnapshotManifest.ids(rootFs, SnapshotManifest.dir(root, name))

  /** Read `name` AS OF published epoch `id`: exactly the files that
    * epoch's manifest names — WITH the mutation masks the manifest
    * recorded (A54): an epoch published after a morDelete/morUpsert
    * serves the post-mutation state (position vectors, equality
    * tombstones and the file→sequence manifest compose exactly as the
    * live read does), an epoch published before it serves the
    * pre-mutation state, and mutations landing AFTER the publish stay
    * invisible. The read bypasses this catalog's own pin — time
    * travel is an explicit, addressed snapshot, not the session one.
    * A compaction destroys recorded sidecar files, so a masked epoch
    * refuses BY NAME once folded (the same stale-epoch fail-fast a
    * COW rewrite causes on data files).
    */
  def tableAsOf(name: String, id: Long): DataFrame = {
    val m = manifest(name, id)
    val (rootIsDir, files, sc) = (m.rootIsDir, m.paths, m.sidecars)
    require(files.nonEmpty, s"[GRAFT] Snapshot v$id of [$name] lists no files")
    m.requireSidecarsLive(rootFs, s"Snapshot v$id of [$name]")
    val reader = spark.read
    sc.schemaDdl match {
      case Some(d) =>
        reader.schema(org.apache.spark.sql.types.StructType.fromDDL(d))
      case None =>
        // driver-side footer schema (no inference job); see table()
        if (!(rootIsDir && partitionedBelowRoot(name, files)))
          GraftIO.parquetSchema(spark, files.min).foreach(reader.schema)
    }
    if (rootIsDir) reader.option("basePath", s"$root/$name.parquet")
    val base = reader.parquet(files: _*)
    val masked = if (sc.any) GraftMor.applyMasks(spark, base, sc) else base
    // epoch-relative for ordinary mutations, but the CURRENT erase
    // mask applies even to history: a GDPR-erased key must serve from
    // no surface, addressed snapshots included
    GraftMor.applyCurrentEraseMask(spark, s"$root/$name.parquet", masked,
      unlessSame = sc.eq)
  }

  /** Published epoch `id` of `name`, read once: its files, the
    * merge-on-read sidecar state it RECORDED (the masks an AS-OF read
    * composes; empty for unmutated tables and for manifests written
    * before sidecar recording) and its stats. A torn body — a line
    * cut short, or stats lines but no completeness terminator: an
    * in-flight or crashed publish — refuses rather than serve a
    * partial file list.
    */
  private[sources] def manifest(name: String,
      id: Long): SnapshotManifest.Manifest = {
    val m = SnapshotManifest.read(rootFs, SnapshotManifest.dir(root, name), id)
      .getOrElse(throw new IllegalArgumentException(
        s"[GRAFT] Table [$name] has no published snapshot v$id under $root"))
    if (m.torn)
      throw new IllegalStateException(
        s"[GRAFT] Snapshot v$id of [$name] is in-flight or torn (a line " +
          "cut short, or stats lines but no completeness terminator) - " +
          "retry when the publish completes, or republish if the " +
          "publisher crashed")
    m
  }

  /** The file paths a published epoch's manifest names. */
  def snapshotFilesAsOf(name: String, id: Long): Seq[String] =
    manifest(name, id).paths

  /** A40: snapshot EXPORT — the cross-system data-sharing handoff
    * (the Delta-Sharing / Iceberg-metadata shape): a published epoch
    * is written out as ONE engine-neutral JSON manifest — table name,
    * epoch id, schema DDL, and the absolute data-file list — that a
    * FOREIGN parquet-capable reader consumes with no graft code at
    * all: read exactly the listed files. Because the export names the
    * SAME files the snapshot manifest pins, it is immutable under
    * every later append/publish (a new epoch adds files, it never
    * rewrites pinned ones) and stays valid until the epoch is expired
    * and vacuumed — the exact liveness contract the A27 vacuum
    * already anchors on manifests. Metadata-only: no data file is
    * read or copied; export cost is O(files) names. Returns the
    * exported file list.
    */
  def exportSnapshot(name: String, id: Long, outFile: String): Seq[String] = {
    // a foreign parquet reader applies NO masks: refuse when the epoch
    // records mutation sidecars (tombstoned rows would serve), and
    // when a CURRENT erase sidecar exists (GDPR erasure is retroactive
    // — an export must not hand erased keys to a reader the mask can
    // never reach)
    val m = manifest(name, id)
    if (m.sidecars.any) throw new IllegalStateException(
      s"[GRAFT] exportSnapshot of [$name] v$id refused: the epoch records " +
        "live mutation-sidecar state a foreign parquet reader cannot " +
        "apply - fold with morCompact and republish first")
    if (GraftMor.sidecars(spark, s"$root/$name.parquet").eq.nonEmpty)
      throw new IllegalStateException(
        s"[GRAFT] exportSnapshot of [$name] refused: the table carries a " +
          "live equality/erase sidecar; an export cannot be masked after " +
          "the fact (GDPR erasure is retroactive) - fold with morCompact " +
          "first")
    val files = m.paths
    val schemaDdl = tableAsOf(name, id).schema.toDDL
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    val json =
      s"""{"table":"${esc(name)}","epoch":$id,""" +
        s""""schema":"${esc(schemaDdl)}",""" +
        files.map(f => "\"" + esc(f) + "\"").mkString("\"files\":[", ",", "]}")
    val p = new org.apache.hadoop.fs.Path(outFile)
    val fs = p.getFileSystem(hadoopConf)
    GraftIO.writeText(fs, p, json, overwrite = true)
    files
  }

  /** A60: MATERIALIZED export of a MASKED epoch. `exportSnapshot`
    * honestly refuses any epoch carrying mutation-sidecar state (a
    * foreign parquet reader applies no masks) — but its remedy,
    * morCompact-then-republish, rewrites the TABLE's whole affected
    * file set just to share one snapshot. This route instead writes a
    * mask-APPLIED copy of the epoch's state into the export directory
    * — one COW pass over the epoch's files, the table itself untouched
    * — and the manifest lists the MATERIALIZED files, so the foreign
    * reader still needs zero graft code: read exactly the listed
    * files. Current erases apply retroactively (tableAsOf's rule): a
    * GDPR-erased key cannot leave through an export, which is exactly
    * why the metadata-only route refuses while a live erase sidecar
    * exists and this one does not need to. Cost is O(epoch bytes),
    * paid in the export directory — the honest price of sharing a
    * masked state; unmasked epochs should keep using the O(files)
    * metadata-only export. Returns the materialized file list.
    */
  def exportSnapshotMaterialized(name: String, id: Long,
      outDir: String): Seq[String] = {
    val df = tableAsOf(name, id) // masks AS OF the epoch + current erases
    val dataDir = s"$outDir/data"
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dataDir)
    val p = new org.apache.hadoop.fs.Path(dataDir)
    val fs = p.getFileSystem(hadoopConf)
    val files = fs.listStatus(p).toSeq.map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.toString).sorted
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    val json =
      s"""{"table":"${esc(name)}","epoch":$id,"materialized":true,""" +
        s""""schema":"${esc(df.schema.toDDL)}",""" +
        files.map(f => "\"" + esc(f) + "\"").mkString("\"files\":[", ",", "]}")
    GraftIO.writeText(fs, new org.apache.hadoop.fs.Path(s"$outDir/manifest.json"),
      json, overwrite = true)
    files
  }

  /** The newest published epoch whose RECORDED publish instant (a
    * line inside the manifest body) is at or before `epochMs` — the
    * `TIMESTAMP AS OF` resolution rule. The instant
    * lives in the manifest, NOT in file mtime: an fs-level copy,
    * restore or distcp rewrites mtimes, which would silently
    * re-address every epoch. Manifests published before instants were
    * recorded fall back to mtime (their only signal).
    */
  def snapshotIdAt(name: String, epochMs: Long): Long = {
    val dir = SnapshotManifest.dir(root, name)
    val fs = rootFs
    val at = snapshotIds(name).filter { id =>
      SnapshotManifest.publishedAt(fs, dir, id).getOrElse(
        fs.getFileStatus(SnapshotManifest.file(dir, id))
          .getModificationTime) <= epochMs
    }
    require(at.nonEmpty,
      s"[GRAFT] Table [$name] has no snapshot published at or before " +
        s"${java.time.Instant.ofEpochMilli(epochMs)}")
    at.max
  }

  /** A28: RESTORE the table to a published epoch — the write-side
    * completion of time travel ("the bad write landed; put the table
    * back"). In this file layout the table's live state IS the
    * directory, so restore is destructive-by-design: data files not
    * named by the target manifest are deleted (they arrived after the
    * pin), and manifests NEWER than the target are expired with them
    * (they would dangle). Fails fast BEFORE touching anything if any
    * target-manifest file has already been physically removed (a COW
    * rewrite ran without lease protection). The restored state is
    * re-published as the log's new tip, so the operation itself is
    * addressable history. Returns the new snapshot id.
    */
  def restoreSnapshot(name: String, id: Long): Long = {
    // restore rewrites the file set only: it is unambiguous iff the
    // mutation-sidecar state has not changed since the target epoch
    // (same listings, typically both empty) — otherwise the restored
    // files would serve under masks the epoch never saw, or lose
    // masks it recorded. Refuse BY NAME; fold both states first.
    val m = manifest(name, id)
    val scThen = m.sidecars
    val scNow = GraftMor.sidecars(spark, s"$root/$name.parquet")
    require(scThen.dv == scNow.dv && scThen.eq == scNow.eq &&
        scThen.seqm == scNow.seqm,
      s"[GRAFT] restoreSnapshot of [$name] to v$id refused: the " +
        "mutation-sidecar state differs from what the epoch recorded - " +
        "fold with morCompact (and republish) before restoring")
    val files = m.paths
    val fs = rootFs
    val missing = files.filterNot(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p)))
    require(missing.isEmpty,
      s"[GRAFT] Cannot restore [$name] to v$id: ${missing.size} file(s) it " +
        s"names no longer exist (e.g. ${missing.head})")
    val keep = files.toSet
    listDataFiles(hadoopConf, s"$root/$name.parquet").files.map(_._1)
      .filterNot(keep)
      .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    pinnedListings.remove(name)
    pinnedMor.remove(name) // files and sidecars re-pin TOGETHER
    // publish the restored tip BEFORE expiring the dangling manifests:
    // the new id allocates past them, so an expired id is never reused
    // (a reader holding "v2" must not silently resolve to new data)
    val newId = publishSnapshot(name)
    val dir = SnapshotManifest.dir(root, name)
    snapshotIds(name).filter(v => v > id && v < newId).foreach(v =>
      fs.delete(SnapshotManifest.file(dir, v), false))
    newId
  }

  /** A38: WRITE-AUDIT-PUBLISH — the staged-commit gate every 100 TB
    * ingestion pipeline fronts its tables with (the Iceberg WAP
    * pattern), composed from primitives this catalog already has:
    * a writer lands files WITHOUT publishing (the stage), the audit
    * runs the rule set over ONLY the staged files (snapshot-diff
    * scope: current listing minus the last published manifest — the
    * audit cost is O(batch), never O(table)), and the manifest is
    * published iff ZERO rows violate. A dirty batch returns the
    * quarantine manifest (every violating row with the csv of fired
    * rule names) and leaves the log untouched: published readers
    * (`tableAsOf`, tags) never see it, and `vacuum` reclaims its
    * files because no manifest ever referenced them.
    *
    * Scope rule: EVERYTHING unpublished is the staged batch — a
    * previously-rejected batch still on disk keeps blocking the gate
    * until it is vacuumed or fixed, so a violation can never ride in
    * on a later clean batch's publish.
    *
    * Schema gate (A36 composed in): the staged read merges schemas so
    * drifted columns SURFACE, and any BREAKING change vs the
    * published tip's schema (dropped column, retype, non-nullable
    * add) is refused LOUDLY by name — a structural error is a deploy
    * bug, not a data-quality event, so it throws instead of returning
    * a row manifest. Additive-compatible changes pass and publish.
    */
  def publishAudited(name: String, rules: Seq[GraftCatalog.AuditRule],
      refuseBreakingSchema: Boolean = true)
      : Either[DataFrame, Long] = {
    require(rules.nonEmpty, "[GRAFT] publishAudited needs at least one audit rule")
    val current = listDataFiles(hadoopConf, s"$root/$name.parquet")
    val published: Set[String] = snapshotIds(name).lastOption
      .map(manifest(name, _).paths.toSet).getOrElse(Set.empty)
    val staged = current.files.map(_._1).filterNot(published)
    if (staged.isEmpty) {
      // nothing new: the tip already covers the directory; keep the
      // log linear instead of publishing a duplicate epoch
      return Right(snapshotIds(name).lastOption.getOrElse(throw
        new IllegalStateException(
          s"[GRAFT] Table [$name] has nothing staged and nothing published")))
    }
    val reader = spark.read.option("mergeSchema", "true")
    if (current.rootIsDir) reader.option("basePath", s"$root/$name.parquet")
    val batch = reader.parquet(staged.sorted: _*)
    if (refuseBreakingSchema && published.nonEmpty) {
      // the served-schema truth, in marker-first order (the A36×MOR
      // discipline): a `_schema/ddl` marker wins over file footers on
      // every read surface, so the gate diffs against it too — and a
      // COW rewrite (A61 ALTER, compactTable) that retired the tip
      // manifest's files doesn't strand the gate on a dead file read
      val tipSchema = GraftMor.readSchemaDdl(spark, s"$root/$name.parquet")
        .map(org.apache.spark.sql.types.StructType.fromDDL)
        .getOrElse(tableAsOf(name, snapshotIds(name).last).schema)
      // DECLARED partition columns (A58 created tables) are excluded
      // from the gate's diff: their batch-side types come from
      // hive-path STRING inference (a small value types as INT), not
      // from any file footer — the marker DDL is their truth and every
      // read surface serves it
      val declaredPartCols: Set[String] =
        GraftMor.readPartCols(rootFs, s"$root/$name.parquet").toSet
      def changeName(c: GraftSchemaPolicy.Change): String = c match {
        case GraftSchemaPolicy.AddedColumn(n, _) => n
        case GraftSchemaPolicy.DroppedColumn(n) => n
        case GraftSchemaPolicy.WidenedType(n, _, _) => n
        case GraftSchemaPolicy.RetypedColumn(n, _, _) => n
        case GraftSchemaPolicy.RelaxedNullability(n) => n
        case GraftSchemaPolicy.StricterNullability(n) => n
      }
      val broken = GraftSchemaPolicy.diff(tipSchema, batch.schema)
        .filter(_.breaking)
        .filterNot(c => declaredPartCols.contains(changeName(c)))
      if (broken.nonEmpty)
        throw new IllegalStateException(
          s"[GRAFT] staged batch for [$name] carries breaking schema changes:\n  " +
            broken.map(_.describe).mkString("\n  ") +
            "\n(publishAudited(refuseBreakingSchema = false) to override)")
    }
    val fired = rules.map(r => when(r.violation, lit(r.name)))
    val quarantine = batch
      .withColumn("reasons", concat_ws(",", fired: _*))
      .withColumn("n_reasons",
        fired.map(f => when(f.isNotNull, 1L).otherwise(0L)).reduce(_ + _))
      .where(col("n_reasons") > 0L)
    if (quarantine.isEmpty) {
      // re-pin BOTH: the publish must cover the batch, and re-pinning
      // files while keeping stale sidecars would tear the snapshot
      pinnedListings.remove(name)
      pinnedMor.remove(name)
      Right(publishSnapshot(name))
    } else Left(quarantine)
  }

  /** A27: retention — drop all but the newest `keepLast` published
    * epochs of `name`. Returns the expired ids. Expiry only removes
    * MANIFESTS (tiny); the data files an expired epoch referenced stay
    * until `vacuum` proves nothing else references them.
    */
  def expireSnapshots(name: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "[GRAFT] keepLast must retain at least one snapshot")
    val dir = SnapshotManifest.dir(root, name)
    val doomed = snapshotIds(name).dropRight(keepLast)
    val fs = rootFs
    doomed.foreach(id => fs.delete(SnapshotManifest.file(dir, id), false))
    doomed
  }

  /** A27: manifest-anchored garbage collection — delete data files of
    * `name` referenced by NO retained snapshot manifest: the files a
    * crashed or never-published write left behind, or that only
    * expired epochs referenced. The published log is the source of
    * truth for liveness (the Iceberg/Delta VACUUM contract): every
    * retained `tableAsOf` read is untouched by construction, and a
    * catalog pinned AFTER the newest publish sees exactly the newest
    * epoch. Cost at 100 TB: one directory listing + manifest reads —
    * O(files) metadata, zero data IO. Returns the deleted paths.
    * Refuses to run if nothing was ever published (there would be no
    * liveness anchor and it would delete the whole table).
    */
  def vacuum(name: String): Seq[String] = {
    val ids = snapshotIds(name)
    require(ids.nonEmpty,
      s"[GRAFT] vacuum needs at least one published snapshot of [$name]")
    val live = ids.flatMap(manifest(name, _).paths).toSet
    val current = listDataFiles(hadoopConf, s"$root/$name.parquet").files.map(_._1)
    val fs = rootFs
    val doomed = current.filterNot(live)
    doomed.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    // the dead files may be gone from this catalog's own pin too
    pinnedListings.remove(name)
    pinnedMor.remove(name) // files and sidecars re-pin TOGETHER
    doomed
  }

  /** Scan with the reference's partition-filter semantics:
    *  - blank filter → full scan (ArgodbMapreduceInputFormat.java:213-227);
    *  - `col=value` / `col="value"` → typed equality predicate on the
    *    partition column, value parsed per the column's Hive type
    *    (ArgodbMapreduceInputFormat.java:228-251);
    *  - Hive default-partition sentinels select NULL / empty-string
    *    rows (ArgodbMapreduceRecordReader.java:185-198);
    *  - a filter column missing from the table is an error
    *    (MetaUtils.java:48-51).
    */
  def scan(name: String, filter: String = ""): DataFrame = {
    val df = table(name)
    if (filter == null || filter.trim.isEmpty) df
    else df.where(compileFilter(filter, df.schema))
  }
}

object GraftCatalog {

  /** One named audit rule for the write-audit-publish gate: `violation`
    * is a boolean Column over the staged batch's schema that is TRUE
    * for rows that must block the publish.
    */
  final case class AuditRule(name: String, violation: Column)

  /** One table's pinned snapshot: its data files (path, length) and
    * whether the table root is a directory (single-file tables can't
    * take a `basePath`).
    */
  private[sources] final case class PinnedTable(rootIsDir: Boolean, files: Seq[(String, Long)])

  /** Recursive data-file listing of a table root: (path, length) per
    * file, skipping Spark/Hadoop bookkeeping (`_SUCCESS`, `_metadata`,
    * dotfiles). One listing per table per catalog — at 100 TB this is
    * the only namenode/object-store round trip the snapshot costs.
    */
  private[sources] def listDataFiles(spark: SparkSession, dir: String): PinnedTable =
    listDataFiles(GraftIO.hadoopConf(spark), dir)

  private[sources] def listDataFiles(conf: org.apache.hadoop.conf.Configuration,
      dir: String): PinnedTable = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) return PinnedTable(rootIsDir = false, Seq.empty)
    val status = fs.getFileStatus(path)
    if (status.isFile) return PinnedTable(rootIsDir = false, Seq((path.toString, status.getLen)))
    // check every segment below the root: recursive listing descends
    // into hidden bookkeeping dirs (`_bloom_*` sidecar indexes) whose
    // files carry unremarkable names
    PinnedTable(rootIsDir = true,
      GraftIO.walkVisibleFiles(fs, path).map(f => (f.getPath.toString, f.getLen)))
  }

  /** Name of the directory (under a catalog root) holding published
    * snapshot manifests; [[SnapshotManifest]] owns what lies below it.
    */
  val SnapshotDir: String = SnapshotManifest.Dir

  /** Hive's sentinel for a null partition value. */
  val DefaultPartitionName = "__HIVE_DEFAULT_PARTITION__"

  /** Hive's sentinel for an empty-string partition value. */
  val DefaultPartitionEmpty = "__HIVE_DEFAULT_PARTITION_EMPTYSTR__"

  /** `col=value` → column name (getFilterColumn analog,
    * reference ArgodbSerdeUtils.java:28-33).
    */
  def filterColumn(filter: String): String = {
    val i = filter.indexOf('=')
    require(i > 0, s"[GRAFT] Bad partition filter (expected col=value): $filter")
    filter.substring(0, i).trim
  }

  /** `col=value` → value with optional surrounding quotes stripped
    * (getFilterStringValue analog, reference ArgodbSerdeUtils.java:18-26).
    */
  def filterValue(filter: String): String = {
    val i = filter.indexOf('=')
    require(i >= 0, s"[GRAFT] Bad partition filter (expected col=value): $filter")
    val v = filter.substring(i + 1)
    if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\"")) v.substring(1, v.length - 1)
    else v
  }

  /** Compile a `col=value` partition filter into a typed Catalyst
    * predicate that Catalyst can push down to the scan.
    */
  def compileFilter(filter: String, schema: StructType): Column = {
    // the reference rejects multi-column partition filters outright
    // (ArgodbMapreduceInputFormat.java:236-238); "/" separates parts in
    // a partition-define, so its presence means a multi-column filter.
    if (filter.contains("/")) {
      throw new IllegalArgumentException(
        "[GRAFT] Filter is not supported for multi-columns-single-value-partition table.")
    }
    val colName = filterColumn(filter)
    val field = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse {
      throw new IllegalArgumentException(
        s"[GRAFT] Filter column [$colName] is not in table schema ${schema.fieldNames.mkString("[", ",", "]")}.")
    }
    filterValue(filter) match {
      case DefaultPartitionName  => col(field.name).isNull
      case DefaultPartitionEmpty if field.dataType == StringType => col(field.name) === lit("")
      case DefaultPartitionEmpty =>
        // the empty-string sentinel only makes sense for string columns
        // (reference ArgodbMapreduceRecordReader.java:191-192 writes ""
        // into the row); anything else is a caller error — fail with a
        // clear message instead of the NumberFormatException parseValue
        // would throw.
        throw new IllegalArgumentException(
          s"[GRAFT] $DefaultPartitionEmpty is only valid for string partition columns; " +
            s"[${field.name}] is ${field.dataType.simpleString}.")
      case raw =>
        col(field.name) === typedLit(raw, field.dataType)
    }
  }

  /** String partition value → typed literal Column. */
  private def typedLit(raw: String, dt: DataType): Column =
    lit(HiveTypeMapping.parseValue(raw, dt))
}
