package graft.sources.v2

import java.util
import graft.sources.{GraftCatalog, SnapshotManifest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** DSv2 `TableCatalog` plugin — graft tables become SQL-VISIBLE by
  * name, the Spark-native analog of the reference's metastore entry
  * point (MetaUtils.java:25-82 opens `database.table` from job conf;
  * Configs.java holds the url/db/table keys). Register once:
  *
  *   spark.sql.catalog.graft       = graft.sources.v2.GraftTableCatalog
  *   spark.sql.catalog.graft.root  = /data/warehouse
  *
  * then `SELECT ... FROM graft.<dir>.<table>` and
  * `SHOW TABLES IN graft.<dir>` work directly — namespace = a
  * directory under the root (the "database"), table = a
  * `<name>.parquet` file or directory under it (the MetaUtils
  * database/table naming, directory-shaped).
  *
  * Reads route through the existing v2 scan (GraftScan: (file,
  * row-group) splits, footer-stats + runtime row-group pruning,
  * column pruning, locality) against the namespace's PINNED listing:
  * each namespace lazily constructs one `GraftCatalog`, so every SQL
  * read through this plugin sees the same file-set snapshot the
  * programmatic API sees (the reference's job-spanning read
  * transaction, at SQL grain). The catalog is READ-ONLY, as the
  * reference connector is — DDL/DML throw.
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  /** The owning session, captured at initialize(): Spark caches ONE
    * catalog instance per session, but `SparkSession.active` is a
    * thread-local that can point at a DIFFERENT session under
    * `newSession()` / concurrent-session use — pinned listings and
    * Hadoop confs must build against the owner, not whoever is active
    * on the calling thread.
    */
  private var owner: SparkSession = _

  /** One pinned GraftCatalog per namespace — the snapshot holder. */
  private val pinned = TrieMap.empty[String, GraftCatalog]

  /** Memoized loadTable results: within one catalog instance a table's
    * file set is pinned and parquet files are immutable, so its schema
    * and Table object never change — rebuilding them per query would
    * re-read a footer on every SELECT.
    */
  private val tables = TrieMap.empty[(String, String), Table]

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"[GRAFT] catalog '$name' requires spark.sql.catalog.$name.root=<warehouse dir>"))
    // initialize() runs inside the owning session's CatalogManager, so
    // the thread-local IS the owner exactly here
    owner = SparkSession.active
  }

  override def name(): String = catalogName

  private def spark = if (owner != null) owner else SparkSession.active

  private def hadoopFs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(graft.sources.GraftIO.hadoopConf(spark))

  private def nsDir(ns: Array[String]): String = (root +: ns.toSeq).mkString("/")

  /** A namespace-shaped path segment: a plain directory name that can
    * never collide with a table (`.parquet` suffix) or the engine's
    * bookkeeping (`_`/`.` prefixes). Namespaces are MULTI-LEVEL (A63):
    * `graft.a.b.c` is the directory `root/a/b/c` — the nested-database
    * layout warehouses actually use — and every level holds tables
    * (`<name>.parquet`) and child namespaces side by side, told apart
    * by shape alone.
    */
  private def nsSegmentOk(seg: String): Boolean =
    seg.nonEmpty && !seg.startsWith("_") && !seg.startsWith(".") &&
      !seg.endsWith(".parquet") && !seg.contains("/")

  private def nsExists(ns: Array[String]): Boolean =
    ns.nonEmpty && ns.forall(nsSegmentOk) && {
      val p = new org.apache.hadoop.fs.Path(nsDir(ns))
      hadoopFs.exists(p) && hadoopFs.getFileStatus(p).isDirectory
    }

  private def catalogFor(ns: Array[String]): GraftCatalog = {
    if (!nsExists(ns)) throw new NoSuchNamespaceException(ns)
    pinned.getOrElseUpdate(ns.mkString("/"), new GraftCatalog(spark, nsDir(ns)))
  }

  // ── TableCatalog ──

  override def listTables(namespace: Array[String]): Array[Identifier] =
    catalogFor(namespace).tableNames()
      .map(t => Identifier.of(namespace, t)).toArray

  /** A58: an EMPTY table just CREATEd has no data files — its identity
    * is the `_schema` markers (full DDL + partition columns). Served
    * as a zero-split scan; the first INSERT fills it and the marker
    * DDL keeps winning over file footers (A36×MOR discipline).
    */
  private def emptyCreatedTable(tablePath: String): Option[Table] =
    graft.sources.GraftMor.readSchemaDdl(spark, tablePath).map { ddl =>
      val full = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      val partCols = readPartCols(tablePath)
      val partSchema = org.apache.spark.sql.types.StructType(
        partCols.map(c => full(full.fieldIndex(c))))
      val layout = GraftLayout.readMarker(hadoopFs, tablePath)
      GraftTable(tablePath, full, Seq.empty, partSchema,
        layoutBucket = layout.filter(_.kind == "bucket")
          .map(l => (l.cols, l.buckets)),
        layoutSpec = layout.map(GraftLayout.describe))
    }

  private def readPartCols(tablePath: String): Seq[String] =
    graft.sources.GraftMor.readPartCols(hadoopFs, tablePath)

  /** Partition-column types for a table: the DECLARED `_schema` marker
    * DDL wins when the `partcols` marker exists (r13 ADVICE: a CREATE
    * TABLE partition column declared STRING whose first batch's values
    * all parse numeric must NOT flip to BIGINT after the insert — the
    * marker DDL is the table's truth on every read surface, and
    * createTable already restricts partition columns to the
    * hive-servable BIGINT/DOUBLE/STRING); hive-path inference only for
    * tables born outside the DDL surface.
    */
  private def partSchemaFor(tablePath: String,
      files: Seq[String]): StructType = {
    val declared = readPartCols(tablePath)
    if (declared.isEmpty) GraftV2.partitionSchema(tablePath, files)
    else {
      val ddl = graft.sources.GraftMor.readSchemaDdl(spark, tablePath)
        .getOrElse(throw new IllegalStateException(
          s"[GRAFT] $tablePath has a partcols marker but no _schema DDL " +
            "marker - the table metadata is inconsistent"))
      val full = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      org.apache.spark.sql.types.StructType(
        declared.map(c => full(full.fieldIndex(c)).copy(nullable = true)))
    }
  }

  override def loadTable(ident: Identifier): Table =
    graft.sources.GraftIO.withCallConf(spark)(tables.getOrElseUpdate((ident.namespace.mkString("/"), ident.name), {
      val nsCat = catalogFor(ident.namespace)
      val createdPath = s"${nsDir(ident.namespace)}/${ident.name}.parquet"
      // a crashed staged swap (ALTER rewrite / rebucket) left a journal
      // behind: finish it BEFORE pinning the file listing, or the pin
      // would capture the mid-retire partial state
      GraftV2.recoverStagedSwaps(hadoopFs,
        new org.apache.hadoop.fs.Path(createdPath))
      val files = nsCat.snapshotFiles(ident.name).map(_._1)
      if (files.isEmpty)
        return emptyCreatedTable(createdPath)
          .getOrElse(throw new NoSuchTableException(ident))
      val tablePath = createdPath
      val conf = graft.sources.GraftIO.hadoopConf(spark)
      // MERGE-ON-READ awareness (A42-A47): ALL mutation sidecars are
      // PINNED here with the files and served split-locally by the v2
      // reader — position vectors as per-split row-index slices,
      // equality tombstones as a capped key→sequence map under the
      // Iceberg-v2 rule — so `SELECT ... FROM graft.db.t` hash-matches
      // `morRead` on every mutation flavor. Unsupported equality key
      // types / over-cap volumes refuse BY NAME inside the loaders (a
      // refusal drops the namespace pin so the post-fold load pins the
      // folded state); a sidecar CHANGE after pinning refuses at scan
      // time until REFRESH TABLE re-pins files and sidecars together.
      val morDv = GraftV2.sidecarParquet(tablePath,
        graft.sources.GraftMor.DvDir, conf)
      val morEq = GraftV2.sidecarParquet(tablePath,
        graft.sources.GraftMor.EqDir, conf)
      val morSeqm = GraftV2.sidecarParquet(tablePath,
        graft.sources.GraftMor.SeqDir, conf)
      // eager key-type/cap validation: a table this catalog cannot
      // serve must refuse NOW (and un-pin), not at first scan
      if (morEq.nonEmpty)
        try GraftMorMask.loadEq(morEq, conf)
        catch { case e: IllegalStateException =>
          nsCat.invalidate(ident.name); throw e }
      // schema from the pinned snapshot's first file (one writer, one
      // schema — the v2 connector's contract), typed by the same
      // mapping the v2 reader uses — unless the table recorded an
      // EVOLVED schema (A36×MOR), which wins: pre-evolution files
      // null-fill the added columns in the reader; hive-layout
      // partition columns are appended and re-attached per split (the
      // reference's partition define), so partitioned tables are whole
      // through SQL too
      val partSchema = partSchemaFor(tablePath, files)
      val fileSchema = graft.sources.GraftMor.readSchemaDdl(spark, tablePath)
        .map(d => org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructType.fromDDL(d).fields
            .filterNot(f => partSchema.fieldNames.contains(f.name))))
        .getOrElse(GraftV2.readSchema(files.head, conf))
      val layout = GraftLayout.readMarker(hadoopFs, tablePath)
      GraftTable(tablePath,
        org.apache.spark.sql.types.StructType(fileSchema.fields ++ partSchema.fields),
        files, partSchema, morDv = morDv, morEq = morEq, morSeqm = morSeqm,
        layoutBucket = layout.filter(_.kind == "bucket")
          .map(l => (l.cols, l.buckets)),
        layoutSpec = layout.map(GraftLayout.describe))
    }))

  /** `SELECT … FROM graft.db.t VERSION AS OF <id>` — the SQL surface
    * over A26's published snapshots: the Table is built from the
    * addressed epoch's manifest files instead of the session pin, so
    * the same v2 scan (row-group splits, footer stats, partition
    * re-attachment) runs against history. Ids accept an optional `v`
    * prefix (`VERSION AS OF 'v2'`).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val id = try version.trim.stripPrefix("v").toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"[GRAFT] VERSION AS OF expects a numeric snapshot id, got '$version'")
    }
    loadSnapshot(ident, id)
  }

  /** `TIMESTAMP AS OF <ts>` — resolved to the newest epoch published
    * at or before the instant (manifest mtime); `timestamp` arrives in
    * MICROSECONDS per the DSv2 contract.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadSnapshot(ident,
      catalogFor(ident.namespace).snapshotIdAt(ident.name, timestamp / 1000L))

  private def loadSnapshot(ident: Identifier, id: Long): Table =
    graft.sources.GraftIO.withCallConf(spark)(tables.getOrElseUpdate((ident.namespace.mkString("/"), s"${ident.name}@v$id"), {
      val m = catalogFor(ident.namespace).manifest(ident.name, id)
      val files = m.paths
      if (files.isEmpty) throw new NoSuchTableException(ident)
      val tablePath = s"${nsDir(ident.namespace)}/${ident.name}.parquet"
      val conf = graft.sources.GraftIO.hadoopConf(spark)
      // A54: the epoch's RECORDED mutation-sidecar state rides into
      // the v2 scan exactly as a live pin does — `VERSION AS OF` an
      // epoch published after a morDelete/morUpsert serves the
      // post-mutation state. A compaction since then has destroyed
      // the recorded sidecar files: refuse BY NAME. Erases landing
      // AFTER the publish are caught by the scan-time `_eq` freshness
      // guard (the pinned eq listing is the manifest's; any current
      // drift refuses — GDPR erasure outranks addressed history).
      val sc = m.sidecars
      m.requireSidecarsLive(
        new org.apache.hadoop.fs.Path(tablePath).getFileSystem(conf),
        s"VERSION/TIMESTAMP AS OF $id on $ident")
      // eager key-type/cap validation, as loadTable does
      if (sc.eq.nonEmpty) GraftMorMask.loadEq(sc.eq.map(_._1), conf)
      val fileSchema = sc.schemaDdl
        .map(d => org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructType.fromDDL(d).fields))
        .getOrElse(GraftV2.readSchema(files.head, conf))
      val partSchema = partSchemaFor(tablePath, files)
      GraftTable(tablePath,
        org.apache.spark.sql.types.StructType(
          fileSchema.fields.filterNot(f =>
            partSchema.fieldNames.contains(f.name)) ++ partSchema.fields),
        files, partSchema,
        morDv = sc.dv.map(_._1), morEq = sc.eq.map(_._1),
        morSeqm = sc.seqm.map(_._1))
    }))

  /** `REFRESH TABLE graft.db.t` lands here: drop the memoized Table
    * and the table's pinned file listing so the next read re-pins the
    * CURRENT files — the explicit escape hatch for a table rewritten
    * mid-session (scratch/backfill flows). Other tables keep their
    * snapshots.
    */
  // ── ProcedureCatalog (SQL maintenance: CALL graft.system.*) ──

  /** `CALL graft.system.compact('db.t')` etc — see [[GraftProcedures]].
    * The `table` argument is the catalog-relative name
    * (`<namespace...>.<table>`, catalog prefix tolerated); resolution
    * refuses unknown namespaces/tables by name.
    */
  private def procedureCtx: GraftProcedures.Ctx = GraftProcedures.Ctx(
    spark,
    resolve = { arg =>
      val segs0 = arg.split('.').toSeq.filter(_.nonEmpty)
      val segs = if (segs0.headOption.contains(catalogName)) segs0.tail else segs0
      require(segs.length >= 2,
        s"[GRAFT] procedure table argument must be '<namespace>.<table>', got '$arg'")
      val ns = segs.dropRight(1).toArray
      val name = segs.last
      if (!nsExists(ns)) throw new NoSuchNamespaceException(ns)
      val path = s"${nsDir(ns)}/$name.parquet"
      if (!hadoopFs.exists(new org.apache.hadoop.fs.Path(path)))
        throw new NoSuchTableException(Identifier.of(ns, name))
      (ns, name, path)
    },
    resolveNs = { arg =>
      val segs0 = arg.split('.').toSeq.filter(_.nonEmpty)
      val segs = if (segs0.headOption.contains(catalogName)) segs0.tail else segs0
      require(segs.nonEmpty,
        s"[GRAFT] procedure namespace argument must be non-empty, got '$arg'")
      val ns = segs.toArray
      if (!nsExists(ns)) throw new NoSuchNamespaceException(ns)
      nsDir(ns)
    },
    catalogFor = catalogFor,
    invalidate = (ns, name) => invalidateTable(Identifier.of(ns, name)),
    partColsOf = readPartCols)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(procedureCtx, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  override def invalidateTable(ident: Identifier): Unit = {
    tables.remove((ident.namespace.mkString("/"), ident.name))
    // snapshot-keyed memos (`name@v<id>`) hold the epoch's absolute
    // file paths — stale after a RENAME/DROP just like the live entry
    tables.keys.filter { case (ns, n) =>
      ns == ident.namespace.mkString("/") && n.startsWith(ident.name + "@v")
    }.foreach(tables.remove)
    pinned.get(ident.namespace.mkString("/")).foreach(_.invalidate(ident.name))
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"[GRAFT] catalog '$catalogName' does not support $op — evolve " +
        "schemas through the write paths (A36×MOR) and rename by " +
        "re-creating; every other DDL/DML surface is native.")

  /** A58: `CREATE TABLE` (and the create half of CTAS) — the table is
    * born as its `_schema` markers (full DDL + partition columns)
    * under `<ns>/<name>.parquet/`: no data file exists yet, the empty
    * table serves as a zero-split scan, and the marker DDL keeps
    * winning over file footers forever (the A36×MOR discipline), so
    * the DECLARED types — not the first batch's — are the table's.
    * Identity partitioning only, and partition columns must be
    * BIGINT/DOUBLE/STRING (what hive-layout value parsing serves);
    * anything else refuses BY NAME. Writes arrive through the same
    * A38-gated INSERT surface as any other table.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (!nsExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    val tablePath = s"${nsDir(ident.namespace)}/${ident.name}.parquet"
    val tp = new org.apache.hadoop.fs.Path(tablePath)
    if (hadoopFs.exists(tp))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catalogName) ++ ident.namespace :+ ident.name)
    val partCols: Seq[String] = partitions.toSeq.map { t =>
      val refs = t.references
      if (t.name != "identity" || refs.length != 1 ||
          refs.head.fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"[GRAFT] only identity partitioning is supported, got $t")
      refs.head.fieldNames.head
    }
    partCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"[GRAFT] partition column '$c' is not in the table schema")
      schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.StringType => ()
        case other => throw new UnsupportedOperationException(
          s"[GRAFT] partition column '$c' has type ${other.simpleString}: " +
            "hive-layout partition values serve as BIGINT/DOUBLE/STRING " +
            "only - declare one of those, or keep the column unpartitioned")
      }
    }
    // A62/A65: a declared layout validates BEFORE anything
    // materializes — a bad declaration leaves no half-created table
    // (GraftLayout.parse hosts every declaration rule, including the
    // bucket × hive-partitioning refusal)
    val layout = Option(properties.get("layout"))
      .map(GraftLayout.parse(_, schema, partCols))
    graft.sources.GraftMor.writeSchemaDdl(hadoopFs, tablePath, schema.toDDL,
      overwrite = false)
    layout.foreach(GraftLayout.writeMarker(hadoopFs, tablePath, _))
    if (partCols.nonEmpty)
      graft.sources.GraftIO.writeText(hadoopFs,
        graft.sources.GraftMor.partColsMarker(tablePath),
        partCols.mkString(","), overwrite = false)
    // CHAR(n)/VARCHAR(n) length semantics: Spark hands the catalog
    // StringType + raw-type metadata; the DDL marker cannot carry it
    // (toDDL drops metadata), so the declared lengths persist in their
    // own marker and the INSERT surface enforces them (error past n,
    // CHAR right-pads to n — the Hive/Spark write discipline). Reads
    // serve STRING, the reference's own mapping
    // (ArgodbSerdeUtils.java:71-102 via HiveTypeMapping).
    GraftCharVarchar.writeMarker(hadoopFs, tablePath, schema)
    // a stale "no such table" pin must not shadow the newborn
    pinned.get(ident.namespace.mkString("/")).foreach(_.invalidate(ident.name))
    emptyCreatedTable(tablePath).get
  }

  /** A58: `ALTER TABLE ... ADD COLUMN` — the DDL syntax over the
    * A36×MOR evolution the write paths already serve: the widened DDL
    * is recorded in the permanent `_schema` marker (added columns
    * nullable — pre-evolution files serve them null-filled on every
    * surface), one tiny metadata write, no file touched.
    *
    * A61: `DROP COLUMN` / `RENAME COLUMN` — non-additive, so served as
    * a DECLARED REWRITE (the compactTable cost class), not a marker
    * trick: the table's current state re-projects through the change
    * and rewrites file-by-file (dropped bytes physically leave — the
    * A47 forget discipline, not just a serving mask), then the marker
    * records the new DDL. Lease-gated like every COW rewrite; live
    * mutation sidecars refuse BY NAME (their coordinates/keys would
    * dangle — fold with morCompact first); partition columns refuse
    * (they are the LAYOUT — re-create the table). Retype still refuses.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val tablePath = s"${nsDir(ident.namespace)}/${ident.name}.parquet"
    val tbl = loadTable(ident)
    val current: StructType = tbl.schema()
    val partNames: Set[String] = tbl match {
      case g: GraftTable => g.partSchema.fieldNames.toSet
      case _ => Set.empty
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val rewrites = changes.collect {
      case d: TableChange.DeleteColumn => d: TableChange
      case r: TableChange.RenameColumn => r: TableChange
    }
    // A66: `SET TBLPROPERTIES ('layout'=...)` declares a layout on an
    // EXISTING table — one marker write; data already on disk is NOT
    // reshaped (future inserts honor the contract; for bucket the A34
    // advisor immediately flags `rebucket` and GraftLayout.rebucket
    // materializes it). `UNSET ('layout')` withdraws the declaration.
    val layoutSets = changes.collect {
      case p: TableChange.SetProperty if p.property == "layout" => p
    }
    val layoutUnsets = changes.collect {
      case p: TableChange.RemoveProperty if p.property == "layout" => p
    }
    val unsupported = changes.filterNot(c =>
      adds.contains(c) || rewrites.contains(c) ||
        layoutSets.contains(c.asInstanceOf[TableChange]) ||
        layoutUnsets.contains(c.asInstanceOf[TableChange]))
    if (unsupported.nonEmpty) throw new UnsupportedOperationException(
      s"[GRAFT] ALTER TABLE on ${ident.name} supports ADD COLUMN " +
        s"(marker-only), DROP/RENAME COLUMN (declared rewrite) and " +
        s"SET/UNSET TBLPROPERTIES ('layout') - got " +
        s"${unsupported.head}: retyping is a re-create, not an ALTER")
    require(Seq(adds, rewrites, layoutSets ++ layoutUnsets)
        .count(_.nonEmpty) <= 1,
      s"[GRAFT] ALTER TABLE on ${ident.name}: mix of additive, rewrite " +
        "and layout changes in one statement - run them separately")
    if (layoutSets.nonEmpty || layoutUnsets.nonEmpty) {
      require(layoutSets.size + layoutUnsets.size == 1,
        s"[GRAFT] ALTER TABLE on ${ident.name}: one layout change per " +
          "statement")
      val partCols = current.fields.map(_.name).filter(partNames).toSeq
      layoutSets.headOption match {
        case Some(p) =>
          val l = GraftLayout.parse(p.value, current, partCols)
          // declaring bucket over files that already sit in bucket=N
          // dirs (a PREVIOUS bucket declaration's layout, since
          // un-declared) would make the scan claim co-location the
          // bytes don't honor — silently wrong joins, and the advisor
          // sees zero strays so nothing ever flags. Refuse BY NAME:
          // changing a bucket spec over existing bucketed data is a
          // re-create-class operation.
          if (l.kind == "bucket") {
            val inBucketDirs = GraftV2.dataFilesRelative(hadoopFs,
              new org.apache.hadoop.fs.Path(tablePath))
              .exists(_.startsWith(GraftLayout.BucketDirCol + "="))
            require(!inBucketDirs,
              s"[GRAFT] SET ('layout'='${p.value}') on ${ident.name} " +
                "refused: data files already sit in bucket= directories " +
                "from an earlier bucket declaration - a (possibly " +
                "different) spec over those bytes would serve co-location " +
                "the hash does not honor; re-create the table")
          }
          GraftLayout.writeMarker(hadoopFs, tablePath, l)
        case None =>
          GraftLayout.deleteMarker(hadoopFs, tablePath)
      }
      invalidateTable(ident)
      return loadTable(ident)
    }
    if (rewrites.nonEmpty) return alterRewrite(ident, tablePath, current,
      partNames, rewrites)
    val added = adds.map { a =>
      require(a.fieldNames.length == 1,
        s"[GRAFT] ALTER TABLE supports top-level columns only, got " +
          a.fieldNames.mkString("."))
      val name = a.fieldNames.head
      require(!current.fieldNames.contains(name),
        s"[GRAFT] column '$name' already exists in ${ident.name}")
      // recorded NULLABLE whatever the DDL claims: pre-evolution
      // files can only serve it as null (the A36×MOR rule)
      org.apache.spark.sql.types.StructField(name, a.dataType,
        nullable = true)
    }
    // added columns slot BEFORE the partition columns, so the marker's
    // order matches what file-backed reads serve (data ++ added ++ part)
    val widened = org.apache.spark.sql.types.StructType(
      current.fields.filterNot(f => partNames(f.name)) ++ added ++
        current.fields.filter(f => partNames(f.name)))
    graft.sources.GraftMor.writeSchemaDdl(hadoopFs, tablePath, widened.toDDL,
      overwrite = true)
    invalidateTable(ident)
    loadTable(ident)
  }

  /** The A61 rewrite body: validate → stage the re-projected table →
    * record the new marker → retire old files → move the staged files
    * in. Marker-before-move means a crash mid-swap serves the NEW
    * declaration over old files (a dropped column is already gone;
    * a renamed one reads null until the move completes) — never the
    * old declaration over new files.
    */
  private def alterRewrite(ident: Identifier, tablePath: String,
      current: StructType, partNames: Set[String],
      rewrites: Seq[TableChange]): Table = {
    // a single-parquet-FILE table root has nowhere to stage a rewrite
    // (and is typically a shared read-only dataset): refuse BY NAME
    // before touching anything
    val rootStatus = hadoopFs.getFileStatus(
      new org.apache.hadoop.fs.Path(tablePath))
    if (rootStatus.isFile) throw new UnsupportedOperationException(
      s"[GRAFT] ALTER TABLE DROP/RENAME COLUMN on ${ident.name} refused: " +
        "the table root is a single parquet file (a shared read-only " +
        "dataset shape) - re-create the table under a directory root")
    graft.sources.GraftMor.failIfMutationSidecars(spark, tablePath,
      "ALTER TABLE DROP/RENAME COLUMN")
    graft.sources.GraftLease.failIfLeased(spark, tablePath,
      "ALTER TABLE DROP/RENAME COLUMN")
    val dropped = scala.collection.mutable.Set.empty[String]
    val renamed = scala.collection.mutable.Map.empty[String, String]
    rewrites.foreach {
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "[GRAFT] ALTER TABLE supports top-level columns only, got " +
            d.fieldNames.mkString("."))
        val name = d.fieldNames.head
        if (!current.fieldNames.contains(name)) {
          if (!d.ifExists) throw new IllegalArgumentException(
            s"[GRAFT] DROP COLUMN: no column '$name' in ${ident.name}")
        } else {
          require(!partNames(name),
            s"[GRAFT] DROP COLUMN '$name' refused: it is a PARTITION " +
              "column (the table's layout) - re-create the table")
          dropped += name
        }
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "[GRAFT] ALTER TABLE supports top-level columns only, got " +
            r.fieldNames.mkString("."))
        val name = r.fieldNames.head
        require(current.fieldNames.contains(name),
          s"[GRAFT] RENAME COLUMN: no column '$name' in ${ident.name}")
        require(!partNames(name),
          s"[GRAFT] RENAME COLUMN '$name' refused: it is a PARTITION " +
            "column (the table's layout) - re-create the table")
        renamed.put(name, r.newName)
      case other => throw new UnsupportedOperationException(
        s"[GRAFT] unexpected ALTER change $other")
    }
    // A62: the declared layout is part of the table's contract — a
    // layout column cannot silently vanish (re-create the table or
    // drop other columns); a RENAME follows the declaration
    val layout = GraftLayout.readMarker(hadoopFs, tablePath)
    layout.foreach(_.cols.foreach { c =>
      require(!dropped(c),
        s"[GRAFT] DROP COLUMN '$c' refused: it is a declared layout " +
          s"column (${layout.get.kind}) - the clustering contract every " +
          "insert honors; re-create the table to change its layout")
    })
    val newFields = current.fields.toSeq
      .filterNot(f => dropped(f.name))
      .map(f => renamed.get(f.name).map(n => f.copy(name = n)).getOrElse(f))
    require(newFields.map(_.name).distinct.size == newFields.size,
      s"[GRAFT] RENAME COLUMN would collide: target name already exists " +
        s"in ${ident.name}")
    require(newFields.exists(f => !partNames(f.name)),
      s"[GRAFT] DROP COLUMN would leave ${ident.name} with no data columns")
    val partCols = current.fields.map(_.name).filter(partNames).toSeq
    // the re-projection reads the SERVED state (marker schema wins,
    // evolved columns null-fill) and writes the new declaration
    val reader = spark.read.option("basePath", tablePath)
    graft.sources.GraftMor.readSchemaDdl(spark, tablePath) match {
      case Some(d) =>
        reader.schema(org.apache.spark.sql.types.StructType.fromDDL(d))
      case None =>
        // driver-side footer schema on flat layouts (no inference job)
        graft.sources.GraftIO.flatParquetSchema(spark, tablePath)
          .foreach(reader.schema)
    }
    val projected = reader.parquet(tablePath).select(
      current.fields.toSeq.filterNot(f => dropped(f.name)).map { f =>
        renamed.get(f.name)
          .map(n => org.apache.spark.sql.functions.col(f.name).as(n))
          .getOrElse(org.apache.spark.sql.functions.col(f.name))
      }: _*)
    // A62/A65: the rewrite RE-SHAPES to the declared layout (under the
    // post-rename column names) — an ALTER of a non-layout column must
    // not silently flatten bucket co-location or sort/zorder
    // clustering out of the whole table
    val effLayout = layout.map(l =>
      l.copy(cols = l.cols.map(c => renamed.getOrElse(c, c))))
    val shapedProj = effLayout.map(GraftLayout.shape(projected, _))
      .getOrElse(projected)
    val writeCols = partCols ++
      effLayout.map(GraftLayout.writeDirCols).getOrElse(Seq.empty)
    // an empty unpartitioned table keeps one row-less file, as
    // `DataFrameWriter` left it
    val (stage, staged) = graft.sources.GraftIO.writeStage(shapedProj, tablePath,
      "alter", "ALTER rewrite", writeCols, keepEmpty = writeCols.isEmpty)
    // marker first (see scaladoc), then the shared retire + move-in
    graft.sources.GraftMor.writeSchemaDdl(hadoopFs, tablePath,
      org.apache.spark.sql.types.StructType(
        newFields.filterNot(f => partNames(f.name)) ++
          newFields.filter(f => partNames(f.name))).toDDL,
      overwrite = true)
    GraftV2.swapStagedFiles(hadoopFs,
      new org.apache.hadoop.fs.Path(tablePath), stage, staged, "ALTER rewrite")
    // a renamed layout column keeps its clustering contract under the
    // new name (drops were refused above)
    layout.filter(_.cols.exists(renamed.contains)).foreach { l =>
      GraftLayout.writeMarker(hadoopFs, tablePath,
        l.copy(cols = l.cols.map(c => renamed.getOrElse(c, c))))
    }
    invalidateTable(ident)
    loadTable(ident)
  }

  /** A58: `DROP TABLE` — destructive by design (data, sidecars and the
    * table's snapshot manifests go); refuses while reader leases are
    * live, like every file-destroying path.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val tablePath = s"${nsDir(ident.namespace)}/${ident.name}.parquet"
    val tp = new org.apache.hadoop.fs.Path(tablePath)
    if (!hadoopFs.exists(tp)) return false
    graft.sources.GraftLease.failIfLeased(spark, tablePath, "DROP TABLE")
    invalidateTable(ident)
    val manifests = SnapshotManifest.dir(nsDir(ident.namespace), ident.name)
    if (hadoopFs.exists(manifests)) hadoopFs.delete(manifests, true)
    hadoopFs.delete(tp, true)
  }

  /** A64: `ALTER TABLE ... RENAME TO` — a table is a directory, so the
    * rename is ONE metadata move (same- or cross-namespace, same
    * filesystem), with the table's history carried along: the snapshot
    * manifests record ABSOLUTE file paths, so each epoch's manifest is
    * rewritten (old path prefix → new) into the target namespace's
    * `_snapshots/<newName>` BEFORE the directory moves — a crash
    * between the manifest copy and the move leaves the old name fully
    * served and the copied manifests as inert orphans a retry replaces.
    * Refusals BY NAME: live reader leases (the move destroys their
    * pinned paths); live mutation sidecars (dv coordinates and `_seqm`
    * sequences are path-anchored inside the sidecar parquet — a moved
    * root would silently resurrect tombstoned rows; morCompact first);
    * a covering multi-table tag (its recorded name would dangle —
    * re-tag after the rename); an existing target.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val oldPath = s"${nsDir(oldIdent.namespace)}/${oldIdent.name}.parquet"
    val newPath = s"${nsDir(newIdent.namespace)}/${newIdent.name}.parquet"
    val oldP = new org.apache.hadoop.fs.Path(oldPath)
    val newP = new org.apache.hadoop.fs.Path(newPath)
    if (!hadoopFs.exists(oldP)) throw new NoSuchTableException(oldIdent)
    if (!nsExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    if (hadoopFs.exists(newP))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catalogName) ++ newIdent.namespace :+ newIdent.name)
    graft.sources.GraftLease.failIfLeased(spark, oldPath, "RENAME TABLE")
    graft.sources.GraftMor.failIfMutationSidecars(spark, oldPath,
      "RENAME TABLE")
    // a multi-table tag names this table: renaming would dangle the
    // tag's consistent-set promise — refuse with the remedy
    SnapshotManifest.tagPinning(hadoopFs, nsDir(oldIdent.namespace),
        oldIdent.name).foreach { tag =>
      throw new IllegalStateException(
        s"[GRAFT] RENAME TABLE ${oldIdent.name} refused: tag '$tag' pins " +
          "it by name - drop or republish the tag after deciding what the " +
          "consistent set should mean, then rename")
    }
    // rewrite each epoch manifest (absolute paths old → new) into the
    // TARGET namespace's snapshot dir; a remnant target dir from a
    // crashed earlier rename (manifests copied, move never happened —
    // provably so, since the target table path is absent) is replaced
    val oldMan = SnapshotManifest.dir(nsDir(oldIdent.namespace), oldIdent.name)
    val newMan = SnapshotManifest.dir(nsDir(newIdent.namespace), newIdent.name)
    if (hadoopFs.exists(newMan)) hadoopFs.delete(newMan, true)
    SnapshotManifest.copyRebased(hadoopFs, oldMan, newMan, oldPath, newPath)
    if (!hadoopFs.rename(oldP, newP))
      throw new IllegalStateException(
        s"[GRAFT] RENAME TABLE failed: rename($oldP -> $newP) returned false")
    if (hadoopFs.exists(oldMan)) hadoopFs.delete(oldMan, true)
    invalidateTable(oldIdent)
    invalidateTable(newIdent)
  }

  // ── SupportsNamespaces ──

  private def childNamespaces(dir: String): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!hadoopFs.exists(p)) Array.empty
    else hadoopFs.listStatus(p)
      .filter(st => st.isDirectory && nsSegmentOk(st.getPath.getName))
      .map(_.getPath.getName).sorted
  }

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(root).map(Array(_))

  /** A63: namespaces nest — children of `a.b` are the namespace-shaped
    * subdirectories of its directory (tables are `.parquet`-suffixed,
    * bookkeeping is `_`-prefixed, so the listing is unambiguous).
    */
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!nsExists(namespace)) throw new NoSuchNamespaceException(namespace)
    childNamespaces(nsDir(namespace)).map(namespace :+ _)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!nsExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsDir(namespace)).asJava
  }

  /** A58: `CREATE NAMESPACE` — a namespace IS a directory under the
    * root (the MetaUtils database analog), so creating one is a mkdir.
    * A63: namespaces nest; the PARENT must already exist (one level
    * per statement, the discipline SQL users expect from database
    * catalogs — a typo'd parent fails loudly instead of silently
    * materializing a whole chain).
    */
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.nonEmpty && namespace.forall(nsSegmentOk),
      s"[GRAFT] bad namespace name '${namespace.mkString(".")}': segments " +
        "must be plain directory names (no '_'/'.' prefix, no .parquet " +
        "suffix)")
    if (nsExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(Array(catalogName) ++ namespace)
    if (namespace.length > 1 && !nsExists(namespace.dropRight(1)))
      throw new NoSuchNamespaceException(namespace.dropRight(1))
    hadoopFs.mkdirs(new org.apache.hadoop.fs.Path(nsDir(namespace)))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly("ALTER NAMESPACE")

  /** A66: `DROP NAMESPACE` — empty namespaces only (an empty namespace
    * is an empty directory; dropping it is a rmdir). CASCADE refuses
    * BY NAME: it would destroy tables wholesale — drop them one by one
    * through the lease-gated DROP TABLE, which is where the
    * file-destroying discipline lives.
    */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!nsExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (cascade) throw new UnsupportedOperationException(
      s"[GRAFT] DROP NAMESPACE ... CASCADE on " +
        s"${namespace.mkString(".")} refused: dropping tables wholesale " +
        "bypasses the lease gate - DROP TABLE each one, then drop the " +
        "empty namespace")
    val p = new org.apache.hadoop.fs.Path(nsDir(namespace))
    // "empty" means no TABLES, no CHILD NAMESPACES and no live TAGS —
    // bookkeeping shells (`_snapshots/` left behind by DROP TABLE,
    // an empty `_staging/`) don't hold a namespace hostage; a live
    // tag file does (it is a published consistent-set promise)
    val children = hadoopFs.listStatus(p)
    val live = children.filter { st =>
      val n = st.getPath.getName
      n.endsWith(".parquet") || (st.isDirectory && nsSegmentOk(n))
    }
    require(live.isEmpty,
      s"[GRAFT] DROP NAMESPACE ${namespace.mkString(".")} refused: not " +
        s"empty (${live.length} entries, e.g. " +
        s"${live.head.getPath.getName}) - drop its tables and child " +
        "namespaces first")
    SnapshotManifest.tagNames(hadoopFs, nsDir(namespace)).headOption.foreach { tag =>
      throw new IllegalStateException(
        s"[GRAFT] DROP NAMESPACE ${namespace.mkString(".")} refused: " +
          s"published tag(s) remain (e.g. $tag) - a tag is a durable " +
          "consistent-set promise; delete the tag files first")
    }
    pinned.remove(namespace.mkString("/"))
    hadoopFs.delete(p, true)
  }

  // ── FunctionCatalog (A65) ──
  // Spark's storage-partitioned-join planner resolves a scan's
  // reported `bucket(n, col)` transform by loading the function from
  // the TABLE's catalog (V2ExpressionUtils.loadV2FunctionOpt calls
  // loadFunction(Identifier.of(Array.empty, "bucket"))) — so the
  // catalog exposes exactly one function: the engine's bucket hash.

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty && !nsExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(Array.empty[String], "bucket"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
}

object GraftTableCatalog {

  /** Idempotently register a graft catalog named `name` over `root` on
    * the session. Catalog instances are cached per session at first
    * resolution, so the root is fixed from then on — re-registering
    * the same (name, root) is a no-op; a different root for an
    * already-resolved name is an error rather than a silent stale
    * read.
    */
  /** Register under a name DERIVED from the root (stable hash suffix)
    * and return it — the multi-root-safe entry: each distinct root
    * gets its own catalog name, so one session can read several data
    * roots side by side (per-session instance caching makes a SHARED
    * name first-root-wins; see register's error).
    */
  def registerForRoot(s: SparkSession, root: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(root.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val name = s"graft_$digest"
    register(s, root, name)
    name
  }

  def register(s: SparkSession, root: String, name: String = "graft"): Unit = {
    val key = s"spark.sql.catalog.$name"
    s.conf.getOption(s"$key.root") match {
      case Some(existing) if existing != root =>
        throw new IllegalArgumentException(
          s"[GRAFT] catalog '$name' already bound to root=$existing " +
            s"(catalog instances cache per session); register a differently " +
            s"named catalog for $root")
      case _ =>
        s.conf.set(key, classOf[GraftTableCatalog].getName)
        s.conf.set(s"$key.root", root)
    }
  }
}
