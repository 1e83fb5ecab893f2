package graft.sources.v2

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DecimalLogicalTypeAnnotation, TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 connector — the Spark-native re-expression of the
  * reference's MapReduce `InputFormat` chain
  * (reference: ArgodbMapreduceInputFormat.java:104-199 getSplits →
  * planInputPartitions; ArgodbMapreduceRecordReader.java:74-219 →
  * PartitionReader; MetaUtils schema discovery → inferSchema):
  *
  *   spark.read.format("graft").load("/path/table.parquet")
  *
  * Splits are parquet row groups (the rowset-group analog —
  * ArgodbMapreduceInputFormat.java:149-188 builds one split per
  * RowSetsGroup); pushed filters prune whole row groups from the scan
  * via footer min/max statistics (the partition/section pruning
  * analog), and Spark re-evaluates every filter on the surviving rows
  * so pruning is purely an optimization. Primitive columns only — the
  * engine's primary path stays `GraftCatalog` (Spark's own vectorized
  * parquet reader); this connector demonstrates the InputFormat
  * machinery Spark-natively.
  */
class GraftTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftV2.pathOf(options)
    val conf = GraftV2.sessionConf().value
    val fileSchema = GraftV2.readSchema(path, conf)
    // hive-layout partition columns (col=value directories) are part
    // of the table schema, re-attached per split like the reference's
    // partition define (ArgodbMapreduceRecordReader.java:182-201)
    StructType(fileSchema.fields ++
      GraftV2.partitionSchema(path, GraftV2.dataFiles(path, conf)).fields)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    val conf = GraftV2.sessionConf().value
    // merge-on-read awareness (A42-A45): live position AND equality
    // sidecars ride into the scan as split-local masks (the reader
    // applies positions by row index and equality keys by the
    // Iceberg-v2 sequence rule) — unsupported key types / over-cap
    // volumes refuse BY NAME inside the loaders.
    // The data-file listing is PINNED here TOGETHER with the sidecars:
    // re-listing files fresh at every plan while the masks stay pinned
    // would tear the snapshot (a morDelete/morUpsert landing between
    // load() and an action serves its appended files WITHOUT its new
    // tombstones — resurrected row versions). One load(), one
    // consistent (files, masks) snapshot; a fresh load() re-pins both.
    val files = GraftV2.dataFiles(path, conf)
    GraftTable(path, schema,
      pinnedFiles = files,
      partSchema = GraftV2.partitionSchema(path, files),
      morDv = GraftV2.sidecarParquet(path, graft.sources.GraftMor.DvDir, conf),
      morEq = GraftV2.sidecarParquet(path, graft.sources.GraftMor.EqDir, conf),
      morSeqm = GraftV2.sidecarParquet(path, graft.sources.GraftMor.SeqDir, conf))
  }
}

/** `pinnedFiles` (when non-empty) fixes the exact data-file set the
  * scan reads instead of re-listing the path at plan time — the
  * SQL-catalog route passes the namespace's pinned snapshot through
  * here so a file landing mid-session is invisible (the GraftCatalog
  * snapshot semantics, carried into `SELECT ... FROM graft.ns.tbl`).
  */
case class GraftTable(path: String, tableSchema: StructType,
    pinnedFiles: Seq[String] = Seq.empty,
    partSchema: StructType = new StructType(),
    morDv: Seq[String] = Seq.empty,
    morEq: Seq[String] = Seq.empty,
    morSeqm: Seq[String] = Seq.empty,
    layoutBucket: Option[(Seq[String], Int)] = None,
    layoutSpec: Option[String] = None) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft:$path"
  override def schema(): StructType = tableSchema

  /** `SHOW TBLPROPERTIES graft.db.t` / `DESCRIBE EXTENDED` serve the
    * declared layout and (when `CALL graft.system.analyze` ran) the
    * persisted table statistics — the contract is discoverable, not
    * just enforced.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    layoutSpec.foreach(m.put("layout", _))
    GraftTableStats.read(path, GraftV2.sessionConf().value).foreach { ts =>
      m.put("stats.rows", ts.rows.toString)
      m.put("stats.files", ts.files.toString)
      m.put("stats.analyzedAt",
        java.time.Instant.ofEpochMilli(ts.analyzedAtMs).toString)
    }
    m
  }

  /** Iceberg-convention metadata columns: the (file, position)
    * coordinate of every row — scheme-less path + file-global row
    * index, the SAME coordinate space the A42 deletion vectors
    * tombstone on, which is what makes them row IDs the delta DML
    * write (A55) can delete by.
    */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftRowLevel.MetaColumns

  /** A55 metadata-only DELETE: a fully filter-translatable `DELETE
    * FROM graft.db.t WHERE ...` routes straight to `morDelete` — one
    * tombstone epoch, zero files rewritten, no DeltaWrite job (Spark's
    * OptimizeMetadataOnlyDeleteFromTable picks this over the row-level
    * plan exactly when `canDeleteWhere` accepts). The predicate's
    * discovery scan happens inside morDelete (column-pruned).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftRowLevel.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // `DELETE FROM t` (no WHERE, or WHERE true) is a truncate wearing
    // a DELETE's clothes: it would write an O(table) tombstone epoch —
    // the exact unbounded-coordinate shape truncateTable() refuses —
    // and the next read would refuse at the serving cap, leaving the
    // table unreadable until compaction. Refuse BY NAME instead.
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      throw new UnsupportedOperationException(
        s"[GRAFT] unconditional DELETE FROM on $path is not served " +
          "merge-on-read (it would tombstone every row); restore an empty " +
          "snapshot or rewrite via the COW paths")
    val cond = filters.map(f => GraftRowLevel.filterToColumn(f).getOrElse(
        throw new IllegalArgumentException(
          s"[GRAFT] DELETE filter not translatable: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    graft.sources.GraftMor.morDelete(SparkSession.active, path, cond)
  }

  /** TRUNCATE refuses BY NAME: the merge-on-read route would tombstone
    * EVERY row — an O(table) coordinate write that then exceeds the
    * serving caps — when the right tool is a file-level rewrite
    * (restore to an empty epoch, or the COW merge paths). Refusing
    * beats silently planting a table-sized deletion vector.
    */
  override def truncateTable(): Boolean =
    throw new UnsupportedOperationException(
      s"[GRAFT] TRUNCATE TABLE on $path is not served merge-on-read " +
        "(it would tombstone every row); restore an empty snapshot or " +
        "rewrite via the COW paths")

  /** A55 row-level DML: DELETE with a non-translatable predicate,
    * UPDATE and MERGE INTO rewrite as a DELTA of row operations
    * against the (_file, _pos) row ID — served merge-on-read exactly
    * like the morDelete/morUpsert APIs (tombstone epoch + appended
    * files), never a rewrite.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => GraftDeltaOperation(info.command, path, tableSchema,
      pinnedFiles, partSchema, morDv, morEq, morSeqm)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      // streaming TABLE TAIL (readStream.table / readStream.format):
      // the snapshot log as micro-batches — see GraftTableTailStream
      TableCapability.MICRO_BATCH_READ,
      // SQL DML through the A38 write-audit-publish gate (V1 fallback,
      // the JDBC-connector pattern) — see GraftSqlWrite. OVERWRITE/
      // TRUNCATE admit the static-mode INSERT OVERWRITE plan, which
      // the write serves with DYNAMIC-partition-replace semantics
      // (unpartitioned overwrite refuses by name inside).
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    GraftSqlWrite.builder(path, partSchema.fieldNames.toSeq)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // A32: row-group sampling pushdown — `.option("sampleRowGroups",
    // "0.1")` reads a deterministic ~10% of (file, row group) splits,
    // decided from the listing alone: the skipped 90% of the table is
    // never opened, which is how a 100 TB profile pass reads 10 TB.
    // `sampleSeed` re-draws, `sampleComplement=true` selects exactly
    // the unsampled remainder (sample ⊎ complement = the full table,
    // spec-asserted).
    val sample = Option(options.get("samplerowgroups")).map { f =>
      val frac = f.toDouble
      require(frac > 0.0 && frac <= 1.0,
        s"[GRAFT] sampleRowGroups must be in (0, 1], got $frac")
      (frac,
        Option(options.get("sampleseed")).map(_.toLong).getOrElse(42L),
        Option(options.get("samplecomplement")).exists(_.toBoolean))
    }
    new GraftScanBuilder(path, tableSchema, pinnedFiles, partSchema, sample,
      morDv, morEq, morSeqm, layoutBucket)
  }

  /** A65: the declared bucket layout is the table's reported
    * partitioning — what Spark's storage-partitioned join resolves
    * (through this table's catalog as a FunctionCatalog) to plan
    * co-located joins with ZERO exchange.
    */
  override def partitioning(): Array[Transform] =
    layoutBucket.toSeq.flatMap { case (ks, n) =>
      // one single-column transform per key (grid semantics) — the
      // only bucket shape Spark's SPJ resolution accepts
      ks.map(k => org.apache.spark.sql.connector.expressions.Expressions
        .bucket(n, k): Transform)
    }.toArray
}

class GraftScanBuilder(path: String, fullSchema: StructType,
    pinnedFiles: Seq[String] = Seq.empty,
    partSchema: StructType = new StructType(),
    sample: Option[(Double, Long, Boolean)] = None,
    morDv: Seq[String] = Seq.empty,
    morEq: Seq[String] = Seq.empty,
    morSeqm: Seq[String] = Seq.empty,
    layoutBucket: Option[(Seq[String], Int)] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggSpec: Option[GraftAggSpec] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Keep every filter for row-group stats pruning, and hand every
    * filter back to Spark for exact row-level evaluation (stats
    * pruning is conservative, never exact).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** A29: aggregate pushdown answered from parquet FOOTER statistics —
    * MIN / MAX / COUNT(col) / COUNT(*), optionally grouped by hive
    * partition columns, with NO row data read at all. Partial
    * pushdown (`supportCompletePushDown` stays false): every data
    * file emits ONE pre-aggregated row (min/max merged across its
    * row groups, counts summed), and Spark's final aggregate merges
    * the per-file rows — min-of-mins, sum-of-counts — so multi-file
    * tables and grouped shapes stay exact. At 100 TB this turns a
    * full-table `SELECT min(x), max(x), count(*)` into a
    * footer-only metadata pass: bytes read ∝ #files, not rows.
    * Declined (→ Spark plans the ordinary scan) whenever a filter
    * survives, grouping is not purely partition columns, or an agg
    * is outside the footer-provable set.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // Spark only offers aggregates when every filter was consumed by
    // the source; ours are all handed back as residuals, so `pushed`
    // is necessarily empty here — keep the guard anyway (cheap,
    // and robust to a future pushFilters change).
    if (pushed.nonEmpty) return false
    // footer stats describe WHOLE row groups — they cannot answer an
    // aggregate over a row-group SAMPLE
    if (sample.isDefined) return false
    // footer stats count MASKED rows too: a mutation-masked table must
    // take the row path so the split-local masks apply
    if (morDv.nonEmpty || morEq.nonEmpty) return false
    val partCols = partSchema.fieldNames.toSet
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
            if f.fieldNames.length == 1 => Some(f.fieldNames.head)
        case _ => None
      }
    def fileCol(n: String): Boolean =
      !partCols.contains(n) && fullSchema.fieldNames.contains(n)
    // MIN/MAX are answered as VALUES, so only types whose footer
    // stats are guaranteed EXACT qualify. StringType is excluded:
    // parquet binary min/max may be writer-TRUNCATED (a valid BOUND
    // but not a data value — Spark's own parquet aggregate pushdown
    // excludes binary for this reason). Float/Double are excluded:
    // files written with NaN present have unreliable fp stats across
    // writers. The connector reads arbitrary external parquet, so
    // both must stay on the (exact) row path.
    def statsProvable(n: String): Boolean = fullSchema(n).dataType match {
      case IntegerType | LongType | DateType | _: DecimalType => true
      case _ => false // string/fp/timestamps/binary/list: row path
    }
    val groups = aggregation.groupByExpressions.toSeq.map(refName)
    if (groups.exists(g => g.isEmpty || !partCols.contains(g.get))) return false
    val funcs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftAggSpec.CountStar)
      case c: Count if !c.isDistinct =>
        refName(c.column).filter(fileCol).map(GraftAggSpec.CountCol)
      case m: Min =>
        refName(m.column).filter(n => fileCol(n) && statsProvable(n))
          .map(GraftAggSpec.MinCol)
      case m: Max =>
        refName(m.column).filter(n => fileCol(n) && statsProvable(n))
          .map(GraftAggSpec.MaxCol)
      case _ => None
    }
    if (funcs.exists(_.isEmpty)) return false
    val spec = GraftAggSpec(groups.map(_.get), funcs.map(_.get),
      StructType(
        groups.map(g => partSchema(g.get)) ++
        funcs.map(_.get).zipWithIndex.map {
          case (GraftAggSpec.MinCol(c), i) =>
            StructField(s"min_$i", fullSchema(c).dataType, nullable = true)
          case (GraftAggSpec.MaxCol(c), i) =>
            StructField(s"max_$i", fullSchema(c).dataType, nullable = true)
          case (_, i) => StructField(s"cnt_$i", LongType, nullable = false)
        }))
    aggSpec = Some(spec)
    true
  }

  override def build(): Scan = GraftScan(path, required, pushed,
    pinnedFiles = pinnedFiles, partSchema = partSchema, agg = aggSpec,
    sample = sample, morDv = morDv, morEq = morEq, morSeqm = morSeqm,
    bucket = layoutBucket, tableSchema = fullSchema)
}

/** A pushed footer-stats aggregation: partition group columns + the
  * per-file aggregate functions, and the scan's output schema
  * (group columns first, then one field per function, positionally
  * matched by Spark's final merge).
  */
case class GraftAggSpec(groupCols: Seq[String], funcs: Seq[GraftAggSpec.Func],
    outSchema: StructType) {
  def describe: String = funcs.map {
    case GraftAggSpec.CountStar => "COUNT(*)"
    case GraftAggSpec.CountCol(c) => s"COUNT($c)"
    case GraftAggSpec.MinCol(c) => s"MIN($c)"
    case GraftAggSpec.MaxCol(c) => s"MAX($c)"
  }.mkString(", ")
}

object GraftAggSpec {
  sealed trait Func extends Serializable
  case object CountStar extends Func
  case class CountCol(col: String) extends Func
  case class MinCol(col: String) extends Func
  case class MaxCol(col: String) extends Func
}

case class GraftScan(path: String, required: StructType, filters: Array[Filter],
    conf: GraftV2.SessionConf = GraftV2.sessionConf(),
    pinnedFiles: Seq[String] = Seq.empty,
    partSchema: StructType = new StructType(),
    agg: Option[GraftAggSpec] = None,
    sample: Option[(Double, Long, Boolean)] = None,
    morDv: Seq[String] = Seq.empty,
    morEq: Seq[String] = Seq.empty,
    morSeqm: Seq[String] = Seq.empty,
    bucket: Option[(Seq[String], Int)] = None,
    tableSchema: StructType = new StructType())
    extends Scan with Batch with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** A65: the (file → bucket id) parse — a file written by the shaped
    * insert sits exactly one `bucket=N` dir below the table root.
    * A file ANYWHERE else (a morUpsert append, a delta-DML insert)
    * breaks the co-location contract: the scan then reports
    * UnknownPartitioning and joins shuffle again — an HONEST
    * degradation (values stay right, the free co-location is lost
    * until a re-bucketing rewrite), never a silently-wrong join.
    */
  private def bucketIdOf(file: String): Option[Int] =
    GraftLayout.bucketIdOf(path, file)

  private lazy val scanFiles: Seq[String] =
    if (pinnedFiles.nonEmpty) pinnedFiles else GraftV2.dataFiles(path, conf.value)

  /** Manifest-recorded planning stats (the newest published epoch's
    * `#rg` lines): files covered here plan with ZERO footer opens —
    * the reference's one-metadata-read split planning
    * (ArgodbMapreduceInputFormat.java:104-199), lakehouse-shaped.
    * One manifest read per scan (session-cached by epoch id).
    */
  private lazy val manifestStats: Map[String, IndexedSeq[GraftPlanStats.Rg]] =
    GraftPlanStats.forTable(path, conf.value,
      c => tableSchema.fields.find(_.name == c)
        .orElse(required.fields.find(_.name == c)).map(_.dataType))

  /** Per-scan footer-blocks memo — the FALLBACK for files the newest
    * manifest does not cover (appends since the last publish,
    * never-published tables), filled by a bounded PARALLEL pool
    * (prefetchFooters), never the serial walk. Capped so a very wide
    * table (100k+ files) never pins hundreds of MB of block metadata
    * on the driver; past the cap the second consumer re-reads.
    */
  private val footerMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[BlockMetaData]]()
  private val FooterMemoCap = 10000

  /** Planning stats of one file: recorded when published, footer
    * otherwise — one shape for pruning, stats and split construction.
    */
  private def rgStats(file: String): IndexedSeq[GraftPlanStats.Rg] =
    manifestStats.getOrElse(file,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(footerBlocks(file))
        .map(new GraftPlanStats.FooterRg(_)))

  /** Fill the footer memo for every survivor the manifest does not
    * cover, through a bounded parallel pool — at object-store
    * latencies the unpublished-file fallback is pool-parallel, not a
    * serial driver walk.
    */
  private def prefetchFooters(files: Seq[String]): Unit = {
    val missing = files.filterNot(f =>
      manifestStats.contains(f) || footerMemo.containsKey(f))
    if (missing.sizeIs <= 1) { missing.foreach(footerBlocks); return }
    GraftPlanStats.mapParallel(missing)(footerBlocks)
    ()
  }

  /** Per-file dv-mask coordinates — row-group start indices plus this
    * file's sorted mask slice — the ONE rule the stats pass and the
    * planner share (a drift between them would report row counts the
    * served splits don't match).
    */
  private def maskCoords(file: String, rgs: IndexedSeq[GraftPlanStats.Rg],
      dvMask: Map[String, Array[Long]]): (Array[Long], Array[Long]) =
    (rgs.scanLeft(0L)(_ + _.rowCount).toArray,
      GraftMorMask.positions(dvMask, file))

  private def footerBlocks(file: String): Array[BlockMetaData] = {
    val hit = footerMemo.get(file)
    if (hit != null) return hit
    val blocks = GraftV2.withReader(file, conf.value)(
      _.getFooter.getBlocks.asScala.toArray)
    if (footerMemo.size < FooterMemoCap) footerMemo.put(file, blocks)
    blocks
  }

  /** Bucket count when EVERY scanned file honors the declared bucket
    * layout (and the scan shape allows grouping); None degrades to
    * per-row-group planning under UnknownPartitioning. Gated on the
    * session's SPJ switch: grouping trades scan parallelism (one task
    * per bucket, not per row group) for exchange-free joins/aggs —
    * only worth paying when `spark.sql.sources.v2.bucketing.enabled`
    * says the planner will actually use the co-location.
    */
  /** Physical cell count of the declared grid: perCol^k. */
  private def totalCells(ks: Seq[String], n: Int): Int =
    GraftLayout.totalBuckets(GraftLayout.Layout("bucket", ks, n))

  private lazy val groupedBuckets: Option[Int] = bucket.collect {
    case (ks, n) if agg.isEmpty && sample.isEmpty &&
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
      scanFiles.forall(f =>
        bucketIdOf(f).exists(b => b >= 0 && b < totalCells(ks, n))) => n
  }

  /** A65: the reported partitioning is ONE `bucket(n, col)` transform
    * PER key column over buckets^k grid cells (the Iceberg
    * multi-field shape) — Spark's SPJ machinery resolves single-column
    * bucket transforms only, so this is the representation that
    * actually plans exchange-free multi-key joins.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (bucket, groupedBuckets) match {
      case (Some((ks, _)), Some(n)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            ks.map(k => org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, k): org.apache.spark.sql.connector.expressions
              .Expression).toArray,
            totalCells(ks, n))
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Filters Spark hands over at RUNTIME (dynamic partition pruning /
    * runtime row-group filtering from a completed build side), on top
    * of the compile-time pushed ones. The reference's split pruning is
    * static only (ArgodbMapreduceInputFormat.java:208-255); this is
    * the Spark-native upgrade: an `In(join_key, values)` arriving
    * after the dim side materializes prunes row groups by footer
    * stats before any task launches.
    */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // a pushed aggregation's output columns are synthetic — there is
    // nothing for a runtime filter to land on
    if (agg.isDefined) Array.empty
    else required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = { runtimeFilters = filters }

  override def readSchema(): StructType = agg.map(_.outSchema).getOrElse(required)

  /** Table statistics to Spark's planner — the lever that makes every
    * `graft.` SQL join plannable: a DSv2 relation WITHOUT stats plans
    * at `spark.sql.defaultSizeInBytes` (Long.MaxValue), so a 1 MB
    * dimension table never auto-broadcasts and every dim×fact join
    * becomes a sort-merge shuffle of the fact. The reference plans its
    * splits from table-distribution metadata for the same reason
    * (ArgodbMapreduceInputFormat.java:104-199).
    *
    * sizeInBytes = compressed bytes of the row groups that SURVIVE the
    * pushed filters (partition pruning by directory values, row-group
    * pruning by footer min/max) — so a pruned scan shrinks below the
    * broadcast threshold exactly when its output does. numRows = the
    * surviving footer row counts minus position-masked rows from the
    * pinned dv sidecars (A25's metadata-only discipline: footers and
    * sidecar indexes, never a data page). Computed once per Scan
    * (lazy), O(surviving files) footer reads on the driver — the same
    * metadata planInputPartitions reads anyway.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = scanStats

  private lazy val scanStats: org.apache.spark.sql.connector.read.Statistics = {
    def stat(bytes: Long, rows: Long,
        cols: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          java.util.Collections.emptyMap()) =
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(math.max(bytes, 1L))
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(math.max(rows, 0L))
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
      }
    if (agg.isDefined) {
      // a pushed footer-stats aggregate emits ONE row per file before
      // Spark's final merge — tiny by construction
      val rows = scanFiles.size.toLong
      val width = agg.get.outSchema.map(_.dataType.defaultSize).sum + 8L
      stat(rows * width, rows)
    } else {
      val listed = GraftV2.dataFileSizes(path, conf.value).toMap
      val survivors = scanFiles.filter { f =>
        val pv = GraftV2.partitionValues(path, f, partSchema)
        pv.isEmpty || !GraftV2.excludedByPartition(pv, filters)
      }
      val dvMask: Map[String, Array[Long]] =
        if (morDv.isEmpty) Map.empty else GraftMorMask.load(morDv, conf.value)
      var bytes = 0L
      var rows = 0L
      // A67 column-level statistics ride the SAME memoized footer
      // pass: min/max/nullCount merged across surviving row groups,
      // for the footer-exact column types only (the A29 discipline —
      // integral/date/decimal; string bounds may be writer-truncated,
      // fp stats NaN-polluted, timestamp stats unit-ambiguous across
      // writers). GATED on the session's CBO switch: the per-chunk
      // accumulation is O(chunks × columns) driver work whose output
      // only the CBO estimators read — the default-off path must not
      // pay it. Estimates only, so dv-masked rows leaving bounds
      // un-tight is fine — but COUNT-type claims (nullCount, ndv) are
      // skipped on dv-masked scans: numRows subtracts masked rows
      // while chunk counts cannot, and a nullCount above rowCount
      // drives FilterEstimation to negative selectivities. A column
      // whose ANY surviving chunk lacks usable stats claims nothing.
      final class ColAcc {
        var min: Any = null; var max: Any = null
        var rows = 0L; var nulls = 0L
        var nullsKnown = true; var ok = true
      }
      val statFields: Array[StructField] =
        if (!org.apache.spark.sql.internal.SQLConf.get.cboEnabled)
          Array.empty
        else required.fields.filter { f =>
          !partSchema.fieldNames.contains(f.name) && (f.dataType match {
            case IntegerType | LongType | DateType | _: DecimalType => true
            case _ => false
          })
        }
      val colAccs: Array[(String, ColAcc)] =
        statFields.map(f => f.name -> new ColAcc)
      prefetchFooters(survivors)
      survivors.foreach { f =>
        val blocks = rgStats(f)
        val (starts, fileMask) = maskCoords(f, blocks, dvMask)
        val liveIdx = blocks.indices
          .filterNot(i => GraftV2.canSkipRowGroup(blocks(i).bounds(_), filters))
          .filter(i => GraftV2.inSample(f, i, sample))
        liveIdx.foreach { i =>
          colAccs.foreach { case (name, a) =>
            if (a.ok) blocks(i).bounds(name) match {
              case Some((mn, mx)) =>
                // ONE comparison discipline with the pruning path
                // (GraftV2.cmpStat); a non-comparable stat value
                // (shouldn't happen for the gated types) claims nothing
                val lt = if (a.min == null) Some(-1)
                         else GraftV2.cmpStat(mn, a.min)
                val gt = if (a.max == null) Some(1)
                         else GraftV2.cmpStat(mx, a.max)
                if (lt.isEmpty || gt.isEmpty) a.ok = false
                else {
                  if (lt.get < 0) a.min = mn
                  if (gt.get > 0) a.max = mx
                  a.rows += blocks(i).rowCount
                  blocks(i).nullCount(name) match {
                    case Some(nc) => a.nulls += nc
                    case None => a.nullsKnown = false
                  }
                }
              case None => a.ok = false
            }
          }
        }
        // dv-masked rows come off PER SURVIVING ROW GROUP (the same
        // slicing planInputPartitions serves — shared via maskCoords):
        // a table-wide subtraction would under-report filtered scans,
        // and a FULLY-masked group contributes neither rows nor bytes
        // (the planner emits no task for it)
        var fileBytes = 0L
        var wholeFile = liveIdx.length == blocks.length
        liveIdx.foreach { i =>
          val rc = blocks(i).rowCount
          val lo = lowerBound(fileMask, starts(i))
          val hi = lowerBound(fileMask, starts(i) + rc)
          if (rc - (hi - lo) > 0) {
            rows += rc - (hi - lo)
            fileBytes += blocks(i).length
          } else wholeFile = false
        }
        // when the whole file survives, the listing length is the
        // honest size (block sums miss footer/header overhead on tiny
        // files); a pruned file contributes its live blocks only
        bytes +=
          (if (wholeFile) math.max(fileBytes, listed.getOrElse(f, 0L))
           else fileBytes)
      }
      val colStatsMap = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // persisted ANALYZE statistics (GraftTableStats, CALL
      // graft.system.analyze): HLL NDV + null counts computed from the
      // DATA through the masked read path — they fill what the
      // footer-exact pass honestly cannot claim (string NDV above all,
      // the CBO join-estimation lever), as ESTIMATES capped at this
      // scan's reported row count (a pruned scan must never see
      // nullCount > rowCount — negative selectivities). Same CBO gate
      // as statFields: the default-off path pays nothing.
      val persisted: Map[String, GraftTableStats.ColStats] =
        if (!org.apache.spark.sql.internal.SQLConf.get.cboEnabled) Map.empty
        else GraftTableStats.read(path, conf.value)
          .map(_.cols).getOrElse(Map.empty)
      def persistedNdv(name: String): java.util.OptionalLong =
        persisted.get(name) match {
          case Some(cs) => java.util.OptionalLong.of(
            math.max(1L, math.min(cs.ndv, math.max(rows, 1L))))
          case None => java.util.OptionalLong.empty()
        }
      colAccs.foreach { case (name, a) =>
        if (a.ok && a.min != null) {
          val (mn, mx) = (a.min, a.max)
          // count-type claims only when NO dv mask skews them: chunk
          // counts cannot subtract masked rows, and a nullCount above
          // the reported rowCount turns CBO selectivities negative
          val nulls =
            if (a.nullsKnown && morDv.isEmpty)
              java.util.OptionalLong.of(a.nulls)
            else java.util.OptionalLong.empty()
          // distinctCount: a PROVABLE upper bound for integral/date
          // columns — min(non-null rows, integer span of [min, max])
          // — exact for dense domains (a 0..24 nationkey) and for
          // unique keys (span ≈ rows); FilterEstimation refuses to
          // act on min/max without an ndv at all, so a documented
          // bound beats claiming nothing. Claimed ONLY when the span
          // is within 4× the non-null rows (near-dense domains and
          // unique keys): a SPARSE domain (two values a billion
          // apart) would cap at ~rowCount, under-estimating 1/ndv
          // equality selectivity by orders of magnitude and flipping
          // join-strategy choices — claim nothing there. Decimals
          // claim no ndv (a fractional span bounds nothing).
          val ndv: java.util.OptionalLong =
            statFields.find(_.name == name).get.dataType match {
              case (IntegerType | LongType | DateType) if morDv.isEmpty =>
                val span = new java.math.BigDecimal(mn.toString)
                  .negate.add(new java.math.BigDecimal(mx.toString))
                  .add(java.math.BigDecimal.ONE)
                val nonNull = math.max(
                  a.rows - (if (a.nullsKnown) a.nulls else 0L), 1L)
                val dense = span.compareTo(java.math.BigDecimal
                  .valueOf(nonNull).multiply(
                    java.math.BigDecimal.valueOf(4L))) <= 0
                if (dense)
                  java.util.OptionalLong.of(
                    math.min(nonNull, span.longValueExact()))
                else java.util.OptionalLong.empty()
              case _ => java.util.OptionalLong.empty()
            }
          // a footer claim that declined NDV (sparse span, decimal)
          // still serves the persisted HLL NDV when analyzed
          val ndvOrPersisted =
            if (ndv.isPresent) ndv else persistedNdv(name)
          colStatsMap.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                java.util.Optional.of(mn.asInstanceOf[Object])
              override def max(): java.util.Optional[Object] =
                java.util.Optional.of(mx.asInstanceOf[Object])
              override def nullCount(): java.util.OptionalLong = nulls
              override def distinctCount(): java.util.OptionalLong = ndvOrPersisted
            })
        }
      }
      // columns the footer pass claimed NOTHING for (strings, fp,
      // timestamps, masked tables) get NDV/nullCount-only entries from
      // the persisted ANALYZE marker — no min/max (estimation uses
      // 1/ndv selectivity and join-cardinality math, which need no
      // bounds)
      if (persisted.nonEmpty) {
        val claimed = new java.util.HashSet[String]()
        colStatsMap.keySet().forEach(r => { claimed.add(r.fieldNames.head); () })
        required.fields.filterNot(f => partSchema.fieldNames.contains(f.name))
          .filterNot(f => claimed.contains(f.name)).foreach { f =>
            persisted.get(f.name).foreach { cs =>
              val ndvP = math.max(1L, math.min(cs.ndv, math.max(rows, 1L)))
              val nullsP = math.max(0L, math.min(cs.nulls, rows))
              colStatsMap.put(
                org.apache.spark.sql.connector.expressions.Expressions
                  .column(f.name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def min(): java.util.Optional[Object] =
                    java.util.Optional.empty()
                  override def max(): java.util.Optional[Object] =
                    java.util.Optional.empty()
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(nullsP)
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(ndvP)
                })
            }
          }
      }
      stat(bytes, rows, colStatsMap)
    }
  }

  override def description(): String = agg match {
    case Some(a) =>
      s"graft footer-stats aggregate scan, pushedAggregates=[${a.describe}]" +
        (if (a.groupCols.nonEmpty) s", groupedBy=[${a.groupCols.mkString(",")}]" else "")
    case None =>
      s"graft parquet row-group scan, pushed=[${filters.mkString(",")}]" +
        sample.map { case (f, seed, comp) =>
          s", sampleRowGroups=$f seed=$seed${if (comp) " complement" else ""}"
        }.getOrElse("")
  }

  override def toBatch: Batch = this

  /** Streaming table tail (readStream.table / readStream.format over
    * this table): the published snapshot log becomes micro-batches.
    * Pushed aggregates / row-group sampling make no sense per-epoch
    * and refuse by name.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(agg.isEmpty && sample.isEmpty,
      s"[GRAFT] the table-tail stream of $path serves plain projections " +
        "only (no pushed aggregates / row-group sampling)")
    new GraftTableTailStream(path, required, partSchema, tableSchema, conf)
  }

  /** One split per surviving (file, row group): the table path may be
    * a single parquet file or a whole directory — the directory case
    * enumerates every data file, mirroring the reference's per-section
    * rowset-group enumeration (ArgodbMapreduceInputFormat.java:104-199
    * walks sections and emits one split per RowSetsGroup). Row groups
    * whose footer stats provably exclude every pushed/runtime filter
    * are dropped before any task launches.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    // GDPR freshness guard, checked at every scan (one listing): the
    // equality sidecar this scan PINNED must still be the table's
    // CURRENT one — an erase/eq-upsert landing after the pin (or a
    // compaction folding it) must refuse rather than serve a stale
    // mask; erasure outranks snapshot stability. REFRESH TABLE
    // re-pins files and sidecars together.
    val freshEq = GraftV2.sidecarParquet(path,
      graft.sources.GraftMor.EqDir, conf.value)
    if (freshEq != morEq)
      throw new IllegalStateException(
        s"[GRAFT] $path: equality mutation sidecars changed since this " +
          "table was pinned (an erase/eq-upsert landed, or a compaction " +
          "folded them) - REFRESH TABLE to re-pin, or read via " +
          "GraftMor.morRead")
    val all = filters ++ runtimeFilters
    val fileSet = scanFiles
    // pushed aggregation: one split per data file, answered in the
    // reader from that file's footer alone — no row group is ever
    // decompressed, so the whole job is a metadata pass
    agg.foreach { a =>
      return fileSet.map { file =>
        GraftAggPartition(file,
          GraftV2.partitionValues(path, file, partSchema)): InputPartition
      }.toArray
    }
    // A42 position masks (pinned at loadTable with the file set),
    // loaded once per scan on the driver under the hard row cap and
    // sliced per (file, row group) below — the Iceberg DV shape
    val dvMask: Map[String, Array[Long]] =
      if (morDv.isEmpty) Map.empty else GraftMorMask.load(morDv, conf.value)
    // A44/A45 equality masks: key tuple -> max sequence, applied in
    // the reader under the Iceberg-v2 rule (mask where file sequence
    // < tombstone sequence; erases stamp MaxValue = mask everywhere)
    val seqmMap: Map[String, Long] =
      if (morSeqm.isEmpty) Map.empty
      else GraftMorMask.loadSeqm(morSeqm, conf.value)
    // hive-layout partition values of each file (empty for flat
    // tables) — evaluated against the pushed/runtime filters BEFORE
    // any stats source is consulted: a `col=value` filter on a
    // partitioned table skips whole directories' files, the
    // reference's section pruning
    // (ArgodbMapreduceInputFormat.java:208-255), and the surviving
    // values ride on each split like its partition define.
    val survivors = fileSet.map { file =>
      (file, GraftV2.partitionValues(path, file, partSchema))
    }.filterNot { case (_, pv) =>
      pv.nonEmpty && GraftV2.excludedByPartition(pv, all)
    }
    // published files plan from the manifest's recorded stats with
    // ZERO footer opens; the rest fill the memo through the bounded
    // parallel pool here, so even the fallback is never a serial walk
    prefetchFooters(survivors.map(_._1))
    survivors.flatMap { case (file, partValues) =>
      {
        val blocks = rgStats(file)
        // file-global row-group starts (the `_metadata.row_index`
        // coordinate space the masks tombstone on) + this file's mask
        // slice — shared with the stats pass via maskCoords
        val (starts, fileMask) = maskCoords(file, blocks, dvMask)
        val live = blocks.zipWithIndex
          .filterNot { case (b, _) => GraftV2.canSkipRowGroup(b.bounds(_), all) }
          .filter { case (_, i) => GraftV2.inSample(file, i, sample) }
        // locality: hosts holding each row group's byte range, the analog
        // of the reference's ArgodbMapreduceInputSplit.java:49-60
        // getLocations(). ONE getFileBlockLocations RPC per file with
        // live groups — sliced locally per row group (the r15 shape was
        // one RPC PER ROW GROUP: O(row groups) namenode calls per scan).
        // Spark's scheduler uses these for NODE_LOCAL placement on a
        // real cluster; on local FS the listing is localhost and ignored.
        val fileLocs: Array[org.apache.hadoop.fs.BlockLocation] =
          if (live.isEmpty) Array.empty
          else {
            val span = live.map(lb => lb._1.offset + lb._1.length).max
            try new Path(file).getFileSystem(conf.value)
              .getFileBlockLocations(new Path(file), 0L, span)
            catch { case _: java.io.IOException =>
              Array.empty[org.apache.hadoop.fs.BlockLocation] }
          }
        def hostsFor(off: Long, len: Long): Array[String] =
          fileLocs.filter(bl =>
              bl.getOffset < off + len && bl.getOffset + bl.getLength > off)
            .flatMap(bl =>
              try bl.getHosts catch {
                case _: java.io.IOException => Array.empty[String] })
            .distinct
        live.flatMap { case (b, i) =>
            // this split's slice of the file mask ([start, start+rows))
            val lo = lowerBound(fileMask, starts(i))
            val hi = lowerBound(fileMask, starts(i) + b.rowCount)
            // fully-tombstoned row group: no task at all
            if (hi - lo == b.rowCount.toInt) None
            else {
              Some(GraftInputPartition(file, i, hostsFor(b.offset, b.length),
                partValues,
                starts(i),
                java.util.Arrays.copyOfRange(fileMask, lo, hi),
                seqmMap.getOrElse(
                  GraftMorMask.norm(new Path(file).toUri.getPath), 0L),
                rgOffset = b.offset,
                rgLength = b.length,
                rowCount = b.rowCount))
            }
          }.toSeq
      }
    }.toArray match {
      // A65: under a clean bucket layout the splits GROUP by bucket id
      // — one HasPartitionKey partition per bucket, EVERY bucket
      // present (empties included) so two tables' key sets always
      // align and Spark's storage-partitioned join needs no partition-
      // value push-down to match them. Row-group pruning already
      // happened above, inside each bucket.
      case slices if groupedBuckets.isDefined =>
        val n = groupedBuckets.get
        val k = bucket.get._1.size
        val total = totalCells(bucket.get._1, n)
        val byBucket = slices.groupBy(p => bucketIdOf(p.path).get)
        // flat dir id → per-column grid ids, row-major (first declared
        // column most significant) — the inverse of the shaped write
        (0 until total).map { flat =>
          val ids = new Array[Int](k)
          var rest = flat
          var d = k - 1
          while (d >= 0) { ids(d) = rest % n; rest /= n; d -= 1 }
          GraftBucketPartition(ids,
            byBucket.getOrElse(flat, Array.empty)): InputPartition
        }.toArray
      case slices => slices.map(p => p: InputPartition)
    }
  }

  /** First index in sorted `a` whose value is >= `key`. */
  private def lowerBound(a: Array[Long], key: Long): Int = {
    val i = java.util.Arrays.binarySearch(a, key)
    if (i >= 0) i else -(i + 1)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (eqKeyCols, eqMap) =
      if (morEq.isEmpty) (Seq.empty[String], Map.empty[Seq[Any], Long])
      else GraftMorMask.loadEq(morEq, conf.value)
    // single-key masks (the common case: one long GDPR key) ship as a
    // flat value→sequence map, so the reader's per-row probe allocates
    // nothing; composite keys keep the tuple map
    val (eqSingle, eqMulti) =
      if (eqKeyCols.length == 1)
        (eqMap.map { case (k, v) => k.head -> v }, Map.empty[Seq[Any], Long])
      else (Map.empty[Any, Long], eqMap)
    // VECTORIZED eligibility, decided scan-wide on the driver: a table
    // whose projection asks no per-row metadata coordinates reads
    // ColumnarBatches through Spark's own vectorized parquet engine
    // (the A9 scale fix). BOTH mutation-mask families ride the
    // columnar path: A42 POSITION masks as per-batch row-id mapping
    // vectors (the Iceberg DV shape), A44/A45 EQUALITY masks as a
    // vectorized per-batch key probe (pruned key columns re-read, the
    // Iceberg equality-delete shape) — so a mutated table never pays
    // the row tax. The ONLY eq downgrade is a key column whose type
    // falls outside the canonical probe set (nested/fp/raw binary —
    // the same set the row path refuses by name). seqm manifests only
    // feed each split's fileSeq, which rides the partition either way.
    // (row-group sampling composes: the sampled split set is decided at
    // planning, and each split decodes columnar exactly like a full scan)
    // `spark.graft.columnar.enabled=false` is the operational escape
    // hatch (and the A/B lever the bench comparison uses)
    val eqColumnarOk = morEq.isEmpty || (eqKeyCols.nonEmpty &&
      eqKeyCols.forall { c =>
        if (partSchema.fieldNames.contains(c))
          // partition-valued keys serve as per-split constants; the
          // row path accepts exactly Long/String partition values
          partSchema(c).dataType == LongType ||
            partSchema(c).dataType == StringType
        else tableSchema.fields.find(_.name == c)
          .exists(f => GraftColumnarReader.columnarEqKeyType(f.dataType))
      })
    val eqKeyTypes: Seq[DataType] =
      if (morEq.isEmpty || !eqColumnarOk) Seq.empty
      else eqKeyCols.map(c => partSchema.fields.find(_.name == c)
        .orElse(tableSchema.fields.find(_.name == c)).get.dataType)
    val columnar = eqColumnarOk &&
      !required.fieldNames.contains(GraftRowLevel.FileCol) &&
      !required.fieldNames.contains(GraftRowLevel.PosCol) &&
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.columnar.enabled", "true").toBoolean
    val capacity = org.apache.spark.sql.internal.SQLConf.get.parquetVectorizedReaderBatchSize
    agg.map(a => GraftAggReaderFactory(a, conf): PartitionReaderFactory)
      .getOrElse(GraftReaderFactory(required, conf, eqKeyCols,
        eqMulti, eqSingle, columnar = columnar,
        sqlKeys = GraftColumnarReader.sessionSqlKeys(),
        batchCapacity = capacity, eqKeyTypes = eqKeyTypes))
  }
}

case class GraftAggPartition(path: String,
    partValues: Map[String, Any] = Map.empty) extends InputPartition

case class GraftAggReaderFactory(spec: GraftAggSpec,
    conf: GraftV2.SessionConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftAggPartition]
    new GraftAggReader(p.path, spec, conf.value, p.partValues)
  }
}

/** Answers one file's share of a pushed aggregation from the parquet
  * footer: row/null counts and min/max statistics per row group,
  * merged across the file's row groups. Emits exactly one row —
  * group-column constants first (this file's hive partition values),
  * then one value per aggregate — which Spark's final aggregate
  * merges across files. Statistics are REQUIRED here: a row group
  * missing stats for a min/max column fails loudly rather than
  * returning a silently-wrong bound (the pushdown was accepted on
  * schema shape; absent stats are a data-file defect this engine's
  * own sinks never produce).
  */
class GraftAggReader(path: String, spec: GraftAggSpec,
    hadoopConf: Configuration,
    partValues: Map[String, Any]) extends PartitionReader[InternalRow] {

  private var done = false
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    done = true
    val row = new GenericInternalRow(spec.outSchema.length)
    GraftV2.withReader(path, hadoopConf) { r =>
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      spec.groupCols.zipWithIndex.foreach { case (g, i) =>
        row.update(i, GraftV2.toCatalystConstant(partValues.getOrElse(g, null),
          spec.outSchema(i).dataType))
      }
      val base = spec.groupCols.length
      spec.funcs.zipWithIndex.foreach { case (f, i) =>
        val dt = spec.outSchema(base + i).dataType
        val v: Any = f match {
          case GraftAggSpec.CountStar =>
            blocks.map(_.getRowCount).sum
          case GraftAggSpec.CountCol(c) =>
            blocks.map { b =>
              val col = GraftV2.columnChunk(b, c, path)
              b.getRowCount - GraftV2.nullCount(col, path)
            }.sum
          case GraftAggSpec.MinCol(c) =>
            blocks.flatMap(b => GraftV2.statBound(b, c, dt, path, min = true))
              .reduceOption((a, b) => if (GraftV2.cmpCatalyst(dt, a, b) <= 0) a else b)
              .orNull
          case GraftAggSpec.MaxCol(c) =>
            blocks.flatMap(b => GraftV2.statBound(b, c, dt, path, min = false))
              .reduceOption((a, b) => if (GraftV2.cmpCatalyst(dt, a, b) >= 0) a else b)
              .orNull
        }
        row.update(base + i, v)
      }
    }
    current = row
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** `rowGroupStart` is the file-global row index of this row group's
  * first row; `masked` is the (sorted, absolute) slice of the table's
  * A42 deletion vector that falls inside this row group — the reader
  * skips exactly those rows, split-locally. `rgOffset`/`rgLength` are
  * the row group's byte coordinates from the footer (free at planning)
  * — what the VECTORIZED reader's file split addresses; rgLength <= 0
  * means unknown and forces the row-based reader. `rowCount` is the
  * row group's unmasked row count (-1 when unknown).
  */
case class GraftInputPartition(path: String, rowGroup: Int,
    hosts: Array[String] = Array.empty,
    partValues: Map[String, Any] = Map.empty,
    rowGroupStart: Long = 0L,
    masked: Array[Long] = Array.empty,
    fileSeq: Long = 0L,
    rgOffset: Long = 0L,
    rgLength: Long = -1L,
    rowCount: Long = -1L) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

/** A65: one partition per bucket of a declared bucket layout — all of
  * the bucket's surviving (file, row group) slices, keyed by the
  * bucket id (`HasPartitionKey` is what lets Spark group and align the
  * two sides of a storage-partitioned join without an exchange).
  * An empty bucket still plans (zero slices, a no-row task) so both
  * join sides always present the complete key set.
  */
/** One grid cell of a bucket-layout scan: `bucketIds` carries the
  * per-column bucket id in declared-column order — one value per
  * reported `bucket(n, col)` transform, which is what Spark's SPJ
  * matches across the two join sides.
  */
case class GraftBucketPartition(bucketIds: Array[Int],
    slices: Array[GraftInputPartition]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def preferredLocations(): Array[String] =
    slices.flatMap(_.hosts).distinct
  override def partitionKey(): InternalRow =
    new GenericInternalRow(bucketIds.map(_.asInstanceOf[Any]))
}

/** `eqKeyCols`/`eqMap`: the A44/A45 equality mask (key tuple → max
  * tombstone sequence), shipped once in the task binary (hard-capped
  * at load); each split's `fileSeq` decides which tombstones outrank
  * its rows (Iceberg-v2 rule).
  */
case class GraftReaderFactory(required: StructType,
    conf: GraftV2.SessionConf,
    eqKeyCols: Seq[String] = Seq.empty,
    eqMap: Map[Seq[Any], Long] = Map.empty,
    eqSingle: Map[Any, Long] = Map.empty,
    columnar: Boolean = false,
    sqlKeys: Map[String, String] = Map.empty,
    batchCapacity: Int = 4096,
    eqKeyTypes: Seq[DataType] = Seq.empty) extends PartitionReaderFactory {

  /** Scan-wide columnar answer (DSv2 refuses mixed partitions): the
    * driver decided `columnar` from the projection and the eq-key
    * types — dv AND eq masks both serve vectorized; only metadata
    * projections and non-canonical key types keep the scan row-based.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case b: GraftBucketPartition =>
        GraftColumnarReader.bucket(b, required, conf.value, sqlKeys,
          batchCapacity, eqKeyCols, eqKeyTypes, eqSingle, eqMap)
      case p: GraftInputPartition =>
        GraftColumnarReader(p, required, conf.value, sqlKeys, batchCapacity,
          eqKeyCols, eqKeyTypes, eqSingle, eqMap)
    }
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case b: GraftBucketPartition =>
        // one bucket = its slices read back to back; each slice keeps
        // its own masks/sequence exactly as an ungrouped split would
        new PartitionReader[InternalRow] {
          private var i = 0
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (true) {
              if (cur != null && cur.next()) return true
              if (cur != null) { cur.close(); cur = null }
              if (i >= b.slices.length) return false
              cur = sliceReader(b.slices(i)); i += 1
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case p: GraftInputPartition => sliceReader(p)
    }
  }

  private def sliceReader(p: GraftInputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(p.path, p.rowGroup, required, conf.value,
      p.partValues, p.rowGroupStart, p.masked,
      eqKeyCols = eqKeyCols, eqMap = eqMap, eqSingle = eqSingle,
      fileSeq = p.fileSeq)
}

/** The RecordReader analog: one parquet row group → InternalRows with
  * only the required columns materialized. Partition columns are not
  * in the file — they are re-attached as per-split constants from the
  * split's partition values, exactly as the reference's RecordReader
  * re-attaches the partition define
  * (ArgodbMapreduceRecordReader.java:182-201).
  */
class GraftPartitionReader(path: String, rowGroup: Int, required: StructType,
    hadoopConf: Configuration,
    partValues: Map[String, Any] = Map.empty,
    rowGroupStart: Long = 0L,
    masked: Array[Long] = Array.empty,
    takeFrom: Long = Long.MinValue,
    takeUntil: Long = Long.MaxValue,
    eqKeyCols: Seq[String] = Seq.empty,
    eqMap: Map[Seq[Any], Long] = Map.empty,
    eqSingle: Map[Any, Long] = Map.empty,
    fileSeq: Long = 0L) extends PartitionReader[InternalRow] {

  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(path), hadoopConf),
    HadoopReadOptions.builder(hadoopConf).build())

  private val fileSchema = reader.getFooter.getFileMetaData.getSchema

  /** Required fields that live in THIS FILE (not partition columns,
    * and present in the file's own schema — a column added by A36×MOR
    * schema evolution is absent from pre-evolution files and
    * null-fills below), with their position in the output row.
    */
  private val fileFields: Array[(org.apache.spark.sql.types.StructField, Int)] =
    required.fields.zipWithIndex.filter { case (f, _) =>
      !partValues.contains(f.name) && fileSchema.containsField(f.name) }

  /** Output positions of the requested METADATA columns (A55 row-ID
    * coordinates): `_file` = the scheme-less split path, `_pos` = the
    * row's file-global index — the A42 deletion-vector coordinate
    * space. A data column of the same name shadows (it stays a file
    * field above and never reaches here).
    */
  private val metaFilePos: Int = required.fields.indexWhere(f =>
    f.name == GraftRowLevel.FileCol && !partValues.contains(f.name) &&
      !fileSchema.containsField(f.name))
  private val metaPosPos: Int = required.fields.indexWhere(f =>
    f.name == GraftRowLevel.PosCol && !partValues.contains(f.name) &&
      !fileSchema.containsField(f.name))
  private val metaFileValue: UTF8String =
    if (metaFilePos < 0) null
    else UTF8String.fromString(GraftMorMask.norm(new Path(path).toUri.getPath))

  /** Per-split constants: partition fields (pre-converted Catalyst
    * values) plus null for evolved columns this file predates
    * (metadata coordinates excluded — they are per-row).
    */
  private val constants: Map[Int, Any] = required.fields.zipWithIndex.collect {
    case (f, i) if partValues.contains(f.name) =>
      i -> GraftV2.toCatalystConstant(partValues(f.name), f.dataType)
    case (f, i) if !fileSchema.containsField(f.name) &&
        i != metaFilePos && i != metaPosPos =>
      i -> (null: Any)
  }.toMap

  /** Equality-mask key columns that must be READ FROM THIS FILE even
    * when the projection pruned them (the Iceberg equality-delete
    * read shape) — columns already in the projection are reused by
    * position; partition-valued keys come from the split constants.
    */
  private val extraMaskCols: Array[String] = eqKeyCols.toArray.filter(c =>
    !partValues.contains(c) && fileSchema.containsField(c) &&
      !fileFields.exists(_._1.name == c))

  // a projection of ONLY partition columns still has to iterate the
  // row group's rows: request the first file column as a row cursor
  // (its values are never read into the output)
  private val cursorOnly = fileFields.isEmpty && extraMaskCols.isEmpty
  private val requestedTypes: Array[Type] =
    if (cursorOnly) Array(fileSchema.getType(Seq(fileSchema.getFields.asScala.head.getName): _*))
    else fileFields.map { case (f, _) => fileSchema.getType(Seq(f.name): _*) } ++
      extraMaskCols.map(c => fileSchema.getType(Seq(c): _*))
  private val requested = new MessageType(fileSchema.getName, requestedTypes: _*)
  reader.setRequestedSchema(requested)

  /** CANONICAL per-row accessors for the equality-mask key tuple —
    * built against the requested group positions via
    * [[GraftMorMask.canonicalKeyGetter]] (Long for integral/date,
    * Long micros for timestamps incl. legacy INT96, String for UTF8,
    * BigDecimal for decimals — the same canonicalization the sidecar
    * loader applies, so equality holds across physical encodings);
    * null key values never match (sidecar keys are non-null by
    * contract).
    */
  private val keyGetters: Array[Group => Any] =
    if (eqMap.isEmpty && eqSingle.isEmpty) Array.empty
    else eqKeyCols.toArray.map { c =>
      if (partValues.contains(c)) {
        // a NULL partition value (`__HIVE_DEFAULT_PARTITION__` dir) is
        // a never-matching key — sidecar keys are non-null by contract
        // — mirroring the missing-column rule below, not a failure
        val const: Any = partValues(c) match {
          case null => null
          case n: java.lang.Long => n
          case s: String => s
          case other => throw new IllegalStateException(
            s"[GRAFT] equality-mask key '$c' rides an unsupported " +
              s"partition value $other")
        }
        (_: Group) => const
      } else if (!fileSchema.containsField(c)) {
        // A36×MOR: the key column was ADDED after this file was
        // written — its value is null here, and sidecar keys are
        // non-null by contract, so the mask can never match this
        // file's rows (mirrors how `constants` null-fills evolved
        // columns). Without this the gi computation below would
        // resolve to the wrong projected column and mask wrong rows.
        (_: Group) => null
      } else {
        val gi = {
          val inProj = fileFields.indexWhere(_._1.name == c)
          if (inProj >= 0) inProj
          else fileFields.length + extraMaskCols.indexOf(c)
        }
        val get = GraftMorMask.canonicalKeyGetter(requestedTypes(gi), gi)
          .getOrElse(throw new IllegalStateException(
            s"[GRAFT] equality-mask key '$c' has an unservable type " +
              s"(${requestedTypes(gi)}) - read via GraftMor.morRead"))
        (g: Group) => if (g.getFieldRepetitionCount(gi) == 0) null else get(g)
      }
    }

  /** Iceberg-v2 equality rule: masked iff the key's max tombstone
    * sequence outranks this file's sequence. Single-key masks (the
    * common case) probe a flat map with zero per-row allocation.
    */
  private def eqMasked(g: Group): Boolean = {
    if (keyGetters.isEmpty) return false
    if (keyGetters.length == 1 && eqSingle.nonEmpty) {
      val k = keyGetters(0)(g)
      if (k == null) return false
      eqSingle.get(k) match {
        case Some(maxSeq) => return fileSeq < maxSeq
        case None => return false
      }
    }
    val key = new Array[Any](keyGetters.length)
    var i = 0
    while (i < keyGetters.length) { key(i) = keyGetters(i)(g); i += 1 }
    eqMap.get(key.toSeq) match {
      case Some(maxSeq) => fileSeq < maxSeq
      case None => false
    }
  }

  (0 until rowGroup).foreach(_ => reader.skipNextRowGroup())
  private val store = reader.readNextRowGroup()
  private val recordReader = new ColumnIOFactory().getColumnIO(requested)
    .getRecordReader(store, new GroupRecordConverter(requested))
  private var remaining = store.getRowCount
  private var current: InternalRow = _

  /** (converter over the file-subset group position, output position) */
  private val converters: Array[(Group => Any, Int)] =
    fileFields.zipWithIndex.map { case ((f, outPos), groupPos) =>
      (GraftV2.valueConverter(requestedTypes(groupPos), f.dataType, groupPos), outPos)
    }

  // A42 deletion-vector cursor: `masked` is sorted and this reader
  // consumes rows in file order, so one advancing pointer suffices
  private var rowIdx = rowGroupStart
  private var maskPtr = 0

  override def next(): Boolean = {
    while (remaining > 0) {
      remaining -= 1
      val g = recordReader.read()
      val idx = rowIdx
      rowIdx += 1
      if (idx >= takeUntil) return false // past the replay window
      if (maskPtr < masked.length && masked(maskPtr) == idx) {
        maskPtr += 1 // tombstoned: decode is paid, the row is not served
      } else if (idx < takeFrom) {
        () // before the replay window: consume, don't serve
      } else if (eqMasked(g)) {
        () // equality-tombstoned at an outranking sequence
      } else {
        val row = new GenericInternalRow(required.fields.length)
        constants.foreach { case (pos, v) => row.update(pos, v) }
        if (metaFilePos >= 0) row.update(metaFilePos, metaFileValue)
        if (metaPosPos >= 0) row.update(metaPosPos, idx)
        var j = 0
        while (j < converters.length) {
          val (conv, outPos) = converters(j)
          row.update(outPos, if (g.getFieldRepetitionCount(j) == 0) null else conv(g))
          j += 1
        }
        current = row
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}

object GraftV2 {
  import org.apache.spark.util.SerializableConfiguration

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("[GRAFT] v2 source requires a path"))
    p
  }

  /** The session's Hadoop conf as tasks read it: a handle over one
    * broadcast, so a task binary carries a broadcast id instead of the
    * conf. A serialized conf is ~114 KB (~1,100 properties, each with
    * a gzipped source list), and every task that carried one had to
    * deserialize it; under `local[N]` the broadcast's value stays
    * deserialized in the block manager. `value` is shared by every
    * task of the JVM: read it, never mutate it (copy it first, as
    * GraftColumnarReader does).
    */
  final class SessionConf private[GraftV2] (
      bc: org.apache.spark.broadcast.Broadcast[SerializableConfiguration],
      inline: SerializableConfiguration) extends Serializable {
    def value: Configuration = if (bc != null) bc.value.value else inline.value
    /** The broadcast's id; None for the inline, driver-less form. */
    def broadcastId: Option[Long] = Option(bc).map(_.id)
  }

  /** Conf broadcasts kept for the current SparkContext, keyed by conf
    * content, least recently used first: room for a session and the
    * cloned sessions its streaming queries plan under, whose confs
    * differ in a few SQL keys.
    */
  private val MaxShipped = 4
  private val shipped =
    new java.util.LinkedHashMap[Map[String, String], SessionConf](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Map[String, String], SessionConf]): Boolean =
        size() > MaxShipped
    }
  private var shippedSc: org.apache.spark.SparkContext = _

  /** The session's Hadoop conf for executor-side use, so a store
    * needing configured credentials (spark.hadoop.fs.s3a.* etc.) works
    * through this connector exactly as it does through GraftCatalog.
    * Each distinct `newHadoopConf()` content gets one broadcast per
    * SparkContext, reused whenever a session with that content asks
    * again (a `spark.conf.set` and back, or a streaming query's cloned
    * session alternating with the main one). An evicted broadcast is
    * cleaned once no plan holds its handle. Falls back to an inline
    * conf when no live session is active (driver-less unit use,
    * executor threads).
    */
  def sessionConf(): SessionConf = shippedConf(SparkSession.getActiveSession)

  /** [[sessionConf()]] of session `s`, whichever session is active on
    * the calling thread.
    */
  def sessionConf(s: SparkSession): SessionConf = shippedConf(Some(s))

  private def shippedConf(session: Option[SparkSession]): SessionConf =
    session.filterNot(_.sparkContext.isStopped) match {
      case None => new SessionConf(null, new SerializableConfiguration(new Configuration()))
      // inside one top-level graft call the conf is fixed, so its
      // content is compared once per call
      case Some(s) => graft.sources.GraftIO.shippedPerCall(s) { conf =>
        val content = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
        val sc = s.sparkContext
        shipped.synchronized {
          if (shippedSc ne sc) { shipped.clear(); shippedSc = sc }
          shipped.get(content) match {
            case null =>
              val h = new SessionConf(sc.broadcast(new SerializableConfiguration(conf)), null)
              shipped.put(content, h)
              h
            case h => h
          }
        }
      }
    }

  /** Data files of a table path: the path itself when it is a single
    * parquet file, else every non-bookkeeping file under the directory
    * (recursive, `_SUCCESS`/dotfiles skipped), sorted for a
    * deterministic split order — the analog of the reference's
    * table-wide section enumeration
    * (ArgodbMapreduceInputFormat.java:104-147).
    */
  def dataFiles(path: String, conf: Configuration): Seq[String] =
    dataFileSizes(path, conf).map(_._1)

  /** Data files with their byte lengths — the listing-only size
    * estimate stats-driven planning runs on (one namenode round trip,
    * no footer opened).
    */
  /** The same data-file walk as [[dataFileSizes]], as paths RELATIVE
    * to `dir` (sorted): the table's current files a staged swap
    * retires or an INSERT OVERWRITE replaces.
    */
  def dataFilesRelative(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[String] = {
    if (!fs.exists(dir)) return Seq.empty
    val rootPath = dir.toUri.getPath
    graft.sources.GraftIO.walkVisibleFiles(fs, dir)
      .collect { case f if f.getLen > 0 =>
        f.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/") }
      .sorted
  }

  /** The staged-swap tail every COW rewrite shares: retire the current
    * data files, move exactly the `staged` files (relative to
    * `stageDir`, as `GraftIO.writeStage` returned them) in (checked
    * renames, relative structure preserved), drop the staging dir and
    * its `_staging` shell when empty. Callers order their METADATA writes around this
    * (marker-first for ALTER, marker-unchanged for rebucket).
    *
    * Crash safety: the FULL swap intent (every retire + every move-in)
    * is journaled inside the staging dir BEFORE the first live file is
    * touched, then [[completeStagedSwap]] replays it idempotently. A
    * crash anywhere mid-swap leaves the journal behind, so the table
    * is detectably mid-swap (not silently empty/partial) and the next
    * [[recoverStagedSwaps]] — run on catalog table load — finishes the
    * swap instead of losing the rewrite under `_staging`.
    */
  def swapStagedFiles(fs: org.apache.hadoop.fs.FileSystem,
      tableRoot: Path, stageDir: Path, staged: Seq[String], op: String): Unit = {
    val old = dataFilesRelative(fs, tableRoot)
    val journal = new Path(stageDir, SwapJournal)
    val body = (old.map("retire\t" + _) ++ staged.map("movein\t" + _))
      .mkString("\n")
    graft.sources.GraftIO.writeText(fs, journal, body, overwrite = true)
    completeStagedSwap(fs, tableRoot, stageDir, op)
  }

  /** Staged-swap journal file name (inside the staging dir; `_`-prefixed
    * so data-file walks skip it). Presence = the swap started mutating
    * live files (or is about to) and must run to completion.
    */
  val SwapJournal = "_SWAP_JOURNAL"

  /** Replay a journaled swap to completion. Idempotent: a retire of an
    * already-deleted file is a no-op, a move-in whose source is gone
    * but destination exists already happened (rename is atomic), so a
    * crashed swap can be resumed any number of times.
    */
  def completeStagedSwap(fs: org.apache.hadoop.fs.FileSystem,
      tableRoot: Path, stageDir: Path, op: String): Unit = {
    val journal = new Path(stageDir, SwapJournal)
    // the journal vanishing means the owning swap finished (it deletes
    // the journal last) — a concurrent recoverer backs off quietly
    // instead of failing a healthy writer
    val body = graft.sources.GraftIO.readText(fs, journal).getOrElse(return)
    val entries = body.split('\n').filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    }
    entries.collect { case ("retire", rel) => rel }.foreach { rel =>
      val p = new Path(tableRoot, rel)
      if (fs.exists(p) && !fs.delete(p, false))
        throw new IllegalStateException(
          s"[GRAFT] $op failed to retire $tableRoot/$rel")
    }
    entries.collect { case ("movein", rel) => rel }.foreach { rel =>
      val src = new Path(stageDir, rel)
      val dst = new Path(tableRoot, rel)
      if (fs.exists(src)) {
        fs.mkdirs(dst.getParent)
        if (fs.exists(dst)) fs.delete(dst, false) // partial pre-atomic copy
        if (!fs.rename(src, dst))
          throw new IllegalStateException(
            s"[GRAFT] $op move-in failed: rename($src -> $dst)")
      } else if (!fs.exists(dst))
        throw new IllegalStateException(
          s"[GRAFT] $op move-in lost $rel: neither staged nor in place")
    }
    fs.delete(journal, false)
    fs.delete(stageDir, true)
    graft.sources.GraftIO.dropIfEmpty(fs, stageDir.getParent)
  }

  /** Finish any swap a prior process crashed through: a staging dir
    * carrying a journal had already declared its full intent, so
    * replaying it is the ONLY state-restoring move (the live dir may
    * be mid-retire); a staging dir WITHOUT a journal never touched
    * live files — abandoned work, left for vacuum. Costs one exists()
    * when the table has no `_staging` shell.
    *
    * LIVENESS: a journal younger than the grace window is presumed to
    * belong to a swap IN FLIGHT in another session (the journal is
    * written immediately before the retire/move-in, which completes in
    * seconds) — replaying it would race the healthy owner (delete its
    * journal under it, contend its renames). Only stale journals —
    * crashed swaps — replay. `spark.graft.swap.recoveryGraceMs`
    * overrides the 10-minute default (specs use 0).
    */
  def recoverStagedSwaps(fs: org.apache.hadoop.fs.FileSystem,
      tableRoot: Path): Unit = {
    val shell = new Path(tableRoot, "_staging")
    if (!fs.exists(shell)) return
    val grace = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.swap.recoveryGraceMs", "600000").toLong
    val now = System.currentTimeMillis()
    fs.listStatus(shell).filter(_.isDirectory).foreach { st =>
      val j = new Path(st.getPath, SwapJournal)
      val age =
        try Some(now - fs.getFileStatus(j).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      age.foreach { a =>
        if (a >= grace)
          completeStagedSwap(fs, tableRoot, st.getPath, "swap recovery")
        else
          // a fresh journal = a swap in flight (or a crash seconds
          // ago): REFUSE LOUDLY rather than pin the mid-retire state —
          // serving half a table silently is strictly worse than a
          // retriable unavailability for the seconds a swap runs
          throw new IllegalStateException(
            s"[GRAFT] $tableRoot has an in-flight staged swap " +
              s"(journal ${j.getName} age ${a}ms < grace ${grace}ms) - " +
              "retry when the swap completes, or lower " +
              "spark.graft.swap.recoveryGraceMs to force recovery of a " +
              "known crash")
      }
    }
  }

  def dataFileSizes(path: String, conf: Configuration): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq((path, st.getLen))
    else {
      // every path segment below the root must be non-hidden: a
      // recursive listing descends into `_bloom_*`/`_snapshots`-style
      // bookkeeping dirs whose FILES have unremarkable names
      graft.sources.GraftIO.walkVisibleFiles(fs, p)
        .collect { case f if f.getLen > 0 => (f.getPath.toString, f.getLen) }
        .sortBy(_._1)
    }
  }

  /** Parquet files of one merge-on-read sidecar dir (`_dv`/`_eq`),
    * sorted — one listing, empty when the table carries no such
    * mutation debt.
    */
  def sidecarParquet(tablePath: String, dir: String,
      conf: Configuration): Seq[String] = {
    val p = new Path(s"$tablePath/$dir")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else graft.sources.GraftIO.walkFiles(fs, p)
      .collect { case f if f.getPath.getName.endsWith(".parquet") =>
        f.getPath.toString }
      .sorted
  }

  /** Refuse BY NAME when a table carries an unmerged equality sidecar:
    * its discovery scan is deferred by design (A44), so no pinned scan
    * can compose it — serving would silently include GDPR-erased rows.
    */
  def refuseEqSidecar(tablePath: String, conf: Configuration,
      surface: String): Unit = {
    val p = new Path(s"$tablePath/${graft.sources.GraftMor.EqDir}")
    if (p.getFileSystem(conf).exists(p))
      throw new IllegalStateException(
        s"[GRAFT] $tablePath has unmerged EQUALITY mutation epochs " +
          s"(${graft.sources.GraftMor.EqDir}/): $surface cannot compose " +
          "their deferred discovery scan - fold them with " +
          "GraftMor.morCompact (then REFRESH TABLE), or read via " +
          "GraftMor.morRead / GraftCatalog.table")
  }

  /** Footer opens through [[withReader]] — instrumentation for the
    * zero-footer-planning contract: planning a scan of a PUBLISHED
    * table must not open any footer (manifest-recorded stats serve),
    * spec-counted. Executor-side data reads don't route through here.
    */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong()

  def withReader[T](path: String, conf: Configuration = new Configuration())(
      f: ParquetFileReader => T): T = {
    footerOpens.incrementAndGet()
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf),
      HadoopReadOptions.builder(conf).build())
    try f(r) finally r.close()
  }

  /** MessageType → StructType over the reference's primitive surface
    * (ArgodbSerdeUtils.java:71-102 enumerates the same types).
    * Directory tables take the schema of their first data file (one
    * writer, one schema — evolution goes through the engine path's
    * mergeSchema, not this connector).
    */
  def readSchema(path: String, conf: Configuration = new Configuration()): StructType = {
    val files = dataFiles(path, conf)
    require(files.nonEmpty, s"[GRAFT] no parquet data files under $path")
    StructType(withReader(files.head, conf)(_.getFooter.getFileMetaData.getSchema)
      .getFields.asScala.map(toField).toArray)
  }

  private def toField(t: Type): StructField = {
    if (!t.isPrimitive) {
      // the one nested shape this connector reads: a standard 3-level
      // parquet LIST of primitives (`optional group c (LIST) {
      // repeated group list { optional <prim> element } }`) — the
      // embeddings table's array<float> layout. Deeper nesting stays
      // unsupported (the engine path reads it via Spark's own reader).
      t.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
          val elem = t.asGroupType().getType(0).asGroupType().getType(0)
          require(elem.isPrimitive,
            s"[GRAFT] v2 connector supports lists of primitives only, got $t")
          return StructField(t.getName,
            ArrayType(primitiveDataType(elem.asPrimitiveType()), containsNull = true),
            nullable = true)
        case other => throw new IllegalArgumentException(
          s"[GRAFT] v2 connector supports primitive and LIST columns only, got $t ($other)")
      }
    }
    StructField(t.getName, primitiveDataType(t.asPrimitiveType()), nullable = true)
  }

  private def primitiveDataType(p: PrimitiveType): DataType = {
    val t: Type = p
    // DECIMAL can ride on INT32 (precision <= 9), INT64 (<= 18),
    // FIXED_LEN_BYTE_ARRAY or BINARY (two's-complement unscaled) —
    // the reference reads the same surface via its serde
    // (ArgodbSerdeUtils.java:71-102 lists DECIMAL alongside the
    // primitives; CHAR/VARCHAR arrive as STRING-annotated BINARY and
    // land in StringType below).
    p.getPrimitiveTypeName match {
      case BOOLEAN => BooleanType
      case INT32 => t.getLogicalTypeAnnotation match {
        case d: DecimalLogicalTypeAnnotation => DecimalType(d.getPrecision, d.getScale)
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => DateType
        case _ => IntegerType
      }
      case INT64 => t.getLogicalTypeAnnotation match {
        case d: DecimalLogicalTypeAnnotation => DecimalType(d.getPrecision, d.getScale)
        // isAdjustedToUTC=true marks an instant (UTC-normalized) →
        // session-TZ TimestampType; false is a wall-clock local
        // timestamp → TimestampNTZType. Mapping both to NTZ would be
        // silently offset by the session zone for UTC-adjusted files.
        // The reference's serde carries the one Hive TIMESTAMP surface
        // through the same distinction (ArgodbSerdeUtils.java:71-102).
        case ts: TimestampLogicalTypeAnnotation =>
          if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType
        case _ => LongType
      }
      case FLOAT => FloatType
      case DOUBLE => DoubleType
      case FIXED_LEN_BYTE_ARRAY => t.getLogicalTypeAnnotation match {
        case d: DecimalLogicalTypeAnnotation => DecimalType(d.getPrecision, d.getScale)
        case other => throw new IllegalArgumentException(
          s"[GRAFT] Unsupported FIXED_LEN_BYTE_ARRAY annotation: $other")
      }
      case BINARY => t.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => StringType
        case d: DecimalLogicalTypeAnnotation => DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
      case other => throw new IllegalArgumentException(s"[GRAFT] Unsupported parquet type: $other")
    }
  }

  /** Per-field Group → Catalyst value converter. */
  def valueConverter(t: Type, dt: DataType, idx: Int): Group => Any = dt match {
    case ArrayType(et, _) =>
      // 3-level LIST: field idx holds the LIST group; its single
      // repeated child repeats once per element; each repetition holds
      // an optional primitive (absent repetition count 0 = null elem).
      val readElem = elementConverter(et)
      g => {
        val lst = g.getGroup(idx, 0)
        val n = lst.getFieldRepetitionCount(0)
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          val entry = lst.getGroup(0, i)
          out(i) = if (entry.getFieldRepetitionCount(0) == 0) null else readElem(entry)
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      }
    case _ => scalarConverter(t.asPrimitiveType(), dt, idx)
  }

  /** Reader for one LIST element group (the primitive sits at field 0,
    * repetition 0 of each entry).
    */
  private def elementConverter(dt: DataType): Group => Any = dt match {
    case BooleanType => g => g.getBoolean(0, 0)
    case IntegerType | DateType => g => g.getInteger(0, 0)
    case LongType => g => g.getLong(0, 0)
    case FloatType => g => g.getFloat(0, 0)
    case DoubleType => g => g.getDouble(0, 0)
    case StringType => g => UTF8String.fromBytes(g.getBinary(0, 0).getBytes)
    case BinaryType => g => g.getBinary(0, 0).getBytes
    case other => throw new IllegalArgumentException(
      s"[GRAFT] Unsupported LIST element type: $other")
  }

  private def scalarConverter(p: PrimitiveType, dt: DataType, idx: Int): Group => Any = dt match {
    case BooleanType => g => g.getBoolean(idx, 0)
    case IntegerType | DateType => g => g.getInteger(idx, 0)
    case LongType => g => g.getLong(idx, 0)
    case FloatType => g => g.getFloat(idx, 0)
    case DoubleType => g => g.getDouble(idx, 0)
    case StringType => g => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
    case BinaryType => g => g.getBinary(idx, 0).getBytes
    case d: DecimalType => p.getPrimitiveTypeName match {
      case INT32 => g => Decimal(g.getInteger(idx, 0).toLong, d.precision, d.scale)
      case INT64 => g => Decimal(g.getLong(idx, 0), d.precision, d.scale)
      // FLBA / BINARY: big-endian two's-complement unscaled value
      case _ => g => Decimal(new java.math.BigDecimal(
        new java.math.BigInteger(g.getBinary(idx, 0).getBytes), d.scale), d.precision, d.scale)
    }
    case TimestampNTZType | TimestampType =>
      val unit = p.getLogicalTypeAnnotation
        .asInstanceOf[TimestampLogicalTypeAnnotation].getUnit
      unit match {
        case TimeUnit.MILLIS => g => g.getLong(idx, 0) * 1000L
        case TimeUnit.MICROS => g => g.getLong(idx, 0)
        case TimeUnit.NANOS => g => Math.floorDiv(g.getLong(idx, 0), 1000L)
      }
    case other => throw new IllegalArgumentException(s"[GRAFT] Unsupported read type: $other")
  }

  /** Hive-layout partition columns of a file set: `col=value` path
    * segments between the table root and the file name. Types are
    * inferred from the value strings (all-long → LongType, all-double
    * → DoubleType, else StringType — the reference's string→typed
    * partition-value parse surface, ArgodbSerdeUtils.java:35-67);
    * `__HIVE_DEFAULT_PARTITION__` is the null sentinel. Empty for
    * flat tables. Layout must be consistent across files.
    */
  def partitionSchema(tablePath: String, files: Seq[String]): StructType = {
    // A65: a bucket-layout table's `bucket=N/` dirs are physical
    // layout, not partition columns — never infer them into any
    // served schema (catalog, path provider, raw v2 alike)
    val bucketLayout = {
      val root = new Path(tablePath)
      val fs = root.getFileSystem(sessionConf().value)
      scala.util.Try(GraftLayout.readMarker(fs, tablePath)
        .exists(_.kind == "bucket")).getOrElse(false)
    }
    val segs = files.map(partitionSegments(tablePath, _))
      .map(s => if (bucketLayout)
        s.filterNot(_._1 == GraftLayout.BucketDirCol) else s)
    val names = segs.headOption.getOrElse(Seq.empty).map(_._1)
    if (names.isEmpty) return new StructType()
    require(segs.forall(_.map(_._1) == names),
      s"[GRAFT] inconsistent partition layout under $tablePath: " +
        segs.map(_.map(_._1)).distinct.mkString(" vs "))
    val dts = names.indices.map { i =>
      val vs = segs.flatMap(s => Option(s(i)._2)) // nulls excluded
      if (vs.forall(v => scala.util.Try(v.toLong).isSuccess)) LongType
      else if (vs.forall(v => scala.util.Try(v.toDouble).isSuccess)) DoubleType
      else StringType
    }
    StructType(names.zip(dts).map { case (n, t) => StructField(n, t, nullable = true) })
  }

  /** One file's partition values, JVM-typed per the inferred schema
    * (Long / Double / String / null). Empty map for flat tables.
    */
  def partitionValues(tablePath: String, file: String,
      schema: StructType): Map[String, Any] = {
    if (schema.isEmpty) return Map.empty
    partitionSegments(tablePath, file)
      .filter(s => schema.fieldNames.contains(s._1))
      .map { case (name, raw) =>
      val dt = schema(name).dataType
      name -> (raw match {
        case null => null
        case v => dt match {
          case LongType => java.lang.Long.valueOf(v.toLong)
          case DoubleType => java.lang.Double.valueOf(v.toDouble)
          case _ => v
        }
      })
    }.toMap
  }

  /** `col=value` segments of a file's path relative to the table root
    * (unescaped; null sentinel → null value).
    */
  private def partitionSegments(tablePath: String, file: String): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val root = new Path(tablePath).toUri.getPath
    val f = new Path(file).toUri.getPath
    val rel = f.stripPrefix(root).stripPrefix("/")
    rel.split('/').dropWhile(_.isEmpty).dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val v = ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
        Some(seg.substring(0, i) ->
          (if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
      }
    }
  }

  /** File-level partition pruning: does some pushed filter provably
    * exclude a file with these partition values? Conservative —
    * unknown filter shapes keep the file; Spark re-evaluates every
    * filter on the rows anyway.
    */
  def excludedByPartition(values: Map[String, Any], filters: Array[Filter]): Boolean = {
    // the ONE comparison discipline (cmpStat, shared with row-group
    // pruning): string partition values compare in unsigned UTF-8
    // byte order — the engine's UTF8String order — never Java's
    // UTF-16 code units, which diverge for [U+E000, U+FFFF] vs
    // supplementary characters and would wrongly exclude files
    // holding matching rows
    filters.exists {
      case EqualTo(c, v) if values.contains(c) =>
        values(c) == null || cmpStat(values(c), v).exists(_ != 0)
      case In(c, vs) if values.contains(c) =>
        values(c) == null || vs.forall(v => cmpStat(values(c), v).exists(_ != 0))
      case GreaterThan(c, v) if values.contains(c) =>
        values(c) == null || cmpStat(values(c), v).exists(_ <= 0)
      case GreaterThanOrEqual(c, v) if values.contains(c) =>
        values(c) == null || cmpStat(values(c), v).exists(_ < 0)
      case LessThan(c, v) if values.contains(c) =>
        values(c) == null || cmpStat(values(c), v).exists(_ >= 0)
      case LessThanOrEqual(c, v) if values.contains(c) =>
        values(c) == null || cmpStat(values(c), v).exists(_ > 0)
      case IsNull(c) if values.contains(c) => values(c) != null
      case IsNotNull(c) if values.contains(c) => values(c) == null
      case _ => false
    }
  }

  /** JVM partition value → Catalyst constant for the output row. */
  def toCatalystConstant(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (n: java.lang.Long, LongType) => n.longValue
    case (n: java.lang.Double, DoubleType) => n.doubleValue
    case (other, t) => throw new IllegalArgumentException(
      s"[GRAFT] Unsupported partition constant $other for type $t")
  }

  /** Scaled [min, max] bounds of one column chunk — the ONE footer
    * value-extraction rule shared by row-group pruning (canSkip) and
    * the A67 column statistics (a second hand-rolled copy of the
    * decimal rescale would drift). None when the chunk has no usable
    * stats (or the column is absent — schema evolution). Decimal
    * stats are UNSCALED (int32/int64/binary two's complement);
    * comparing them raw against a scaled BigDecimal would mis-prune
    * by 10^scale — rescale here so every consumer sees true values.
    */
  def chunkBounds(block: BlockMetaData, col: String): Option[(Any, Any)] =
    block.getColumns.asScala
      .find(_.getPath.toDotString == col)
      .flatMap { c =>
        val st = c.getStatistics
        if (st == null || !st.hasNonNullValue) None
        else c.getPrimitiveType.getLogicalTypeAnnotation match {
          case d: DecimalLogicalTypeAnnotation =>
            def scaled(v: Any): Any = v match {
              case n: java.lang.Integer => java.math.BigDecimal.valueOf(n.longValue, d.getScale)
              case n: java.lang.Long => java.math.BigDecimal.valueOf(n.longValue, d.getScale)
              case b: org.apache.parquet.io.api.Binary =>
                new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.getScale)
              case other => other
            }
            Some((scaled(st.genericGetMin), scaled(st.genericGetMax)))
          case _ => Some((st.genericGetMin, st.genericGetMax))
        }
      }

  /** One chunk's null count, when the writer recorded it. The
    * `>= 0` guard matters: parquet-mr serves -1 for an OMITTED count
    * with the set-flag still true on some legacy writers (the same
    * sentinel the A29 nullCount helper refuses loudly).
    */
  def chunkNullCount(block: BlockMetaData, col: String): Option[Long] =
    block.getColumns.asScala
      .find(_.getPath.toDotString == col)
      .flatMap { c =>
        val st = c.getStatistics
        if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
          Some(st.getNumNulls)
        else None
      }

  /** Row-group elimination from footer statistics: skip when the
    * pushed filter provably matches nothing in [min, max]. Conservative
    * (unknown types/stats → keep).
    */
  def canSkipRowGroup(block: BlockMetaData, filters: Array[Filter]): Boolean =
    canSkipRowGroup(chunkBounds(block, _), filters)

  /** The same elimination over ANY bounds source — the manifest-
    * recorded stats path and the footer path share this one rule, so
    * recorded and fallback planning cannot drift.
    */
  def canSkipRowGroup(boundsOf: String => Option[(Any, Any)],
      filters: Array[Filter]): Boolean =
    filters.exists(f => canSkip(boundsOf, f))

  /** Exact cross-type stat comparison — the ONE comparison discipline
    * shared by row-group pruning and the A67 column-stat accumulation
    * (a second hand-rolled copy would drift, the chunkBounds lesson):
    * a fractional filter value (l_quantity > 45.5) against integral
    * stats must NOT be truncated to 45 (a latent wrong prune), and
    * int64 stats above 2^53 must not round through double — BigDecimal
    * over the decimal string repr is exact for every JVM number type;
    * non-finite doubles (NaN/Inf) decline to compare (→ callers stay
    * conservative). String filters compare against binary stats in the
    * stats' OWN byte space (unsigned UTF-8 lexicographic — also
    * Spark's UTF8String order): Java String.compareTo is UTF-16
    * code-unit order, which diverges for [U+E000, U+FFFF] vs
    * supplementary characters and would wrongly prune groups
    * containing matching rows.
    */
  def cmpStat(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      try Some(new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString)))
      catch { case _: NumberFormatException => None }
    case (x: org.apache.parquet.io.api.Binary, y: String) =>
      Some(utf8ByteCmp(x.getBytes,
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case (x: String, y: String) =>
      Some(utf8ByteCmp(x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case _ => None
  }

  private def utf8ByteCmp(xa: Array[Byte], ya: Array[Byte]): Int = {
    val n = math.min(xa.length, ya.length)
    var i = 0
    var r = 0
    while (r == 0 && i < n) { r = (xa(i) & 0xff) - (ya(i) & 0xff); i += 1 }
    if (r != 0) r else xa.length - ya.length
  }

  private def canSkip(bounds: String => Option[(Any, Any)],
      filter: Filter): Boolean = {
    def cmp(a: Any, b: Any): Option[Int] = cmpStat(a, b)
    filter match {
      case EqualTo(c, v) => bounds(c).exists { case (mn, mx) =>
        cmp(mn, v).exists(_ > 0) || cmp(mx, v).exists(_ < 0) }
      case GreaterThan(c, v) => bounds(c).exists { case (_, mx) =>
        cmp(mx, v).exists(_ <= 0) }
      case GreaterThanOrEqual(c, v) => bounds(c).exists { case (_, mx) =>
        cmp(mx, v).exists(_ < 0) }
      case LessThan(c, v) => bounds(c).exists { case (mn, _) =>
        cmp(mn, v).exists(_ >= 0) }
      case LessThanOrEqual(c, v) => bounds(c).exists { case (mn, _) =>
        cmp(mn, v).exists(_ > 0) }
      // runtime row-group pruning: the In-set a dynamic filter carries
      // — skip when every value falls outside [min, max].
      case In(c, vs) => bounds(c).exists { case (mn, mx) =>
        vs.forall(v => cmp(mn, v).exists(_ > 0) || cmp(mx, v).exists(_ < 0)) }
      case _ => false
    }
  }

  /** A32: deterministic row-group sampling decision — a stable hash
    * of (normalized file path, row-group ordinal, seed) against the
    * fraction, so the same (table, seed) selects the same groups on
    * every executor and every run, and the complement flag selects
    * exactly the rest. A rewritten file is a different path and
    * legitimately re-draws.
    */
  def inSample(file: String, rowGroup: Int,
      sample: Option[(Double, Long, Boolean)]): Boolean = sample match {
    case None => true
    case Some((frac, seed, complement)) =>
      val h = scala.util.hashing.MurmurHash3.stringHash(
        s"${new Path(file).toUri.getPath}#$rowGroup", seed.toInt)
      val bucket = ((h % 1000000) + 1000000) % 1000000
      val in = bucket < (frac * 1000000.0).toLong
      if (complement) !in else in
  }

  // ---- A29 footer-stats aggregate helpers ----------------------------

  def columnChunk(block: BlockMetaData, col: String,
      file: String): org.apache.parquet.hadoop.metadata.ColumnChunkMetaData =
    block.getColumns.asScala.find(_.getPath.toDotString == col).getOrElse(
      throw new IllegalStateException(
        s"[GRAFT] aggregate pushdown: column $col absent from a row group of $file"))

  /** Exact null count of one column chunk; parquet-mr reports -1 when
    * the writer omitted it — fail loudly, a silently-wrong COUNT is
    * worse than falling back by hand.
    */
  def nullCount(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      file: String): Long = {
    val st = c.getStatistics
    require(st != null && st.isNumNullsSet && st.getNumNulls >= 0,
      s"[GRAFT] aggregate pushdown: null count unavailable for " +
        s"${c.getPath.toDotString} in $file")
    st.getNumNulls
  }

  /** One row group's min or max for a column as a CATALYST value of
    * `dt` (UTF8String / Decimal / primitives), or None when the group
    * has no non-null values (all-null chunks contribute nothing, which
    * is exactly SQL MIN/MAX semantics). Decimal stats arrive unscaled
    * and are rescaled here, same as the pruning path above.
    */
  def statBound(block: BlockMetaData, col: String, dt: DataType,
      file: String, min: Boolean): Option[Any] = {
    val c = columnChunk(block, col, file)
    val st = c.getStatistics
    if (st == null || st.isEmpty)
      throw new IllegalStateException(
        s"[GRAFT] aggregate pushdown: no statistics for $col in a row group of $file")
    if (!st.hasNonNullValue) return None
    val raw = if (min) st.genericGetMin else st.genericGetMax
    Some((raw, dt) match {
      case (n: java.lang.Integer, IntegerType | DateType) => n.intValue
      case (n: java.lang.Long, LongType) => n.longValue
      case (n: java.lang.Float, FloatType) => n.floatValue
      case (n: java.lang.Double, DoubleType) => n.doubleValue
      case (b: org.apache.parquet.io.api.Binary, StringType) =>
        UTF8String.fromBytes(b.getBytes)
      case (v, d: DecimalType) =>
        val bd = v match {
          case n: java.lang.Integer => java.math.BigDecimal.valueOf(n.longValue, d.scale)
          case n: java.lang.Long => java.math.BigDecimal.valueOf(n.longValue, d.scale)
          case b: org.apache.parquet.io.api.Binary =>
            new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale)
          case other => throw new IllegalStateException(
            s"[GRAFT] aggregate pushdown: unexpected decimal stat $other for $col")
        }
        Decimal(bd, d.precision, d.scale)
      case (other, t) => throw new IllegalStateException(
        s"[GRAFT] aggregate pushdown: stat $other does not fit $t for $col in $file")
    })
  }

  /** Ordering over Catalyst values for merging per-row-group bounds.
    * Strings compare as unsigned bytes (UTF8String's order — Spark's
    * binary-collation MIN/MAX), matching parquet's UTF8 stat order.
    */
  def cmpCatalyst(dt: DataType, a: Any, b: Any): Int = dt match {
    case IntegerType | DateType => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case _: DecimalType => a.asInstanceOf[Decimal].compareTo(b.asInstanceOf[Decimal])
    case other => throw new IllegalStateException(
      s"[GRAFT] aggregate pushdown: no ordering for $other")
  }
}
