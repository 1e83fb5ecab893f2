package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A55: SQL row-level DML — `DELETE FROM` / `UPDATE` / `MERGE INTO`
  * on graft tables, served MERGE-ON-READ exactly like the Scala
  * mutation APIs:
  *
  *   - a fully filter-translatable DELETE takes the METADATA-ONLY
  *     path (`GraftTable.deleteWhere` → `morDelete`): one tombstone
  *     epoch, no DeltaWrite job at all;
  *   - everything else rewrites through Spark's row-level-operation
  *     machinery as a DELTA of per-row operations against the
  *     (`_file`, `_pos`) row ID — the Iceberg position-delta shape.
  *     The scan is the ordinary v2 scan (masks composed, so
  *     already-deleted rows never re-tombstone — epochs stay TRUE
  *     deltas) with the two metadata columns projected; each task
  *     writes its delete coordinates and its insert rows as parquet
  *     into a staging dir, and the driver commit moves coordinates
  *     into ONE new `_dv` epoch and insert files into the table
  *     (checked renames), sequencing appended files in `_seqm` when
  *     an equality sidecar is live (the A52 rule: fresh versions
  *     outrank finite tombstones, erases still win).
  *
  * Scale shape: cost is O(matched churn) — coordinates + new
  * versions — never a partition rewrite; updates of one row in a
  * 100 TB table write two tiny files. UPDATE is represented as
  * delete+insert (`representUpdateAsDeleteAndInsert`), so the writer
  * surface is two operations. Visibility is snapshot-grained as for
  * every MOR mutation: pinned SQL readers REFRESH to see it.
  *
  * Reference anchor: the reference connector is read-only
  * (ArgodbMapreduceInputFormat.java:52-279); this is the write-side
  * surface its warehouse consumers imply, carried through the
  * engine's mutation contracts.
  */
object GraftRowLevel {

  /** Metadata column names — Iceberg's convention, and the A42
    * deletion-vector coordinate space (scheme-less path, file-global
    * row index).
    */
  val FileCol = "_file"
  val PosCol = "_pos"

  val MetaColumns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "scheme-less data file path of the row (A42 coordinate space)"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "file-global row index of the row (A42 coordinate space)"
    })

  /** Source `Filter` → Column, for the metadata-only DELETE path.
    * None for shapes we cannot translate exactly — those take the
    * row-level scan instead (never a silent approximation).
    */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case Not(c) => filterToColumn(c).map(not)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** StructType → parquet MessageType for the delta writers (the
    * primitive surface the engine's tables use); unsupported types
    * refuse BY NAME — the caller falls back to the Scala APIs.
    */
  def toMessageType(schema: StructType, name: String): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val fb = f.dataType match {
        case BooleanType => Types.optional(BOOLEAN)
        case IntegerType => Types.optional(INT32)
        case LongType => Types.optional(INT64)
        case FloatType => Types.optional(FLOAT)
        case DoubleType => Types.optional(DOUBLE)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case DateType =>
          Types.optional(INT32).as(LogicalTypeAnnotation.dateType())
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
        case TimestampNTZType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS))
        case d: DecimalType if d.precision <= 9 => Types.optional(INT32)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case d: DecimalType if d.precision <= 18 => Types.optional(INT64)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case other => throw new IllegalStateException(
          s"[GRAFT] row-level DML cannot write column '${f.name}' of type " +
            s"${other.simpleString} - use the GraftMor Scala APIs")
      }
      b.addField(fb.named(f.name))
    }
    b.named(name)
  }

  /** Per-field (row, group) appender for the insert writer; `i` is
    * the field's ordinal in the INCOMING row (which may differ from
    * its group position when partition columns are carved out).
    */
  def fieldAdders(fields: Seq[(StructField, Int)]): Array[(InternalRow, Group, Int) => Unit] =
    fields.toArray.map { case (f, i) =>
      f.dataType match {
        case BooleanType => (r: InternalRow, g: Group, gi: Int) =>
          g.add(gi, r.getBoolean(i))
        case IntegerType | DateType => (r: InternalRow, g: Group, gi: Int) =>
          g.add(gi, r.getInt(i))
        case LongType | TimestampType | TimestampNTZType =>
          (r: InternalRow, g: Group, gi: Int) => g.add(gi, r.getLong(i))
        case FloatType => (r: InternalRow, g: Group, gi: Int) =>
          g.add(gi, r.getFloat(i))
        case DoubleType => (r: InternalRow, g: Group, gi: Int) =>
          g.add(gi, r.getDouble(i))
        case StringType => (r: InternalRow, g: Group, gi: Int) =>
          g.add(gi, Binary.fromString(r.getUTF8String(i).toString))
        case d: DecimalType if d.precision <= 9 =>
          (r: InternalRow, g: Group, gi: Int) =>
            g.add(gi, r.getDecimal(i, d.precision, d.scale).toUnscaledLong.toInt)
        case d: DecimalType if d.precision <= 18 =>
          (r: InternalRow, g: Group, gi: Int) =>
            g.add(gi, r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
        case other => throw new IllegalStateException(
          s"[GRAFT] row-level DML cannot write type ${other.simpleString}")
      }
    }

  val DeleteSchema: StructType = StructType(Seq(
    StructField("dv_file", StringType, nullable = false),
    StructField("dv_pos", LongType, nullable = false)))

  /** Test-only failpoint: when set, the delta commit throws AFTER the
    * insert files have landed and sequenced but BEFORE the delete
    * epoch publishes — the crash window the commit ORDER is designed
    * for (transient duplicates, never row loss).
    */
  private[graft] var crashBeforeDeletePublish: Boolean = false
}

/** The delta-based row-level operation: the ordinary v2 scan (masks,
  * pruning, pushdown — metadata coordinates projected on demand) plus
  * a position-delta write.
  */
case class GraftDeltaOperation(
    cmd: RowLevelOperation.Command, path: String, tableSchema: StructType,
    pinnedFiles: Seq[String], partSchema: StructType,
    morDv: Seq[String], morEq: Seq[String], morSeqm: Seq[String])
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft delta $cmd on $path"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, tableSchema, pinnedFiles, partSchema, None,
      morDv, morEq, morSeqm)

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftRowLevel.FileCol),
    Expressions.column(GraftRowLevel.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        GraftDeltaWrite(path, info.schema(), info.queryId(),
          partSchema.fieldNames.toSeq)
    }
}

/** `insertFiles` are RELATIVE to the staging inserts dir — hive
  * partition segments included, so the commit lands each new-version
  * file in its partition directory.
  */
case class GraftDeltaMessage(deleteFile: Option[String],
    insertFiles: Seq[String]) extends WriterCommitMessage

case class GraftDeltaWrite(path: String, writeSchema: StructType,
    queryId: String, partCols: Seq[String]) extends DeltaWrite {

  private val stagingDir = s"$path/_staging/delta_$queryId"

  override def description(): String = s"graft delta write to $path"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory =
      GraftDeltaWriterFactory(stagingDir, writeSchema, partCols,
        GraftV2.sessionConf())

    /** Driver commit: insert files move into the table FIRST — each
      * under its hive partition dir (checked renames), sequenced in
      * `_seqm` when an equality sidecar is live — and only THEN do
      * the delete coordinates land as ONE new `_dv` epoch (atomically
      * allocated, A59). The ORDER is the crash contract: a driver
      * failure between the halves leaves an UPDATE/MERGE serving
      * transient DUPLICATES (old + new versions both visible,
      * converging on retry), never a pure DELETE with the new
      * versions stranded in `_staging` — duplicates are recoverable,
      * silently lost rows are not. Only the COMMITTED attempts' files
      * (named by the messages) move; failed or speculative attempts'
      * residue dies with the staging dir.
      */
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val s = SparkSession.active
      val fs = new Path(path).getFileSystem(s.sessionState.newHadoopConf())
      val msgs = messages.collect { case m: GraftDeltaMessage => m }
      val deletes = msgs.flatMap(_.deleteFile)
      val inserts = msgs.flatMap(_.insertFiles)
      val landed = inserts.map { rel =>
        val src = new Path(s"$stagingDir/inserts/$rel")
        val dst = new Path(path, rel)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new IllegalStateException(
            s"[GRAFT] delta DML commit failed: rename($src -> $dst) " +
              "returned false")
        dst.toString
      }
      graft.sources.GraftMor.sequenceAppendedFiles(s, path, landed.toSeq)
      if (GraftRowLevel.crashBeforeDeletePublish)
        throw new IllegalStateException(
          "[GRAFT-TEST] injected crash after insert land+sequence, " +
            "before delete-epoch publish")
      if (deletes.nonEmpty) {
        val epochDir = new Path(
          graft.sources.GraftMor.allocateDvEpochDir(s, path))
        fs.mkdirs(epochDir)
        deletes.foreach { f =>
          val src = new Path(f)
          if (!fs.rename(src, new Path(epochDir, src.getName)))
            throw new IllegalStateException(
              s"[GRAFT] delta DML commit failed: rename($f -> $epochDir) " +
                "returned false")
        }
      }
      fs.delete(new Path(stagingDir), true)
      // drop the _staging shell when this was its last batch
      graft.sources.GraftIO.dropIfEmpty(fs, new Path(stagingDir).getParent)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val s = SparkSession.active
      val fs = new Path(path).getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new Path(stagingDir), true)
    }
  }
}

case class GraftDeltaWriterFactory(stagingDir: String,
    writeSchema: StructType, partCols: Seq[String],
    conf: GraftV2.SessionConf) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stagingDir, writeSchema, partCols, conf,
      partitionId, taskId)
}

/** One task's delta writer: lazily-opened parquet writers for its
  * delete coordinates and its insert rows — a task that only deletes
  * writes one tiny coordinate file, a task with no matches writes
  * nothing at all. On hive-partitioned tables the partition columns
  * are CARVED OUT of the written file (the layout carries them): each
  * insert row routes to a per-partition-dir writer, so an UPDATE that
  * changes a partition value is a partition MOVE (delete at the old
  * coordinates, new version landing in the new directory), exactly
  * the COW merge's semantics at O(churn) cost.
  */
class GraftDeltaWriter(stagingDir: String, writeSchema: StructType,
    partCols: Seq[String], conf: GraftV2.SessionConf,
    partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val delType =
    GraftRowLevel.toMessageType(GraftRowLevel.DeleteSchema, "dv")

  /** Data fields = write schema minus partition columns, with their
    * ordinals in the incoming row.
    */
  private val dataFields: Seq[(StructField, Int)] =
    writeSchema.fields.zipWithIndex.toSeq
      .filterNot { case (f, _) => partCols.contains(f.name) }
  private lazy val insType = GraftRowLevel.toMessageType(
    StructType(dataFields.map(_._1)), "insert")
  private lazy val insAdders = GraftRowLevel.fieldAdders(dataFields)

  /** Partition-value renderers, in partCols order — hive dir segments
    * (escaped; null → the Hive default-partition sentinel).
    */
  // lazy: a DELETE-only write may carry a schema without the
  // partition columns, and it never routes an insert
  private lazy val partSegments: Seq[InternalRow => String] = partCols.map { c =>
    val i = writeSchema.fieldIndex(c)
    val render: InternalRow => String = writeSchema.fields(i).dataType match {
      case LongType => r => r.getLong(i).toString
      case IntegerType => r => r.getInt(i).toString
      case DoubleType => r => r.getDouble(i).toString
      case StringType => r => r.getUTF8String(i).toString
      case other => r => throw new IllegalStateException(
        s"[GRAFT] row-level DML cannot route partition column '$c' of " +
          s"type ${other.simpleString}")
    }
    (r: InternalRow) =>
      if (r.isNullAt(i)) s"$c=__HIVE_DEFAULT_PARTITION__"
      else c + "=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(render(r))
  }

  private val delPath =
    s"$stagingDir/deletes/part-$partitionId-$taskId.parquet"

  private var delWriter: ParquetWriter[Group] = _
  private val insWriters =
    scala.collection.mutable.LinkedHashMap.empty[String, ParquetWriter[Group]]

  private def open(p: String, t: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(p), conf.value))
      .withConf(conf.value).withType(t)
      // match the engine's own sinks, and keep the sidecar-byte
      // broadcast gates calibrated to compressed parquet
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (delWriter == null) delWriter = open(delPath, delType)
    val g = new SimpleGroup(delType)
    g.add(0, Binary.fromString(id.getUTF8String(0).toString))
    g.add(1, id.getLong(1))
    delWriter.write(g)
  }

  private def relFileFor(row: InternalRow): String = {
    val dir = partSegments.map(_(row)).mkString("/")
    val name = s"part-$partitionId-$taskId.parquet"
    if (dir.isEmpty) name else s"$dir/$name"
  }

  override def insert(row: InternalRow): Unit = {
    val rel = relFileFor(row)
    val w = insWriters.getOrElseUpdate(rel,
      open(s"$stagingDir/inserts/$rel", insType))
    val g = new SimpleGroup(insType)
    var gi = 0
    while (gi < insAdders.length) {
      val (_, rowIdx) = dataFields(gi)
      if (!row.isNullAt(rowIdx)) insAdders(gi)(row, g, gi)
      gi += 1
    }
    w.write(g)
  }

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "[GRAFT] updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

  override def write(row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = {
    if (delWriter != null) delWriter.close()
    insWriters.values.foreach(_.close())
    val msg = GraftDeltaMessage(
      Option(delWriter).map(_ => delPath),
      insWriters.keys.toSeq)
    insWriters.clear()
    msg
  }

  override def abort(): Unit = close()

  override def close(): Unit = {
    if (delWriter != null) { delWriter.close(); delWriter = null }
    insWriters.values.foreach(_.close())
    insWriters.clear()
  }
}
