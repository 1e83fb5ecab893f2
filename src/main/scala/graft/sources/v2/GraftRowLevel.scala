package graft.sources.v2

import graft.sources.{GraftIO, ParquetTaskWriter}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
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
  *     writes its delete coordinates and its insert rows through the
  *     graft task writer (`GraftIO`'s, the one every table write
  *     shares: Spark's parquet writer, every column type INSERT
  *     writes, file names unique per write) into a stage, and the
  *     driver commit lands exactly the returned files through
  *     `GraftIO.land` — coordinates into ONE new `_dv` epoch, insert
  *     files into the table — sequencing appended files in `_seqm`
  *     when an equality sidecar is live (the A52 rule: fresh versions
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

/** A task's files, each RELATIVE to its stage: `deleteFiles` to the
  * coordinate stage, `insertFiles` to the insert stage (hive partition
  * segments included, so the commit lands each new-version file in its
  * partition directory).
  */
case class GraftDeltaMessage(deleteFiles: Seq[String],
    insertFiles: Seq[String]) extends WriterCommitMessage

case class GraftDeltaWrite(path: String, writeSchema: StructType,
    queryId: String, partCols: Seq[String]) extends DeltaWrite {

  override def description(): String = s"graft delta write to $path"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {

    private val stage = GraftIO.stageDir(path, s"delta_$queryId")
    private val deleteStage = new Path(stage, "deletes")
    private val insertStage = new Path(stage, "inserts")

    private def inCall[T](body: (SparkSession, FileSystem) => T): T = {
      val s = SparkSession.active
      GraftIO.withCallConf(s)(body(s, stage.getFileSystem(GraftIO.hadoopConf(s))))
    }

    /** Both halves write through the graft task writer: the delete
      * coordinates unpartitioned, the insert rows as the table's data
      * columns under their hive partition dirs.
      */
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory = inCall { (s, _) =>
      val dataSchema = StructType(writeSchema.filterNot(f => partCols.contains(f.name)))
      GraftDeltaWriterFactory(
        GraftIO.taskWriter(s, GraftRowLevel.DeleteSchema, deleteStage, Nil),
        GraftIO.taskWriter(s, dataSchema, insertStage, partCols),
        writeSchema, partCols, s.sessionState.conf.sessionLocalTimeZone)
    }

    /** Driver commit: insert files land in the table FIRST — each
      * under its hive partition dir, sequenced in `_seqm` when an
      * equality sidecar is live — and only THEN do the delete
      * coordinates land as ONE new `_dv` epoch (atomically allocated,
      * A59). The ORDER is the crash contract: a driver failure between
      * the halves leaves an UPDATE/MERGE serving transient DUPLICATES
      * (old + new versions both visible, converging on retry), never a
      * pure DELETE with the new versions stranded in `_staging` —
      * duplicates are recoverable, silently lost rows are not. Only the
      * COMMITTED attempts' files (named by the messages) land; failed or
      * speculative attempts' residue dies with the stage.
      */
    override def commit(messages: Array[WriterCommitMessage]): Unit = inCall { (s, fs) =>
      val msgs = messages.collect { case m: GraftDeltaMessage => m }
      try {
        val landed = GraftIO.land(fs, path, insertStage, msgs.flatMap(_.insertFiles).toSeq,
          "delta DML")
        graft.sources.GraftMor.sequenceAppendedFiles(s, path, landed)
        if (GraftRowLevel.crashBeforeDeletePublish)
          throw new IllegalStateException(
            "[GRAFT-TEST] injected crash after insert land+sequence, " +
              "before delete-epoch publish")
        val deletes = msgs.flatMap(_.deleteFiles).toSeq
        if (deletes.nonEmpty)
          GraftIO.land(fs, graft.sources.GraftMor.allocateDvEpochDir(s, path),
            deleteStage, deletes, "delta DML")
      } finally GraftIO.dropStage(fs, stage)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      inCall((_, fs) => GraftIO.dropStage(fs, stage))
  }
}

/** What each delta task receives: the two task writers (conf shipped
  * as the session broadcast handle) and how to split an insert row
  * into data columns and hive partition strings.
  */
case class GraftDeltaWriterFactory(deletes: ParquetTaskWriter,
    inserts: ParquetTaskWriter, writeSchema: StructType, partCols: Seq[String],
    timeZoneId: String) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(this, TaskContext.get())
}

/** One task's delta writer: its delete coordinates and its insert rows
  * go to two graft task writers, each opening files lazily — a task
  * that only deletes writes one tiny coordinate file, a task with no
  * matches writes nothing at all. On hive-partitioned tables the
  * partition columns are CARVED OUT of the written file (the layout
  * carries them): insert rows arrive in any order, and each partition
  * directory keeps one open file, so an UPDATE that changes a partition
  * value is a partition MOVE (delete at the old coordinates, new version
  * landing in the new directory), exactly the COW merge's semantics at
  * O(churn) cost.
  */
class GraftDeltaWriter(f: GraftDeltaWriterFactory, tc: TaskContext)
    extends DeltaWriter[InternalRow] {

  private val deletes = f.deletes.open(tc, grouped = false)
  private val inserts = f.inserts.open(tc, grouped = false)

  // lazy: a DELETE-only write may carry a schema without the
  // partition columns, and it never routes an insert
  private lazy val split: UnsafeProjection = {
    def ref(c: String) = {
      val i = f.writeSchema.fieldIndex(c)
      BoundReference(i, f.writeSchema(i).dataType, f.writeSchema(i).nullable)
    }
    UnsafeProjection.create(
      f.writeSchema.fieldNames.toSeq.filterNot(f.partCols.contains).map(ref) ++
        f.partCols.map(c => Cast(ref(c), StringType, Some(f.timeZoneId))))
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes.write(id)

  override def insert(row: InternalRow): Unit =
    inserts.write(if (f.partCols.isEmpty) row else split(row))

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "[GRAFT] updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

  override def write(row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage =
    GraftDeltaMessage(deletes.commit(), inserts.commit())

  override def abort(): Unit = close()

  override def close(): Unit = { deletes.abort(); inserts.abort() }
}
