package graft.sources.v2

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** G27: a NON-FILE-SOURCE DSv2 micro-batch STREAM with real offsets —
  * the replay source that proves the engine's exactly-once sinks
  * against an offset-bearing source (every other G component runs on
  * MemoryStream or Spark's file source, whose offsets the engine never
  * sees). A parquet table replays in deterministic TABLE-GLOBAL ROW
  * ORDER (sorted files → row groups → rows — the same total order the
  * reference's split enumeration fixes,
  * ArgodbMapreduceInputFormat.java:104-199), chunked `rowsPerBatch`
  * rows per trigger:
  *
  *   spark.readStream.format("graft-replay")
  *     .option("rowsPerBatch", "500").load("/data/t.parquet")
  *
  * The OFFSET is the count of rows emitted — a real, monotone,
  * checkpointable coordinate: Spark persists it in the stream
  * checkpoint, a restart resumes exactly past it, and a crashed batch
  * replans the identical (start, end] row window (determinism makes
  * replay = re-read). Admission control (`SupportsAdmissionControl`)
  * implements the chunking: each trigger advances by at most
  * `rowsPerBatch`, so the batch-id-keyed exactly-once ledgers
  * downstream (G8's staged-swap summary etc.) see many real batches
  * from one bounded table.
  *
  * Scale shape: planning is one footer pass (row counts per row
  * group — the split-enumeration metadata cost); each micro-batch
  * reads ONLY the row groups overlapping its window, sliced
  * split-locally by the same windowed reader the batch scan uses.
  * Contract: the replayed table is STATIC for the stream's lifetime
  * (the slice map pins at stream construction; MOR sidecars refuse by
  * name — offsets over masked rows would renumber under compaction).
  */
class GraftReplayProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-replay"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftV2.pathOf(options)
    val conf = GraftV2.sessionConf().value
    StructType(GraftV2.readSchema(path, conf).fields ++
      GraftV2.partitionSchema(path, GraftV2.dataFiles(path, conf)).fields)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    val rowsPerBatch = Option(properties.get("rowsPerBatch"))
      .orElse(Option(properties.get("rowsperbatch")))
      .map(_.toLong).getOrElse(1000L)
    require(rowsPerBatch > 0, s"[GRAFT] rowsPerBatch must be positive")
    val conf = GraftV2.sessionConf().value
    GraftV2.refuseEqSidecar(path, conf, "the graft-replay stream")
    if (GraftV2.sidecarParquet(path, graft.sources.GraftMor.DvDir, conf).nonEmpty)
      throw new IllegalStateException(
        s"[GRAFT] $path has unmerged position tombstones " +
          "(_dv/): replay offsets over masked rows would renumber under " +
          "compaction - fold with GraftMor.morCompact before streaming")
    GraftReplayTable(path, schema,
      GraftV2.partitionSchema(path, GraftV2.dataFiles(path, conf)),
      rowsPerBatch)
  }
}

case class GraftReplayTable(path: String, tableSchema: StructType,
    partSchema: StructType, rowsPerBatch: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft-replay:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String =
          s"graft replay stream over $path, rowsPerBatch=$rowsPerBatch"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftReplayStream(path, tableSchema, partSchema, rowsPerBatch)
      }
    }
}

/** The row-count offset: emitted rows so far. */
case class GraftReplayOffset(row: Long) extends Offset {
  override def json(): String = s"""{"row":$row}"""
}

class GraftReplayStream(path: String, schema: StructType,
    partSchema: StructType, rowsPerBatch: Long)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val conf: GraftV2.SessionConf = GraftV2.sessionConf()

  /** One slice per (file, row group): table-global start row,
    * file-local start row, row count — the pinned, deterministic
    * offset→data mapping. One footer pass, computed once per stream.
    */
  private case class Slice(file: String, rowGroup: Int,
      globalStart: Long, fileStart: Long, rows: Long,
      partValues: Map[String, Any])

  private lazy val slices: IndexedSeq[Slice] = {
    val out = IndexedSeq.newBuilder[Slice]
    var global = 0L
    GraftV2.dataFiles(path, conf.value).foreach { f =>
      val partValues = GraftV2.partitionValues(path, f, partSchema)
      var fileStart = 0L
      GraftV2.withReader(f, conf.value)(_.getFooter.getBlocks.asScala.toList)
        .zipWithIndex.foreach { case (b, i) =>
          out += Slice(f, i, global, fileStart, b.getRowCount, partValues)
          global += b.getRowCount
          fileStart += b.getRowCount
        }
    }
    out.result()
  }

  private lazy val totalRows: Long =
    slices.lastOption.map(s => s.globalStart + s.rows).getOrElse(0L)

  override def initialOffset(): Offset = GraftReplayOffset(0L)

  override def deserializeOffset(json: String): Offset = {
    val m = """\{"row":(\d+)\}""".r
    json.trim match {
      case m(n) => GraftReplayOffset(n.toLong)
      case other => throw new IllegalArgumentException(
        s"[GRAFT] bad graft-replay offset: $other")
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: each trigger advances at most `rowsPerBatch`
    * rows past the committed start — the chunking that turns one
    * bounded table into a sequence of REAL offset-delimited batches.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftReplayOffset].row
    GraftReplayOffset(math.min(totalRows, s + rowsPerBatch))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "[GRAFT] graft-replay implements SupportsAdmissionControl: Spark " +
        "calls latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = GraftReplayOffset(totalRows)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftReplayOffset].row
    val until = end.asInstanceOf[GraftReplayOffset].row
    slices.iterator.flatMap { sl =>
      val lo = math.max(from, sl.globalStart)
      val hi = math.min(until, sl.globalStart + sl.rows)
      if (lo >= hi) None
      // window translated to FILE-LOCAL row coordinates (what the
      // reader's cursor tracks)
      else Some(GraftReplayPartition(sl.file, sl.rowGroup, sl.partValues,
        sl.fileStart,
        sl.fileStart + (lo - sl.globalStart),
        sl.fileStart + (hi - sl.globalStart)): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReplayReaderFactory(schema, conf)

  override def commit(end: Offset): Unit = () // replayable source: no-op

  override def stop(): Unit = ()
}

case class GraftReplayPartition(path: String, rowGroup: Int,
    partValues: Map[String, Any], fileRgStart: Long,
    takeFrom: Long, takeUntil: Long) extends InputPartition

case class GraftReplayReaderFactory(required: StructType,
    conf: GraftV2.SessionConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftReplayPartition]
    new GraftPartitionReader(p.path, p.rowGroup, required, conf.value,
      p.partValues, p.fileRgStart, Array.empty, p.takeFrom, p.takeUntil)
  }
}
