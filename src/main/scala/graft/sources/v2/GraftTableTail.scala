package graft.sources.v2

import graft.sources.SnapshotManifest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Streaming TABLE TAIL — `spark.readStream.table("graft.db.t")` (or
  * `.readStream.format("graft").load(path)`): the snapshot LOG is the
  * stream, the Delta/Iceberg daily-use incremental-consumer shape.
  * The OFFSET is the published epoch id; each micro-batch is the A16
  * file diff between the committed epoch's manifest and the newest
  * one — append-only epochs become batches, publish is the commit
  * point (unpublished stragglers stay invisible, exactly like the
  * batch snapshot surfaces), and a restart resumes past the
  * checkpointed epoch because manifests are durable.
  *
  * Refusals, BY NAME:
  *  - an epoch RANGE whose end manifest drops files the start had
  *    (a COW rewrite / restore landed) is not an append diff — the
  *    history is not a row-append stream; re-seed the consumer;
  *  - mutation-sidecar state anywhere in the range (a morDelete /
  *    morUpsert / erase published mid-stream): row deltas of masks
  *    are not visible as file diffs — `GraftMor.publishMorFeed` (the
  *    A49 mutation-aware feed) is the stream for mutated tables;
  *  - an expired start epoch (retention outran the checkpoint).
  *
  * Scale shape: planning a batch costs two manifest reads + the NEW
  * files' row-group stats — recorded `#rg` lines when the publisher
  * wrote them (zero footer opens), the bounded parallel footer pool
  * otherwise. Reads ride the same GraftPartitionReader as the batch
  * scan (partition values re-attached per split).
  */
class GraftTableTailStream(path: String, required: StructType,
    partSchema: StructType, tableSchema: StructType,
    conf: GraftV2.SessionConf) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  private def snapDir: Path = SnapshotManifest.dirFor(path)

  /** Epoch `id`'s manifest; None when it is absent or unreadable. */
  private def manifest(id: Long): Option[SnapshotManifest.Manifest] =
    try SnapshotManifest.read(snapDir.getFileSystem(conf.value), snapDir, id)
    catch { case _: java.io.IOException => None }

  /** Only epochs whose manifest carries the completeness terminator are
    * offset-addressable: publishSnapshot makes the file LISTER-VISIBLE
    * before the body is durable, and committing an offset into a
    * half-written epoch would permanently skip the rows its body had
    * not yet named. An in-flight publish simply waits for the next
    * trigger. Completeness is cached per id — a complete manifest is
    * immutable.
    */
  private val completeIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def isCompleteEpoch(id: Long): Boolean = {
    if (completeIds.contains(id)) return true
    val ok = manifest(id).exists(_.complete)
    if (ok) completeIds.add(id)
    ok
  }

  private def epochIds(): Seq[Long] =
    try SnapshotManifest.ids(snapDir.getFileSystem(conf.value), snapDir)
    catch { case _: java.io.IOException => Seq.empty }

  private def newestComplete(): Long =
    epochIds().reverseIterator.find(isCompleteEpoch).getOrElse(0L)

  /** One epoch's complete manifest. A missing manifest refuses by name
    * (retention outran the checkpoint); a torn one refuses as
    * in-flight — the offsets only ever ADDRESS complete epochs, so
    * hitting either on a committed id is an external mutation of the
    * log.
    */
  private def readEpoch(id: Long): SnapshotManifest.Manifest = {
    val m = manifest(id).getOrElse(
      throw new IllegalStateException(
        s"[GRAFT] table tail of $path cannot resume: epoch v$id was " +
          "expired (retention outran the stream checkpoint) - re-seed " +
          "the consumer from a full read + a fresh checkpoint, and keep " +
          "expire_snapshots' keep_last above the consumer lag"))
    if (!m.complete)
      throw new IllegalStateException(
        s"[GRAFT] table tail of $path: epoch v$id's manifest carries no " +
          "completeness terminator (in-flight or torn publish) - it is " +
          "not consumable; if the publisher crashed, republish")
    m
  }

  override def initialOffset(): Offset = GraftEpochOffset(0L)

  override def deserializeOffset(json: String): Offset = {
    val m = """\{"epoch":(\d+)\}""".r
    json.trim match {
      case m(n) => GraftEpochOffset(n.toLong)
      case other => throw new IllegalArgumentException(
        s"[GRAFT] bad graft table-tail offset: $other")
    }
  }

  /** Trigger.AvailableNow contract: pin the target epoch ONCE at
    * prepare, so the run drains exactly the epochs published before
    * the trigger and stops (a publish landing mid-run waits for the
    * next trigger — the same pin-at-start rule every snapshot surface
    * follows).
    */
  private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(newestComplete())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()

  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(): Offset =
    GraftEpochOffset(availableNowTarget.getOrElse(newestComplete()))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftEpochOffset].epoch
    val until = end.asInstanceOf[GraftEpochOffset].epoch
    if (until <= from) return Array.empty
    // every epoch in the range must be mask-free: a mutation's row
    // deltas are invisible to a file diff (the A30 changesBetween
    // rule, stream-shaped)
    val ids = epochIds().filter(id => id > from && id <= until)
    val endEpoch = readEpoch(until)
    val endFiles = endEpoch.paths
    val rangeMasked = endEpoch.recordsSidecars ||
      ids.exists(id => id != until && readEpoch(id).recordsSidecars)
    if (rangeMasked)
      throw new IllegalStateException(
        s"[GRAFT] table tail of $path refused at epochs ($from, $until]: " +
          "the range records mutation-sidecar state, whose row deltas a " +
          "file-diff stream cannot see - consume " +
          "GraftMor.publishMorFeed (the mutation-aware change feed), or " +
          "fold with morCompact and republish")
    val startFiles: Set[String] =
      if (from <= 0L) Set.empty else readEpoch(from).paths.toSet
    val removed = startFiles -- endFiles.toSet
    if (removed.nonEmpty)
      throw new IllegalStateException(
        s"[GRAFT] table tail of $path refused at epochs ($from, $until]: " +
          s"${removed.size} file(s) the start epoch names are gone from " +
          s"the end epoch (e.g. ${removed.head}) - a COW rewrite/restore " +
          "landed, so the epoch diff is not an append stream; re-seed " +
          "the consumer from a full read")
    val fresh = endFiles.filterNot(startFiles).sorted
    // the end manifest's recorded #rg stats serve split planning with
    // zero footer opens; unrecorded files take the parallel pool
    val recorded = GraftPlanStats.forTable(path, conf.value,
      c => tableSchema.fields.find(_.name == c).map(_.dataType))
    val footers = GraftPlanStats.mapParallel(
      fresh.filterNot(recorded.contains)) { f =>
        f -> GraftV2.withReader(f, conf.value)(
          _.getFooter.getBlocks.asScala.map(b =>
            new GraftPlanStats.FooterRg(b): GraftPlanStats.Rg).toIndexedSeq)
      }.toMap
    fresh.flatMap { f =>
      val partValues = GraftV2.partitionValues(path, f, partSchema)
      val rgs: IndexedSeq[GraftPlanStats.Rg] =
        recorded.getOrElse(f, footers(f))
      val starts = rgs.scanLeft(0L)(_ + _.rowCount)
      rgs.zipWithIndex.map { case (b, i) =>
        GraftInputPartition(f, i, Array.empty, partValues, starts(i),
          Array.empty, 0L, rgOffset = b.offset,
          rgLength = b.length): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(required, conf,
      sqlKeys = GraftColumnarReader.sessionSqlKeys(),
      columnar = false)

  override def commit(end: Offset): Unit = () // manifests are durable

  override def stop(): Unit = ()
}

/** The epoch-id offset: last published snapshot consumed. */
case class GraftEpochOffset(epoch: Long) extends Offset {
  override def json(): String = s"""{"epoch":$epoch}"""
}
