package graft.sources.v2

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** G29: STREAMING CDC — a DSv2 micro-batch source over the A49
  * merge-on-read change feed, closing the r13 gap "a mutating table
  * cannot be subscribed to at all" (G27/G28 both refuse MOR sidecars
  * by name; this source consumes the feed the MUTATIONS themselves
  * publish):
  *
  *   GraftMor.publishMorFeed(s, table, feedRoot)   // the producer
  *   spark.readStream.format("graft-feed")
  *     .option("rowsPerBatch", "500").load(feedRoot)
  *
  * Rows are the feed's I/D row images (`change_type` column) — the
  * signed-delta envelope A50's batch consumer folds — so any sink can
  * maintain a live rollup of a mutating table at churn cost, the
  * Delta-CDF-streaming shape.
  *
  * Coordinates: the offset is `{"seq":N,"row":R}` — segments below N
  * fully emitted, R rows emitted within segment N (row order = the
  * G27/G28 discipline: name-sorted files, row groups, rows). The
  * LISTING ANCHOR is the publisher's COMMITTED tip (A50's rule): only
  * segments at or below the swapped-in `state/_published` marker are
  * ever indexed, so a publisher crashed or racing mid-segment-write
  * can never be half-consumed — a committed segment is immutable by
  * the publisher's crash contract (replays overwrite only UNCOMMITTED
  * sequences). The per-segment file index (lengths + row-group row
  * counts) persists in the stream CHECKPOINT with the staged-swap
  * discipline, so a restart resumes mid-segment with zero footer
  * re-reads and offsets mean the same rows forever.
  *
  * Refusals BY NAME: no committed publish under the root; a committed
  * sequence regressing below the indexed tip (feed root reset —
  * downstream must resync, exactly publishMorFeed's own rule); an
  * indexed segment file vanishing or changing length.
  *
  * Reference anchor: the reference's snapshot-transaction view
  * (ArgodbMapreduceInputFormat.java:257-279) is of EVOLVING table
  * state; this is its streaming completion.
  */
class GraftFeedProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-feed"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = GraftV2.pathOf(options)
    val conf = GraftV2.sessionConf().value
    val tip = GraftFeedStream.committedTip(root, conf)
    require(tip >= 0L,
      s"[GRAFT] $root holds no committed change-feed publish - run " +
        "GraftMor.publishMorFeed first")
    val seg0 = GraftV2.dataFiles(s"$root/segments/seq=0", conf)
    require(seg0.nonEmpty,
      s"[GRAFT] $root has a committed tip but no seq=0 segment files")
    GraftV2.readSchema(seg0.head, conf)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = properties.get("path")
    val rowsPerBatch = Option(properties.get("rowsPerBatch"))
      .orElse(Option(properties.get("rowsperbatch")))
      .map(_.toLong).getOrElse(1000L)
    require(rowsPerBatch > 0, s"[GRAFT] rowsPerBatch must be positive")
    GraftFeedTable(root, schema, rowsPerBatch)
  }
}

case class GraftFeedTable(root: String, tableSchema: StructType,
    rowsPerBatch: Long) extends Table with SupportsRead {
  override def name(): String = s"graft-feed:$root"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String =
          s"graft-feed stream over $root, rowsPerBatch=$rowsPerBatch"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftFeedStream(root, tableSchema, rowsPerBatch,
            checkpointLocation)
      }
    }
}

/** (segment sequence, rows emitted within it) — normalized so `row`
  * is always strictly inside the segment except at the very tip.
  */
case class GraftFeedOffset(seq: Long, row: Long) extends Offset {
  override def json(): String = s"""{"seq":$seq,"row":$row}"""
}

object GraftFeedStream {
  /** The publisher's committed tip sequence (-1 when never published):
    * the swapped-in state marker, NEVER the segment listing — a
    * mid-write `seq=` dir must not be consumable.
    */
  private[v2] def committedTip(root: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val marker = new Path(s"$root/state/_published")
    val fs = marker.getFileSystem(conf)
    // adopt a crashed publisher swap exactly as publishMorFeed does
    val staged = new Path(s"$root/state.staging/_published")
    if (!fs.exists(marker) && fs.exists(staged) &&
        !fs.rename(staged.getParent, marker.getParent))
      throw new IllegalStateException(
        s"[GRAFT] graft-feed publisher crash-recovery swap failed at $root")
    if (!fs.exists(marker)) return -1L
    val in = fs.open(marker)
    try in.readLong() finally in.close()
  }
}

class GraftFeedStream(root: String, schema: StructType,
    rowsPerBatch: Long, checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val conf: GraftV2.SessionConf = GraftV2.sessionConf()
  private def ckFs =
    new Path(checkpointLocation).getFileSystem(conf.value)

  /** One indexed segment: its sequence, name-sorted files with their
    * immutable lengths and per-row-group row counts.
    */
  private case class Seg(seq: Long,
      files: Seq[(String, Long, Seq[Long])]) {
    def rows: Long = files.map(_._3.sum).sum
  }

  private case class Slice(file: String, rowGroup: Int, segRowStart: Long,
      fileStart: Long, rows: Long)

  // index state: committed segments in sequence order + per-segment
  // plan slices (segment-local row coordinates)
  private var segs: Vector[Seg] = Vector.empty

  /** Highest segment sequence FOLDED out of the index at commit():
    * everything at/below it is durably consumed, never replanned, and
    * droppable by the publisher — the manifest and the per-trigger
    * rewrite stay bounded by the UNCONSUMED backlog, not the feed's
    * lifetime (the same G28 discipline, in the feed's seq coordinate).
    */
  private var foldedUpTo: Long = -1L

  /** The newest FOLDED segment's (file, length) list — the reset
    * sentinel that survives a full fold: with zero live segments left,
    * a feed-root reset whose new tip reaches the indexed sequence
    * would otherwise be undetectable. A sentinel dir that is ABSENT is
    * legitimate retirement (folded segments may be physically
    * dropped); one PRESENT with different files is a reset.
    */
  private var foldedSentinel: Seq[(String, Long)] = Seq.empty
  private var slices: Map[Long, IndexedSeq[Slice]] = Map.empty

  private val manifestLive =
    new Path(s"$checkpointLocation/graft-feed-segments/index")

  private def loadManifest(): Unit = {
    val f = ckFs
    val staging = new Path(manifestLive.toString + ".staging")
    if (!f.exists(manifestLive) && f.exists(staging) &&
        !f.rename(staging, manifestLive))
      throw new IllegalStateException(
        "[GRAFT] graft-feed manifest crash-recovery swap failed at " +
          manifestLive)
    val body = graft.sources.GraftIO.readText(f, manifestLive).getOrElse(return)
    val lines = body.split("\n").filter(_.nonEmpty).toVector
    lines.headOption.filter(_.startsWith("#base\t")).foreach { l =>
      val parts = l.split("\t")
      foldedUpTo = parts(1).toLong
      foldedSentinel = parts.drop(2).grouped(2)
        .collect { case Array(f, len) => (f, len.toLong) }.toSeq
    }
    segs = lines.filterNot(_.startsWith("#"))
      .map { line =>
        val parts = line.split("\t")
        val seq = parts(0).toLong
        val files = parts.drop(1).grouped(3).map { g =>
          (g(0), g(1).toLong, g(2).split(",").filter(_.nonEmpty)
            .map(_.toLong).toSeq)
        }.toSeq
        Seg(seq, files)
      }
    rebuildSlices()
  }

  private def saveManifest(): Unit = {
    val f = ckFs
    val staging = new Path(manifestLive.toString + ".staging")
    f.mkdirs(manifestLive.getParent)
    val baseLine =
      if (foldedUpTo < 0L) Seq.empty
      else Seq((s"#base\t$foldedUpTo" +:
        foldedSentinel.flatMap { case (f, l) => Seq(f, l.toString) })
        .mkString("\t"))
    graft.sources.GraftIO.writeText(f, staging, (baseLine ++ segs.map { s =>
        (s.seq.toString +: s.files.flatMap { case (n, l, rg) =>
          Seq(n, l.toString, rg.mkString(",")) }).mkString("\t")
      }).mkString("\n"), overwrite = true)
    f.delete(manifestLive, false)
    if (!f.rename(staging, manifestLive))
      throw new IllegalStateException(
        s"[GRAFT] graft-feed manifest swap failed at $manifestLive")
  }

  private def rebuildSlices(): Unit =
    slices = segs.map { s =>
      val out = IndexedSeq.newBuilder[Slice]
      var segRow = 0L
      s.files.foreach { case (file, _, rgRows) =>
        var fileStart = 0L
        rgRows.zipWithIndex.foreach { case (rows, i) =>
          out += Slice(file, i, segRow, fileStart, rows)
          segRow += rows
          fileStart += rows
        }
      }
      s.seq -> out.result()
    }.toMap

  loadManifest()

  /** One marker read per trigger (the broker-metadata poll): index
    * every newly COMMITTED segment — one listing + one footer read per
    * new file, never a rescan — and persist the extended index.
    */
  private def poll(): Unit = synchronized {
    val tip = GraftFeedStream.committedTip(root, conf.value)
    val indexed = segs.lastOption.map(_.seq).getOrElse(foldedUpTo)
    if (tip < indexed)
      throw new IllegalStateException(
        s"[GRAFT] graft-feed at $root: the committed tip ($tip) regressed " +
          s"below the indexed sequence ($indexed) - the feed root was " +
          "reset; downstream must resync from a fresh snapshot under a " +
          "new feed root (publishMorFeed's own resync rule)")
    // SENTINEL: the newest indexed segment must still be exactly what
    // the index recorded — a feed root reset whose new tip happens to
    // reach the indexed sequence would otherwise serve stale file
    // paths (raw FileNotFound at best, silently wrong slices if names
    // recur). One listing per trigger; committed segments are
    // immutable by the publisher's crash contract, so ANY drift is a
    // reset. With zero live segments (everything folded) the base's
    // recorded sentinel carries the check; an ABSENT dir is legitimate
    // retirement of folded history — for a LIVE (unconsumed) segment
    // it is data loss and refuses the same way.
    val sentinel: Option[(Long, Seq[(String, Long)], Boolean)] =
      segs.lastOption
        .map(s => (s.seq, s.files.map { case (f, l, _) => (f, l) }, false))
        .orElse(
          // keep the sentinel even when the newest folded segment
          // recorded ZERO files: a committed empty segment is a valid
          // index entry, and a reset whose new tip reaches the indexed
          // sequence would otherwise go undetected in exactly this
          // case — an existing seq dir must then list zero data files
          // (non-empty on-disk vs empty recorded is drift/reset); only
          // an ABSENT dir is legitimate retirement.
          if (foldedUpTo >= 0L) Some((foldedUpTo, foldedSentinel, true))
          else None)
    sentinel.foreach { case (seq, recorded, foldedOnly) =>
      val dir = s"$root/segments/seq=$seq"
      val exists = new Path(dir).getFileSystem(conf.value)
        .exists(new Path(dir))
      if (!(foldedOnly && !exists)) {
        val onDisk =
          if (exists) GraftV2.dataFileSizes(dir, conf.value)
          else Seq.empty
        if (onDisk.map { case (f, l) => (f, l) } != recorded)
          throw new IllegalStateException(
            s"[GRAFT] graft-feed at $root: indexed segment seq=$seq " +
              "no longer matches the published files (the feed root was " +
              "reset or a committed segment changed) - downstream must " +
              "resync from a fresh snapshot under a new feed root")
      }
    }
    if (tip == indexed) return
    val fresh = ((indexed + 1L) to tip).map { seq =>
      val dir = s"$root/segments/seq=$seq"
      val files = GraftV2.dataFileSizes(dir, conf.value).map { case (f, len) =>
        val rgRows = GraftV2.withReader(f, conf.value)(
          _.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq)
        (f, len, rgRows)
      }
      Seg(seq, files) // a committed empty segment indexes as zero rows
    }
    segs = segs ++ fresh
    rebuildSlices()
    saveManifest()
  }

  private def segRows(seq: Long): Long =
    segs.find(_.seq == seq).map(_.rows).getOrElse(0L)

  /** Canonical form: roll full segments forward so `row` is inside its
    * segment (or the offset sits one past the indexed tip).
    */
  private def normalize(seq: Long, row: Long): GraftFeedOffset = {
    var s = seq
    var r = row
    while (segs.exists(_.seq == s) && r >= segRows(s) &&
        segs.exists(_.seq == s + 1)) {
      r -= segRows(s)
      s += 1L
    }
    if (segs.exists(_.seq == s) && r >= segRows(s) && segRows(s) > 0L) {
      // tip segment fully consumed: park one past it
      r -= segRows(s)
      s += 1L
    }
    GraftFeedOffset(s, r)
  }

  private def asOffset(o: Offset): GraftFeedOffset = o match {
    case f: GraftFeedOffset => f
    case other => deserializeOffset(other.json())
  }

  override def initialOffset(): Offset = GraftFeedOffset(0L, 0L)

  override def deserializeOffset(json: String): GraftFeedOffset = {
    val m = """\{"seq":(\d+),"row":(\d+)\}""".r
    json.trim match {
      case m(s, r) => GraftFeedOffset(s.toLong, r.toLong)
      case other => throw new IllegalArgumentException(
        s"[GRAFT] bad graft-feed offset: $other")
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    poll()
    val s0 = asOffset(start)
    var cur = normalize(s0.seq, s0.row)
    var budget = rowsPerBatch
    while (budget > 0L && segs.exists(_.seq == cur.seq) &&
        cur.row < segRows(cur.seq)) {
      val take = math.min(budget, segRows(cur.seq) - cur.row)
      budget -= take
      cur = normalize(cur.seq, cur.row + take)
    }
    cur
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "[GRAFT] graft-feed implements SupportsAdmissionControl: Spark " +
        "calls latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = {
    poll()
    // after a full fold the live list is empty but the high-water
    // sequence is not zero — reporting (0,0) would show the latest
    // offset regressing below the committed one (negative backlog)
    segs.lastOption.map(s => GraftFeedOffset(s.seq + 1L, 0L))
      .getOrElse(GraftFeedOffset(math.max(foldedUpTo + 1L, 0L), 0L))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = asOffset(start)
    val until = asOffset(end)
    // a crashed batch replanned on a fresh stream may address segments
    // the in-memory index has not polled yet
    if (!segs.exists(_.seq >= until.seq) && until.row > 0L) poll()
    segs.iterator.flatMap { seg =>
      // this segment's consumed window in segment-local rows
      val lo =
        if (seg.seq < from.seq) seg.rows
        else if (seg.seq == from.seq) from.row
        else 0L
      val hi =
        if (seg.seq < until.seq) seg.rows
        else if (seg.seq == until.seq) until.row
        else 0L
      if (lo >= hi) Iterator.empty
      else slices(seg.seq).iterator.flatMap { sl =>
        val a = math.max(lo, sl.segRowStart)
        val b = math.min(hi, sl.segRowStart + sl.rows)
        if (a >= b) None
        else Some(GraftReplayPartition(sl.file, sl.rowGroup, Map.empty,
          sl.fileStart,
          sl.fileStart + (a - sl.segRowStart),
          sl.fileStart + (b - sl.segRowStart)): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReplayReaderFactory(schema, conf)

  /** Batch `end` durably committed: FOLD every indexed segment wholly
    * below it out of the index (Spark never replans below a committed
    * end), recording only the high-water sequence — the manifest write
    * and the planning walk stay bounded by the unconsumed backlog, and
    * the publisher may physically retire folded segments (they are no
    * longer addressed by anything).
    */
  override def commit(end: Offset): Unit = synchronized {
    val e = asOffset(end)
    // offsets are normalized (a fully-consumed segment parks the
    // offset one PAST it), so `seq < e.seq` is exactly "wholly below"
    val keep = segs.filter(_.seq >= e.seq)
    val dropped = segs.filter(_.seq < e.seq)
    if (dropped.nonEmpty) {
      val newest = dropped.maxBy(_.seq)
      foldedUpTo = newest.seq
      foldedSentinel = newest.files.map { case (f, l, _) => (f, l) }
      segs = keep
      rebuildSlices()
      saveManifest()
    }
  }

  override def stop(): Unit = ()
}
