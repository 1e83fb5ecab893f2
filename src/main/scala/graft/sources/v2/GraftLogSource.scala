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

/** G28: a KAFKA-SHAPED DSv2 micro-batch source — true (partition,
  * offset) coordinates over a partitioned, append-only log directory:
  *
  *   <log>/partition=0/seg-00000.parquet
  *   <log>/partition=1/seg-00000.parquet      (segments sort by name)
  *
  *   spark.readStream.format("graft-log")
  *     .option("rowsPerBatch", "500").load("/data/ingest_log")
  *
  * The G27 replay source generalized from one table-global row order
  * to PER-PARTITION row orders with INDEPENDENT offsets — the
  * coordinate system brokers speak: the offset is the count of rows
  * emitted from that partition, checkpointed per partition
  * (`{"0":1234,"1":987}`), so a restart resumes every partition
  * exactly where it stopped and the engine's batch-id-keyed
  * exactly-once sinks (G8/G13/G25) run unchanged on top.
  *
  * Unlike G27, the log may GROW while the stream runs: each trigger
  * re-lists the partition dirs (one listing per partition — the
  * broker-metadata poll analog) and EXTENDS the per-partition
  * segment index with newly-landed segments; planning cost per poll
  * is one footer read per NEW segment, never a rescan of consumed
  * ones. The index (segment name, length, per-row-group row counts)
  * persists in the stream CHECKPOINT — the durable anchor that makes
  * offsets mean the same rows across restarts, the broker
  * segment-index discipline — committed with the engine's staged
  * swap (checked renames, crash adoption on load), and a restart
  * re-reads zero footers.
  *
  * Contract, enforced BY NAME against the durable index: a listed
  * segment is immutable (length drift refuses), and new segment
  * names must sort AFTER every indexed one in their partition
  * (writers name segments monotonically). A violation would renumber
  * already-committed offsets, so it refuses loudly instead of
  * silently re-serving or skipping rows. Partitions are discovered
  * at stream construction (topic discovery); a partition present in
  * the durable index but missing on disk refuses by name; MOR
  * sidecars refuse by name as in G27.
  *
  * Reference anchor: the reference enumerates per-section rowset
  * groups in a fixed order (ArgodbMapreduceInputFormat.java:104-199);
  * this is that enumeration per log partition, with the row count as
  * a durable cursor.
  */
class GraftLogProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-log"

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
    GraftV2.refuseEqSidecar(path, conf, "the graft-log stream")
    if (GraftV2.sidecarParquet(path, graft.sources.GraftMor.DvDir, conf).nonEmpty)
      throw new IllegalStateException(
        s"[GRAFT] $path has unmerged position tombstones (_dv/): log " +
          "offsets over masked rows would renumber under compaction - " +
          "fold with GraftMor.morCompact before streaming")
    GraftLogTable(path, schema,
      GraftV2.partitionSchema(path, GraftV2.dataFiles(path, conf)),
      rowsPerBatch)
  }
}

case class GraftLogTable(path: String, tableSchema: StructType,
    partSchema: StructType, rowsPerBatch: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft-log:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String =
          s"graft-log stream over $path, rowsPerBatch=$rowsPerBatch"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftLogStream(path, tableSchema, partSchema, rowsPerBatch,
            checkpointLocation)
      }
    }
}

/** Per-partition emitted-row counts — the broker coordinate map. */
case class GraftLogOffset(rows: Map[Int, Long]) extends Offset {
  override def json(): String =
    rows.toSeq.sortBy(_._1)
      .map { case (p, n) => s""""$p":$n""" }.mkString("{", ",", "}")
}

/** The durable per-partition segment index shared by the stream and
  * the retention API: a `#base` line folding consumed history to O(1)
  * plus one line per LIVE segment. Manifest IO resolves through the
  * CHECKPOINT location's own FileSystem (r13 ADVICE: a file:// log
  * with an hdfs:// checkpoint must not route manifest reads through
  * the data path's scheme).
  */
private[graft] object GraftLogIndex {

  /** One indexed segment: name-relative file, its immutable length,
    * and its per-row-group row counts (so a restart plans replayed
    * windows with ZERO footer reads).
    */
  case class Seg(name: String, length: Long, rgRows: Seq[Long])

  /** Folded history: `count` segments totaling `rows` rows, named
    * `firstName`..`lastName` — offsets below `rows` are COMMITTED
    * (the fold happens at commit()), so the folded segments never
    * need re-planning and retention may physically drop them. The
    * range endpoints let the poll keep its monotonicity refusal at
    * O(1): a listed name BELOW `firstName` was never indexed and
    * would renumber offsets (refuse); one inside the range is folded
    * history — still on disk or retired, either way skipped.
    */
  case class Base(count: Long, rows: Long, firstName: String,
      lastName: String)
  val EmptyBase: Base = Base(0L, 0L, "", "")

  def manifestPath(checkpointLocation: String, p: Int): Path =
    new Path(s"$checkpointLocation/graft-log-segments/partition=$p")

  def load(f: org.apache.hadoop.fs.FileSystem,
      live: Path): (Base, Vector[Seg]) = {
    val staging = new Path(live.toString + ".staging")
    // crash adoption: a completed staging with no live file is the
    // committed state (the engine's staged-swap idiom)
    if (!f.exists(live) && f.exists(staging) && !f.rename(staging, live))
      throw new IllegalStateException(
        s"[GRAFT] graft-log manifest crash-recovery swap failed at $live")
    val body = graft.sources.GraftIO.readText(f, live)
      .getOrElse(return (EmptyBase, Vector.empty))
    val lines = body.split("\n").filter(_.nonEmpty).toSeq
    val base = lines.headOption.filter(_.startsWith("#base\t")).map { l =>
      val Array(_, c, r, fn, ln) = l.split("\t", 5)
      Base(c.toLong, r.toLong, fn, ln)
    }.getOrElse(EmptyBase)
    val segs = lines.filterNot(_.startsWith("#")).map { line =>
      val Array(name, len, rgs) = line.split("\t", 3)
      Seg(name, len.toLong,
        rgs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
    }.toVector
    (base, segs)
  }

  def save(f: org.apache.hadoop.fs.FileSystem, live: Path,
      base: Base, segs: Vector[Seg]): Unit = {
    val staging = new Path(live.toString + ".staging")
    f.mkdirs(live.getParent)
    val baseLine =
      if (base.count == 0L) Seq.empty
      else Seq(s"#base\t${base.count}\t${base.rows}\t${base.firstName}\t" +
        base.lastName)
    graft.sources.GraftIO.writeText(f, staging, (baseLine ++ segs.map(s =>
        s"${s.name}\t${s.length}\t${s.rgRows.mkString(",")}"))
      .mkString("\n"), overwrite = true)
    f.delete(live, false)
    if (!f.rename(staging, live))
      throw new IllegalStateException(
        s"[GRAFT] graft-log manifest swap failed at $live")
  }
}

/** G28 retention: physically drop log segments the stream's durable
  * index has FOLDED (committed consumption is past them) — the
  * broker's log-retention contract. Dropping anything the index still
  * serves refuses BY NAME: committed offsets over live segments would
  * silently lose rows.
  */
object GraftLogRetention {

  /** Delete `partition`'s segments named at or before `upToName`.
    * Refuses unless the fold point (`#base` lastName) is at/past
    * `upToName`. Returns the deleted paths.
    */
  def retire(s: org.apache.spark.sql.SparkSession, logPath: String,
      checkpointLocation: String, partition: Int,
      upToName: String): Seq[String] = {
    val conf = s.sessionState.newHadoopConf()
    val live = GraftLogIndex.manifestPath(checkpointLocation, partition)
    val ckFs = live.getFileSystem(conf)
    val (base, _) = GraftLogIndex.load(ckFs, live)
    if (base.count == 0L || base.lastName < upToName)
      throw new IllegalStateException(
        s"[GRAFT] graft-log retention refused for partition $partition: " +
          s"segments up to '$upToName' are not yet folded past the " +
          s"committed watermark (fold point: " +
          s"${if (base.count == 0L) "<none>" else base.lastName}) - " +
          "dropping them would lose rows committed offsets still address")
    val dir = new Path(s"$logPath/partition=$partition")
    val dataFs = dir.getFileSystem(conf)
    if (!dataFs.exists(dir)) return Seq.empty
    val deleted = dataFs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".") &&
        p.getName <= upToName)
      .map { p =>
        if (!dataFs.delete(p, false))
          throw new IllegalStateException(
            s"[GRAFT] graft-log retention failed to delete $p")
        p.toString
      }
    // retire the folded-name markers with their segments (the marker
    // dir stays bounded by the UNRETIRED fold window; a name reused
    // after retirement then refuses as never-indexed — loud, correct)
    val fdir = new Path(live.toString + ".folded")
    if (ckFs.exists(fdir))
      ckFs.listStatus(fdir).map(_.getPath)
        .filter(_.getName <= upToName)
        .foreach(m => ckFs.delete(m, false))
    deleted
  }
}

class GraftLogStream(path: String, schema: StructType,
    partSchema: StructType, rowsPerBatch: Long,
    checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val conf: GraftV2.SessionConf = GraftV2.sessionConf()
  private def fs = new Path(path).getFileSystem(conf.value)
  // manifests live under the CHECKPOINT, whose filesystem may differ
  // from the log's (r13 ADVICE fix)
  private def ckFs =
    new Path(checkpointLocation).getFileSystem(conf.value)

  import GraftLogIndex.{Base, Seg}

  private case class Slice(file: String, rowGroup: Int,
      globalStart: Long, fileStart: Long, rows: Long,
      partValues: Map[String, Any])

  private case class PartState(var base: Base, var segs: Vector[Seg],
      var slices: IndexedSeq[Slice], var total: Long,
      var folded: Set[String])

  /** Per-folded-segment marker files (empty, named by the segment,
    * under the checkpoint): the folded NAME SET the `#base` line
    * deliberately drops, at O(1) write per fold and one listing per
    * restart — what lets the poll keep REFUSING a straggler segment
    * whose name sorts inside committed history (pre-fold, the full
    * indexed prefix caught it; the count/range alone cannot once
    * retention starts deleting).
    */
  private def foldedDir(p: Int) = new Path(manifestPath(p).toString + ".folded")

  private def loadFolded(p: Int): Set[String] = {
    val d = foldedDir(p)
    if (!ckFs.exists(d)) Set.empty
    else ckFs.listStatus(d).map(_.getPath.getName).toSet
  }

  private def manifestPath(p: Int) =
    GraftLogIndex.manifestPath(checkpointLocation, p)

  private def loadManifest(p: Int): (Base, Vector[Seg]) =
    GraftLogIndex.load(ckFs, manifestPath(p))

  private def saveManifest(p: Int, base: Base, segs: Vector[Seg]): Unit =
    GraftLogIndex.save(ckFs, manifestPath(p), base, segs)

  /** Discovered log partitions: `partition=<n>` dirs plus any the
    * durable index already tracks — a tracked partition whose dir
    * vanished refuses by name (its committed offsets would silently
    * drop), fixed for the stream's lifetime (topic discovery).
    */
  private val partitionIds: Seq[Int] = {
    val f = fs
    val root = new Path(path)
    require(f.exists(root), s"[GRAFT] no log directory at $path")
    val onDisk = f.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("partition="))
      .map(_.stripPrefix("partition=").toInt).toSet
    val idxDir = new Path(s"$checkpointLocation/graft-log-segments")
    val ckf = ckFs
    val tracked =
      if (!ckf.exists(idxDir)) Set.empty[Int]
      else ckf.listStatus(idxDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("partition="))
        .filterNot(n => n.endsWith(".staging") || n.endsWith(".folded"))
        .map(_.stripPrefix("partition=").toInt).toSet
    val gone = tracked -- onDisk
    if (gone.nonEmpty) throw new IllegalStateException(
      s"[GRAFT] graft-log partitions ${gone.toSeq.sorted.mkString(",")} " +
        s"have committed offsets but no partition= directory under $path " +
        "- a vanished partition would silently drop its committed rows")
    val ids = (onDisk ++ tracked).toSeq.sorted
    require(ids.nonEmpty,
      s"[GRAFT] $path holds no partition=N directories (the graft-log " +
        "layout); use graft-replay for unpartitioned tables")
    ids
  }

  /** Rebuild plan slices from the folded base + live segment list —
    * pure arithmetic, no IO. Global offsets start at the base's row
    * count, so folding never renumbers anything.
    */
  private def buildSlices(p: Int, base: Base,
      segs: Vector[Seg]): (IndexedSeq[Slice], Long) = {
    val out = IndexedSeq.newBuilder[Slice]
    var global = base.rows
    segs.foreach { seg =>
      val file = s"$path/partition=$p/${seg.name}"
      val partValues = GraftV2.partitionValues(path, file, partSchema)
      var fileStart = 0L
      seg.rgRows.zipWithIndex.foreach { case (rows, i) =>
        out += Slice(file, i, global, fileStart, rows, partValues)
        global += rows
        fileStart += rows
      }
    }
    (out.result(), global)
  }

  private val state: Map[Int, PartState] = partitionIds.map { p =>
    val (base, segs) = loadManifest(p)
    val (slices, total) = buildSlices(p, base, segs)
    p -> PartState(base, segs, slices, total, loadFolded(p))
  }.toMap

  /** One listing per partition: verify the indexed LIVE prefix is
    * intact (immutability + name-monotonicity, refused BY NAME against
    * the DURABLE index) and index newly-landed segments — one footer
    * read each, never a re-read — then persist the extended index.
    * Names at or before the fold point are folded history: still
    * present is fine, retired by [[GraftLogRetention]] is fine too —
    * either way they are skipped, never re-planned.
    */
  private def poll(): Unit = synchronized {
    partitionIds.foreach { p =>
      val st = state(p)
      val dir = s"$path/partition=$p"
      val listedAll = GraftV2.dataFileSizes(dir, conf.value) // name-sorted
      if (st.base.count > 0L) {
        // refresh the fold-marker set lazily, only when an in-range
        // name shows up (the common caught-up poll never pays the
        // listing): retire() deletes markers behind a running stream,
        // and a decision off the stale in-memory set would silently
        // skip a reused retired name instead of refusing it
        var fresh: Option[(Boolean, Set[String])] = None
        def markers(): (Boolean, Set[String]) = {
          if (fresh.isEmpty) {
            val exists = ckFs.exists(foldedDir(p))
            fresh = Some((exists, if (exists) loadFolded(p) else Set.empty))
            if (exists) st.folded = fresh.get._2
          }
          fresh.get
        }
        listedAll.foreach { case (f, _) =>
          val n = new Path(f).getName
          if (n < st.base.firstName) throw new IllegalStateException(
            s"[GRAFT] graft-log partition $p: segment $n sorts BEFORE every " +
              "indexed segment - segment names must be monotone, or " +
              "committed offsets would renumber")
          // a listed name INSIDE the folded range must be a segment the
          // fold actually recorded (still on disk, not yet retired) — a
          // straggler landing inside committed history is the same
          // monotonicity violation the pre-fold prefix check refused,
          // and skipping it silently would lose its rows. A checkpoint
          // folded BEFORE markers existed has no marker dir at all:
          // keep the pre-marker skip behavior for it (its folds were
          // legitimate; refusing would brick a healthy stream).
          if (n <= st.base.lastName) {
            val (dirExists, set) = markers()
            if (dirExists && !set.contains(n))
              throw new IllegalStateException(
                s"[GRAFT] graft-log partition $p: segment $n sorts INSIDE " +
                  "the folded committed range but was never indexed - " +
                  "segment names must be monotone, or committed offsets " +
                  "would renumber")
          }
        }
      }
      val listed = listedAll.filter { case (f, _) =>
        st.base.count == 0L || new Path(f).getName > st.base.lastName
      }
      val listedNames = listed.map { case (f, l) => (new Path(f).getName, l) }
      val known = st.segs
      if (listedNames.size < known.size ||
          listedNames.take(known.size).map(_._1) != known.map(_.name))
        throw new IllegalStateException(
          s"[GRAFT] graft-log partition $p: the segment listing no longer " +
            "extends the indexed prefix (a segment was removed, renamed, " +
            "or a new segment name sorts BEFORE an indexed one) - segment " +
            "names must be monotone and immutable, or committed offsets " +
            "would renumber")
      known.zip(listedNames.take(known.size)).foreach { case (k, (_, ll)) =>
        if (k.length != ll) throw new IllegalStateException(
          s"[GRAFT] graft-log partition $p: segment ${k.name} changed " +
            s"length (${k.length} -> $ll); segments are immutable by contract")
      }
      val fresh = listed.drop(known.size)
      if (fresh.nonEmpty) {
        val indexed = fresh.map { case (f, len) =>
          val rgRows = GraftV2.withReader(f, conf.value)(
            _.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq)
          Seg(new Path(f).getName, len, rgRows)
        }
        val segs = known ++ indexed
        val (slices, total) = buildSlices(p, st.base, segs)
        st.segs = segs
        st.slices = slices
        st.total = total
        saveManifest(p, st.base, segs)
      }
    }
  }

  private def asMap(o: Offset): Map[Int, Long] = o match {
    case GraftLogOffset(m) => m
    case other => throw new IllegalArgumentException(
      s"[GRAFT] unexpected offset type: $other")
  }

  override def initialOffset(): Offset =
    GraftLogOffset(partitionIds.map(_ -> 0L).toMap)

  override def deserializeOffset(json: String): Offset = {
    val entry = """"(\d+)"\s*:\s*(\d+)""".r
    val m = entry.findAllMatchIn(json.trim)
      .map(g => g.group(1).toInt -> g.group(2).toLong).toMap
    require(m.nonEmpty || json.trim == "{}",
      s"[GRAFT] bad graft-log offset: $json")
    GraftLogOffset(m)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: each trigger advances every lagging partition
    * by an even share of `rowsPerBatch` (at least one row) — the
    * maxOffsetsPerTrigger discipline.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    poll()
    val from = asMap(start)
    val lagging = partitionIds.filter(p =>
      state(p).total > from.getOrElse(p, 0L))
    val share =
      if (lagging.isEmpty) 0L
      else math.max(1L, rowsPerBatch / lagging.length)
    GraftLogOffset(partitionIds.map { p =>
      val s = from.getOrElse(p, 0L)
      p -> math.min(state(p).total, s + share)
    }.toMap)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "[GRAFT] graft-log implements SupportsAdmissionControl: Spark " +
        "calls latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = {
    poll()
    GraftLogOffset(partitionIds.map(p => p -> state(p).total).toMap)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = asMap(start)
    val until = asMap(end)
    // a crashed batch replanned on a fresh stream may address rows the
    // in-memory index has not polled yet (never ones the DURABLE index
    // missed — offsets only ever advance over indexed segments)
    if (partitionIds.exists(p => until.getOrElse(p, 0L) > state(p).total))
      poll()
    partitionIds.iterator.flatMap { p =>
      val lo0 = from.getOrElse(p, 0L)
      val hi0 = until.getOrElse(p, 0L)
      state(p).slices.iterator.flatMap { sl =>
        val lo = math.max(lo0, sl.globalStart)
        val hi = math.min(hi0, sl.globalStart + sl.rows)
        if (lo >= hi) None
        else Some(GraftReplayPartition(sl.file, sl.rowGroup, sl.partValues,
          sl.fileStart,
          sl.fileStart + (lo - sl.globalStart),
          sl.fileStart + (hi - sl.globalStart)): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReplayReaderFactory(schema, conf)

  /** Batch `end` is durably committed: FOLD every live segment that
    * lies entirely below the committed offset into the `#base` entry
    * (count + rows + last name — O(1) however many segments fold).
    * Offsets are PRESERVED (slices rebuild from base.rows), Spark
    * never replans below a committed end, and the per-trigger manifest
    * write is bounded by the UNCONSUMED backlog instead of growing
    * with the log's lifetime — the broker's index-compaction
    * discipline, and what makes [[GraftLogRetention]] safe.
    */
  override def commit(end: Offset): Unit = synchronized {
    val committed = asMap(end)
    partitionIds.foreach { p =>
      val st = state(p)
      val c = committed.getOrElse(p, 0L)
      var rows = st.base.rows
      var count = st.base.count
      var first = st.base.firstName
      var last = st.base.lastName
      var i = 0
      while (i < st.segs.size && rows + st.segs(i).rgRows.sum <= c) {
        rows += st.segs(i).rgRows.sum
        count += 1L
        if (first.isEmpty) first = st.segs(i).name
        last = st.segs(i).name
        i += 1
      }
      if (i > 0) {
        // record the folded NAMES (empty marker files) BEFORE the
        // manifest swap commits the fold: a crash in between leaves
        // markers for still-live segments, which the unchanged base
        // treats as out-of-range (harmless; the retried fold
        // recreates them)
        val d = foldedDir(p)
        if (!ckFs.exists(d) && st.base.count > 0L) {
          // first fold since the marker upgrade on a checkpoint that
          // already folded segments pre-marker: seed the dir with every
          // on-disk name inside the committed range. Those names were
          // accepted by every pre-marker poll (the dir-absent skip), so
          // they are provably legitimate folds — without seeding, the
          // moment this fold creates the dir they would sort inside
          // [base.firstName, base.lastName] with no marker and brick a
          // healthy stream with a false 'never indexed' refusal.
          ckFs.mkdirs(d)
          GraftV2.dataFileSizes(s"$path/partition=$p", conf.value)
            .foreach { case (f, _) =>
              val n = new Path(f).getName
              if (n <= st.base.lastName) {
                ckFs.create(new Path(d, n), true).close()
                st.folded += n
              }
            }
        }
        ckFs.mkdirs(d)
        st.segs.take(i).foreach { seg =>
          val out = ckFs.create(new Path(d, seg.name), true)
          out.close()
          st.folded += seg.name
        }
        st.base = Base(count, rows, first, last)
        st.segs = st.segs.drop(i)
        val (slices, total) = buildSlices(p, st.base, st.segs)
        st.slices = slices
        st.total = total
        saveManifest(p, st.base, st.segs)
      }
    }
  }

  override def stop(): Unit = ()
}
