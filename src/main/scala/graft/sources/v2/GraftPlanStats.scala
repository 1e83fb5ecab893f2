package graft.sources.v2

import java.util.Base64
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Manifest-recorded planning statistics: the metadata discipline that
  * lets scan planning of a PUBLISHED table open ZERO parquet footers.
  *
  * The reference plans all its splits from ONE table-distribution
  * metadata read (ArgodbMapreduceInputFormat.java:104-199: section
  * layout, rowset-group boundaries, locations — no data file opened at
  * plan time). The r15 engine instead walked every surviving file's
  * footer serially on the driver; at 100 TB file counts (10⁵-10⁶ files
  * on an object store, 10-50 ms per footer GET) that is
  * minutes-to-hours of driver time per query. The Iceberg-shaped fix:
  * `publishSnapshot` records each file's per-row-group stats — row
  * count, byte range, min/max/nullCount for the prunable columns — as
  * `#`-extension lines in the snapshot manifest (one read per epoch,
  * immutable thereafter because parquet files are immutable), and
  * `GraftScan` consumes the recorded stats for every covered file.
  * Files the newest manifest does not cover (appends since the last
  * publish, never-published tables) fall back to a bounded PARALLEL
  * footer pool instead of the serial walk.
  *
  * This object owns the manifest's stats section: one `#rgf` line per
  * file, then one `#rg` line per row group of that file. The whole
  * body's grammar is documented on [[graft.sources.SnapshotManifest]],
  * which reads and writes it. A row group's `colstats` is `;`-joined
  * `name=<bounds>:<nulls>` where bounds is `n:<min>:<max>` (numbers as
  * plain decimal strings — decimals PRE-SCALED, the chunkBounds
  * discipline), `s:<minB64>:<maxB64>` (raw binary stat bytes), or `-`
  * (no usable stats / unrecordable type); nulls is a count or `?`. Decoding reconstructs exactly the
  * JVM values [[GraftV2.chunkBounds]]/[[GraftV2.chunkNullCount]] would
  * produce from the footer, so pruning and the A67 column statistics
  * are bit-identical between the recorded and the fallback path.
  */
object GraftPlanStats {

  /** One row group's planning-time stats — the ONE surface row-group
    * pruning, the A67 stats pass and split construction consume, so
    * the recorded and the footer path cannot drift.
    */
  sealed trait Rg {
    def rowCount: Long
    /** Byte start of the row group (footer `getStartingPos`). */
    def offset: Long
    /** Compressed byte size (footer `getCompressedSize`). */
    def length: Long
    /** Scaled [min, max] of a column, None when unusable — the
      * [[GraftV2.chunkBounds]] contract.
      */
    def bounds(col: String): Option[(Any, Any)]
    /** Recorded null count, None when the writer omitted it — the
      * [[GraftV2.chunkNullCount]] contract.
      */
    def nullCount(col: String): Option[Long]
  }

  /** Footer-backed stats (the fallback path for unpublished files). */
  final class FooterRg(block: BlockMetaData) extends Rg {
    def rowCount: Long = block.getRowCount
    def offset: Long = block.getStartingPos
    def length: Long = block.getCompressedSize
    def bounds(col: String): Option[(Any, Any)] = GraftV2.chunkBounds(block, col)
    def nullCount(col: String): Option[Long] = GraftV2.chunkNullCount(block, col)
  }

  /** One parsed row group, typeOf-free (what the session cache holds —
    * binding a caller's schema closure into the cache would leak one
    * scan's types into another's attribute stats).
    */
  final case class RawRg(rowCount: Long, offset: Long, length: Long,
      cols: Map[String, ColRec])

  /** Manifest-backed stats: a RawRg viewed through the calling scan's
    * declared types (the decode table below).
    */
  final class ManifestRg(raw: RawRg,
      typeOf: String => Option[DataType]) extends Rg {
    def rowCount: Long = raw.rowCount
    def offset: Long = raw.offset
    def length: Long = raw.length
    def bounds(col: String): Option[(Any, Any)] =
      raw.cols.get(col).flatMap(_.decodeBounds(typeOf(col)))
    def nullCount(col: String): Option[Long] = raw.cols.get(col).flatMap(_.nulls)
  }

  /** One column's recorded stats: `kind` ∈ n/s/-, raw encoded min/max
    * (numbers as decimal strings, binary as base64), null count.
    */
  final case class ColRec(kind: Char, rawMin: String, rawMax: String,
      nulls: Option[Long]) {
    def decodeBounds(dt: Option[DataType]): Option[(Any, Any)] = kind match {
      case 'n' => dt match {
        // reconstruct the exact JVM type chunkBounds yields from the
        // footer, so the A67 attribute stats carry the same objects
        // either way (Spark's ColumnStat min/max are type-sensitive)
        case Some(IntegerType | DateType) =>
          Some((Integer.valueOf(rawMin), Integer.valueOf(rawMax)))
        case Some(LongType | TimestampType | TimestampNTZType) =>
          Some((java.lang.Long.valueOf(rawMin), java.lang.Long.valueOf(rawMax)))
        case Some(FloatType) =>
          Some((java.lang.Float.valueOf(rawMin), java.lang.Float.valueOf(rawMax)))
        case Some(DoubleType) =>
          Some((java.lang.Double.valueOf(rawMin), java.lang.Double.valueOf(rawMax)))
        case Some(_: DecimalType) =>
          Some((new java.math.BigDecimal(rawMin), new java.math.BigDecimal(rawMax)))
        // no declared type (a scan built without a table schema):
        // BigDecimal — cmpStat compares all numbers through BigDecimal,
        // so PRUNING stays exact; only the attribute-stat object type
        // needs the declared schema, and those scans don't report one
        case None =>
          Some((new java.math.BigDecimal(rawMin), new java.math.BigDecimal(rawMax)))
        case _ => None // declared type drifted from the recorded kind
      }
      case 's' =>
        val dec = Base64.getDecoder
        Some((org.apache.parquet.io.api.Binary.fromConstantByteArray(
            dec.decode(rawMin)),
          org.apache.parquet.io.api.Binary.fromConstantByteArray(
            dec.decode(rawMax))))
      case _ => None
    }

    def encode: String = {
      val n = nulls.map(_.toString).getOrElse("?")
      if (kind == '-') s"-:$n" else s"$kind:$rawMin:$rawMax:$n"
    }
  }

  /** Recorded stats of one file: listing length (diagnostic + the
    * block-locations span) and the per-row-group stats in file order.
    */
  final case class FileStats(len: Long, rgs: Array[RawRg]) {
    /** Back to the exact manifest lines — what lets a later publish
      * REUSE a prior epoch's recorded stats for unchanged (immutable)
      * files instead of re-opening their footers.
      */
    def reencode(path: String): Seq[String] =
      s"#rgf\t$len\t$path" +: rgs.toSeq.map { rg =>
        val colstats = rg.cols.toSeq.sortBy(_._1)
          .map { case (n, c) => s"$n=${c.encode}" }.mkString(";")
        s"#rg\t${rg.rowCount}\t${rg.offset}\t${rg.length}\t$colstats"
      }
  }

  /** Binary bounds longer than this are not recorded (conservative
    * fallback to "no stats" — a lost prune, never a wrong one); keeps
    * manifests bounded under long-string columns.
    */
  private val MaxBinaryStat = 256

  // ── encode (publish side) ───────────────────────────────────────────

  /** `#rgf`/`#rg` lines for the given files. Files the PRIOR epoch's
    * manifest already covers re-emit their recorded lines verbatim
    * (parquet immutability — publish cost is O(new files), not
    * O(table)); only uncovered files take the bounded parallel footer
    * pool (16 threads). Line order is deterministic (caller's file
    * order, each file's groups contiguous).
    */
  def statsLines(files: Seq[(String, Long)], conf: Configuration,
      prior: Map[String, FileStats] = Map.empty): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    val (covered, fresh) = files.partition(f => prior.contains(f._1))
    val freshLines: Map[String, Seq[String]] =
      mapParallel(fresh)(f =>
        f._1 -> encodeFile(f._1, f._2, GraftV2.withReader(f._1, conf)(
          _.getFooter.getBlocks.asScala.toArray))).toMap
    files.flatMap { case (p, _) =>
      prior.get(p).map(_.reencode(p)).getOrElse(freshLines(p))
    }
  }

  /** Bounded-pool parallel map preserving input order; first failure
    * propagates with its original cause.
    */
  def mapParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.sizeIs <= 1) return items.map(f)
    val threads = math.min(items.size, FooterThreads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = items.map(a => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      futs.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  /** Footer reads in flight at once: each is one small remote GET. */
  private val FooterThreads = 16

  /** One file's stats lines from its footer blocks. */
  def encodeFile(path: String, len: Long,
      blocks: Array[BlockMetaData]): Seq[String] = {
    val head = s"#rgf\t$len\t$path"
    head +: blocks.toSeq.map { b =>
      val colstats = b.getColumns.asScala.iterator
        .filter(c => recordableName(c.getPath.toDotString))
        .map { c =>
          val name = c.getPath.toDotString
          val nulls = GraftV2.chunkNullCount(b, name)
            .map(_.toString).getOrElse("?")
          s"$name=${encodeBounds(b, c)}:$nulls"
        }.mkString(";")
      s"#rg\t${b.getRowCount}\t${b.getStartingPos}\t${b.getCompressedSize}\t$colstats"
    }
  }

  /** Top-level primitive columns with grammar-safe names only; nested
    * leaves (dot paths) and names carrying separator bytes fall back
    * to the footer's None behavior (no bounds recorded → no prune,
    * exactly what the footer yields for them today).
    */
  private def recordableName(n: String): Boolean =
    n.nonEmpty && !n.exists(ch => ch == '.' || ch == ';' || ch == ':' ||
      ch == '=' || ch == '\t' || ch == '\n')

  private def encodeBounds(b: BlockMetaData,
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): String = {
    // INT96 stats are ordered by deprecated/undefined rules — chunk
    // bounds on them are never comparison-usable; record nothing
    if (c.getPrimitiveType.getPrimitiveTypeName == INT96) return "-"
    GraftV2.chunkBounds(b, c.getPath.toDotString) match {
      case None => "-"
      case Some((mn, mx)) => (mn, mx) match {
        case (x: org.apache.parquet.io.api.Binary,
              y: org.apache.parquet.io.api.Binary) =>
          val (xb, yb) = (x.getBytes, y.getBytes)
          if (xb.length > MaxBinaryStat || yb.length > MaxBinaryStat) "-"
          else {
            val enc = Base64.getEncoder
            s"s:${enc.encodeToString(xb)}:${enc.encodeToString(yb)}"
          }
        case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
          s"n:${x.toPlainString}:${y.toPlainString}"
        case (x: java.lang.Double, y: java.lang.Double)
            if x.isInfinite || x.isNaN || y.isInfinite || y.isNaN => "-"
        case (x: java.lang.Float, y: java.lang.Float)
            if x.isInfinite || x.isNaN || y.isInfinite || y.isNaN => "-"
        case (x: java.lang.Number, y: java.lang.Number) => s"n:$x:$y"
        case _ => "-" // boolean & anything cmpStat declines anyway
      }
    }
  }

  // ── decode (scan side) ──────────────────────────────────────────────

  /** Whether a manifest line belongs to the stats section. */
  def isStatsLine(l: String): Boolean =
    l.startsWith("#rgf\t") || l.startsWith("#rg\t")

  /** Parse a manifest body's stats lines into typeOf-free RawRgs. */
  def parseLines(lines: Seq[String]): Map[String, FileStats] = {
    val out = Map.newBuilder[String, FileStats]
    var curPath: String = null
    var curLen = 0L
    var curRgs = Vector.empty[RawRg]
    def flush(): Unit = if (curPath != null) {
      out += curPath -> FileStats(curLen, curRgs.toArray)
      curRgs = Vector.empty
    }
    lines.foreach {
      case l if l.startsWith("#rgf\t") =>
        flush()
        val Array(_, len, path) = l.split("\t", 3)
        curPath = path; curLen = len.toLong
      case l if l.startsWith("#rg\t") && curPath != null =>
        val parts = l.split("\t", 5)
        val cols = if (parts.length < 5 || parts(4).isEmpty) Map.empty[String, ColRec]
          else parts(4).split(';').iterator.flatMap(parseCol).toMap
        curRgs :+= RawRg(parts(1).toLong, parts(2).toLong,
          parts(3).toLong, cols)
      case _ => ()
    }
    flush()
    out.result()
  }

  private def parseCol(s: String): Option[(String, ColRec)] = {
    val eq = s.indexOf('=')
    if (eq <= 0) return None
    val name = s.substring(0, eq)
    val rest = s.substring(eq + 1)
    // shapes: `-:<nulls>` or `<kind>:<min>:<max>:<nulls>`
    if (rest.startsWith("-")) {
      val nulls = rest.drop(2) // past "-:"
      Some(name -> ColRec('-', "", "", parseNulls(nulls)))
    } else {
      val ps = rest.split(":", 4)
      if (ps.length != 4) None
      else Some(name -> ColRec(ps(0).headOption.getOrElse('-'), ps(1), ps(2),
        parseNulls(ps(3))))
    }
  }

  private def parseNulls(s: String): Option[Long] =
    if (s == "?" || s.isEmpty) None
    else try Some(s.toLong) catch { case _: NumberFormatException => None }

  // ── discovery + cache ───────────────────────────────────────────────

  /** `(snapshot dir, newest id)` cache of parsed stats — a COMPLETE
    * manifest is immutable, so the newest id IS the cache key; one
    * listing per lookup decides freshness. Only successful reads of
    * terminated bodies are cached (a torn/in-flight manifest or a
    * transient IO failure must not pin "no stats" for the session).
    * Bounded: a new entry past the cap evicts the map.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Map[String, FileStats]]()
  private val CacheCap = 64

  /** The newest COMPLETE published manifest's recorded stats for the
    * table at `tablePath`, raw (typeOf-free); empty when nothing was
    * published or the newest manifests are torn, in flight or
    * unreadable — every file then takes the parallel footer pool.
    * Stats are per-FILE and parquet files are immutable, so the newest
    * manifest serves any scan — including AS-OF reads of older epochs
    * — for exactly the files it covers.
    */
  def rawForTable(tablePath: String,
      conf: Configuration): Map[String, FileStats] = {
    val dir = graft.sources.SnapshotManifest.dirFor(tablePath)
    val (fs, ids) =
      try {
        val fs = dir.getFileSystem(conf)
        (fs, graft.sources.SnapshotManifest.ids(fs, dir))
      } catch { case _: java.io.IOException => return Map.empty }
    // newest COMPLETE manifest wins: a torn/in-flight newest (publish
    // racing this plan, or a crashed publisher) falls back to the
    // prior epoch's stats — per-file stats of immutable files are
    // valid from ANY epoch that recorded them
    // bounded descent (3): a log of exclusively terminator-less bodies
    // (pre-terminator manifests) must not re-read O(epochs) manifests
    // on every scan — past the bound, plan from footers
    ids.reverseIterator.take(3).foreach { id =>
      val key = (dir.toString, id)
      val hit = cache.get(key)
      if (hit != null) return hit
      val m =
        try graft.sources.SnapshotManifest.read(fs, dir, id)
        catch { case _: java.io.IOException => None }
      m match {
        case Some(m) if m.complete =>
          val parsed =
            try m.stats
            catch { case _: RuntimeException =>
              // a malformed stats section in a TERMINATED manifest is
              // a writer bug, but planning must stay correct: footers
              return Map.empty
            }
          if (cache.size >= CacheCap) cache.clear()
          cache.put(key, parsed)
          return parsed
        case _ => () // torn/in-flight/unreadable: try the next older
      }
    }
    Map.empty
  }

  /** [[rawForTable]] viewed through the calling scan's declared types. */
  def forTable(tablePath: String, conf: Configuration,
      typeOf: String => Option[DataType])
      : Map[String, IndexedSeq[Rg]] =
    rawForTable(tablePath, conf).map { case (p, fsStats) =>
      p -> (fsStats.rgs.toIndexedSeq.map(raw =>
        new ManifestRg(raw, typeOf): Rg))
    }
}
