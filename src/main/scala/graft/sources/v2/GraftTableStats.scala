package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ANALYZE TABLE + persisted column statistics — the catalog-level
  * stats store the footer-exact A67 path honestly cannot cover:
  * parquet footer string bounds may be writer-TRUNCATED and footers
  * carry no NDV at all, so CBO join estimation on STRING keys planned
  * blind. `analyze` runs ONE distributed aggregation pass over the
  * table's served state (through the engine's own masked read path,
  * so merge-on-read tombstones and GDPR erasures are excluded),
  * collecting per-column `approx_count_distinct` (the B52 HLL
  * machinery, map-side partials — the same pass cost every engine's
  * ANALYZE pays) and null counts, and persists one tiny marker under
  * `<table>/_stats/summary`. `GraftScan.scanStats` then merges the
  * persisted NDV/nullCount into the reported DSv2 column statistics
  * for every column the footer pass claimed nothing for — string join
  * keys get real NDV, so CBO join reordering and equality selectivity
  * stop defaulting.
  *
  * Staleness: statistics are ESTIMATES by contract — appends after an
  * analyze leave them slightly stale, exactly like Hive/Spark ANALYZE
  * output; the serving side caps counts at the scan's reported row
  * count so a pruned scan can never see nullCount > rowCount
  * (negative-selectivity guard). Re-run `CALL graft.system.analyze`
  * after bulk loads; the marker records row count and file count at
  * analyze time so drift is observable.
  */
object GraftTableStats {

  val StatsDir = "_stats"

  final case class ColStats(ndv: Long, nulls: Long)
  final case class TableStats(rows: Long, files: Long, analyzedAtMs: Long,
      cols: Map[String, ColStats])

  /** One aggregation pass over the table's SERVED state; persists the
    * marker and returns (row count, columns analyzed).
    */
  def analyze(spark: SparkSession, tablePath: String): (Long, Long) = {
    val df = spark.read.format("graft").load(tablePath)
    val fields = df.schema.fields.filter(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    })
    val aggs = count(lit(1)).as("__rows") +: fields.flatMap(f => Seq(
      approx_count_distinct(col(f.name)).as(s"__ndv_${f.name}"),
      sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}")))
    val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
    val rows = row.getLong(0)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      val ndv = row.getLong(1 + 2 * i)
      val nulls = if (row.isNullAt(2 + 2 * i)) 0L else row.getLong(2 + 2 * i)
      f.name -> ColStats(ndv, nulls)
    }.toMap
    val conf = spark.sessionState.newHadoopConf()
    val files = GraftV2.dataFiles(tablePath, conf).size.toLong
    val body = (Seq(s"rows\t$rows", s"files\t$files",
      s"analyzedAt\t${System.currentTimeMillis()}") ++
      cols.toSeq.sortBy(_._1).map { case (n, c) =>
        s"col\t${c.ndv}\t${c.nulls}\t$n" })
      .mkString("\n")
    val dir = new Path(tablePath, StatsDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    // STAGED write (the engine's swap discipline): a truncate-in-place
    // would expose a torn body to a concurrent reader — stage to a tmp
    // name, then delete + rename; the reader's worst case is a clean
    // miss (None), never a partial parse
    val tmp = new Path(dir, s".summary_${java.util.UUID.randomUUID()}")
    graft.sources.GraftIO.writeText(fs, tmp, body, overwrite = true)
    val dst = new Path(dir, "summary")
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(
        s"[GRAFT] analyze($tablePath): rename($tmp -> $dst) failed")
    cache.clear() // next read re-loads the fresh marker
    (rows, fields.length.toLong)
  }

  /** (marker path, mtime, length)-keyed cache — one small read per
    * (table, analyze), not per scan. Length rides the key so a
    * rewrite landing within one mtime tick still misses.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), TableStats]()

  /** The persisted statistics, or None when never analyzed (or the
    * marker is unreadable/malformed — stats are estimates; a read
    * problem degrades to "no stats", never a failed query).
    */
  def read(tablePath: String, conf: Configuration): Option[TableStats] = {
    val p = new Path(s"$tablePath/$StatsDir/summary")
    val fs = p.getFileSystem(conf)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.IOException => return None }
    val key = (p.toString, st.getModificationTime, st.getLen)
    val hit = cache.get(key)
    if (hit != null) return Some(hit)
    val body =
      try graft.sources.GraftIO.readText(fs, p).getOrElse(return None)
      catch { case _: java.io.IOException => return None }
    var rows = 0L; var files = 0L; var at = 0L
    val cols = Map.newBuilder[String, ColStats]
    try body.split("\n").foreach { l =>
      val ps = l.split("\t", 4)
      ps(0) match {
        case "rows" if ps.length > 1 => rows = ps(1).toLong
        case "files" if ps.length > 1 => files = ps(1).toLong
        case "analyzedAt" if ps.length > 1 => at = ps(1).toLong
        case "col" if ps.length == 4 =>
          cols += ps(3) -> ColStats(ps(1).toLong, ps(2).toLong)
        case _ => ()
      }
    } catch { case _: NumberFormatException => return None }
    val ts = TableStats(rows, files, at, cols.result())
    if (cache.size > 256) cache.clear()
    cache.put(key, ts)
    Some(ts)
  }
}
