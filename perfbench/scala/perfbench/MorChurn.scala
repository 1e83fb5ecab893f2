package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{GraftCatalog, GraftIO, GraftMor}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.Trigger

/** Merge-on-read churn: a seeded log of mutation batches applied to more
  * graft tables than the mask cache holds, with reads following across
  * the tables. The log (`log.json` plus one parquet file per batch) is
  * generated outside the JVM; every write and read is recorded as an
  * event so the run can be replayed and checked step by step.
  */
class MorChurn(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val log = LogFile.read(s"${ctx.data}/log.json")
  private val steps = log("steps").asInstanceOf[Seq[Map[String, Any]]]
  private val tables = log("tables").asInstanceOf[Seq[String]]
  private val eqTables = log("eq_tables").asInstanceOf[Seq[String]].toSet
  private val wh = s"${sys.props("java.io.tmpdir")}/morwh"
  private val nsDir = s"$wh/db"
  private val feedRoot = s"$wh/feed"
  private val feedPath = s"$feedRoot/feed.parquet"
  private val ckpt = s"$wh/_tail_ckpt"
  private def path(t: String) = s"$nsDir/$t.parquet"

  val events = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Published epochs per table that a `VERSION AS OF` read may address. */
  private val epochs = mutable.Map.empty[String, Vector[Long]]
  private var applied = 0
  private var bytesWritten, batchBytes = 0L
  /** The table (and version) the last job read, and the rows the last
    * tail run emitted.
    */
  private var lastRead = ""
  private var lastVersion: Option[Long] = None
  private var tailRows = 0L

  // set-up: copy the base tables and the change feed into a scratch
  // warehouse and publish them
  tables.foreach { t => copyTree(Paths.get(ctx.data, "base", s"$t.parquet"), Paths.get(path(t))) }
  copyTree(Paths.get(ctx.data, "feed0.parquet"), Paths.get(feedPath))
  graft.sources.v2.GraftTableCatalog.register(spark, wh, "mor")
  tables.foreach { t =>
    val e = publish(t)
    epochs(t) = Vector(e)
    events += Map("kind" -> "init", "table" -> t, "epoch" -> e)
  }
  new GraftCatalog(spark, feedRoot).publishSnapshot("feed")

  private def copyTree(src: JPath, dst: JPath): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    }

  private def publish(t: String): Long =
    ctx.tracer.span("sources.publish")(new GraftCatalog(spark, nsDir).publishSnapshot(t))

  private def treeBytes(dirs: String*): Map[String, Long] =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toSeq
    }.toMap

  private def tableFiles(t: String): Map[String, Long] =
    treeBytes(path(t), s"$nsDir/${GraftCatalog.SnapshotDir}/$t")

  /** Bytes of files that are new since `before`: files are immutable, so
    * every new name is a write.
    */
  private def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.contains(p) => n }.sum

  private def rowsJson(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq)

  private def sql(q: String): DataFrame = spark.sql(q)

  private def refresh(t: String): Unit = sql(s"REFRESH TABLE mor.db.$t")

  /** One round: a batch for every table, then the round's change-feed
    * append and a tail run that reads it.
    */
  def jobs(pass: Int): Seq[Job] = {
    val from = (pass + 1) * tables.size
    if (from + tables.size > steps.size)
      throw new IllegalStateException(s"the mutation log holds ${steps.size / tables.size} " +
        "rounds; a shorter --seconds needs fewer")
    val round = steps.slice(from, from + tables.size)
    val idxs = round.indices.map(from + _)
    round.zip(idxs).flatMap { case (st, idx) => stepJobs(idx, st) } ++ Seq(
      Job("write.feed", "write", () => appendFeed(idxs, round)),
      Job("read.tail", "read", () => readTail(idxs.last)))
  }

  private def stepJobs(idx: Int, st: Map[String, Any]): Seq[Job] = {
    val t = st("table").toString
    val op = st("op").toString
    val w = Seq(Job(s"write.$op", "write", () => write(idx, t, op, st)))
    val c = if (st("compact") == true) Seq(Job("compact", "compact", () => compact(idx, t))) else Nil
    val reads = st("reads").asInstanceOf[Seq[Map[String, Any]]].map { r =>
      r("kind") match {
        case "sql" => Job("read.sql", "read", () => readSql(idx, r("table").toString))
        case "version" => Job("read.version", "read", () => readVersion(idx, r("table").toString))
      }
    }
    w ++ c ++ reads
  }

  private def batch(st: Map[String, Any]): DataFrame =
    GraftIO.readParquet(spark, s"${ctx.data}/${st("batch")}")

  private def write(idx: Int, t: String, op: String, st: Map[String, Any]): Outcome = {
    lastRead = ""
    val before = tableFiles(t)
    val b = batch(st)
    val keys = Seq("o_orderkey")
    ctx.tracer.span(if (op.startsWith("sql_")) "sources.v2.dml" else "sources.mor_write") {
      op match {
        case "upsert" => GraftMor.morUpsert(spark, path(t), b, keys)
        case "upsert_eq" => GraftMor.morUpsertEq(spark, path(t), b, keys)
        case "delete_keys" => GraftMor.morDeleteKeys(spark, path(t), b, keys)
        case "erase" => GraftMor.morErase(spark, path(t), b, keys)
        case sqlOp =>
          b.createOrReplaceTempView("pb_batch")
          refresh(t)
          sqlOp match {
            case "sql_delete" => sql(s"DELETE FROM mor.db.$t " +
              "WHERE o_orderkey IN (SELECT o_orderkey FROM pb_batch)")
            case "sql_update" => sql(s"UPDATE mor.db.$t SET o_totalprice = " +
              s"o_totalprice + ${st("delta")} WHERE o_orderkey IN (SELECT o_orderkey FROM pb_batch)")
            case "sql_merge" => sql(s"""
              MERGE INTO mor.db.$t t USING pb_batch s ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED AND s.del THEN DELETE
              WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
              WHEN NOT MATCHED AND NOT s.del THEN INSERT
                (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
                VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice)""")
          }
          refresh(t)
      }
    }
    val epoch = publish(t)
    // an equality change or an erase makes older epochs unreadable
    epochs(t) = if (eqTables(t)) Vector(epoch) else epochs(t) :+ epoch
    val written = newBytes(before, tableFiles(t))
    val bb = st("batch_bytes").asInstanceOf[Number].longValue
    bytesWritten += written; batchBytes += bb
    applied = idx + 1
    events += Map("step" -> idx, "kind" -> "write", "table" -> t, "op" -> op,
      "epoch" -> epoch, "bytes_written" -> written, "batch_bytes" -> bb)
    Outcome(Array(Row(epoch)), null)
  }

  /** The change feed: the keys of every batch of the round, appended as
    * one file and published.
    */
  private def appendFeed(idxs: Seq[Int], round: Seq[Map[String, Any]]): Outcome = {
    lastRead = ""
    val keys = round.map(st => batch(st).select(col("o_orderkey"))).reduce(_ union _)
    ctx.tracer.span("sources.feed_append") {
      keys.withColumn("step", lit(idxs.last.toLong)).coalesce(1)
        .write.mode("append").parquet(feedPath)
      new GraftCatalog(spark, feedRoot).publishSnapshot("feed")
    }
    events += Map("step" -> idxs.last, "kind" -> "feed", "steps" -> idxs)
    Outcome(Array.empty, null)
  }

  private def compact(idx: Int, t: String): Outcome = {
    lastRead = ""
    val before = tableFiles(t)
    refresh(t) // drops the SQL catalog's pin of the files about to be folded
    ctx.tracer.span("sources.compact")(GraftMor.morCompact(spark, path(t)))
    val epoch = publish(t)
    epochs(t) = Vector(epoch)
    val written = newBytes(before, tableFiles(t))
    bytesWritten += written
    events += Map("step" -> idx, "kind" -> "compact", "table" -> t, "epoch" -> epoch,
      "bytes_written" -> written)
    Outcome(Array(Row(epoch)), null)
  }

  private val aggSql =
    "SELECT o_orderstatus, count(*) AS n, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, " +
      "sum(o_orderkey) AS keysum FROM %s GROUP BY o_orderstatus ORDER BY o_orderstatus"

  private def corrupt(kind: String, rows: Array[Row]): Array[Row] =
    if (ctx.corrupt == kind && rows.nonEmpty) rows.drop(1) else rows

  private def readSql(idx: Int, t: String): Outcome = {
    lastRead = t
    lastVersion = None
    refresh(t)
    val o = ctx.query(sql(aggSql.format(s"mor.db.$t")))
    events += Map("step" -> idx, "kind" -> "sql", "table" -> t,
      "rows" -> rowsJson(corrupt("read.sql", o.rows)))
    o
  }

  private def readVersion(idx: Int, t: String): Outcome = {
    lastRead = t
    val e = epochs(t)
    val epoch = if (e.size >= 2) e(e.size - 2) else e.last
    lastVersion = Some(epoch)
    val o = ctx.query(sql(aggSql.format(s"mor.db.$t VERSION AS OF $epoch")))
    events += Map("step" -> idx, "kind" -> "version", "table" -> t, "epoch" -> epoch,
      "rows" -> rowsJson(corrupt("read.version", o.rows)))
    o
  }

  /** One `AvailableNow` run of the change-feed tail, resuming its checkpoint. */
  private def tail(): (Long, Long) = {
    var n, ks = 0L
    val q = spark.readStream.format("graft").load(feedPath).writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val r = df.agg(count(lit(1)), sum(col("o_orderkey"))).head()
        n += r.getLong(0)
        if (!r.isNullAt(1)) ks += r.getLong(1)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (n, ks)
  }

  private def readTail(idx: Int): Outcome = {
    lastRead = ""
    val (n, ks) = ctx.tracer.span("streaming.tail")(tail())
    tailRows = n
    events += Map("step" -> idx, "kind" -> "tail", "rows" -> n,
      "keysum" -> (if (ctx.corrupt == "read.tail") ks + 1 else ks))
    Outcome(Array(Row(n, ks)), null)
  }

  /** Read jobs: split planning of the table read (timed at the v2
    * boundary) and whether its masks came from the cache.
    */
  override def counters(job: Job): Map[String, Double] = {
    val t = lastRead
    if (job.name == "read.tail") Map("streaming.tail_rows" -> tailRows.toDouble)
    else if (t.isEmpty) Map.empty
    else {
      val (s, n) = ctx.tracer.span("sources.v2.scan_plan")(
        V2Probe.planSplits(spark, "mor", Array("db"), t, lastVersion))
      val masked = Seq(GraftMor.DvDir, GraftMor.EqDir)
        .exists(d => new File(s"${path(t)}/$d").exists())
      Map("sources.v2.scan_plan_s" -> s, "sources.v2.partitions" -> n,
        "sources.v2.mask_lookups" -> (if (masked) 1.0 else 0.0))
    }
  }

  override def finish(): Map[String, Any] = {
    // the live rows of every table, written once compactly: the replay
    // check compares them and their size is the base of space_amp
    val finalDir = s"${ctx.out}/final"
    val compact = tables.map { t =>
      GraftMor.morRead(spark, path(t)).coalesce(1).write.mode("overwrite")
        .parquet(s"$finalDir/$t")
      treeBytes(s"$finalDir/$t").collect { case (p, n) if p.endsWith(".parquet") => n }.sum
    }.sum
    val onDisk = tables.map(t => tableFiles(t).values.sum).sum
    Files.write(Paths.get(ctx.out, "events.json"), Json(events.toSeq).getBytes(UTF_8))
    Map("applied_steps" -> applied, "bytes_written" -> bytesWritten,
      "batch_bytes" -> batchBytes, "bytes_on_disk" -> onDisk, "compact_bytes" -> compact,
      "tables" -> tables)
  }
}

/** Reads the generated log with the JSON parser Spark ships. */
object LogFile {
  def read(p: String): Map[String, Any] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(p), classOf[java.util.Map[String, Any]])
    conv(m).asInstanceOf[Map[String, Any]]
  }
  private def conv(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> conv(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(conv).toSeq
    case x => x
  }
}
