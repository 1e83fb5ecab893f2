package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{col, concat, date_add, lit, struct, to_json, when}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.sources.{GraftIO, GraftMor, GraftSink}
import graft.sources.v2.GraftMorMask

/** `morCompact` folds its masks inside the v2 reader: the masks the SQL
  * serving path applies, one probe job for the equality-affected files
  * and one write job, no v1 scan and no broadcast. The anti-join plan
  * stays for what the serving masks refuse.
  */
class MorCompactSpec extends SparkSpecBase {

  private def hfs(p: String) = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def fresh(name: String): String = {
    val root = s"${GraftSink.scratchDir}/morcompact_$name"
    hfs(root).delete(new Path(root), true)
    s"$root/t.parquet"
  }

  /** Rows as sorted JSON lines, columns in `cols` order. */
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(to_json(struct(cols.map(col): _*))).collect().map(_.getString(0)).toSeq.sorted

  /** Every visible data file under `path` with its bytes' digest. */
  private def dataFiles(path: String): Map[String, String] =
    GraftIO.walkVisibleFiles(hfs(path), new Path(path)).map { st =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(st.getPath.toUri.getPath))
      st.getPath.toUri.getPath -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(bytes).map("%02x".format(_)).mkString
    }.toMap

  /** The Spark jobs `run` starts and the executed plans of the SQL
    * executions it runs. Listener delivery is asynchronous, so an
    * execution that ended just before `run` can still arrive: only
    * query executions created after `run` starts count.
    */
  private def traced(run: => Unit): (Seq[java.util.Properties], Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val floor = spark.range(1).queryExecution.id
    def add(qe: QueryExecution): Unit = if (qe.id > floor) plans.add(qe.executedPlan)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    }
    spark.listenerManager.register(listener)
    val jobs = try jobStarts(run) finally spark.listenerManager.unregister(listener)
    (jobs, plans.asScala.toSeq)
  }

  private def v1OrBroadcast(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(allPlanNodes).collect {
      case b: BroadcastExchangeExec => b.nodeName
      case f: FileSourceScanExec => f.nodeName
    }

  private def base(path: String, files: Int): Unit =
    spark.range(0, 60).select(col("id").as("k"), (col("id") * 10).as("v"),
        col("id").as("rid"), concat(lit("s"), col("id")).as("s"))
      .repartition(files).write.parquet(path)

  test("a position-only compaction starts at most one job and an equality one at most two, with no v1 scan or broadcast") {
    import spark.implicits._
    val pos = fresh("pins_pos")
    base(pos, 3)
    GraftMor.morDelete(spark, pos, col("k") % 7 === 0)
    val expectPos = rowsOf(GraftMor.morRead(spark, pos), Seq("k", "v", "rid", "s"))
    val (posJobs, posPlans) = traced(GraftMor.morCompact(spark, pos))
    assert(posJobs.size <= 1, posJobs.map(_.getProperty("spark.job.description")))
    assert(v1OrBroadcast(posPlans).isEmpty)
    assert(rowsOf(spark.read.parquet(pos), Seq("k", "v", "rid", "s")) === expectPos)

    val eq = fresh("pins_eq")
    base(eq, 3)
    GraftMor.morErase(spark, eq, Seq(3L, 4L).toDF("k"), Seq("k"))
    GraftMor.morUpsertEq(spark, eq, Seq((5L, 0L, 500L, "u")).toDF("k", "v", "rid", "s"), Seq("k"))
    val expectEq = rowsOf(GraftMor.morRead(spark, eq), Seq("k", "v", "rid", "s"))
    val (eqJobs, eqPlans) = traced(GraftMor.morCompact(spark, eq))
    val described = eqJobs.map(_.getProperty("spark.job.description"))
    assert(eqJobs.size <= 2 && described.contains("graft morCompact probe"), described)
    assert(v1OrBroadcast(eqPlans).isEmpty)
    assert(rowsOf(spark.read.parquet(eq), Seq("k", "v", "rid", "s")) === expectEq)
  }

  test("property: a compaction serves what morRead served, rewrites only the files that lost rows, and keeps the epoch counters monotone") {
    import spark.implicits._
    // "spaced" is a flat table under a directory whose name URL
    // encoding changes; the hive layout's string and timestamp values
    // are escaped in their directory names. Seed 3 compacts through
    // the anti-join plan.
    val layouts = Seq("flat", "hive", "evolved", "spaced")
    for (layout <- layouts; seed <- 1 to 3) {
      val rnd = new Random(seed * 7919 + layouts.indexOf(layout))
      val path = fresh(if (layout == "spaced") s"prop spaced 100%_$seed" else s"prop_${layout}_$seed")
      val partCols = if (layout == "hive") Seq("pi", "ps", "pd", "pt") else Nil
      val rows = spark.range(0, 60).select(col("id").as("k"), (col("id") * 10).as("v"),
        col("id").as("rid"), concat(lit("s"), col("id")).as("s"),
        (col("id") % 3).cast("int").as("pi"),
        when(col("id") % 2 === 0, lit("1.50")).otherwise(lit("2.0 a:b")).as("ps"),
        date_add(lit("2024-01-01").cast("date"), (col("id") % 2).cast("int")).as("pd"),
        when(col("id") % 4 < 2, lit("2024-01-01 00:00:00")).otherwise(lit("2024-06-30 12:30:00"))
          .cast("timestamp").as("pt"))
      if (layout == "hive") rows.repartition(2).write.partitionBy(partCols: _*).parquet(path)
      else rows.drop("pi", "ps", "pd", "pt").repartition(3).write.parquet(path)
      var nextRid = 1000L
      def batch(keys: Seq[Long], extra: Boolean): DataFrame = {
        val b = keys.map { k => nextRid += 1; (k, rnd.nextInt(1000).toLong, nextRid, s"u$nextRid") }
          .toDF("k", "v", "rid", "s")
        if (extra) b.withColumn("x", lit("new")) else b
      }
      def keys(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextInt(70).toLong).distinct
      if (layout == "evolved") GraftMor.morUpsert(spark, path, batch(keys(3), extra = true), Seq("k"))
      // hive tables take no upsert: it lands its rows at the table root
      val ops = if (layout == "hive") Seq("delete", "deleteKeys", "erase")
        else Seq("delete", "deleteKeys", "erase", "upsert", "upsertEq")
      (1 to 6).foreach { _ =>
        ops(rnd.nextInt(ops.size)) match {
          case "delete" => GraftMor.morDelete(spark, path, col("v") % (3 + rnd.nextInt(9)) === 1)
          case "deleteKeys" => GraftMor.morDeleteKeys(spark, path, keys(4).toDF("k"), Seq("k"))
          case "erase" => GraftMor.morErase(spark, path, keys(2).toDF("k"), Seq("k"))
          case "upsert" =>
            GraftMor.morUpsert(spark, path, batch(keys(4), layout == "evolved"), Seq("k"))
          case "upsertEq" =>
            GraftMor.morUpsertEq(spark, path, batch(keys(4), layout == "evolved"), Seq("k"))
        }
      }
      val what = s"$layout seed $seed"
      val served = GraftMor.morRead(spark, path)
      val cols = served.columns.toSeq
      val before = rowsOf(served, cols)
      val liveRids = served.select("rid").as[Long].collect().toSet
      // the SQL serving path applies the same masks
      assert(spark.read.format("graft").load(path).select("rid").as[Long].collect().sorted.toSeq ===
        liveRids.toSeq.sorted, s"$what: the v2 scan and morRead disagree")
      val filesBefore = dataFiles(path)
      // a file is affected when some row it holds is no longer served
      val affected = filesBefore.keySet.filter { f =>
        !spark.read.parquet(f).select("rid").as[Long].collect().forall(liveRids)
      }
      def maxEpoch(dir: String): Int = {
        val p = new Path(s"$path/$dir")
        if (!hfs(path).exists(p)) -1
        else hfs(path).listStatus(p).map(_.getPath.getName)
          .collect { case n if n.startsWith("epoch=") => n.drop(6).toInt }.foldLeft(-1)(math.max)
      }
      val (dvMax, eqMax) = (maxEpoch(GraftMor.DvDir), maxEpoch(GraftMor.EqDir))
      if (seed == 3) GraftMor.compact(spark, path, partCols, maskCap = 0L)
      else GraftMor.morCompact(spark, path, partCols)
      val ddl = GraftMor.sidecars(spark, path).schemaDdl
      val plain = ddl.fold(spark.read.parquet(path))(d =>
        spark.read.schema(StructType.fromDDL(d)).parquet(path))
      assert(rowsOf(plain, cols) === before, what)
      val filesAfter = dataFiles(path)
      for ((f, digest) <- filesBefore) {
        if (affected(f)) assert(!filesAfter.contains(f), s"$what: $f lost rows but stayed")
        else assert(filesAfter.get(f) === Some(digest), s"$what: untouched $f changed")
      }
      // survivors re-land under the directory names they came from,
      // decimal-looking strings and dates included
      def dirOf(f: String) = f.substring(0, f.lastIndexOf('/'))
      assert((filesAfter.keySet -- filesBefore.keySet).map(dirOf)
        .subsetOf(filesBefore.keySet.map(dirOf)), s"$what: a survivor left its directory")
      assert(!GraftMor.sidecars(spark, path).any, what)
      assert(GraftMor.allocateDvEpochDir(spark, path).split("epoch=").last.toInt > dvMax, what)
      assert(GraftMor.allocateEqEpoch(spark, path) > eqMax, what)
    }
  }

  test("a sidecar past the mask cap and a floating-point equality key take the anti-join plan and give the same rows") {
    import spark.implicits._
    val capped = fresh("fallback_cap")
    base(capped, 2)
    GraftMor.morDelete(spark, capped, col("k") % 5 === 0)
    val expect = rowsOf(GraftMor.morRead(spark, capped), Seq("k", "v", "rid", "s"))
    val (_, cappedPlans) = traced(GraftMor.compact(spark, capped, Nil, maskCap = 3L))
    assert(v1OrBroadcast(cappedPlans).nonEmpty, "the lowered cap took the anti-join plan")
    assert(rowsOf(spark.read.parquet(capped), Seq("k", "v", "rid", "s")) === expect)
    assert(!GraftMor.sidecars(spark, capped).any)

    val float = fresh("fallback_float")
    spark.range(0, 20).select(col("id").as("k"), (col("id") / 4.0).as("f"))
      .repartition(2).write.parquet(float)
    GraftMor.morErase(spark, float, Seq(0.5, 1.25).toDF("f"), Seq("f"))
    val expectF = rowsOf(GraftMor.morRead(spark, float), Seq("k", "f"))
    assert(expectF.size === 18)
    val (_, floatPlans) = traced(GraftMor.morCompact(spark, float))
    assert(v1OrBroadcast(floatPlans).nonEmpty, "the float key took the anti-join plan")
    assert(rowsOf(spark.read.parquet(float), Seq("k", "f")) === expectF)
  }

  test("tombstones of a dropped file fold away, and a key naming an unlisted live file refuses the fold") {
    for (cap <- Seq(GraftMor.MaxBroadcastTombstones, 0L)) {
      val path = fresh(s"dangling_$cap")
      base(path, 2)
      GraftMor.morDelete(spark, path, col("k") % 4 === 0)
      // a retention sweep drops whole files and leaves their tombstones
      val gone = dataFiles(path).keys.toSeq.sorted.head
      val kept = spark.read.parquet(dataFiles(path).keys.toSeq.sorted.last)
        .where(col("k") % 4 =!= 0).count()
      hfs(path).delete(new Path(gone), false)
      GraftMor.compact(spark, path, Nil, cap)
      assert(spark.read.parquet(path).count() === kept, s"cap $cap")
      assert(!GraftMor.sidecars(spark, path).any, s"cap $cap")
    }
    import spark.implicits._
    val path = fresh("stray")
    base(path, 2)
    GraftMor.morDelete(spark, path, col("k") === 1L)
    // a key in a path form that matches no listed file: the file exists
    val live = dataFiles(path).keys.toSeq.sorted.head
    val stray = live.replaceFirst("/t.parquet/", "/t.parquet//")
    Seq((stray, 0L)).toDF("dv_file", "dv_pos").write.parquet(s"$path/${GraftMor.DvDir}/epoch=9")
    val filesBefore = dataFiles(path)
    for (cap <- Seq(GraftMor.MaxBroadcastTombstones, 0L)) {
      val e = intercept[IllegalStateException](GraftMor.compact(spark, path, Nil, cap))
      assert(e.getMessage.contains("no listed data file"), e.getMessage)
      assert(dataFiles(path) === filesBefore)
      assert(GraftMor.sidecars(spark, path).dv.nonEmpty)
    }
  }

  test("k affected single-row-group files compact into at most k files") {
    val path = fresh("filecount")
    base(path, 6)
    val files = dataFiles(path).keySet
    assert(files.size === 6)
    // one row out of each of four files
    val hit = files.toSeq.sorted.take(4).map(f => spark.read.parquet(f).select("k").head().getLong(0))
    GraftMor.morDelete(spark, path, col("k").isin(hit: _*))
    GraftMor.morCompact(spark, path)
    val written = dataFiles(path).keySet -- files
    assert(written.nonEmpty && written.size <= 4, written)
    assert(spark.read.parquet(path).count() === 56L)
  }

  test("masks cache per sidecar file: a new epoch opens only its own files, and a compaction evicts no serving entry") {
    val paths = (1 to 10).map { i =>
      val p = fresh(s"cache_$i")
      base(p, 2)
      GraftMor.morDelete(spark, p, col("k") % 9 === i % 9)
      GraftMor.morDelete(spark, p, col("k") % 13 === i % 13)
      p
    }
    val served = paths.take(9)
    def readAll(): Unit = served.foreach(p => spark.read.format("graft").load(p).count())
    readAll()
    val warm = GraftMorMask.sidecarOpens
    readAll()
    assert(GraftMorMask.sidecarOpens === warm, "a re-read opens no sidecar file")
    // the merged mask of a multi-file pin is cached too: a rescan merges nothing
    val conf = spark.sessionState.newHadoopConf()
    val pin = GraftMor.sidecars(spark, served.head).dv.map(_._1)
    assert(pin.size >= 2)
    assert(GraftMorMask.load(pin, conf) eq GraftMorMask.load(pin, conf))
    GraftMor.morDelete(spark, served.head, col("k") === 58L)
    val epochDir = hfs(served.head).listStatus(new Path(s"${served.head}/${GraftMor.DvDir}"))
      .map(_.getPath).maxBy(_.getName.drop(6).toInt)
    val newFiles = hfs(served.head).listStatus(epochDir).count(_.getPath.getName.endsWith(".parquet"))
    assert(newFiles >= 1)
    readAll()
    assert(GraftMorMask.sidecarOpens - warm === newFiles.toLong)
    val afterEpoch = GraftMorMask.sidecarOpens
    GraftMor.morCompact(spark, paths.last)
    val afterCompact = GraftMorMask.sidecarOpens
    readAll()
    assert(GraftMorMask.sidecarOpens === afterCompact, "the compaction evicted a serving entry")
    assert(afterCompact > afterEpoch, "the compaction loaded its own masks")
  }

  test("a spark.conf.set of a Hadoop key reaches the next GraftMor call") {
    val path = fresh("confset")
    base(path, 1)
    GraftMor.morDelete(spark, path, col("k") === 1L)
    def opened(): Long = {
      val before = ConfProbeFs.statuses.get
      GraftMor.sidecars(spark, path)
      ConfProbeFs.statuses.get - before
    }
    assert(opened() === 0L)
    spark.conf.set("fs.file.impl", classOf[ConfProbeFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try assert(opened() > 0L, "the call did not see the conf set before it")
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    assert(opened() === 0L, "the call still saw the unset conf")
  }

  test("source lint: only the named fallback in morCompact reads through the v1 source") {
    val mor = java.nio.file.Paths.get("src/main/scala/graft/sources/GraftMor.scala")
    assume(java.nio.file.Files.isRegularFile(mor), "source tree not available")
    val offending = MorCompactSpec.v1ReadsInCompaction(
      new String(java.nio.file.Files.readAllBytes(mor), "UTF-8"))
    assert(offending.isEmpty, offending)
  }
}

object MorCompactSpec {

  /** The v1 read tokens in `morCompact`'s plan — the source from `def
    * morCompact(` up to the anti-join fallback `compactByJoins`, or to
    * the next member when there is no fallback — plus a missing
    * fallback. Empty when the plan reads only through the v2 scan.
    */
  def v1ReadsInCompaction(src: String): Seq[String] = {
    val start = src.indexOf("  def morCompact(")
    val fallback = src.indexOf("  private def compactByJoins(")
    val end = if (fallback > start) fallback else src.indexOf("  private[sources] def toMicros(")
    val plan = src.substring(start, end).split('\n')
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("//")).mkString("\n")
    val tokens = Seq("s.read", ".parquet(", "readTable(", "readFilesWithBase(", "dvFrame(",
      "eqFrame(", "seqFrame(", "broadcast(", "applyMasks(")
    tokens.filter(plan.contains) ++ (if (fallback > start) Nil else Seq("no compactByJoins"))
  }
}

/** A local filesystem counting its status calls. */
class ConfProbeFs extends graft.sources.GraftLocalFileSystem {
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    ConfProbeFs.statuses.incrementAndGet(); super.getFileStatus(f)
  }
}

object ConfProbeFs {
  val statuses = new AtomicLong(0L)
}
