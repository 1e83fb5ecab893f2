package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What one job hands back: its rows, fully materialized on the driver. */
final case class Outcome(rows: Array[Row], schema: StructType)

/** One operation of a workload. `kind` splits latency by operation type. */
final case class Job(name: String, kind: String, run: () => Outcome)

/** One timed (or warm-up) call of a job. */
final case class Sample(pass: Int, job: String, kind: String, traced: Boolean,
    start: Long, end: Long, ok: Boolean, error: String, digest: String,
    counters: Map[String, Double])

trait Workload {
  /** The jobs of pass `pass` (pass -1 is the untimed warm-up pass). */
  def jobs(pass: Int): Seq[Job]
  /** Called after each job of a traced pass: layer counters of that job. */
  def counters(job: Job): Map[String, Double] = Map.empty
  /** Check artifacts and end-of-run metrics, written after the last pass. */
  def finish(): Map[String, Any] = Map.empty
}

final class Ctx(val spark: SparkSession, val data: String, val out: String,
    val seed: Long, val tracer: Tracer, val corrupt: String) {
  /** Times the two calls into the program: the operator call that
    * builds the DataFrame, and the action that materializes it.
    */
  def query(build: => DataFrame): Outcome = {
    val df = tracer.span("operators.build")(build)
    val rows = tracer.span("exec.action")(df.collect())
    Outcome(rows, df.schema)
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = opts("out")
    new File(out).mkdirs()
    val cores = opts.getOrElse("cores", "4").toInt

    val tracer = new Tracer
    val b = GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.memory.fraction", "0.6")
      .config("spark.memory.storageFraction", "0.5")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val ctx = new Ctx(spark, opts("data"), out, opts("seed").toLong, tracer,
      opts.getOrElse("corrupt", ""))
    val w: Workload = workload match {
      case "analytics_read" => new Analytics(ctx)
      case "curation" => new Curation(ctx)
      case "mor_churn" => new MorChurn(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var jobSeq = 0
    def runPass(pass: Int, tracePass: Boolean): Unit = {
      val p0 = Clock.now()
      for (j <- w.jobs(pass)) {
        tracer.on = tracePass
        tracer.beginJob(jobSeq)
        val before = if (tracePass) layerCounters(tracer) else Map.empty[String, Double]
        val t0 = Clock.now()
        val res = try Right(tracer.span("job")(j.run())) catch { case e: Throwable => Left(e) }
        val t1 = Clock.now()
        // layer counters are read before the grains are released, so
        // the blocks dropped while the job ran are evictions, not releases
        var counters = Map.empty[String, Double]
        if (tracePass) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          val after = layerCounters(tracer)
          counters = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } ++
            Map("session.cached_mb" -> cachedMb(spark)) ++ w.counters(j)
        }
        val grains = tracer.span("session.release") {
          val g = GraftSession.releaseGrains()
          spark.sharedState.cacheManager.clearCache()
          g
        }
        if (tracePass) {
          counters += "session.grains" -> grains.toDouble
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          tracer.absorb()
        }
        tracer.on = false
        samples += (res match {
          case Right(o) =>
            Sample(pass, j.name, j.kind, tracePass, t0, t1, ok = true, "", digest(o), counters)
          case Left(e) =>
            val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
            System.err.println(s"[perfbench] ${j.name} failed: ${e.getClass.getName}: $msg")
            Sample(pass, j.name, j.kind, tracePass, t0, t1, ok = false,
              s"${e.getClass.getName}: $msg", "", counters)
        })
        jobSeq += 1
      }
      val p1 = Clock.now()
      val heap = if (tracePass) retainedHeapMb() else 0.0
      passes += Map("pass" -> pass, "traced" -> tracePass, "start" -> p0, "end" -> p1,
        "retained_heap_mb" -> heap)
    }

    // warm-up and check pass: untimed, counted in set-up
    runPass(-1, tracePass = false)
    val startNs = Clock.ms(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val timed0 = Clock.now()
    var pass = 0
    // the first pass after warm-up still runs partly cold code, so the
    // median needs passes after it; a traced run alternates untraced and
    // traced passes, so the difference between them is the tracing overhead
    val minPasses = if (traced) 4 else 2
    while (pass < minPasses || (Clock.now() - timed0) / 1e9 < seconds) {
      runPass(pass, traced && pass % 2 == 1)
      pass += 1
    }
    val timedEnd = Clock.now()
    val extra = w.finish()
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "traced" -> traced,
      "cores" -> cores, "process_start" -> startNs, "timed_start" -> timed0,
      "timed_end" -> timedEnd, "rss_peak_mb" -> rssPeakMb(),
      "storage_pool_mb" -> storagePoolMb(spark),
      "samples" -> samples.map(sampleJson).toSeq,
      "passes" -> passes.toSeq,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "job" -> s.job,
        "attrs" -> s.attrs)).toSeq,
      "extra" -> extra)
    Files.write(Paths.get(out, "result.json"), Json(result).getBytes(UTF_8))
    spark.stop()
  }

  private def sampleJson(s: Sample): Map[String, Any] = Map(
    "pass" -> s.pass, "job" -> s.job, "kind" -> s.kind, "traced" -> s.traced,
    "start" -> s.start, "end" -> s.end, "ok" -> s.ok, "error" -> s.error,
    "digest" -> s.digest, "counters" -> s.counters)

  /** Order-insensitive digest of every column of every row. */
  def digest(o: Outcome): String = {
    var sum = 0L
    o.rows.foreach(r => sum += scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong)
    s"${o.rows.length}:$sum"
  }

  /** Cumulative counters read at layer boundaries before and after a job. */
  private def layerCounters(tracer: Tracer): Map[String, Double] = {
    val fs = CountingFs.snapshot().map { case (k, v) => s"sources.$k" -> v }
    fs ++ Map(
      "sources.v2.mask_loads" -> graft.sources.v2.GraftMorMask.sidecarOpens.toDouble,
      "session.evicted_blocks" -> tracer.blocksDropped.get.toDouble)
  }

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def storagePoolMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6

  private def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1e3
  }
}

/** Runs a fixed list of `SparkEntry.queries` jobs, each pass in a seeded
  * order. The warm-up pass writes the results of `checked` jobs with the
  * oracle SQL for `tools/check_oracle.py`.
  */
class QueryWorkload(ctx: Ctx, names: Seq[String], checked: Set[String]) extends Workload {
  private val spark = ctx.spark
  private val checkDir = s"${ctx.out}/check"

  def jobs(pass: Int): Seq[Job] =
    new Random(ctx.seed * 1000 + pass).shuffle(names).map { n =>
      val fn = SparkEntry.queries(n)
      Job(n, "read", () => {
        val o = ctx.query(fn(spark, ctx.data))
        val res = if (n == ctx.corrupt) Outcome(o.rows.drop(1), o.schema) else o
        if (pass < 0 && checked(n)) write(n, res)
        res
      })
    }

  private def write(name: String, o: Outcome): Unit =
    spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")

  override def finish(): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => checked(k) }
    new File(checkDir).mkdirs()
    Files.write(Paths.get(checkDir, "oracle_sql.json"), Json(oracle).getBytes(UTF_8))
    Map("oracle_jobs" -> oracle.keys.toSeq.sorted)
  }
}

class Analytics(ctx: Ctx) extends QueryWorkload(ctx, Analytics.Jobs, Analytics.Jobs.toSet) {
  private val dir = new File(ctx.data)

  /** Split generation of the catalog table the SQL scan reads, timed at
    * the v2 boundary: `newScanBuilder().build().toBatch.planInputPartitions()`.
    */
  override def counters(job: Job): Map[String, Double] =
    if (job.name != "src_catalog_sql_scan") Map.empty
    else {
      val name = graft.sources.v2.GraftTableCatalog.registerForRoot(ctx.spark, dir.getParent)
      val (s, n) = ctx.tracer.span("sources.v2.scan_plan")(
        V2Probe.planSplits(ctx.spark, name, Array(dir.getName), "orders"))
      Map("sources.v2.scan_plan_s" -> s, "sources.v2.partitions" -> n)
    }
}

object Analytics {
  val Jobs = Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q18_large_volume_orders", "q21_waiting_suppliers",
    "q_window_top_parts_per_supplier", "q_salted_join_revenue", "q_cube_status_priority",
    "q_asof_event_order", "q1_sql", "src_catalog_sql_scan", "src_v2_agg_pushdown")
}

/** Curation: the oracle SQL of these jobs is written against the fixed
  * test tables (trained centroids and BPE merges), so it does not hold on
  * derived corpora; each job's digest must instead be equal in every pass.
  */
class Curation(ctx: Ctx) extends QueryWorkload(ctx, Curation.Jobs, Set.empty)

object Curation {
  val Jobs = Seq("pipeline_curation_funnel", "dedup_clusters", "dedup_minhash_lsh",
    "dedup_semantic", "sim_ivf_topk", "text_bpe_tokens", "text_decontaminate")
}

object V2Probe {
  import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  /** Seconds to plan the input partitions of a catalog table (at a
    * published version, if given), and how many.
    */
  def planSplits(spark: SparkSession, catalog: String, ns: Array[String],
      table: String, version: Option[Long] = None): (Double, Double) = {
    val cat = spark.sessionState.catalogManager.catalog(catalog).asInstanceOf[TableCatalog]
    val id = Identifier.of(ns, table)
    val t = version.fold(cat.loadTable(id))(v => cat.loadTable(id, v.toString))
      .asInstanceOf[SupportsRead]
    val t0 = System.nanoTime()
    val parts = t.newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
      .planInputPartitions()
    ((System.nanoTime() - t0) / 1e9, parts.length.toDouble)
  }
}

/** JSON for the result files, through the Jackson Scala module Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
