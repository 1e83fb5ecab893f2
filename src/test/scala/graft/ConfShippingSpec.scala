package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import scala.jdk.CollectionConverters._
import graft.sources.v2.{GraftDeltaWrite, GraftScan, GraftV2}

/** The session's Hadoop conf ships once per SparkContext as a
  * broadcast (`GraftV2.sessionConf()`), not inside every task binary:
  * factories stay small, scans under one conf share one broadcast, a
  * changed conf gets a new one, and no handle outlives its context.
  */
class ConfShippingSpec extends SparkSpecBase {

  private val Probe = "spark.hadoop.graft.probe"

  private def serializedBytes(o: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).limit()

  private def graftScan(): GraftScan = {
    val df = spark.read.format("graft").load(s"$sfDir/orders.parquet")
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan]
    }.get
  }

  /** Runs `body` with `Probe` set to `v`, then restores the session. */
  private def withProbe[T](v: String)(body: => T): T = {
    spark.conf.set(Probe, v)
    try body finally spark.conf.unset(Probe)
  }

  test("a shipped reader factory and delta writer factory carry no serialized conf") {
    val schema = spark.read.parquet(s"$sfDir/orders.parquet").schema
    val reader = graftScan().toBatch.createReaderFactory()
    val writer = GraftDeltaWrite(s"${graft.sources.GraftSink.scratchDir}/conf_ship",
      schema, "q", Seq.empty).toBatch.createBatchWriterFactory(null)
    for (f <- Seq(reader, writer)) {
      val n = serializedBytes(f)
      assert(n < 8 * 1024,
        s"${f.getClass.getSimpleName} serializes to $n bytes: it ships the conf itself")
    }
  }

  test("two scans planned under an unchanged conf share one broadcast") {
    val a = graftScan().conf.broadcastId
    val b = graftScan().conf.broadcastId
    assert(a.isDefined && a === b)
  }

  test("a changed session conf gets a new broadcast that tasks read") {
    val before = GraftV2.sessionConf()
    withProbe("x") {
      val h = GraftV2.sessionConf()
      assert(h.broadcastId.isDefined && (h.broadcastId !== before.broadcastId))
      val key = Probe // a closure over the suite would capture it
      val seen = spark.sparkContext.parallelize(Seq(1), 1)
        .map(_ => h.value.get(key)).collect().toSeq
      assert(seen === Seq("x"))
    }
  }

  test("confs that alternate reuse one broadcast each") {
    val ids = for (_ <- 1 to 3; v <- Seq("a", "b"))
      yield withProbe(v)(GraftV2.sessionConf().broadcastId)
    assert(ids.forall(_.isDefined))
    assert(ids.distinct.size === 2, s"broadcast ids: $ids")
  }

  test("a replaced handle survives GC while a plan still holds it") {
    val df = spark.read.format("graft").load(s"$sfDir/orders.parquet")
    val held = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan].conf
    }.get
    val expected = spark.read.parquet(s"$sfDir/orders.parquet").count()
    withProbe("gc") {
      // replaces the cached broadcast: only `df` still holds `held`
      assert(GraftV2.sessionConf().broadcastId !== held.broadcastId)
      System.gc()
      Thread.sleep(500) // the ContextCleaner works asynchronously
      spark.range(100).selectExpr("sum(id)").collect()
      assert(df.count() === expected)
      assert(spark.sparkContext.parallelize(Seq(1), 1)
        .map(_ => held.value.size()).collect().head > 0)
    }
  }

  test("executor code leaves the shared conf unchanged") {
    val wh = graft.sources.GraftSink.scratchDir + "/conf_ship_wh"
    val root = new org.apache.hadoop.fs.Path(wh)
    root.getFileSystem(spark.sessionState.newHadoopConf()).delete(root, true)
    import spark.implicits._
    (0L until 40L).map(i => (i, i)).toDF("k", "v").coalesce(2)
      .write.parquet(s"$wh/db/t.parquet")
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftconfship")
    val h = GraftV2.sessionConf()
    def content() = h.value.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val before = content()
    // a row-level (non-translatable) DELETE runs the delta writer
    spark.sql("DELETE FROM graftconfship.db.t WHERE k % 10 = 3")
    spark.sql("REFRESH TABLE graftconfship.db.t")
    assert(spark.sql("SELECT count(*) FROM graftconfship.db.t").head().getLong(0) === 36L)
    assert(spark.read.format("graft").load(s"$sfDir/lineitem.parquet")
      .where("l_quantity > 10").count() > 0)
    assert(GraftV2.sessionConf() eq h, "the reads and writes ran under this handle")
    assert(content() === before)
  }

  test("no handle from a stopped SparkContext is reused") {
    // a SparkContext cannot be stopped under the shared session, so a
    // child JVM stops one and starts another
    val jvm = s"${sys.props("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(jvm, "-Xmx1g", "-cp", sys.props("java.class.path")) ++ opens ++
      Seq("graft.ConfShippingProbe")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() === 0, out.takeRight(30).mkString("\n"))
    assert(out.contains("probe: fresh handle, task read GraftLocalFileSystem"),
      out.takeRight(30).mkString("\n"))
  }

  private def sourceLines(f: java.io.File): List[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("source lint: only GraftV2 handles SerializableConfiguration") {
    val root = new java.io.File("src/main/scala/graft")
    assume(root.isDirectory, "source tree not available")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val offenders = files(root).flatMap { f =>
      val lines = sourceLines(f)
      val v2 = lines.indexOf("object GraftV2 {")
      val allowedFrom =
        if (f.getName == "GraftDataSource.scala" && v2 >= 0) v2 else Int.MaxValue
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("SerializableConfiguration") && i < allowedFrom =>
          s"${f.getName}:${i + 1}: $l"
      }
    }
    assert(offenders.isEmpty,
      "executor-side code reads the Hadoop conf through GraftV2.sessionConf(); " +
        "a SerializableConfiguration elsewhere ships a ~114 KB conf per task:\n" +
        offenders.mkString("\n"))
  }

  test("source lint: GraftMor writes only through the graft task writer, which holds no conf") {
    val mor = new java.io.File("src/main/scala/graft/sources/GraftMor.scala")
    val io = new java.io.File("src/main/scala/graft/sources/GraftIO.scala")
    assume(mor.isFile && io.isFile, "source tree not available")
    // a DataFrameWriter call: `.write` not applied to arguments
    val dfWrite = """\.write\b(?!\s*\()|DataFrameWriter|SaveMode""".r
    val writes = sourceLines(mor).zipWithIndex.collect {
      case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          dfWrite.findFirstIn(l.split("//").head).isDefined =>
        s"GraftMor.scala:${i + 1}: $l"
    }
    // the task writer's fields: its constructor parameters
    val ioSrc = sourceLines(io).mkString("\n")
    val ctor = ioSrc.indexOf("class ParquetTaskWriter(")
    assert(ctor >= 0, "GraftIO defines ParquetTaskWriter")
    val params = ioSrc.substring(ctor, ioSrc.indexOf("extends Serializable", ctor))
    val confFields = """\b(Serializable)?Configuration\b""".r.findAllIn(params).toSeq
    assert(writes.isEmpty && confFields.isEmpty,
      "GraftMor writes through GraftIO.writeParquet/writeRows, whose task writer ships " +
        "the session conf as a broadcast handle:\n" + (writes ++ confFields).mkString("\n"))
  }

  test("the graft task writer carries no serialized conf") {
    val schema = spark.read.parquet(s"$sfDir/orders.parquet").schema
    val w = graft.sources.GraftIO.taskWriter(spark, schema,
      new org.apache.hadoop.fs.Path(s"${graft.sources.GraftSink.scratchDir}/conf_ship_w"), Nil)
    val n = serializedBytes(w)
    assert(n < 8 * 1024, s"the task writer serializes to $n bytes: it ships the conf itself")
  }
}

/** Child-JVM half of ConfShippingSpec: a handle cached on a stopped
  * SparkContext must not be handed out on the next one.
  */
object ConfShippingProbe {
  def main(args: Array[String]): Unit = {
    val s1 = GraftSession.local(1)
    s1.sparkContext.setLogLevel("ERROR")
    val h1 = GraftV2.sessionConf()
    s1.stop()
    val s2 = GraftSession.local(1)
    s2.sparkContext.setLogLevel("ERROR")
    val h2 = GraftV2.sessionConf()
    val read = s2.sparkContext.parallelize(Seq(1), 1)
      .map(_ => h2.value.get("fs.file.impl")).collect().head
    s2.stop()
    require(h2 ne h1, "the stopped context's handle was reused")
    println(s"probe: fresh handle, task read ${read.split('.').last}")
  }
}
