package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct, to_json, udf}
import scala.jdk.CollectionConverters._

import graft.sources.{GraftIO, GraftMor, GraftSink}

/** GraftMor's write path: every MOR file goes through the graft task
  * writer (`GraftIO.writeParquet`), which keeps Spark's parquet format
  * and lands exactly the files that successful tasks returned; the
  * absent `_schema` markers cost no open.
  */
class MorWritePathSpec extends SparkSpecBase {

  private def hfs(p: String) = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def fresh(name: String): String = {
    val root = s"${GraftSink.scratchDir}/morwrite_$name"
    hfs(root).delete(new Path(root), true)
    root
  }

  /** Every parquet file under `root`, bookkeeping directories included. */
  private def parquetFiles(root: String): Set[String] =
    GraftIO.walkFiles(hfs(root), new Path(root)).map(_.getPath.toUri.getPath)
      .filter(_.endsWith(".parquet")).toSet

  private def rowMetadata(file: String): Option[String] = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file),
        spark.sessionState.newHadoopConf()))
    try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
    finally r.close()
  }

  /** Rows as sorted JSON lines: binary, map and nested values compare by content. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).collect()
      .map(_.getString(0)).toSeq.sorted

  /** Ten rows of every column type the MOR APIs accept, nulls in every
    * column on every fifth row.
    */
  private def allTypes(from: Long, to: Long, tag: String): DataFrame = spark.sql(
    s"""SELECT id AS k,
       |  IF(id % 5 = 0, NULL, CAST(id AS DECIMAL(38,18)) / 7) AS d,
       |  IF(id % 5 = 0, NULL, CAST(concat('$tag', id) AS BINARY)) AS b,
       |  IF(id % 5 = 0, NULL, date_add(DATE'2024-02-28', CAST(id AS INT))) AS dt,
       |  IF(id % 5 = 0, NULL, TIMESTAMP'2024-03-01 12:00:00' + make_interval(0, 0, 0, 0, 0, 0, id * 1.5)) AS ts,
       |  IF(id % 5 = 0, NULL, TIMESTAMP_NTZ'2024-03-01 12:00:00' + make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0)) AS ntz,
       |  IF(id % 5 = 0, NULL, array(CAST(id AS INT), NULL, 3)) AS arr,
       |  IF(id % 5 = 0, NULL, named_struct('a', CAST(id AS INT), 's', concat('$tag', id))) AS st,
       |  IF(id % 5 = 0, NULL, map('x', id * 0.5D, 'y', CAST(NULL AS DOUBLE))) AS m,
       |  IF(id % 5 = 0, NULL, concat('$tag', id)) AS s
       |FROM range($from, $to)""".stripMargin)

  test("the task writer writes what Spark's writer writes: every MOR column type round-trips equal with the same footer schema key") {
    val root = fresh("types")
    val df = allTypes(0, 20, "a").repartition(2)
    df.write.parquet(s"$root/spark")
    val stage = new Path(s"$root/graft")
    val files = GraftIO.writeParquet(df, stage, "spec")
    assert(files.size === 2)
    assert(rowsOf(spark.read.parquet(files.map(f => s"$stage/$f"): _*)) ===
      rowsOf(spark.read.parquet(s"$root/spark")))
    val sparkKey = rowMetadata(parquetFiles(s"$root/spark").head)
    assert(sparkKey.isDefined)
    assert(files.map(f => rowMetadata(s"$stage/$f")).distinct === Seq(sparkKey))
  }

  test("every column type round-trips through morUpsert, morUpsertEq and morCompact, keeping Spark's footer schema key") {
    val root = fresh("mortypes")
    for ((name, upsert) <- Seq[(String, (SparkSession, String, DataFrame, Seq[String]) => Unit)](
        "pos" -> GraftMor.morUpsert, "eq" -> GraftMor.morUpsertEq)) {
      val path = s"$root/$name.parquet"
      allTypes(0, 10, "a").coalesce(1).write.parquet(path)
      val base = parquetFiles(path)
      // the batch straight from SQL: its named_struct's fields are
      // non-nullable, the table's (read back from parquet) nullable
      upsert(spark, path, allTypes(5, 15, "b"), Seq("k"))
      val expect = rowsOf(allTypes(0, 5, "a").union(allTypes(5, 15, "b")))
      assert(rowsOf(GraftMor.morRead(spark, path)) === expect, name)
      val written = parquetFiles(path) -- base
      assert(written.nonEmpty)
      written.foreach(f => assert(rowMetadata(f).isDefined, f))
      GraftMor.morCompact(spark, path)
      assert(rowsOf(spark.read.parquet(path)) === expect, s"$name after compaction")
      parquetFiles(path).foreach(f => assert(rowMetadata(f).isDefined, f))
    }
  }

  test("a nested type change still refuses a MOR upsert; nested nullability alone does not") {
    val path = fresh("retype") + "/t.parquet"
    spark.sql("SELECT id AS k, named_struct('a', CAST(id AS INT)) AS st FROM range(4)")
      .coalesce(1).write.parquet(path)
    val same = spark.sql("SELECT id AS k, named_struct('a', CAST(id AS INT)) AS st FROM range(2, 6)")
    assert(!same.schema("st").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.head.nullable, "the batch's nested field is non-nullable")
    GraftMor.morUpsert(spark, path, same, Seq("k"))
    assert(GraftMor.morRead(spark, path).count() === 6L)
    val wider = spark.sql("SELECT id AS k, named_struct('a', id) AS st FROM range(1)")
    for (upsert <- Seq[(SparkSession, String, DataFrame, Seq[String]) => Unit](
        GraftMor.morUpsert, GraftMor.morUpsertEq)) {
      val e = intercept[IllegalStateException](upsert(spark, path, wider, Seq("k")))
      assert(e.getMessage.contains("retyped 'st': struct<a:int> -> struct<a:bigint>"), e.getMessage)
    }
  }

  test("an input with no rows lands no file; epoch allocation and the high-water mark stay monotone over its number") {
    import spark.implicits._
    val path = fresh("empty") + "/t.parquet"
    spark.range(10).select(col("id").as("k"), lit(1L).as("v")).coalesce(1).write.parquet(path)
    val base = parquetFiles(path)
    val none = spark.range(0).select(col("id").as("k"), lit(2L).as("v"))
    GraftMor.morUpsertEq(spark, path, none, Seq("k")) // eq epoch 0, no rows
    GraftMor.morDelete(spark, path, col("k") > 100L) // dv epoch 0, no rows
    assert(parquetFiles(path) === base, "no data, tombstone or sequence file")
    assert(!hfs(path).exists(new Path(s"$path/_staging")))
    assert(!GraftMor.sidecars(spark, path).any)
    // a reserved number whose write never lands is burned
    assert(GraftMor.allocateEqEpoch(spark, path) === 1)
    GraftMor.morErase(spark, path, Seq(3L).toDF("k"), Seq("k")) // eq epoch 2
    assert(hfs(path).exists(new Path(s"$path/_eq/epoch=2")))
    assert(GraftMor.morRead(spark, path).count() === 9L)
    // the fold clears the file-less dv epoch too and keeps the numbers
    GraftMor.morCompact(spark, path)
    assert(!hfs(path).exists(new Path(s"$path/_dv")))
    assert(!hfs(path).exists(new Path(s"$path/_eq")))
    GraftMor.failIfMutationSidecars(spark, path, "spec") // nothing live is left
    assert(GraftMor.allocateEqEpoch(spark, path) === 3)
    GraftMor.morDelete(spark, path, col("k") === 4L)
    assert(hfs(path).exists(new Path(s"$path/_dv/epoch=1")))
    assert(GraftMor.morRead(spark, path).count() === 8L)
  }

  test("a MOR write that throws leaves the table, its sidecars and _staging as they were") {
    import spark.implicits._
    val path = fresh("throws") + "/t.parquet"
    spark.range(20).select(col("id").as("k"), lit(1L).as("v")).repartition(2).write.parquet(path)
    GraftMor.morDeleteKeys(spark, path, Seq(1L).toDF("k"), Seq("k"))
    GraftMor.morUpsertEq(spark, path, Seq((2L, 5L)).toDF("k", "v"), Seq("k"))
    val boom = udf { (x: Long) =>
      if (x == 7L) throw new IllegalStateException("boom") else x }
    val bad = spark.range(5, 10).select(boom(col("id")).as("k"), lit(9L).as("v"))
    // a batch that adds a column: the widened schema is recorded only
    // once the batch has staged
    val badEvolving = bad.withColumn("extra", lit("x"))
    val files = parquetFiles(path)
    val side = GraftMor.sidecars(spark, path)
    val served = rowsOf(GraftMor.morRead(spark, path))
    for ((op, run) <- Seq[(String, () => Unit)](
        "morUpsert" -> (() => GraftMor.morUpsert(spark, path, bad, Seq("k"))),
        "morUpsertEq" -> (() => GraftMor.morUpsertEq(spark, path, bad, Seq("k"))),
        "evolving morUpsert" -> (() => GraftMor.morUpsert(spark, path, badEvolving, Seq("k"))),
        "evolving morUpsertEq" -> (() => GraftMor.morUpsertEq(spark, path, badEvolving, Seq("k"))),
        "morDeleteKeys" -> (() => GraftMor.morDeleteKeys(spark, path, bad, Seq("k"))),
        "morErase" -> (() => GraftMor.morErase(spark, path, bad.select("k"), Seq("k"))))) {
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("boom")), s"$op: $e")
      assert(parquetFiles(path) === files, op)
      assert(GraftMor.sidecars(spark, path) === side, op)
      assert(GraftMor.sidecars(spark, path).schemaDdl.isEmpty, op)
      assert(!hfs(path).exists(new Path(s"$path/_staging")), op)
      assert(rowsOf(GraftMor.morRead(spark, path)) === served, op)
    }
  }

  test("a task attempt that fails after writing leaves its file out: only returned files land") {
    val dir = fresh("attempts")
    val jvm = s"${sys.props("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(jvm, "-Xmx1g", "-Dspark.ui.enabled=false", "-cp", sys.props("java.class.path")) ++
      opens ++ Seq("graft.TaskAttemptProbe", dir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() === 0, out.takeRight(30).mkString("\n"))
    assert(out.contains("probe: stage holds 107 rows, returned files 100 distinct rows"),
      out.takeRight(30).mkString("\n"))
    assert(out.contains("probe: table serves 60 distinct rows of 60"),
      out.takeRight(30).mkString("\n"))
  }

  test("sidecars on a marker-less table opens no file; a table with an evolved schema still reads its DDL") {
    import spark.implicits._
    val path = fresh("markers") + "/t.parquet"
    spark.range(10).select(col("id").as("k"), lit(1L).as("v")).coalesce(1).write.parquet(path)
    GraftMor.morDeleteKeys(spark, path, Seq(1L).toDF("k"), Seq("k"))
    val (plain, opened) = CountingLocalFs.counting(spark)(GraftMor.sidecars(spark, path))
    assert(plain.dv.size === 1 && plain.schemaDdl.isEmpty)
    assert(opened === 0L, "absent markers must be probed, not opened")
    GraftMor.morUpsert(spark, path, Seq((2L, 3L, "x")).toDF("k", "v", "extra"), Seq("k"))
    val (evolved, openedEvolved) = CountingLocalFs.counting(spark)(GraftMor.sidecars(spark, path))
    assert(evolved.schemaDdl.exists(_.contains("extra")))
    assert(openedEvolved === 1L)
  }

  test("setPermission 1777 on a staging directory masks the sticky bit instead of failing") {
    val dir = new Path(fresh("perm") + "/_staging")
    val f = hfs(dir.toString)
    f.mkdirs(dir)
    f.setPermission(dir, new org.apache.hadoop.fs.permission.FsPermission(Integer.parseInt("1777", 8).toShort))
    val mode = java.nio.file.Files.getPosixFilePermissions(java.nio.file.Paths.get(dir.toUri.getPath))
    assert(java.nio.file.attribute.PosixFilePermissions.toString(mode) === "rwxrwxrwx")
  }

  test("another writer's stage appearing in _staging while a MOR commit drops its own does not fail the commit") {
    import spark.implicits._
    for ((name, upsert) <- Seq[(String, (SparkSession, String, DataFrame, Seq[String]) => Unit)](
        "morUpsert" -> GraftMor.morUpsert, "morUpsertEq" -> GraftMor.morUpsertEq)) {
      val path = fresh(s"foreign_$name") + "/t.parquet"
      spark.range(10).select(col("id").as("k"), lit(1L).as("v")).coalesce(1).write.parquet(path)
      ForeignStageFs.armed.set(true)
      CountingLocalFs.serving(spark, classOf[ForeignStageFs]) {
        upsert(spark, path, Seq((2L, 5L), (20L, 5L)).toDF("k", "v"), Seq("k"))
      }
      assert(!ForeignStageFs.armed.get, s"$name: the foreign stage appeared")
      assert(hfs(path).exists(new Path(s"$path/_staging/${ForeignStageFs.Name}")),
        s"$name: another writer's stage is left alone")
      val served = GraftMor.morRead(spark, path)
      assert(served.count() === 11L, name)
      assert(served.where(col("v") === 5L).select("k").as[Long].collect().sorted.toSeq ===
        Seq(2L, 20L), name)
    }
  }

  test("an INSERT or a row-level DML that throws leaves the table, its sidecars and _staging as they were") {
    val wh = fresh("sqlthrows")
    val path = s"$wh/db/t.parquet"
    spark.range(20).select(col("id").as("k"), lit(1L).as("v")).repartition(2).write.parquet(path)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftsqlthrows")
    val t = "graftsqlthrows.db.t"
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 3")
    spark.udf.register("graft_boom", (x: Long) =>
      if (x == 7L) throw new IllegalStateException("boom") else x)
    val files = parquetFiles(path)
    val side = GraftMor.sidecars(spark, path)
    val served = rowsOf(GraftMor.morRead(spark, path))
    for ((op, stmt) <- Seq(
        "INSERT" -> s"INSERT INTO $t SELECT graft_boom(id), 9L FROM range(5, 10)",
        "UPDATE" -> s"UPDATE $t SET v = graft_boom(k) WHERE k % 2 = 1",
        "MERGE" -> (s"MERGE INTO $t d USING (SELECT graft_boom(id) AS k FROM range(5, 10)) s " +
          "ON d.k = s.k WHEN MATCHED THEN UPDATE SET v = 9L " +
          "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, 9L)"))) {
      val e = intercept[Exception](spark.sql(stmt))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("boom")), s"$op: $e")
      assert(parquetFiles(path) === files, op)
      assert(GraftMor.sidecars(spark, path) === side, op)
      assert(!hfs(path).exists(new Path(s"$path/_staging")), op)
      assert(rowsOf(GraftMor.morRead(spark, path)) === served, op)
    }
  }

  test("an INSERT or UPDATE task attempt that fails after writing leaves its files out") {
    val wh = fresh("sqlattempts")
    val jvm = s"${sys.props("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(jvm, "-Xmx1g", "-Dspark.ui.enabled=false", "-cp", sys.props("java.class.path")) ++
      opens ++ Seq("graft.SqlTaskAttemptProbe", wh)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() === 0, out.takeRight(30).mkString("\n"))
    assert(out.contains("probe: a task retried"), out.takeRight(30).mkString("\n"))
    assert(out.contains("probe: INSERT serves 100 distinct keys in 100 rows"),
      out.takeRight(30).mkString("\n"))
    assert(out.contains("probe: UPDATE serves 100 distinct keys in 100 rows, 70 updated"),
      out.takeRight(30).mkString("\n"))
  }

  test("another writer's stage appearing in _staging while an INSERT or a row-level DML drops its own does not fail the commit") {
    import spark.implicits._
    val wh = fresh("sqlforeign")
    val path = s"$wh/db/t.parquet"
    spark.range(10).select(col("id").as("k"), lit(1L).as("v")).coalesce(1).write.parquet(path)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftsqlforeign")
    val t = "graftsqlforeign.db.t"
    val foreign = new Path(s"$path/_staging/${ForeignStageFs.Name}")
    for ((op, stmt) <- Seq(
        "INSERT" -> s"INSERT INTO $t VALUES (20L, 5L)",
        "UPDATE" -> s"UPDATE $t SET v = 5L WHERE k % 5 = 2",
        "MERGE" -> (s"MERGE INTO $t d USING (SELECT 30L AS k) s ON d.k = s.k " +
          "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, 5L)"))) {
      hfs(path).delete(foreign.getParent, true)
      ForeignStageFs.armed.set(true)
      CountingLocalFs.serving(spark, classOf[ForeignStageFs])(spark.sql(stmt))
      assert(!ForeignStageFs.armed.get, s"$op: the foreign stage appeared")
      assert(hfs(path).exists(foreign), s"$op: another writer's stage is left alone")
    }
    spark.sql(s"REFRESH TABLE $t")
    val served = spark.table(t)
    assert(served.count() === 12L)
    assert(served.where(col("v") === 5L).select("k").as[Long].collect().sorted.toSeq ===
      Seq(2L, 7L, 20L, 30L))
  }
}

/** A test-scope local FileSystem that counts opens. */
class CountingLocalFs extends graft.sources.GraftLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet(); super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val opens = new AtomicLong(0L)

  /** Runs `body` with `file://` served by an uncached [[CountingLocalFs]]
    * and returns its result with the opens it made.
    */
  def counting[T](spark: SparkSession)(body: => T): (T, Long) = {
    opens.set(0L)
    serving(spark, classOf[CountingLocalFs])((body, opens.get))
  }

  /** Runs `body` with `file://` served by uncached instances of `impl`. */
  def serving[T](spark: SparkSession, impl: Class[_ <: FileSystem])(body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val was = hc.get("fs.file.impl")
    hc.set("fs.file.impl", impl.getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      hc.set("fs.file.impl", was)
      hc.unset("fs.file.impl.disable.cache")
    }
  }
}

/** A test-scope local FileSystem that, once armed, creates another
  * writer's stage in a `_staging` shell right after a listing found the
  * shell empty: the window between a writer's emptiness check and its
  * delete of the shell.
  */
class ForeignStageFs extends graft.sources.GraftLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    val xs = super.listStatus(f)
    if (f.getName == "_staging" && xs.isEmpty && ForeignStageFs.armed.compareAndSet(true, false))
      super.mkdirs(new Path(f, ForeignStageFs.Name))
    xs
  }
}

object ForeignStageFs {
  val Name = "foreign_stage"
  val armed = new AtomicBoolean(false)
}

/** Child-JVM half of MorWritePathSpec: a session whose tasks may retry
  * once (`local[2,2]`), where the first attempt of one task fails after
  * writing rows.
  */
object TaskAttemptProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s = GraftSession.tune(SparkSession.builder().master("local[2,2]")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val flaky = udf { (x: Long) =>
      val tc = org.apache.spark.TaskContext.get()
      if (x == 57L && tc != null && tc.attemptNumber == 0 && tc.stageAttemptNumber == 0)
        throw new IllegalStateException("flaky first attempt")
      x
    }.asNondeterministic()
    // the writer alone: the failed attempt's file stays in the stage,
    // unreturned
    val stage = new Path(s"$dir/stage")
    val files = GraftIO.writeParquet(
      s.range(0, 100, 1, 2).select(flaky(col("id")).as("k")), stage, "probe")
    val staged = s.read.parquet(stage.toString).count()
    val returned = s.read.parquet(files.map(f => s"$stage/$f"): _*)
    println(s"probe: stage holds $staged rows, returned files " +
      s"${returned.distinct().count()} distinct rows")
    // through a MOR upsert: the table serves each key once
    val path = s"$dir/t.parquet"
    s.range(0, 40, 1, 1).select(col("id").as("k")).write.parquet(path)
    GraftMor.morUpsert(s, path, s.range(30, 60, 1, 2).select(flaky(col("id")).as("k")), Seq("k"))
    val served = GraftMor.morRead(s, path)
    println(s"probe: table serves ${served.distinct().count()} distinct rows of ${served.count()}")
    s.stop()
  }
}

/** Child-JVM half of MorWritePathSpec's SQL attempt check: a session
  * whose tasks may retry once (`local[2,2]`), where the first attempt
  * of the task holding key 57 fails after writing rows, once in an
  * INSERT and once in an UPDATE.
  */
object SqlTaskAttemptProbe {
  def main(args: Array[String]): Unit = {
    val wh = args(0)
    val s = GraftSession.tune(SparkSession.builder().master("local[2,2]")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val retried = s.sparkContext.longAccumulator("retried")
    s.udf.register("flaky", (x: Long) => {
      val tc = org.apache.spark.TaskContext.get()
      if (x == 57L && tc != null && tc.stageAttemptNumber == 0) {
        if (tc.attemptNumber == 0) throw new IllegalStateException("flaky first attempt")
        retried.add(1L)
      }
      x
    })
    s.range(0, 40, 1, 1).select(col("id").as("k"), col("id").as("v"))
      .write.parquet(s"$wh/db/t.parquet")
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftattempt")
    val t = "graftattempt.db.t"
    def report(op: String, extra: String): Unit = {
      s.sql(s"REFRESH TABLE $t")
      val keys = s.sql(s"SELECT count(DISTINCT k), count(*) FROM $t").head()
      println(s"probe: $op serves ${keys.getLong(0)} distinct keys in ${keys.getLong(1)} rows$extra")
    }
    s.sql(s"INSERT INTO $t SELECT flaky(id), id FROM range(40, 100, 1, 2)")
    report("INSERT", "")
    s.sql(s"UPDATE $t SET v = flaky(v) + 1000 WHERE k >= 30")
    s.sql(s"REFRESH TABLE $t")
    val updated = s.sql(s"SELECT count(*) FROM $t WHERE v >= 1000").head().getLong(0)
    report("UPDATE", s", $updated updated")
    if (retried.value >= 2L) println("probe: a task retried")
    s.stop()
  }
}
