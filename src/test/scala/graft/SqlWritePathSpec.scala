package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import scala.jdk.CollectionConverters._

import graft.sources.{GraftMor, GraftSink}
import graft.sources.v2.GraftTableCatalog

/** The SQL write surfaces (INSERT, row-level DML, ALTER, rebucket)
  * stage through the graft task writer and land exactly the files it
  * returned: delta DML writes every column type INSERT writes, its file
  * names stay unique across applications, and its position keys mask
  * on every serving surface.
  */
class SqlWritePathSpec extends SparkSpecBase {

  private def hfs(p: String) = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def freshWh(name: String): String = {
    val wh = s"${GraftSink.scratchDir}/$name"
    hfs(wh).delete(new Path(wh), true)
    wh
  }

  /** Rows as sorted JSON lines over `cols`: binary and nested values
    * compare by content.
    */
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(to_json(struct(cols.map(col): _*))).collect()
      .map(_.getString(0)).toSeq.sorted

  private def served(table: String, cols: Seq[String]): Seq[String] = {
    spark.sql(s"REFRESH TABLE $table")
    rowsOf(spark.sql(s"SELECT * FROM $table"), cols)
  }

  test("an UPDATE in a fresh application commits beside the files an earlier application's UPDATE landed") {
    val wh = freshWh("sqlwrite_fresh_wh")
    val path = s"$wh/db/t.parquet"
    spark.range(20).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .coalesce(1).write.parquet(path)
    // a position sidecar already exists, so both applications plan the
    // same jobs and their tasks take the same ids
    GraftTableCatalog.register(spark, wh, "graftfresh")
    spark.sql("DELETE FROM graftfresh.db.t WHERE k % 10 = 9")
    val jvm = s"${sys.props("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(jvm, "-Xmx1g", "-Dspark.ui.enabled=false", "-cp", sys.props("java.class.path")) ++
      opens ++ Seq("graft.FreshAppUpdateProbe", wh)
    for (run <- 1 to 2) {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
      assert(p.waitFor() === 0, s"run $run:\n" + out.takeRight(30).mkString("\n"))
      assert(out.contains("probe: updated"), s"run $run:\n" + out.takeRight(30).mkString("\n"))
    }
    spark.sql("REFRESH TABLE graftfresh.db.t")
    val rows = spark.sql("SELECT k, v FROM graftfresh.db.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(rows.size === 18 && rows.map(_._1).distinct.size === 18)
    assert(rows.toMap.apply(3L) === 32L, "both UPDATEs serve")
  }

  test("position keys a SQL DELETE, UPDATE and MERGE record mask morRead too, under a warehouse path that URL-encodes") {
    val wh = freshWh("probe wh")
    val path = s"$wh/db/t.parquet"
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .repartition(2).write.parquet(path)
    GraftTableCatalog.register(spark, wh, "graftpathforms")
    val t = "graftpathforms.db.t"
    // each statement reads the state the previous one left (the
    // catalog pins a table's files and sidecars until REFRESH)
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 3")
    spark.sql(s"REFRESH TABLE $t")
    spark.sql(s"UPDATE $t SET v = v + 1000 WHERE k % 7 = 1")
    spark.sql(s"REFRESH TABLE $t")
    spark.sql(s"""MERGE INTO $t d
      USING (SELECT 5L AS k, 5555L AS v UNION ALL SELECT 200L, 2000L) s ON d.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val sql = served(t, Seq("k", "v"))
    assert(sql.size === 91)
    assert(rowsOf(GraftMor.morRead(spark, path), Seq("k", "v")) === sql)
  }

  test("UPDATE and MERGE write decimal(38,18), binary, array and a DATE partition column, serving what morRead serves") {
    val wh = freshWh("sqlwrite_types_wh")
    val path = s"$wh/db/t.parquet"
    spark.sql(
      """SELECT id AS k,
        |  CAST(concat(id, '.123456789012345678') AS DECIMAL(38,18)) AS d,
        |  CAST(concat('b', id) AS BINARY) AS b,
        |  array(CAST(id AS INT), NULL, 3) AS arr,
        |  date_add(DATE'2024-02-28', CAST(id % 3 AS INT)) AS dt
        |FROM range(30)""".stripMargin)
      .write.partitionBy("dt").parquet(path)
    GraftTableCatalog.register(spark, wh, "graftdmltypes")
    val t = "graftdmltypes.db.t"
    val cols = Seq("k", "d", "b", "arr", "dt")
    spark.sql(s"""UPDATE $t SET d = -d, b = CAST('u' AS BINARY),
      arr = array(k, 7), dt = date_add(dt, 10) WHERE k % 4 = 1""")
    spark.sql(s"REFRESH TABLE $t")
    spark.sql(s"""MERGE INTO $t d
      USING (SELECT 2L AS k UNION ALL SELECT 100L) s ON d.k = s.k
      WHEN MATCHED THEN UPDATE SET d = 0.5
      WHEN NOT MATCHED THEN INSERT (k, d, b, arr, dt)
        VALUES (s.k, 123456789.123456789012345678, CAST('m' AS BINARY),
          array(1), DATE'2025-01-01')""")
    val sql = served(t, cols)
    assert(sql.size === 31)
    assert(rowsOf(GraftMor.morRead(spark, path), cols) === sql)
    val r = spark.sql(s"SELECT d, CAST(b AS STRING), dt FROM $t WHERE k = 5").head()
    assert(r.getDecimal(0).toPlainString === "-5.123456789012345678")
    assert(r.getString(1) === "u")
    assert(String.valueOf(r.get(2)) === "2024-03-11")
    val m = spark.sql(s"SELECT d, dt FROM $t WHERE k = 100").head()
    assert(m.getDecimal(0).toPlainString === "123456789.123456789012345678")
    assert(String.valueOf(m.get(1)) === "2025-01-01")
  }

  private def sourceLines(f: java.io.File): List[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("source lint: the SQL writers stage through GraftIO; ALTER and rebucket land the files they staged") {
    val dir = new java.io.File("src/main/scala/graft/sources/v2")
    assume(dir.isDirectory, "source tree not available")
    // `.write` not applied to arguments is a DataFrameWriter call
    val banned = """ExampleParquetWriter|SimpleGroup|DataFrameWriter|SaveMode|\.write\b(?!\s*\()|sessionState\.newHadoopConf|\brename\(""".r
    def code(l: String) = !Seq("*", "//", "import ").exists(l.trim.startsWith)
    val writers = Seq("GraftRowLevel.scala", "GraftSqlWrite.scala").flatMap { n =>
      sourceLines(new java.io.File(dir, n)).zipWithIndex.collect {
        case (l, i) if code(l) && banned.findFirstIn(l.split("//").head).isDefined =>
          s"$n:${i + 1}: $l"
      }
    }
    // a listing of a stage: the staged file set is what the writer returned
    val stageListing = """dataFilesRelative\(\s*\w+\s*,\s*\w*[sS]tage""".r
    val swaps = Seq("GraftTableCatalog.scala", "GraftLayout.scala", "GraftDataSource.scala")
      .flatMap { n =>
        sourceLines(new java.io.File(dir, n)).zipWithIndex.collect {
          case (l, i) if code(l) && stageListing.findFirstIn(l).isDefined => s"$n:${i + 1}: $l"
        }
      }
    assert(writers.isEmpty && swaps.isEmpty,
      "table writes stage through GraftIO.writeStage and land through GraftIO.land:\n" +
        (writers ++ swaps).mkString("\n"))
  }
}

/** Child-JVM half of SqlWritePathSpec: one fresh application running
  * one UPDATE on the catalog table under `args(0)`.
  */
object FreshAppUpdateProbe {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.tune(SparkSession.builder().master("local[1]")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftTableCatalog.register(s, args(0), "graftfresh")
    s.sql("UPDATE graftfresh.db.t SET v = v + 1 WHERE k = 3")
    println("probe: updated")
    s.stop()
  }
}
