package graft.sources.v2

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CHAR(n)/VARCHAR(n) length semantics on the WRITE path (the r15
  * What's-missing #5): the reference reads char/varchar as STRING
  * (ArgodbSerdeUtils.java:71-102 — HiveTypeMapping keeps that read
  * mapping), but a table DECLARED `c CHAR(4)` must also enforce the
  * Hive/Spark write discipline — a value longer than n (ignoring
  * trailing spaces) refuses the insert, and CHAR values right-pad to
  * exactly n. Spark hands the catalog StringType + the raw type in
  * field metadata (`__CHAR_VARCHAR_TYPE_STRING`); the permanent DDL
  * marker drops metadata, so the declared lengths persist in a
  * `_schema/charvarchar` marker written at CREATE and applied by the
  * INSERT surface. Map-side only (one projection over the batch) —
  * nothing at read time pays for it.
  */
object GraftCharVarchar {

  /** Spark's metadata key carrying the raw char/varchar type string
    * (stable public literal since 3.1).
    */
  val MetadataKey = "__CHAR_VARCHAR_TYPE_STRING"

  private val Raw = """(?i)\s*(char|varchar)\s*\(\s*(\d+)\s*\)\s*""".r

  private def marker(tablePath: String) =
    new Path(s"$tablePath/${graft.sources.GraftMor.SchemaDir}/charvarchar")

  /** Record declared char/varchar columns (`name\tkind\tn` lines);
    * no marker when none are declared.
    */
  def writeMarker(fs: FileSystem, tablePath: String,
      schema: StructType): Unit = {
    val declared = schema.fields.flatMap { f =>
      if (!f.metadata.contains(MetadataKey)) None
      else f.metadata.getString(MetadataKey) match {
        case Raw(kind, n) => Some(s"${f.name}\t${kind.toLowerCase}\t$n")
        case _ => None
      }
    }
    if (declared.isEmpty) return
    fs.mkdirs(marker(tablePath).getParent)
    graft.sources.GraftIO.writeText(fs, marker(tablePath),
      declared.mkString("\n"), overwrite = false)
  }

  /** Declared (column, isChar, n) triples, empty when none. */
  def read(fs: FileSystem, tablePath: String): Seq[(String, Boolean, Int)] = {
    val body = graft.sources.GraftIO.readMarker(fs, marker(tablePath))
      .getOrElse(return Seq.empty)
    body.split("\n").toSeq.flatMap { l =>
      l.split("\t", 3) match {
        case Array(name, kind, n) =>
          try Some((name, kind == "char", n.toInt))
          catch { case _: NumberFormatException => None }
        case _ => None
      }
    }
  }

  /** Enforce the declared lengths over one insert batch: a value
    * whose length past trailing spaces exceeds n refuses BY NAME
    * (the whole insert fails before any file stages — the A38 gate
    * discipline); in-limit values truncate trailing-space overflow
    * to n, and CHAR right-pads to exactly n. Nulls pass through.
    */
  def enforce(df: DataFrame, fs: FileSystem, tablePath: String): DataFrame = {
    val declared = read(fs, tablePath)
    if (declared.isEmpty) return df
    val present = df.columns.toSet
    declared.filter(d => present.contains(d._1)).foldLeft(df) {
      case (acc, (name, isChar, n)) =>
        val c = col(name)
        val kept = substring(c, 1, n)
        val fitted = if (isChar) rpad(kept, n, " ") else kept
        acc.withColumn(name,
          when(c.isNotNull && length(rtrim(c)) > n,
            raise_error(concat(
              lit(s"[GRAFT] value for ${if (isChar) "CHAR" else "VARCHAR"}" +
                s"($n) column '$name' exceeds the declared length: '"),
              c, lit("'"))).cast("string"))
            .otherwise(fitted))
    }
  }
}
