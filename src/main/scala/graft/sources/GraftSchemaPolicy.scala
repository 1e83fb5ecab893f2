package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** A36: schema-evolution policy — the write-side gate that makes A13's
  * mergeSchema READ safe to rely on: an append may only change the
  * schema in ways every existing reader survives. The classification
  * is the standard lake contract:
  *
  *   compatible: ADD a nullable column (old files read as null),
  *               STRICTER incoming data (non-nullable rows into a
  *               nullable column).
  *   breaking:   DROP a column; ANY type change — including a
  *               numeric WIDENING: Spark's parquet mergeSchema
  *               refuses to merge INT with BIGINT across files
  *               (CANNOT_MERGE_SCHEMAS), so widening a plain parquet
  *               table needs a REWRITE, not an append (Delta's
  *               typeWidening is a table feature precisely because
  *               of this) — the widen/retype split is kept so the
  *               refusal can say which rewrite would be lossless;
  *               RELAX non-null → nullable (downstream non-null
  *               contracts break once nulls can appear); ADD a
  *               NON-nullable column (old files cannot satisfy it).
  *
  * `enforceAppend` diffs the incoming frame against the table's
  * current schema and refuses breaking changes unless explicitly
  * overridden — the failure names every offending change, so the
  * 3 a.m. pipeline page says WHAT broke, not just that parquet read
  * nulls somewhere downstream.
  */
object GraftSchemaPolicy {

  sealed trait Change { def breaking: Boolean; def describe: String }
  case class AddedColumn(name: String, nullable: Boolean) extends Change {
    def breaking: Boolean = !nullable
    def describe: String =
      s"added ${if (nullable) "nullable" else "NON-NULLABLE"} column '$name'"
  }
  case class DroppedColumn(name: String) extends Change {
    def breaking = true
    def describe = s"dropped column '$name'"
  }
  case class WidenedType(name: String, from: DataType, to: DataType) extends Change {
    def breaking = true // parquet mergeSchema cannot merge physical types
    def describe = s"widened '$name': ${from.simpleString} -> ${to.simpleString} " +
      "(lossless, but parquet readers cannot merge physical types - rewrite the table)"
  }
  case class RetypedColumn(name: String, from: DataType, to: DataType) extends Change {
    def breaking = true
    def describe = s"retyped '$name': ${from.simpleString} -> ${to.simpleString}"
  }
  case class RelaxedNullability(name: String) extends Change {
    def breaking = true
    def describe = s"'$name' may now contain nulls (was non-nullable)"
  }
  case class StricterNullability(name: String) extends Change {
    def breaking = false
    def describe = s"incoming '$name' rows are non-nullable (table stays nullable)"
  }

  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision >= f.precision
    case _ => false
  }

  /** `t` with every NESTED field, element and value nullable: a table
    * read back from parquet serves nested fields nullable whatever the
    * writer declared, so nested nullability is not a type change.
    */
  private def nestedNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nestedNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nestedNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nestedNullable(m.keyType), nestedNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Classify every difference from `old` to `next`. Nested types
    * compare with nullability ignored; a column's own nullability is
    * classified on its own.
    */
  def diff(old: StructType, next: StructType): Seq[Change] = {
    val oldBy = old.fields.map(f => f.name -> f).toMap
    val nextBy = next.fields.map(f => f.name -> f).toMap
    val added = next.fields.filterNot(f => oldBy.contains(f.name))
      .map(f => AddedColumn(f.name, f.nullable))
    val dropped = old.fields.filterNot(f => nextBy.contains(f.name))
      .map(f => DroppedColumn(f.name))
    val common = next.fields.filter(f => oldBy.contains(f.name)).flatMap { f =>
      val o = oldBy(f.name)
      val typeChange: Option[Change] =
        if (nestedNullable(o.dataType) == nestedNullable(f.dataType)) None
        else if (widens(o.dataType, f.dataType))
          Some(WidenedType(f.name, o.dataType, f.dataType))
        else Some(RetypedColumn(f.name, o.dataType, f.dataType))
      val nullChange: Option[Change] =
        if (o.nullable == f.nullable) None
        else if (f.nullable) Some(RelaxedNullability(f.name))
        else Some(StricterNullability(f.name))
      typeChange.toSeq ++ nullChange.toSeq
    }
    (added ++ dropped ++ common).toSeq
  }

  /** Gate + append: refuse breaking changes (unless `allowBreaking`),
    * then land the frame. Returns the classified changes.
    */
  def enforceAppend(s: SparkSession, df: DataFrame, path: String,
      allowBreaking: Boolean = false): Seq[Change] = {
    val current = graft.sources.GraftIO.readParquet(s, path).schema
    val changes = diff(current, df.schema)
    val broken = changes.filter(_.breaking)
    if (broken.nonEmpty && !allowBreaking)
      throw new IllegalStateException(
        "[GRAFT] breaking schema changes refused:\n  " +
          broken.map(_.describe).mkString("\n  ") +
          "\n(pass allowBreaking=true to override)")
    df.write.mode("append").parquet(path)
    changes
  }
}
