package graft.federation.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, JsonToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result-schema coercion — the Spark analog of the reference's
  * `schema_cast` kernel library (src/schema_cast/record_convert.rs:51-130):
  * remote engines return close-but-not-identical types (strings for nested
  * values, wider ints, naive timestamps) and the scan must surface exactly
  * the locally-registered schema.
  *
  *  - string → array/struct: JSON decode via `from_json` (the reference's
  *    lists_cast/struct_cast, record_convert.rs:69-110);
  *  - everything else: permissive `Cast` (the reference falls through to
  *    Arrow `cast`, record_convert.rs:121-122).
  *
  * Implemented as a projection, so it stays inside whole-stage codegen and
  * is transparent to filter pushdown (the reference's `SchemaCastScanExec`
  * forwards filters the same way, schema_cast/mod.rs:138-146).
  */
object SchemaCoercion {

  /** Positionally coerce `df` to `target`. Column-count mismatch is an
    * error (record_convert.rs:54-59). */
  def coerce(df: DataFrame, target: StructType): DataFrame = {
    require(df.schema.length == target.length,
      s"schema coercion: column count ${df.schema.length} != ${target.length}" +
        s" (${df.schema.fieldNames.mkString(",")} vs ${target.fieldNames.mkString(",")})")
    val cols = df.schema.fields.zip(target.fields).map { case (src, dst) =>
      coerceColumn(col("`" + src.name + "`"), src.dataType, dst.dataType)
        .as(dst.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  def coerceColumn(c: Column, src: DataType, dst: DataType): Column =
    (src, dst) match {
      case (a, b) if a == b => c
      case (StringType, at: ArrayType) => from_json(c, at)
      case (StringType, st: StructType) => from_json(c, st)
      case (StringType, mt: MapType) => from_json(c, mt)
      // strict interval narrowing (reference intervals_cast.rs:11-75)
      case (CalendarIntervalType, _: YearMonthIntervalType) =>
        IntervalCast.toYearMonth(c)
      case (CalendarIntervalType, _: DayTimeIntervalType) =>
        IntervalCast.toDayTime(c)
      case _ => c.cast(dst)
    }

  /** The same rules over a catalyst expression, strict, for rows leaving a
    * remote wire: JSON text decodes in FAILFAST mode and every other cast
    * is ANSI, so an impossible value fails the read instead of becoming
    * null. Naive timestamps are read as UTC. A native struct keeps its
    * fields only under the same names (case-insensitive): both the pass
    * through and the cast match fields by position, so a renamed or
    * reordered field is refused instead of landing in the wrong slot. */
  def strict(e: Expression, dst: DataType): Expression = {
    if (!sameFieldNames(e.dataType, dst))
      throw new IllegalArgumentException(
        s"struct fields differ by name: the remote value is " +
          s"${e.dataType.sql}, the declared type ${dst.sql}")
    (e.dataType, dst) match {
      case (a, b) if DataType.equalsStructurally(a, b,
          ignoreNullability = true) => e
      case (StringType, _: ArrayType | _: StructType | _: MapType) =>
        JsonToStructs(dst, Map("mode" -> "FAILFAST"), e, Some("UTC"))
      case (CalendarIntervalType, _: YearMonthIntervalType) =>
        IntervalCast.CalendarToYearMonth(e)
      case (CalendarIntervalType, _: DayTimeIntervalType) =>
        IntervalCast.CalendarToDayTime(e)
      case _ => Cast(e, dst, Some("UTC"), EvalMode.ANSI)
    }
  }

  private def sameFieldNames(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall {
          case (f, g) => f.name.equalsIgnoreCase(g.name) &&
            sameFieldNames(f.dataType, g.dataType)
        }
      case (x: ArrayType, y: ArrayType) =>
        sameFieldNames(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameFieldNames(x.keyType, y.keyType) &&
          sameFieldNames(x.valueType, y.valueType)
      case _ => true
    }
}
