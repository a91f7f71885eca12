package graft.profile

import org.apache.spark.sql.types._

/** Which profile a column gets. Mirrors the reference's three type predicates
  * (`/root/reference/src/listTables.tsx:31-49,125-138`): numeric and temporal
  * columns get a MIN–MAX range, boolean columns get a tri-state TRUE/FALSE
  * histogram, everything else is displayed but not profiled.
  */
sealed trait ColumnClass
object ColumnClass {
  /** `isNumericDataType` — numeric/decimal/smallint/integer/bigint/real/double. */
  case object Numeric extends ColumnClass
  /** `isTemporalDataType` — date/timestamp[tz]; Spark adds TimestampNTZ. */
  case object Temporal extends ColumnClass
  /** bigint carrying nanos-since-epoch (parquet TIMESTAMP(NANOS) under
    * `spark.sql.legacy.parquet.nanosAsLong`) — temporal by column knowledge,
    * not by type (FIXTURES.md gotcha #1). */
  case object TemporalNanos extends ColumnClass
  /** timestamp carrying a TIME-OF-DAY value (a JDBC TIME column: Spark has
    * no time type, so the source surfaces it as a timestamp on 1970-01-01
    * and marks the field metadata with `logical_time_type`) — rendered as
    * an `HH:MM-HH:MM` range, the reference's time path
    * (`/root/reference/src/listTables.tsx:169-175`). */
  case object TemporalTime extends ColumnClass
  /** `isBooleanDataType`. */
  case object Bool extends ColumnClass
  /** Displayed, not profiled (strings/json/binary/arrays/…). */
  case object Other extends ColumnClass
}

object ColumnClassifier {

  /** Classify a Spark type. `nanosOverride` marks a LongType column as
    * temporal-nanos, `timeOverride` a TimestampType column as time-of-day
    * (the type system can't see either). */
  def classify(dt: DataType, nanosOverride: Boolean = false,
      timeOverride: Boolean = false): ColumnClass = dt match {
    case LongType if nanosOverride => ColumnClass.TemporalNanos
    case TimestampType | TimestampNTZType if timeOverride => ColumnClass.TemporalTime
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType =>
      ColumnClass.Numeric
    case _: DecimalType => ColumnClass.Numeric
    case DateType | TimestampType | TimestampNTZType => ColumnClass.Temporal
    case BooleanType => ColumnClass.Bool
    case _ => ColumnClass.Other
  }

  /** Classify every field of a schema: the one place both the scan modes
    * and footer mode decide a column's profile, so a time-of-day or
    * nanos column gets the same class whichever mode profiles it. */
  def classifySchema(schema: StructType, nanosCols: Set[String]): Seq[(StructField, ColumnClass)] =
    schema.fields.toSeq.map(f =>
      f -> classify(f.dataType, nanosCols.contains(f.name), isTimeOfDay(f)))

  /** Classes profiled as a MIN–MAX range. */
  def hasRange(cls: ColumnClass): Boolean = cls match {
    case ColumnClass.Numeric | ColumnClass.Temporal | ColumnClass.TemporalNanos |
         ColumnClass.TemporalTime => true
    case _ => false
  }

  /** True when the field is a JDBC TIME column in timestamp clothing: the
    * JDBC source marks such fields with `logical_time_type` metadata
    * (verified against embedded Derby; the key is Spark's, set by the JDBC
    * schema reader for `java.sql.Types.TIME`). */
  def isTimeOfDay(f: StructField): Boolean =
    try f.metadata.contains("logical_time_type") && f.metadata.getBoolean("logical_time_type")
    catch { case _: Exception => false }
}
