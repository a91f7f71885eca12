package graft.profile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Metadata-only column statistics via DataSource-v2 parquet AGGREGATE
  * PUSHDOWN: MIN/MAX/COUNT are answered from parquet footer statistics —
  * zero row groups decompressed, zero rows scanned. This is the engine's
  * true "estimated mode" fast path (the reference's analog reads
  * `pg_class.reltuples`, `/root/reference/src/listTables.tsx:336-345`):
  * at 100 TB a footer-only profile touches kilobytes per file instead of
  * the data itself.
  *
  * Requires the v2 reader (`spark.sql.sources.useV1SourceList=""`) and
  * `spark.sql.parquet.aggregatePushdown=true`, applied in a CHILD session
  * ([[pushdownSession]], made at most once per catalog profile) so the engine's
  * default v1 path (and every other query) is untouched. Spark only pushes
  * MIN/MAX for types whose footer stats are reliable (numeric/date —
  * notably NOT strings, whose stats may be truncated); callers pass
  * eligible columns. Falls back transparently (Spark keeps the plan
  * correct either way — pushdown is an optimization, the spec asserts it
  * actually engaged). */
object FooterAgg {

  /** Float/double footer statistics leave NaN out (parquet writers skip
    * it), so a footer range of `[1, NaN, 3]` reads `1-3` where a scan
    * reads `1-NaN`: columns of these types are only served by a scan. */
  def nanBearing(dt: DataType): Boolean = dt == FloatType || dt == DoubleType

  /** Types whose MIN/MAX Spark's parquet pushdown answers from footers
    * exactly (probed empirically: numerics and dates push; timestamp/
    * timestamp_ntz and strings do NOT — ntz for precision-mapping reasons,
    * strings because footer stats may be truncated). Float/double push
    * too, but not exactly ([[nanBearing]]). */
  def pushable(dt: DataType): Boolean = dt match {
    case _ if nanBearing(dt) => false
    case _: NumericType => true
    case DateType => true
    case _ => false
  }

  /** The child session [[stats]] runs in: v2 parquet reader with aggregate
    * pushdown. Make one per catalog profile and share it across tables —
    * a session per table pays fresh session state and analysis each time. */
  def pushdownSession(spark: SparkSession): SparkSession = {
    val v2 = spark.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    v2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    v2
  }

  /** One-row MIN/MAX per column plus `n_rows`, planned in `pushdown`, a
    * session made by [[pushdownSession]]. */
  def stats(pushdown: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val df = pushdown.read.parquet(path)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+ count("*").as("n_rows")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** What one column's parquet footer statistics can answer. */
  sealed trait FooterAnswer
  /** The exact scan-visible `(min, max)`, None when every value is null. */
  final case class Served(range: Option[(Any, Any)]) extends FooterAnswer
  /** Every chunk carries a min/max, in a type only Spark's aggregate
    * pushdown converts ([[stats]]: dates, decimals, small and unsigned
    * integers). Spark's pushdown fails the whole query on a chunk without
    * a min/max — an all-null chunk — so only these columns may be pushed. */
  case object Pushdown extends FooterAnswer

  /** What one pass over a table's footers found: the row count and, per
    * column, what footer statistics can answer (see [[footerPass]]). */
  final case class Footers(rows: Long, answers: Map[String, FooterAnswer])

  /** One pass over a table's parquet footers (`ParquetFileReader`
    * metadata only, no data pages): the table's row count and, per column,
    * what footers can serve. Row-group stats merge across files — the
    * same mergeable-partials shape as [[stats]], read in-process below
    * [[graft.catalog.TableEnumerator.DistributeThreshold]] files and
    * distributed over executors above it.
    *
    * An ABSENT key means "not servable from footers" and the caller must
    * fall back to a scan — notably strings (parquet may TRUNCATE binary
    * stats, so they are never trusted as exact ranges, the same reason
    * Spark's pushdown declines them), float/double ([[nanBearing]]), a
    * column with some chunk whose statistics lack a min/max without being
    * all-null (INT96 timestamps), and a [[Pushdown]]-typed column with an
    * all-null chunk. */
  def footerPass(spark: SparkSession, tablePath: String, cols: Seq[String]): Footers = {
    import graft.catalog.TableEnumerator
    val conf = spark.sparkContext.hadoopConfiguration
    val files = TableEnumerator.dataFiles(conf, new org.apache.hadoop.fs.Path(tablePath))
    if (files.isEmpty) return Footers(0L, Map.empty)
    val perFile: Seq[(Long, Map[String, Option[FileStat]])] =
      if (files.size <= TableEnumerator.DistributeThreshold)
        files.map(f => fileStats(conf, f, cols))
      else {
        // ship the session's Hadoop conf (credentials, fs schemes) to the
        // executors — a default Configuration() resolves local paths only
        val props = TableEnumerator.confProps(conf)
        spark.sparkContext
          .parallelize(files.map(_.toString), math.max(1, files.size / 16))
          .mapPartitions { it =>
            val c = TableEnumerator.confFromProps(props)
            it.map(p => fileStats(c, new org.apache.hadoop.fs.Path(p), cols))
          }
          .collect().toSeq
      }
    Footers(perFile.map(_._1).sum, cols.flatMap { c =>
      val stats = perFile.map(_._2(c))
      if (stats.contains(None)) None
      else if (stats.forall(_.get.range.isDefined)) {
        val ranges = stats.flatMap(_.get.range.get)
        // schema evolution can hand the same column DIFFERENT stat classes
        // per file (INT32 → Integer in one footer, INT64 → Long in another):
        // the cross-file compareTo then throws ClassCastException. Degrade
        // to footer-unusable for THIS column only — the residual scan picks
        // it up — instead of letting the throw void the whole table's
        // profile including the row count already served (ADVICE r6).
        try {
          val merged: Option[(Any, Any)] =
            if (ranges.isEmpty) None // all files all-null: served, empty range
            else Some((
              ranges.map(_._1).minBy(identity)(comparableOrdering),
              ranges.map(_._2).maxBy(identity)(comparableOrdering)))
          Some(c -> Served(merged))
        } catch { case _: ClassCastException => None }
      }
      else if (stats.forall(_.get.complete)) Some(c -> Pushdown)
      else None
    }.toMap)
  }

  /** The [[Served]] ranges of [[footerPass]]: a present key maps to
    * `Some((min, max))`, or `None` when every value is null. */
  def footerMinMax(spark: SparkSession, tablePath: String,
      cols: Seq[String]): Map[String, Option[(Any, Any)]] =
    footerPass(spark, tablePath, cols).answers.collect { case (c, Served(r)) => c -> r }

  private val comparableOrdering: Ordering[Any] =
    (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** One file's footer statistics for one column. `range` is the file's
    * `(min, max)` as scan-visible Java values — `Some(None)` when every
    * chunk is all-null, `None` when some value has no exact conversion
    * here; `complete` says every chunk carries a min/max. */
  private case class FileStat(range: Option[Option[(Any, Any)]], complete: Boolean)

  /** Row count and per-column [[FileStat]] of one file; None when the
    * file's statistics cannot answer for the column at all. */
  private def fileStats(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path, cols: Seq[String]): (Long, Map[String, Option[FileStat]]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      reader.getRecordCount -> cols.map { c =>
        val field = if (schema.containsField(c)) Some(schema.getType(Seq(c): _*)) else None
        val chunks = footer.getBlocks.asScala.toSeq.map { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == c).orNull
        }
        // a chunk is all-null only when its null count covers every value:
        // statistics that carry a null count but no min/max (INT96
        // timestamps, writers that skip them) say nothing about the range
        def allNull(ch: ColumnChunkMetaData): Boolean = {
          val s = ch.getStatistics
          !s.hasNonNullValue && s.isNumNullsSet && s.getNumNulls == ch.getValueCount
        }
        val stat = field.filter(_.isPrimitive).map(_.asPrimitiveType()).flatMap { prim =>
          if (chunks.exists(ch => ch == null || ch.getStatistics == null)) None
          else {
            val (nullOnly, ranged) = chunks.partition(allNull)
            if (ranged.exists(!_.getStatistics.hasNonNullValue)) None
            else {
              val mins = ranged.map(ch => convertStat(prim, ch.getStatistics.genericGetMin))
              val maxs = ranged.map(ch => convertStat(prim, ch.getStatistics.genericGetMax))
              val range =
                if (ranged.isEmpty) Some(None)
                else if (mins.contains(None) || maxs.contains(None)) None
                else Some(Some((mins.flatten.min(comparableOrdering),
                  maxs.flatten.max(comparableOrdering))))
              Some(FileStat(range, complete = nullOnly.isEmpty))
            }
          }
        }
        c -> stat
      }.toMap
    } finally reader.close()
  }

  /** Footer value → the Java value a Spark scan would put in a Row for the
    * same column, so footer-served profiles render byte-identically to
    * scan-served ones. None = type not handled exactly (caller scans). */
  private def convertStat(prim: org.apache.parquet.schema.PrimitiveType,
      v: Any): Option[Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import java.time.{Instant, LocalDateTime, ZoneOffset}
    prim.getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        // a corrupt/sentinel footer value (e.g. Long.MaxValue millis from a
        // broken writer) must yield None → column not served → residual scan, not an
        // ArithmeticException that degrades the whole table to CountError
        try {
          val micros = ts.getUnit match {
            case TimeUnit.MILLIS => Math.multiplyExact(v.asInstanceOf[Long], 1000L)
            case TimeUnit.MICROS => v.asInstanceOf[Long]
            case TimeUnit.NANOS  => return Some(v.asInstanceOf[Long]) // nanosAsLong: read AS bigint
          }
          val instant = Instant.ofEpochSecond(
            Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
          if (ts.isAdjustedToUTC) Some(java.sql.Timestamp.from(instant))
          else Some(LocalDateTime.ofInstant(instant, ZoneOffset.UTC))
        } catch { case _: ArithmeticException | _: java.time.DateTimeException => None }
      case null => v match {
        // plain integers (no annotation): already the scan-visible value;
        // float/double statistics leave NaN out ([[nanBearing]])
        case _: java.lang.Long | _: java.lang.Integer => Some(v)
        case _ => None
      }
      case _ => None // decimal/date/string/etc: pushable via stats() or untrusted
    }
  }
}
