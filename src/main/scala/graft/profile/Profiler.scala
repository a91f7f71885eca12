package graft.profile

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{CatalogEntry, TableEnumerator}

/** Profile of one column: optional MIN/MAX (numeric/temporal) and optional
  * tri-state TRUE/FALSE counts (boolean). Mirrors the reference `ColumnInfo`
  * (`/root/reference/src/listTables.tsx:13-20`) but keeps values typed instead
  * of `::text`-stringified.
  */
case class ColumnProfile(
    name: String,
    dataType: DataType,
    clazz: ColumnClass,
    min: Option[Any],
    max: Option[Any],
    trueCount: Option[Long],
    falseCount: Option[Long])

/** Row-count result: estimated (metadata-only), exact (full count), or a
  * per-table failure (rendered `"error"`, listTables.tsx:367-369,485-487). */
sealed trait RowCountResult
case class EstimatedRows(n: Long) extends RowCountResult
case class ExactRows(n: Long) extends RowCountResult
case object CountError extends RowCountResult

/** Mirrors the reference `TableView` (listTables.tsx:22-29). */
case class TableProfile(
    schema: String,
    table: String,
    columnCount: Int,
    rows: RowCountResult,
    columns: Seq[ColumnProfile])

/** The profiling engine.
  *
  * Where the reference issues one SQL round-trip (= one full table scan) PER
  * profiled column (`/root/reference/src/listTables.tsx:236-251,310-325` — the
  * N+1 anti-pattern called out in SURVEY §4.1), this engine computes every
  * column's MIN/MAX and every boolean histogram in ONE fused `agg()` — a
  * single column-pruned scan per table, partial-aggregated map-side, with one
  * tiny shuffle to the final aggregate. At 100 TB that's the difference
  * between k scans and 1.
  *
  * All three modes (estimated, exact, footer) profile the tables of a
  * catalog concurrently on one thread pool ([[fanOut]]) with a finite
  * [[Deadline]].
  */
object Profiler {

  /** Columns (by table name) that are bigint nanos-since-epoch and should be
    * profiled as temporal (FIXTURES.md gotcha #1). */
  val DefaultNanosColumns: Map[String, Set[String]] = Map("events" -> Set("ts"))

  /** Threads profiling tables concurrently; the Spark scheduler
    * interleaves their jobs across executor slots. */
  private val PoolSize = 8

  /** How long one catalog profile may run. Tables unfinished by then are
    * cancelled and rendered `error`. */
  private[profile] val Deadline: FiniteDuration = 30.minutes

  private def q(name: String): Column = col(s"`$name`")

  /** One column's aggregates: MIN/MAX for a range class, tri-state
    * TRUE/FALSE counts for a boolean, nothing otherwise. */
  private def columnAggs(f: StructField, cls: ColumnClass): Seq[Column] = cls match {
    case _ if ColumnClassifier.hasRange(cls) =>
      Seq(min(q(f.name)).as(s"min__${f.name}"), max(q(f.name)).as(s"max__${f.name}"))
    case ColumnClass.Bool =>
      // `col IS TRUE` / `col IS FALSE` tri-state semantics (listTables.tsx:314-315):
      // NULLs fall in neither bucket.
      Seq(
        sum(when(q(f.name) <=> lit(true), 1L).otherwise(0L)).as(s"true__${f.name}"),
        sum(when(q(f.name) <=> lit(false), 1L).otherwise(0L)).as(s"false__${f.name}"))
    case _ => Seq.empty
  }

  /** One column's profile from the row [[columnAggs]] produced (`opt`
    * reads a field of it, None when null or absent). */
  private def columnProfile(f: StructField, cls: ColumnClass,
      opt: String => Option[Any]): ColumnProfile = cls match {
    case _ if ColumnClassifier.hasRange(cls) =>
      ColumnProfile(f.name, f.dataType, cls, opt(s"min__${f.name}"), opt(s"max__${f.name}"), None, None)
    case ColumnClass.Bool =>
      ColumnProfile(f.name, f.dataType, cls, None, None,
        opt(s"true__${f.name}").map(_.asInstanceOf[Long]),
        opt(s"false__${f.name}").map(_.asInstanceOf[Long]))
    case _ => ColumnProfile(f.name, f.dataType, cls, None, None, None, None)
  }

  private def field(row: Row, name: String): Option[Any] = {
    val idx = row.fieldIndex(name)
    if (row.isNullAt(idx)) None else Some(row.get(idx))
  }

  /** Build the fused aggregation list for a schema: MIN/MAX per
    * numeric/temporal column, tri-state TRUE/FALSE counts per boolean column,
    * plus `COUNT(*)`. Returns (aggs, perColumnClass).
    */
  def fusedAggs(schema: StructType, nanosCols: Set[String]): (Seq[Column], Seq[(StructField, ColumnClass)]) = {
    val classed = ColumnClassifier.classifySchema(schema, nanosCols)
    (classed.flatMap { case (f, cls) => columnAggs(f, cls) } :+ count(lit(1)).as("rows__"), classed)
  }

  /** Profile one DataFrame in a single pass. */
  def profileDataFrame(
      df: DataFrame,
      schemaName: String,
      tableName: String,
      exact: Boolean,
      estimatedRows: => Long,
      nanosCols: Set[String] = Set.empty): TableProfile = {
    val (aggs, classed) = fusedAggs(df.schema, nanosCols)
    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val cols = classed.map { case (f, cls) => columnProfile(f, cls, field(row, _)) }
    val rows =
      if (exact) ExactRows(row.getLong(row.fieldIndex("rows__")))
      else EstimatedRows(math.max(0L, estimatedRows)) // GREATEST(…, 0) clamp (listTables.tsx:339)
    TableProfile(schemaName, tableName, df.schema.length, rows, cols)
  }

  /** Profiles `entries` concurrently on a pool of [[PoolSize]] threads,
    * all under one Spark job group, and returns the profiles in
    * entry order. A table whose `profile` throws is rendered `CountError`
    * (error isolation, listTables.tsx:248-250,485-487). A table still
    * running at `deadline` is rendered `CountError` too: the group is
    * cancelled, with any job its threads would still submit, and tables
    * not yet started never start. The tables that finished keep their
    * profiles. */
  private[profile] def fanOut(spark: SparkSession, entries: Seq[CatalogEntry],
      deadline: FiniteDuration = Deadline)(profile: CatalogEntry => TableProfile): Seq[TableProfile] = {
    val sc = spark.sparkContext
    val group = s"graft-profile-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(PoolSize)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val due = deadline.fromNow
    try {
      val futures = entries.map { e =>
        Future {
          sc.setJobGroup(group, s"profile ${e.schema}.${e.name}")
          profile(e)
        }
      }
      val results = entries.zip(futures).map { case (e, f) =>
        Try(Await.result(f, due.timeLeft)).getOrElse(failed(e))
      }
      if (futures.exists(!_.isCompleted))
        sc.cancelJobGroupAndFutureJobs(group, s"catalog profile passed its $deadline deadline")
      results
    } finally pool.shutdownNow()
  }

  private def failed(e: CatalogEntry): TableProfile =
    TableProfile(e.schema, e.name, 0, CountError, Seq.empty)

  /** Profile every table under a data root (estimated or exact mode), one
    * fused scan per table, tables fanned out by [[fanOut]]. */
  def profileRoot(
      spark: SparkSession,
      root: String,
      exact: Boolean,
      nanosColumns: Map[String, Set[String]] = DefaultNanosColumns): Seq[TableProfile] =
    fanOut(spark, TableEnumerator.list(spark, root)) { e =>
      profileDataFrame(spark.read.parquet(e.path), e.schema, e.name, exact,
        estimatedRows = TableEnumerator.footerRowCount(spark, e.path),
        nanosColumns.getOrElse(e.name, Set.empty))
    }

  /** FOOTER-MODE profile of one table, in a pushdown session of its own.
    * [[profileRootFooter]] shares one such session across all tables. */
  def profileEntryFooter(
      spark: SparkSession,
      e: CatalogEntry,
      nanosCols: Set[String]): TableProfile =
    Try(footerEntry(spark, FooterAgg.pushdownSession(spark), e, nanosCols)).getOrElse(failed(e))

  /** FOOTER-MODE profile of one table. One pass over the parquet footers
    * ([[FooterAgg.footerPass]]) serves the row count and integer and
    * timestamp ranges; dates, decimals and small integers go to Spark's
    * DSv2 aggregate pushdown ([[FooterAgg.stats]], planned in `pushdown`,
    * made only when a table needs it). A residual fused scan, where a
    * table needs one, serves what footers cannot answer exactly:
    * float/double ranges (footer statistics leave NaN out), boolean
    * tri-state counts (no footer form), and any column with a chunk whose
    * statistics lack a min/max (INT96 timestamps, writers that skip
    * statistics, and — for pushdown-typed columns — all-null chunks).
    * Same TableProfile out as the estimated scan mode, so it renders
    * identically. This is the
    * engine's analog of the reference's "single, fast catalog query"
    * estimated mode (the reference README, line 8) — except the footer
    * numbers are exact, not planner estimates. */
  private def footerEntry(
      spark: SparkSession,
      pushdown: => SparkSession,
      e: CatalogEntry,
      nanosCols: Set[String]): TableProfile = {
    val df = spark.read.parquet(e.path)
    val classed = ColumnClassifier.classifySchema(df.schema, nanosCols)
    val ranged = classed.collect {
      case (f, cls) if ColumnClassifier.hasRange(cls) && !FooterAgg.nanBearing(f.dataType) => f
    }
    val footers = FooterAgg.footerPass(spark, e.path, ranged.map(_.name))
    val pushed = ranged.filter(f => footers.answers.get(f.name).contains(FooterAgg.Pushdown) &&
      FooterAgg.pushable(f.dataType)).map(_.name)
    val pushedRanges = if (pushed.isEmpty) Map.empty else {
      val row = FooterAgg.stats(pushdown, e.path, pushed).collect()(0)
      pushed.map(c => c -> (field(row, s"min_$c"), field(row, s"max_$c"))).toMap
    }
    val served: Map[String, (Option[Any], Option[Any])] = footers.answers.collect {
      case (c, FooterAgg.Served(range)) => c -> (range.map(_._1), range.map(_._2))
    } ++ pushedRanges
    val residual = classed.filterNot { case (f, _) => served.contains(f.name) }
      .flatMap { case (f, cls) => columnAggs(f, cls) }
    val residualRow: Option[Row] =
      if (residual.isEmpty) None else Some(df.agg(residual.head, residual.tail: _*).collect()(0))
    val cols = classed.map { case (f, cls) =>
      served.get(f.name) match {
        case Some((mn, mx)) => ColumnProfile(f.name, f.dataType, cls, mn, mx, None, None)
        case None => columnProfile(f, cls, name => residualRow.flatMap(field(_, name)))
      }
    }
    TableProfile(e.schema, e.name, df.schema.length, EstimatedRows(footers.rows), cols)
  }

  /** Footer-mode profile of every table under a data root (opt-in via
    * `ProfileMain --footer-stats`): at most one pushdown session for the
    * whole catalog, tables fanned out by [[fanOut]] like the scan modes. */
  def profileRootFooter(
      spark: SparkSession,
      root: String,
      nanosColumns: Map[String, Set[String]] = DefaultNanosColumns): Seq[TableProfile] = {
    lazy val pushdown = FooterAgg.pushdownSession(spark)
    fanOut(spark, TableEnumerator.list(spark, root))(e =>
      footerEntry(spark, pushdown, e, nanosColumns.getOrElse(e.name, Set.empty)))
  }
}
