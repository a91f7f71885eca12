package graft.profile

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.catalog.TableEnumerator
import graft.render.TableRenderer

/** Footer mode must render exactly what the estimated scan mode renders, on
  * a catalog built to trip footer statistics: NaN in float/double columns
  * (parquet statistics leave NaN out), INT96 timestamps (statistics with a
  * null count but no min/max), a time-of-day column, all-null columns of
  * every profiled kind, a file whose chunks are all null beside one with
  * values, dates/decimals/small integers (served by Spark's aggregate
  * pushdown), and a table above the distributed-footer threshold. */
class FooterScanAgreementSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  /** A child session that writes timestamps as `tsType`. */
  private def writer(tsType: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", tsType)
    s
  }

  private def write(df: DataFrame, path: String, files: Int = 1): Unit =
    df.repartition(files).write.mode("overwrite").parquet(path)

  private lazy val root: String = {
    val root = java.nio.file.Files.createTempDirectory("footer_agree").toString
    val micros = writer("TIMESTAMP_MICROS")
    val int96 = writer("INT96")
    import micros.implicits._
    val ts = (s: String) => Timestamp.valueOf(s)

    write(Seq[(Long, Double, Float)]((1L, 1.0, 1.0f), (2L, Double.NaN, Float.NaN), (3L, 3.0, 3.0f))
      .toDF("id", "d", "f"), s"$root/nan.parquet")

    write(int96.createDataFrame(Seq(
        (1L, ts("2020-01-15 10:00:00")), (2L, ts("2021-06-20 12:00:00"))))
      .toDF("id", "t"), s"$root/int96.parquet")

    val timeOfDay = new MetadataBuilder().putBoolean("logical_time_type", true).build()
    write(Seq((1L, ts("1970-01-01 08:30:00")), (2L, ts("1970-01-01 17:45:00"))).toDF("id", "t")
      .select(col("id"), col("t").as("t", timeOfDay)), s"$root/tod.parquet")

    write(micros.range(0, 5).select(col("id"),
      lit(null).cast("int").as("i"), lit(null).cast("double").as("d"),
      lit(null).cast("timestamp").as("t"), lit(null).cast("boolean").as("b"),
      lit(null).cast("date").as("dt")), s"$root/nulls.parquet")

    // types only Spark's aggregate pushdown converts from footers
    write(micros.range(0, 50).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("2019-11-02")), (col("id") * 9).cast("int")).as("dt"),
      (col("id") * 1.25).cast("decimal(10,2)").as("amt"),
      (col("id") - 20).cast("short").as("s"), (col("id") % 100).cast("byte").as("b8")),
      s"$root/typed.parquet")

    // one file all-null, one with values: Spark's pushdown fails on the
    // null-only chunk of the date column
    val sparse = s"$root/sparse.parquet"
    write(micros.range(0, 3).select(col("id"),
      lit(null).cast("int").as("i"), lit(null).cast("date").as("dt")), sparse)
    micros.range(3, 6).select(col("id"), col("id").cast("int").as("i"),
        date_add(lit(java.sql.Date.valueOf("2021-03-01")), col("id").cast("int")).as("dt"))
      .coalesce(1).write.mode("append").parquet(sparse)

    write(micros.range(0, 8000).select(col("id"),
        when(col("id") === 4321, lit(Double.NaN)).otherwise(col("id") % 7 * 0.5).as("v"),
        timestamp_seconds(lit(1577836800L) + col("id") % 500 * 86400).as("t"),
        (col("id") % 3 === 0).as("b")),
      s"$root/wide.parquet", files = TableEnumerator.DistributeThreshold + 16)
    root
  }

  test("footer-mode render equals the estimated scan render on an adversarial catalog") {
    val wideFiles = TableEnumerator.dataFiles(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$root/wide.parquet")).size
    assert(wideFiles > TableEnumerator.DistributeThreshold, s"only $wideFiles files")
    val typed = Seq("dt", "amt", "s", "b8")
    assert(FooterAgg.footerPass(spark, s"$root/typed.parquet", typed).answers ==
      typed.map(_ -> FooterAgg.Pushdown).toMap, "the pushdown path is not exercised")
    val scan = TableRenderer.render(Profiler.profileRoot(spark, root, exact = false),
      TableRenderer.Estimated)
    val footer = TableRenderer.render(Profiler.profileRootFooter(spark, root),
      TableRenderer.Estimated)
    // the catalog really holds what it is built to hold
    assert(scan.contains("NaN"), scan)
    assert(scan.contains("time-ntz"), scan)
    assert(scan.contains("Jan 2020-Jun 2021"), scan)
    assert(scan.contains("~8000"), scan)
    assert(scan.contains("Mar 2021-Mar 2021"), scan)
    assert(scan.contains("Nov 2019-Jan 2021"), scan)
    assert(footer == scan, s"footer-mode render differs:\n$footer\n--- scan ---\n$scan")
  }
}
