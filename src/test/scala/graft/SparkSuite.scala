package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkSuite {
  lazy val spark: SparkSession = GraftSession.local(threads = 8)
  /** Plan-audit child of [[spark]] (full lineage, no memo, no checkpoints).
    * It still builds each StageMemo stage once per dir, so a spec that
    * changes how a stage is built between calls opens its own
    * `Fixtures.auditSession` per variant. */
  lazy val audit: SparkSession = Fixtures.auditSession(spark)
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
