package graft.plans

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, SparkEntry, SparkSuite}
import graft.operators.StageMemo

/** The materialization seam ([[Fixtures.shared]]): a plan-audit session
  * runs every query with full lineage — no shared-frame checkpoints, no
  * memoized stages, no pooled profile builds — and must still return the
  * executed form's rows. Covers every query whose plan audit used to need a
  * hand-written un-materialized twin. */
class MaterializeSeamSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  lazy val audit = SparkSuite.audit
  val dir = SparkSuite.Sf0001

  /** Queries that shared a frame, read a memoized stage or ran a pooled
    * build, and whose audit used to be a separate twin builder.
    * (`docs_ccnet_deployed` audits a different frame on purpose — the
    * classify lineage over the materialized buckets — so it is not here.) */
  val Audited: Seq[String] = Seq(
    "dedup_minhash_pairs", "text_dup_spans", "docs_ccnet_buckets",
    "docs_bigram_buckets", "docs_trigram_buckets", "docs_dsir_importance",
    "quality_classifier_confusion", "docs_classifier_auc",
    "profile_catalog_long", "profile_catalog_strings", "profile_pk_discovery",
    "text_paragraph_dedup", "semdedup", "embedding_corr_dims",
    "profile_gini_lineitem", "docs_target_affinity",
    "profile_weighted_percentiles", "q_market_basket",
    "events_max_concurrency", "events_transition_matrix",
    "events_wavelet_energy", "events_rolling_wau_sketch",
    "events_busy_window_sessions", "text_source_tv_distance",
    "dedup_fuzzy_names")

  private def rows(s: org.apache.spark.sql.SparkSession, name: String): Map[Seq[Any], Int] =
    SparkEntry.queries(name)(s, dir).collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (r, rs) => r -> rs.size }

  test("only the audit child runs in full-lineage mode") {
    assert(Fixtures.fullLineage(audit))
    assert(!Fixtures.fullLineage(spark), "opening an audit session changed the parent's mode")
  }

  test("audit session returns the executed form's rows for every former twin query") {
    Audited.foreach { name =>
      assert(rows(audit, name) == rows(spark, name), s"$name: audit rows differ")
    }
  }

  test("audit session plans carry no checkpoint scan (no LogicalRDD)") {
    Audited.foreach { name =>
      val plan = SparkEntry.queries(name)(audit, dir).queryExecution.analyzed
      assert(plan.collectFirst { case r: LogicalRDD => r }.isEmpty,
        s"$name: audit plan still reads a materialized frame")
    }
  }

  test("a stage read twice in one audit query is one Dataset") {
    // docs_release_report reads the candidate-pair stage through several
    // consumers; two distinct builds would carry the same named cap
    // observation twice, which Spark's analyzer rejects
    val a = StageMemo(audit, dir, "materialize_seam_probe")(spark.range(3).toDF())
    val b = StageMemo(audit, dir, "materialize_seam_probe")(spark.range(3).toDF())
    assert(a eq b)
    SparkEntry.queries("docs_release_report")(audit, dir).queryExecution.assertAnalyzed()
  }

  test("an audit call leaves StageMemo with no new entry and no read-log entry") {
    StageMemo.releaseAll()
    val probe = "materialize_seam_audit_probe"
    StageMemo.beginQuery(probe)
    try Audited.foreach(name => SparkEntry.queries(name)(audit, dir).collect())
    finally StageMemo.beginQuery(null)
    assert(StageMemo.residentCount == 0, "an audit call memoized a stage")
    assert(StageMemo.lastReaders(Seq(probe)).isEmpty, "an audit call logged a stage read")
  }
}
