package graft.perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.catalog.TableEnumerator
import graft.operators.StageMemo
import graft.profile.{CountError, EstimatedRows, ExactRows, Profiler, TableProfile}
import graft.render.TableRenderer

/** One measured operation's outcome. `item` names what ran (a profile mode,
  * a query, a pass); `ok` is false when it threw or its output was wrong. */
final case class OpResult(item: String, seconds: Double, ok: Boolean, traced: Boolean)

/** A correctness check made outside the timed window. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: inputs made from the seed, an untimed warm-up, a closed-loop
  * operation, and checks of the outputs. */
trait Workload {
  /** Operations in one pass over the workload's items. */
  def passLength: Int
  /** Untimed: runs each item once and records what the checks compare to. */
  def warmup(): Seq[Check]
  /** The `i`-th operation of the closed loop: (item, run). `run` returns
    * whether the output was right. */
  def op(i: Int): (String, () => Boolean)
  /** Untimed checks after the measured loop. */
  def verify(): Seq[Check]
}

object Workloads {
  val Names: Seq[String] = Seq("catalog_profile", "query_tail", "pipeline_cold")

  /** The query families of `SparkEntry.queries`: the name up to the first
    * `_`, with the numbered TPC-H queries (`q1`, `q22`, ...) as one family. */
  def family(query: String): String = {
    val head = query.takeWhile(_ != '_')
    if (head.matches("q[0-9]+")) "tpch" else head
  }

  /** Order-insensitive digest of a query result: row count and the sum of a
    * 64-bit hash of every row. Doubles are hashed at 9 significant digits,
    * so a different summation order inside an aggregate cannot flip it. */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", col(f.name))
        case _: ArrayType | _: MapType | _: StructType => to_json(struct(col(f.name)))
        case _ => col(f.name).cast(StringType)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The gated latency `op_latency_s`: the geometric mean, over the
    * workload's items (profile modes, queries, passes), of each item's
    * median latency. Every item weighs the same however often it ran, and
    * noise in one item moves it by a share of that item's weight only. */
  def opLatency(ops: Seq[OpResult]): Double =
    Stats.geomean(ops.groupBy(_.item).values.map(rs => Stats.median(rs.map(_.seconds))).toSeq)

  /** The workload's own end-to-end metrics: (name, value, unit, note). */
  def namedMetrics(workload: String, ops: Seq[OpResult]): Seq[(String, Double, String, String)] = {
    def latency(prefix: String, rs: Seq[OpResult]): Seq[(String, Double, String, String)] = {
      val xs = rs.map(_.seconds)
      val (p, t) = Stats.tail(xs)
      Seq((s"${prefix}_p50_s", Stats.median(xs), "s", s"n=${xs.size}"),
        (s"${prefix}_tail_s", t, "s", s"p$p n=${xs.size}"))
    }
    workload match {
      case "catalog_profile" =>
        CatalogProfile.Modes.flatMap(m => latency(s"profile_$m", ops.filter(_.item == m)))
      case "query_tail" =>
        latency("query", ops) :+
          (("queries_per_s", ops.size / ops.map(_.seconds).sum, "1/s", s"n=${ops.size}"))
      case "pipeline_cold" =>
        Seq(("pipeline_pass_s", Stats.median(ops.map(_.seconds)), "s", s"n=${ops.size}"))
    }
  }
}

/** `catalog_profile`: the job the reference tool exists for. A seeded
  * rotation of estimated, exact and footer-stats profiles of a generated
  * catalog, each the call `ProfileMain` makes followed by the render. */
final class CatalogProfile(spark: SparkSession, dir: String, fixtureDir: String,
    goldenDir: String, seed: Long, tracer: => Option[Tracer]) extends Workload {
  import CatalogProfile._

  val passLength: Int = Modes.size

  private val reference = scala.collection.mutable.Map.empty[String, String]
  private var catalogRows = 0L
  /** Data files per table path, listed in the warm-up, outside any span. */
  private var files = Map.empty[String, Int]

  /** Mode order of rotation `r`: every rotation runs each mode once. */
  private def rotation(r: Int): Seq[String] = new Random(seed * 7919 + r).shuffle(Modes)

  /** Profiles the catalog as `ProfileMain` would. When traced, the same
    * public sub-functions `profileRoot` composes are called here, each
    * inside a span (on the same 8-thread pool shape). */
  def profile(root: String, mode: String): Seq[TableProfile] = tracer.filter(_.enabled) match {
    case None =>
      if (mode == "footer") Profiler.profileRootFooter(spark, root)
      else Profiler.profileRoot(spark, root, exact = mode == "exact")
    case Some(t) =>
      val entries = t.span("catalog.list")(TableEnumerator.list(spark, root))
      def nanos(table: String): Set[String] = Profiler.DefaultNanosColumns.getOrElse(table, Set.empty)
      if (mode == "footer")
        entries.map(e => t.span("profile.footer_entry")(Profiler.profileEntryFooter(spark, e, nanos(e.name))))
      else {
        val parent = t.currentSpan
        val pool = Executors.newFixedThreadPool(8)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try {
          val futures = entries.map { e =>
            Future(t.under(parent)(t.span("profile.fused_agg") {
              Try {
                Profiler.profileDataFrame(spark.read.parquet(e.path), e.schema, e.name,
                  exact = mode == "exact",
                  estimatedRows = t.span("catalog.footer_count") {
                    t.add("catalog.footer_files", files(e.path))
                    TableEnumerator.footerRowCount(spark, e.path)
                  },
                  nanos(e.name))
              }.getOrElse(TableProfile(e.schema, e.name, 0, CountError, Seq.empty))
            }))
          }
          Await.result(Future.sequence(futures), 170.seconds)
        } finally pool.shutdown()
      }
  }

  def render(profiles: Seq[TableProfile], mode: String): String = {
    val text = tracer.filter(_.enabled) match {
      case None => TableRenderer.render(profiles, renderMode(mode))
      case Some(t) => t.span("render.table")(TableRenderer.render(profiles, renderMode(mode)))
    }
    tracer.foreach(_.add("render.bytes", text.getBytes("UTF-8").length))
    text
  }

  /** Profiles every mode once, untimed: the result is the reference every
    * timed profile of that mode must render identically. */
  def warmup(): Seq[Check] = {
    val byMode = Modes.map { m =>
      val ps = profile(dir, m)
      reference(m) = render(ps, m)
      m -> ps
    }.toMap
    catalogRows = byMode("exact").map(_.rows).collect { case ExactRows(n) => n }.sum
    files = TableEnumerator.list(spark, dir).map { e =>
      e.path -> TableEnumerator.dataFiles(spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(e.path)).size
    }.toMap
    val golden = Seq("estimated", "exact").map { m =>
      val path = java.nio.file.Paths.get(goldenDir, s"golden_sf0.001_$m.txt")
      val want = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val got = render(profile(fixtureDir, m), m)
      Check(s"golden_sf0.001_$m", got == want, if (got == want) "" else s"rendered profile differs from $path")
    }
    golden ++ Seq(modesAgree(byMode))
  }

  /** The three modes must report the same row count and the same rendered
    * range for every column of every table. */
  private def modesAgree(byMode: Map[String, Seq[TableProfile]]): Check = {
    def facts(ps: Seq[TableProfile]): Seq[(String, Long, Seq[String])] = ps.map { p =>
      val rows = p.rows match {
        case ExactRows(n) => n
        case EstimatedRows(n) => n
        case CountError => -1L
      }
      (p.table, rows, p.columns.map(c => TableRenderer.columnCells(c)._3))
    }
    val base = facts(byMode("exact"))
    val bad = Modes.filter(m => facts(byMode(m)) != base || byMode(m).exists(_.rows == CountError))
    Check("profile_modes_agree", bad.isEmpty && base.nonEmpty,
      if (bad.isEmpty) "" else s"modes ${bad.mkString(",")} disagree with exact")
  }

  def op(i: Int): (String, () => Boolean) = {
    val mode = rotation(i / Modes.size)(i % Modes.size)
    (mode, () => {
      val ps = profile(dir, mode)
      render(ps, mode) == reference(mode) && !ps.exists(_.rows == CountError)
    })
  }

  def verify(): Seq[Check] = Nil

  /** Rows of the generated catalog (all tables), for the rows-read ratio. */
  def rows: Long = catalogRows
}

object CatalogProfile {
  val Modes: Seq[String] = Seq("estimated", "exact", "footer")
  def renderMode(mode: String): TableRenderer.Mode =
    if (mode == "exact") TableRenderer.Exact else TableRenderer.Estimated
}

/** Runs one named query as an operation: the query-function call, then a
  * `noop` write, each inside a span when traced. */
final class QueryRunner(spark: SparkSession, dir: String, tracer: => Option[Tracer]) {
  def run(name: String): Unit = {
    val fn = SparkEntry.queries(name)
    StageMemo.beginQuery(name)
    tracer.filter(_.enabled) match {
      case None => Workloads.noop(fn(spark, dir))
      case Some(t) =>
        val df = t.span("operators.construct")(fn(spark, dir))
        t.span("engine.write")(Workloads.noop(df))
    }
  }

  def digest(name: String): String = {
    StageMemo.beginQuery(name)
    Workloads.digest(SparkEntry.queries(name)(spark, dir))
  }
}

/** `query_tail`: the tail of short queries, one from every family of
  * `SparkEntry.queries`, run with the stage memo warm. The query set is the
  * same for every seed (a per-seed draw moved the median by a third between
  * seeds); the seed orders each pass and makes the input data. */
final class QueryTail(spark: SparkSession, dir: String, seed: Long, tracer: => Option[Tracer])
    extends Workload {
  private val runner = new QueryRunner(spark, dir, tracer)
  val sample: Seq[String] = QueryTail.Sample
  val passLength: Int = sample.size

  /** Three untimed passes. The first computes digests and builds every
    * memoized stage the sample reads (memo-cold), so the timed loop reads a
    * warm memo; the second (memo-warm) must give the same digests; the
    * third runs the timed operation itself once more, for the JIT. */
  def warmup(): Seq[Check] = {
    val cold = sample.map(runner.digest)
    val checks = sample.zip(cold).map { case (q, before) =>
      val after = runner.digest(q)
      Check(s"digest_$q", after == before, if (after == before) "" else s"memo-cold $before, memo-warm $after")
    }
    sample.foreach(runner.run)
    checks
  }

  /** Pass `p` runs the sample in a seeded order of its own. */
  def op(i: Int): (String, () => Boolean) = {
    val q = new Random(seed * 7919 + i / sample.size).shuffle(sample).apply(i % sample.size)
    (q, () => { runner.run(q); true })
  }

  def verify(): Seq[Check] = Nil
}

object QueryTail {
  /** One query per family. Chosen as the middle query (by name) of each
    * family among the 299 of 387 queries that took at most 0.7 s warm at
    * sf0.01 with the stage memo warm on a 4-core box (the sub-second tail;
    * both `pipeline_*` queries are slower, so that family is absent). The
    * set is pinned so that adding or removing queries does not change it. */
  val Sample: Seq[String] = Seq("ann_ivf_incremental", "dedup_image_groups",
    "docs_mixture_budget", "embedding_near_dups", "events_ohlc_hourly",
    "multimodal_image_histogram", "profile_lorenz_sources", "q_math_funcs",
    "quality_classifier_train", "text_pack_sequences_bpe", "q1_pricing_summary")
}

/** `pipeline_cold`: the LLM-pipeline batch job. Each pass releases the
  * stage memo, then runs the shared-stage owners and a seeded sample of
  * their readers, so every pass builds the memoized stages again. */
final class PipelineCold(spark: SparkSession, dir: String, seed: Long, tracer: => Option[Tracer])
    extends Workload {
  val passLength = 1
  private val runner = new QueryRunner(spark, dir, tracer)
  val readers: Seq[String] =
    new Random(seed).shuffle(PipelineCold.Readers.filter(SparkEntry.queries.contains)).take(PipelineCold.SampleSize)
  val queries: Seq[String] = PipelineCold.Owners ++ readers
  private val cold = scala.collection.mutable.Map.empty[String, String]

  def warmup(): Seq[Check] = {
    StageMemo.releaseAll()
    queries.foreach(q => cold(q) = runner.digest(q))
    Nil
  }

  def op(i: Int): (String, () => Boolean) = ("pass", () => {
    tracer.filter(_.enabled) match {
      case Some(t) => t.span("operators.release")(StageMemo.releaseAll())
      case None => StageMemo.releaseAll()
    }
    queries.foreach(runner.run)
    true
  })

  /** Digests with the memo warm (stages left by the last pass) must match
    * those of the memo-cold warm-up pass. */
  def verify(): Seq[Check] = queries.map { q =>
    val warm = runner.digest(q)
    Check(s"digest_$q", warm == cold(q), if (warm == cold(q)) "" else s"memo-cold ${cold(q)}, memo-warm $warm")
  }
}

object PipelineCold {
  val Owners: Seq[String] = Seq("dedup_build_pipeline", "text_build_spans",
    "docs_lm_order_agreement3", "profile_catalog_long", "docs_release_report")
  /** Queries that read a stage the owners build and run in under 0.7 s
    * with the memo warm, at the workload's scale on a 4-core box. */
  val Readers: Seq[String] = Seq(
    "dedup_audit_sample", "dedup_banding_curve", "dedup_cluster_lang_purity",
    "dedup_cluster_sizes", "dedup_cluster_sizes_gate", "dedup_clusters", "dedup_clusters_star",
    "dedup_degree_hist", "dedup_ensemble", "dedup_funnel", "dedup_graph_triangles",
    "dedup_group_signatures", "dedup_impact_by_source", "dedup_incremental", "dedup_kcore",
    "dedup_kcore_gate", "dedup_keep_best", "dedup_keep_list", "dedup_minhash_est",
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_quality_bias", "dedup_reach_recursive",
    "dedup_source_overlap", "dedup_threshold_sweep", "dedup_weights", "docs_bigram_buckets",
    "docs_bigram_deployed", "docs_ccnet_buckets", "docs_ccnet_deployed",
    "docs_classifier_auc_binned", "docs_classifier_auc_heldout", "docs_classifier_calibration",
    "docs_cluster_safe_split", "docs_curriculum_order", "docs_filter_agreement",
    "docs_keep_ablation", "docs_lm_order_agreement", "docs_manifest_rollup",
    "docs_release_diff", "docs_shard_balance", "docs_shard_manifest", "docs_shard_rebalance",
    "docs_shard_write", "docs_split_leakage", "docs_takedown_manifest",
    "docs_training_manifest", "docs_trigram_backoff", "docs_trigram_buckets",
    "docs_trigram_deployed", "profile_pk_discovery", "quality_classifier_train",
    "text_dup_spans", "text_paragraph_dedup")
  val SampleSize = 4
}
