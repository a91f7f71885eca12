package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.operators.StageMemo

/** The benchmark's JVM entry point; `perfbench/run.py` builds and launches it.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  * --fixture-dir <dir> --golden-dir <dir>`
  *
  * One run: three session set-ups (the first also generates the seeded
  * input catalog, which is not counted), an untimed warm-up, a closed loop
  * of one client for `--seconds`, then untimed output checks. Human-readable
  * `metric` lines come first; the last stdout line is one JSON object.
  * With `--trace 1` the loop alternates traced and untraced operations and
  * the JSON carries the per-layer metrics and the tracing overhead.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: String, fixtureDir: String, goldenDir: String)

  /** End-to-end metrics, reported by every workload (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_latency_s" -> "s", "mem_live_mb" -> "MB")

  /** Per-layer metrics of the traced run (name, unit). Every `*_s` span
    * metric is self time: the span's time minus that of its child spans. */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalog.list_s" -> "s", "catalog.footer_count_s" -> "s", "catalog.footer_files" -> "count",
    "profile.fused_agg_s" -> "s", "profile.footer_entry_s" -> "s", "profile.jobs" -> "count",
    "profile.rows_read_ratio" -> "ratio",
    "render.s" -> "s", "render.bytes" -> "bytes",
    "operators.construct_s" -> "s", "operators.eager_jobs" -> "count",
    "operators.stagememo_rebuilds" -> "count", "operators.stagememo_resident_mb" -> "MB",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
    "codegen.compiles" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_wait_s" -> "s",
    "spark.slot_busy_frac" -> "frac", "spark.empty_task_frac" -> "frac",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_failures" -> "count",
    "jvm.gc_s" -> "s", "jvm.code_cache_mb" -> "MB", "jvm.rss_peak_mb" -> "MB",
    "trace.overhead_op_latency_frac" -> "frac", "trace.overhead_ops_per_s_frac" -> "frac",
    "box.loadavg_1m" -> "load")

  val SetupCycles = 3

  /** The loop runs at least two passes over the workload's items, so every
    * run's median covers the same mix, twice. */
  val MinPasses = 2

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "selftest") { SelfTest.run(a); return }
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    val out = run(a)
    out.foreach(println)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work-dir"), need("fixture-dir"), need("golden-dir"))
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Starts the session the way Tier-1 does and runs one small job. */
  def startSession(nproc: Int, workDir: String): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder().master(s"local[$nproc]").appName("graft"))
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(1000000L).selectExpr("sum(id)").collect()
    s
  }

  def run(a: Args): Seq[String] = {
    val nproc = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val load0 = loadAvg()
    val lines = Seq.newBuilder[String]
    val dataDir = s"${a.workDir}/catalog"

    // Set-up, timed SetupCycles times: session start plus a first job.
    val setups = (1 to SetupCycles).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      startSession(nproc, a.workDir)
      (System.nanoTime() - t0) / 1e9
    }
    val session = SparkSession.active
    var tracer: Option[Tracer] = None
    val w: Workload = a.workload match {
      case "catalog_profile" =>
        new CatalogProfile(session, dataDir, a.fixtureDir, a.goldenDir, a.seed, tracer)
      case "query_tail" => new QueryTail(session, dataDir, a.seed, tracer)
      case "pipeline_cold" => new PipelineCold(session, dataDir, a.seed, tracer)
    }
    val (catBytes, catFiles) = footprint(new File(dataDir))

    val w0 = System.nanoTime()
    val warmChecks = w.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    if (a.trace) tracer = Some(new Tracer(session))
    StageMemo.resetRebuildTracking()

    // The closed loop: one client, the next operation starts when the last
    // one ends, until `seconds` have passed and the pass in progress is
    // complete (whole passes keep each run's mix of items the same). When
    // tracing, each item alternates between traced and untraced runs.
    val load1 = loadAvg()
    val rss = new RssSampler()
    rss.start()
    val ops = Seq.newBuilder[OpResult]
    val loop0 = System.nanoTime()
    var i = 0
    var residentMb = 0.0
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    while ((System.nanoTime() - loop0) / 1e9 < a.seconds || i % w.passLength != 0 || i < MinPasses * w.passLength) {
      val (item, body) = w.op(i)
      val first = seen.keys.toSeq.indexOf(item) match { case -1 => seen.size; case k => k }
      val traced = tracer.isDefined && (seen.getOrElse(item, 0) + first) % 2 == 1
      seen(item) = seen.getOrElse(item, 0) + 1
      if (traced) tracer.get.begin(i)
      val t0 = System.nanoTime()
      val ok = try body() catch {
        case e: Exception =>
          System.err.println(s"operation $i ($item) failed: $e")
          false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (traced) {
        tracer.get.end()
        residentMb = math.max(residentMb,
          session.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      }
      System.err.println(f"perfbench op $i $item ${sec}%.4f ok=$ok traced=$traced")
      ops += OpResult(item, sec, ok, traced)
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val rssMb = rss.finish()
    val memLiveMb = liveMb()
    val rebuilds = StageMemo.rebuildCount
    val results = ops.result()
    val checks = warmChecks ++ w.verify()
    val codeCache = Tracer.codeCacheMb()

    val attempted = results.size + checks.size
    val failed = results.count(!_.ok) + checks.count(!_.ok)

    // ---- human-readable report
    lines += f"run workload=${a.workload} seed=${a.seed} seconds=${a.seconds}%.0f trace=${if (a.trace) 1 else 0} " +
      f"nproc=$nproc loadavg_jvm_start=$load0%.2f loadavg_loop_start=$load1%.2f"
    lines += f"input catalog_mb=${catBytes / 1048576.0}%.2f catalog_files=$catFiles warmup_s=$warmS%.3f loop_s=$loopS%.3f"
    checks.filterNot(_.ok).foreach(c => lines += s"check FAILED ${c.name}: ${c.detail}")
    lines += s"checks passed=${checks.count(_.ok)} failed=${checks.count(!_.ok)}"

    val untraced = results.filterNot(_.traced)
    val measured = if (untraced.nonEmpty) untraced else results
    val setupS = Stats.median(setups)
    val opLatency = Workloads.opLatency(measured)
    def metric(name: String, v: Double, unit: String, extra: String): Unit =
      lines += f"metric $name%-26s ${Stats.fmt(v)}%12s $unit%-5s $extra"
    metric("setup_s", setupS, "s", s"n=$SetupCycles cold=${Stats.fmt(setups.head)}")
    metric("rss_peak_mb", rssMb, "MB", "n=1")
    metric("mem_live_mb", memLiveMb, "MB", "n=1")
    metric("op_latency_s", opLatency, "s", s"n=${measured.size} items=${measured.map(_.item).distinct.size}")
    metric("failed_frac", failed.toDouble / attempted, "frac", s"n=$attempted")
    Workloads.namedMetrics(a.workload, measured).foreach { case (n, v, u, extra) => metric(n, v, u, extra) }

    val e2e = Map("setup_s" -> setupS, "op_latency_s" -> opLatency, "mem_live_mb" -> memLiveMb)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      case Some(t) =>
        val layer = perLayer(t, results, nproc, rebuilds, residentMb, codeCache, rssMb, load0, w)
        layer.foreach { case (n, v, u) => metric(n, v, u, "") }
        writeTrace(t, s"${a.workDir}/../trace-${a.workload}-${a.seed}.jsonl")
        layer
    }
    val json = metrics.map { case (n, v, u) => s""""$n":{"value":${Stats.json(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    lines += s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$json}"""
    session.stop()
    lines.result()
  }

  private def perLayer(t: Tracer, results: Seq[OpResult], nproc: Int, rebuilds: Long,
      residentMb: Double, codeCache: Double, rssMb: Double, load0: Double,
      w: Workload): Seq[(String, Double, String)] = {
    val traced = results.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val self = t.selfSeconds
    val e = t.engine
    val c = t.counts
    def cnt(k: String): Double = c.getOrElse(k, 0d)
    def layerJobs(l: String): Double = e.byLayer.get(s"$l.jobs").map(_.get.toDouble).getOrElse(0d)
    def phase(p: String): Double = t.plans.phaseMs.get(p).map(_.get / 1e3).getOrElse(0d)
    val tracedWall = cnt("__wall_s")
    val catalogRows = w match { case cp: CatalogProfile => cp.rows.toDouble; case _ => 0d }
    val profileOps = traced.count(r => CatalogProfile.Modes.contains(r.item))
    val (ovP50, ovRate) = Stats.overhead(results)
    val tasks = math.max(1L, e.tasks.get).toDouble
    val v: Map[String, Double] = Map(
      "catalog.list_s" -> self.getOrElse("catalog.list", 0d) / n,
      "catalog.footer_count_s" -> self.getOrElse("catalog.footer_count", 0d) / n,
      "catalog.footer_files" -> cnt("catalog.footer_files") / n,
      "profile.fused_agg_s" -> self.getOrElse("profile.fused_agg", 0d) / n,
      "profile.footer_entry_s" -> self.getOrElse("profile.footer_entry", 0d) / n,
      "profile.jobs" -> layerJobs("profile") / n,
      "profile.rows_read_ratio" ->
        (if (catalogRows > 0 && profileOps > 0) e.profileRowsRead.get / (catalogRows * profileOps) else 0d),
      "render.s" -> self.getOrElse("render.table", 0d) / n,
      "render.bytes" -> cnt("render.bytes") / n,
      "operators.construct_s" -> self.getOrElse("operators.construct", 0d) / n,
      "operators.eager_jobs" -> layerJobs("operators") / n,
      "operators.stagememo_rebuilds" -> rebuilds.toDouble / math.max(1, results.size),
      "operators.stagememo_resident_mb" -> residentMb,
      "plans.analysis_s" -> phase("analysis") / n,
      "plans.optimization_s" -> phase("optimization") / n,
      "plans.planning_s" -> phase("planning") / n,
      "codegen.compiles" -> cnt("codegen.compiles") / n,
      "spark.jobs" -> e.jobs.get / n,
      "spark.stages" -> e.stages.get / n,
      "spark.tasks" -> e.tasks.get / n,
      "spark.task_run_s" -> e.runMs.get / 1e3 / n,
      "spark.task_cpu_s" -> e.cpuNs.get / 1e9 / n,
      "spark.task_wait_s" -> e.waitMs.get / 1e3 / n,
      "spark.slot_busy_frac" -> (if (tracedWall > 0) e.runMs.get / 1e3 / (tracedWall * nproc) else 0d),
      "spark.empty_task_frac" -> e.emptyTasks.get / tasks,
      "spark.shuffle_read_mb" -> e.shuffleRead.get / 1048576.0 / n,
      "spark.shuffle_write_mb" -> e.shuffleWrite.get / 1048576.0 / n,
      "spark.spill_mb" -> e.spill.get / 1048576.0 / n,
      "spark.task_failures" -> e.failedTasks.get.toDouble,
      "jvm.gc_s" -> cnt("jvm.gc_s") / n,
      "jvm.code_cache_mb" -> codeCache,
      "jvm.rss_peak_mb" -> rssMb,
      "trace.overhead_op_latency_frac" -> ovP50,
      "trace.overhead_ops_per_s_frac" -> ovRate,
      "box.loadavg_1m" -> load0)
    PerLayer.map { case (name, unit) => (name, v(name), unit) }
  }

  /** Heap in use after a full collection plus non-heap in use (metaspace,
    * code cache): the memory the program keeps live, which unlike the
    * resident set does not depend on when the collector last ran. */
  def liveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    mem.gc()
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Bytes and parquet file count under `dir`. */
  def footprint(dir: File): (Long, Int) = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    val all = files(dir)
    (all.map(_.length).sum, all.size)
  }

  private def writeTrace(t: Tracer, path: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try t.spansJson.foreach(w.println) finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value). Below twenty samples that percentile is under
    * the median, and the median is reported (as p50). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    if (s.size < 20) (50, median(s))
    else (math.floor(100.0 * (s.size - 10) / s.size).toInt, s(s.size - 11))
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Traced-vs-untraced overhead of the loop's items that ran both ways:
    * (median latency ratio − 1, throughput ratio − 1). */
  def overhead(results: Seq[OpResult]): (Double, Double) = {
    val byItem = results.groupBy(_.item).values.flatMap { rs =>
      val (tr, un) = rs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some((median(tr.map(_.seconds)), median(un.map(_.seconds))))
    }.toSeq
    if (byItem.isEmpty) (0d, 0d)
    else (median(byItem.map { case (t, u) => t / u }) - 1,
      byItem.map(_._2).sum / byItem.map(_._1).sum - 1)
  }

  def fmt(v: Double): String = if (v.isNaN) "nan" else f"$v%.6f"

  /** A JSON number with all its digits. */
  def json(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
