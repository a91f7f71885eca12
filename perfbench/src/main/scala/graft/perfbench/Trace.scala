package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a module of the program. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

/** The traced run's recorder. Spans and counters are kept in memory and
  * written out when the run ends. Spans are recorded from the benchmark's
  * own code, around its calls into each module; Spark jobs, stages and
  * tasks are attributed to the layer whose span started them through a
  * thread-local Spark property.
  *
  * Tracing is switched on per operation ([[begin]]/[[end]]): the traced run
  * alternates traced and untraced operations so the difference between
  * the two is the tracing overhead, measured on one warm JVM.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val parentOf = new ThreadLocal[java.lang.Long]
  @volatile private var opId = 0L
  @volatile private var on = false

  val engine = new EngineListener
  val plans = new PlanListener(() => on)

  /** Counters the benchmark records at layer boundaries (files whose footer
    * was read, rendered bytes, ...). */
  val counts: TrieMap[String, Double] = TrieMap.empty

  def add(name: String, v: Double): Unit =
    if (on) counts.synchronized { counts.put(name, counts.getOrElse(name, 0d) + v) }

  private var gcAtBegin = 0L
  private var codegenAtBegin = 0L
  private var beganNs = 0L

  def enabled: Boolean = on

  def begin(op: Long): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    opId = op
    gcAtBegin = gcMillis()
    codegenAtBegin = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addSparkListener(engine)
    spark.listenerManager.register(plans)
    on = true
    beganNs = System.nanoTime()
  }

  /** Ends a traced operation; waits for the listener bus so every event of
    * the operation is counted before the next one starts. */
  def end(): Unit = {
    val wall = System.nanoTime() - beganNs
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    on = false
    sc.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    counts.synchronized {
      def acc(k: String, v: Double): Unit = counts.put(k, counts.getOrElse(k, 0d) + v)
      acc("jvm.gc_s", (gcMillis() - gcAtBegin) / 1e3)
      acc("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenAtBegin).toDouble)
      acc("__wall_s", wall / 1e9)
    }
  }

  /** Runs `f` inside a span named `layer.what`. Jobs Spark starts from this
    * thread meanwhile are attributed to the span's layer. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId.getAndIncrement()
      val parent = currentSpan
      val prevLayer = sc.getLocalProperty(LayerProperty)
      parentOf.set(id)
      sc.setLocalProperty(LayerProperty, name.takeWhile(_ != '.'))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
        sc.setLocalProperty(LayerProperty, prevLayer)
        if (parent == 0L) parentOf.remove() else parentOf.set(parent)
      }
    }

  /** The span id of the calling thread, to hand to worker threads. */
  def currentSpan: Long = Option(parentOf.get).map(_.longValue).getOrElse(0L)

  /** Runs `f` on a worker thread as a child of span `parent`. */
  def under[A](parent: Long)(f: => A): A = {
    if (parent != 0L) parentOf.set(parent)
    try f finally parentOf.remove()
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: each span's duration minus the part of it
    * that its child spans cover (children may overlap when they ran on
    * parallel threads, so their union is subtracted). */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Spans as JSON lines, for the trace file written at the end. */
  def spansJson: Iterator[String] = allSpans.sortBy(_.startNs).iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

object Tracer {
  val LayerProperty = "perfbench.layer"

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0
}

/** Spark engine counters, summed over the traced operations and split by
  * the layer whose span started each job. */
final class EngineListener extends SparkListener {
  private val stageLayer = TrieMap.empty[Int, String]
  private val stageSubmitted = TrieMap.empty[Int, Long]
  val byLayer: TrieMap[String, AtomicLong] = TrieMap.empty
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val emptyTasks = new AtomicLong
  val failedTasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val waitMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val profileRowsRead = new AtomicLong

  private def bump(key: String): Unit = byLayer.getOrElseUpdate(key, new AtomicLong).incrementAndGet()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerProperty))).getOrElse("none")
    bump(s"$layer.jobs")
    e.stageIds.foreach(id => stageLayer.put(id, layer))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    stageSubmitted.get(e.stageId).foreach(s => waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      val rows = m.inputMetrics.recordsRead
      if (rows == 0L && m.shuffleReadMetrics.recordsRead == 0L) emptyTasks.incrementAndGet()
      if (stageLayer.get(e.stageId).contains("profile")) profileRowsRead.addAndGet(rows)
    }
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every query
  * execution that finishes while tracing is on, read from
  * `QueryExecution.tracker`. */
final class PlanListener(enabled: () => Boolean) extends QueryExecutionListener {
  val phaseMs: TrieMap[String, AtomicLong] = TrieMap.empty

  private def record(qe: QueryExecution): Unit = if (enabled()) {
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs.getOrElseUpdate(phase, new AtomicLong).addAndGet(summary.durationMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Resident-set sampler: the peak RSS of this process while a workload's
  * measured loop runs (Linux `/proc/self/status`). */
final class RssSampler(periodMs: Long = 20) extends Thread("perfbench-rss") {
  setDaemon(true)
  private val peakKb = new AtomicLong(0)
  @volatile private var stopped = false

  private def rssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmRSS:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  override def run(): Unit =
    while (!stopped) {
      peakKb.accumulateAndGet(rssKb(), math.max)
      Thread.sleep(periodMs)
    }

  def finish(): Double = {
    stopped = true
    join()
    peakKb.accumulateAndGet(rssKb(), math.max) / 1024.0
  }
}
