package graft.perfbench

/** The JVM half of the benchmark's self-test (`run.py --selftest`): the
  * catalog run.py generated has the fixture's schemas, the query samples
  * are deterministic for a seed, and the declared workloads, metric names
  * and units are printed for run.py to compare with BENCHMARK.json. Exits
  * non-zero if a check fails. */
object SelfTest {

  def run(a: Main.Args): Unit = {
    val problems = Seq.newBuilder[String]
    def check(ok: Boolean, what: String): Unit = if (!ok) problems += what

    val spark = Main.startSession(Runtime.getRuntime.availableProcessors, a.workDir)
    try {
      val fixture = new java.io.File(a.fixtureDir).list().filter(_.endsWith(".parquet")).sorted.toSeq
      fixture.foreach { t =>
        val want = spark.read.parquet(s"${a.fixtureDir}/$t").schema
        val got = spark.read.parquet(s"${a.workDir}/catalog/$t").schema
        check(want == got, s"$t: generated schema $got differs from the fixture's $want")
      }

      check(QueryTail.Sample.forall(graft.SparkEntry.queries.contains), "a query_tail query is missing")
      check(QueryTail.Sample.map(Workloads.family).distinct.size == QueryTail.Sample.size,
        "two query_tail queries share a family")
      val tail = new QueryTail(spark, a.workDir, a.seed, None)
      val passes = (0 until 2 * tail.passLength).map(i => tail.op(i)._1)
      check(passes == (0 until 2 * tail.passLength).map(i => new QueryTail(spark, a.workDir, a.seed, None).op(i)._1),
        "query_tail order is not deterministic")
      check(passes.grouped(tail.passLength).forall(_.sorted == QueryTail.Sample.sorted),
        "a query_tail pass does not run the whole sample")
      def readers(seed: Long) = new PipelineCold(spark, a.workDir, seed, None).readers
      check(readers(a.seed) == readers(a.seed), "pipeline_cold reader sample is not deterministic")
      check(readers(a.seed).nonEmpty, "pipeline_cold has no readers")
      check(PipelineCold.Owners.forall(graft.SparkEntry.queries.contains), "a pipeline owner query is missing")
    } finally spark.stop()

    val bad = problems.result()
    bad.foreach(p => System.err.println(s"selftest: $p"))
    def pairs(ms: Seq[(String, String)]) =
      ms.map { case (n, u) => s"""["$n","$u"]""" }.mkString("[", ",", "]")
    println(s"selftest jvm checks: ${if (bad.isEmpty) "ok" else s"${bad.size} failed"}")
    println(s"""{"workloads":${Workloads.Names.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""end_to_end":${pairs(Main.EndToEnd)},"per_layer":${pairs(Main.PerLayer)}}""")
    if (bad.nonEmpty) sys.exit(1)
  }
}
