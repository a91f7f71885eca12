package graft.profile

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSuite
import graft.catalog.TableEnumerator

class ProfilerPoolSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("a table stuck past the deadline is cut off as error; its siblings keep their profiles") {
    val root = java.nio.file.Files.createTempDirectory("profile_deadline").toString
    for (t <- Seq("a", "b", "stuck", "z"))
      spark.range(0, 10).write.mode("overwrite").parquet(s"$root/$t.parquet")
    val entries = TableEnumerator.list(spark, root)

    val groupJobs = ConcurrentHashMap.newKeySet[Int]()
    val ended = new ConcurrentHashMap[Int, Boolean]() // job id -> succeeded
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("graft-profile"))) { groupJobs.add(js.jobId); () }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        ended.put(je.jobId, je.jobResult == JobSucceeded); ()
      }
    }
    // a job that would run ~60 s if it were left to finish
    val slow = udf { (x: Long) => Thread.sleep(200); x }
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val out = Profiler.fanOut(spark, entries, deadline = FiniteDuration(5, TimeUnit.SECONDS)) { e =>
        if (e.name == "stuck") spark.range(0, 300, 1, 1).select(slow(col("id"))).collect()
        Profiler.profileDataFrame(spark.read.parquet(e.path), e.schema, e.name,
          exact = true, estimatedRows = 0L)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 20, f"the profile waited $secs%.1f s for the stuck table")
      assert(out.map(_.table) == Seq("a", "b", "stuck", "z"))
      assert(out.find(_.table == "stuck").get.rows == CountError)
      out.filter(_.table != "stuck").foreach(p => assert(p.rows == ExactRows(10L), p))
      eventually(timeout(20.seconds), interval(200.millis)) {
        assert(!groupJobs.isEmpty)
        groupJobs.forEach(id => assert(ended.containsKey(id), s"job $id still running"))
      }
      assert(groupJobs.stream().anyMatch(id => !ended.get(id)), "the stuck job ran to completion")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
