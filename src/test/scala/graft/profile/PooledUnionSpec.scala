package graft.profile

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSuite

class PooledUnionSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("a failed branch surfaces its own error and leaves no sibling job running") {
    val groupJobs = ConcurrentHashMap.newKeySet[Int]()
    val ended = new ConcurrentHashMap[Int, Boolean]() // job id -> succeeded
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("graft-pooled-union"))) { groupJobs.add(js.jobId); () }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        ended.put(je.jobId, je.jobResult == JobSucceeded); ()
      }
    }
    // a sibling that would run ~40 s if it were left to finish, and one
    // branch that fails at once
    val slow = udf { (x: Long) => Thread.sleep(200); x }
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("pooled-branch-boom"); x
    }
    val slowFrame = spark.range(0, 200, 1, 1).select(slow(col("id")).as("v"))
    val badFrame = spark.range(0, 1, 1, 1).select(boom(col("id")).as("v"))
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val e = intercept[Throwable](
        ProfileQueries.pooledUnion(Seq(slowFrame, badFrame, slowFrame)))
      val secs = (System.nanoTime() - t0) / 1e9
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => String.valueOf(c.getMessage).contains("pooled-branch-boom")),
        s"pooledUnion did not rethrow the failed branch's error: $e")
      assert(secs < 30, f"pooledUnion waited $secs%.1f s: the slow siblings were not cancelled")
      eventually(timeout(20.seconds), interval(200.millis)) {
        assert(!groupJobs.isEmpty)
        groupJobs.forEach(id => assert(ended.containsKey(id), s"job $id still running"))
      }
      groupJobs.forEach(id => assert(!ended.get(id), s"job $id ran to completion"))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
