package graft

import graft.pipeline.Jobs
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

class JobsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Each job's start properties and end result, by job id. */
  private class Recorder extends SparkListener {
    val started = new ConcurrentHashMap[Int, Properties]()
    val ended = new ConcurrentHashMap[Int, JobResult]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.put(e.jobId, e.properties)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.put(e.jobId, e.jobResult)
    def jobsOf(label: String): Seq[Int] = started.asScala.collect {
      case (id, p) if p.getProperty("spark.job.description") == label => id
    }.toSeq
  }

  private def withRecorder[A](f: Recorder => A): A = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    try f(r) finally spark.sparkContext.removeSparkListener(r)
  }

  /** Poll (the listener bus is asynchronous) until `p` holds or 30 s pass. */
  private def eventually(p: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (!p && System.nanoTime() < deadline) Thread.sleep(20)
    assert(p)
  }

  test("first failure cancels the sibling's running job and is rethrown") {
    withRecorder { rec =>
      val t0 = System.nanoTime()
      val err = intercept[IllegalStateException](Jobs.overlap(spark, "spec")(
        "sleeper" -> (() => spark.range(0, 4, 1, 4).as[Long]
          .mapPartitions { it => Thread.sleep(60000); it }.count()),
        "thrower" -> (() => {
          eventually(rec.jobsOf("spec/sleeper").nonEmpty)
          throw new IllegalStateException("boom")
        })))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(err.getMessage === "boom")
      // the sibling waited for, and its cancellation kept as suppressed
      assert(err.getSuppressed.length === 1)
      assert(secs < 30, s"overlap returned after $secs s")
      val sleeperJobs = rec.jobsOf("spec/sleeper")
      eventually(sleeperJobs.forall(rec.ended.containsKey))
      assert(sleeperJobs.forall(id => rec.ended.get(id) != JobSucceeded))
    }
  }

  test("each thunk's jobs carry its own <group>/<name> tag and description") {
    withRecorder { rec =>
      Jobs.overlap(spark, "tags")(
        "a" -> (() => spark.range(10).count()),
        "b" -> (() => spark.range(20).collect()))
      eventually(rec.jobsOf("tags/a").nonEmpty && rec.jobsOf("tags/b").nonEmpty)
      for ((own, other) <- Seq("a" -> "b", "b" -> "a"); id <- rec.jobsOf(s"tags/$own")) {
        val tags = rec.started.get(id).getProperty("spark.job.tags").split(",").toSet
        assert(tags.contains(s"tags/$own") && !tags.contains(s"tags/$other"))
      }
    }
  }

  test("every thunk of a call runs at once, past the core count") {
    val n = Runtime.getRuntime.availableProcessors() + 2
    val all = new CountDownLatch(n)
    Jobs.overlap(spark, "wide")((1 to n).map(i => s"t$i" -> (() => {
      all.countDown()
      assert(all.await(30, TimeUnit.SECONDS), "thunks did not all run at once")
    })): _*)
  }
}
