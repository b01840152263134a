package graft.pipeline

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import scala.concurrent.ExecutionContext

/** Overlapped Spark jobs: the one place graft runs driver-side work
  * concurrently (README, "Independent writes overlap"). */
object Jobs {
  // unbounded and daemon: every thunk of a call runs at once (a bounded
  // pool would serialize, or when nested deadlock, what a caller overlaps)
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-jobs"); t.setDaemon(true); t
  }
  /** The same pool for driver-side work that runs no Spark job. */
  val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)

  /** Run the thunks at once with the caller's Spark thread locals, each
    * tagged and described `"<group>/<name>"`, and wait for all of them,
    * timed as `Timing.stage("pipesub", group)`. The first failure (an
    * interrupt of the caller included) cancels the call's job group,
    * running and future jobs alike; the siblings are awaited, then the
    * first error is rethrown with the others suppressed. */
  def overlap(spark: SparkSession, group: String)(jobs: (String, () => Any)*): Unit =
    Timing.stage("pipesub", group) {
      val sc = spark.sparkContext
      val cancelGroup = s"graft-overlap-${java.util.UUID.randomUUID}"
      val first = new AtomicReference[Throwable]()
      def fail(e: Throwable): Unit = if (first.compareAndSet(null, e))
        sc.cancelJobGroupAndFutureJobs(cancelGroup, s"$group: sibling failed")
      val futures = jobs.map { case (name, body) =>
        SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool) {
          sc.setJobGroup(cancelGroup, s"$group/$name", interruptOnCancel = true)
          sc.addJobTag(s"$group/$name")
          try body() catch { case e: Throwable => fail(e); throw e }
        }
      }
      def await(f: CompletableFuture[Any]): Option[Throwable] =
        try { f.get(); None } catch {
          case e: ExecutionException => Some(e.getCause)
          case e: InterruptedException => fail(e); await(f)
        }
      val errors = futures.flatMap(await)
      Option(first.get).foreach { e =>
        errors.filterNot(_ eq e).foreach(e.addSuppressed)
        throw e
      }
    }
}
