package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed span: a call the benchmark made into a layer. Times are
  * wall-clock epoch milliseconds (the clock Spark's listener events use)
  * plus a nanosecond duration; `gcMs` is JVM-wide collector time inside it. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                      endMs: Long, secs: Double, gcMs: Long)

/** In-memory span recorder, written out once when the run ends.
  *
  * Spans nest on the benchmark's main thread (the benchmark is one closed-loop
  * client). [[leaf]] records a span from any other thread — the ingest
  * source's fetches run on a thread pool — as a child of the innermost span
  * open on the main thread. Closing a span first drains Spark's listener bus
  * (`drain`), so every event a call produced is delivered while the span's
  * window is still open; events are then attributed to spans by time. When
  * tracing is off, spans cost nothing and record nothing. */
final class Tracer(val on: Boolean, drain: () => Unit = () => ()) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  @volatile private var stack: List[Int] = Nil

  def current: Int = stack.headOption.getOrElse(0)

  def span[A](name: String)(f: => A): A =
    if (!on) f else {
      val id = ids.incrementAndGet()
      val parent = current
      val (ms, ns, gc) = (System.currentTimeMillis(), System.nanoTime(), Tracer.gcMillis())
      stack = id :: stack
      try f finally {
        drain()
        stack = stack.tail
        record(Span(id, name, parent, ms, System.currentTimeMillis(),
          (System.nanoTime() - ns) / 1e9, Tracer.gcMillis() - gc))
      }
    }

  def leaf[A](name: String)(f: => A): A =
    if (!on) f else {
      val parent = current
      val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
      try f finally record(Span(ids.incrementAndGet(), name, parent, ms,
        System.currentTimeMillis(), (System.nanoTime() - ns) / 1e9, 0L))
    }

  private def record(s: Span): Unit = closed.synchronized { closed += s }

  def spans: Seq[Span] = closed.synchronized(closed.toList).sortBy(_.id)
}

object Tracer {
  /** Total collector time of this JVM, all collectors, in ms. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** One Spark job's counters; `endMs` is -1 until it ends. */
final class Job(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages, tasks = 0
  var taskMs, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
}

/** Per-job engine counters from a SparkListener. Tasks map to jobs through
  * their stage; jobs map to spans later, by time window. */
final class EngineListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.spillBytes += m.diskBytesSpilled
    }
  }
  def snapshot: Seq[Job] = synchronized(jobs.values.toList)
}

/** Plan-level counters for one finished query execution, read from the
  * SQLMetrics of its final (post-AQE) physical plan. Scan bytes and files
  * come from the file scans' `size of files read` / `number of files read`
  * metrics, not from task input metrics, which the parquet reader under-
  * reports. `ops` is the per-operator table: node name → every metric. */
final case class PlanExec(atMs: Long, func: String, secs: Double,
                          scanBytes: Long, scanFiles: Long, scanRows: Long,
                          fileScans: Int, cachedScans: Int,
                          ops: Seq[(String, Map[String, Long])])

final class PlanListener extends QueryExecutionListener {
  private val execs = mutable.ArrayBuffer.empty[PlanExec]

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = PlanListener.nodes(qe.executedPlan).toList
    def m(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    val fileScans = nodes.filter(_.metrics.contains("filesSize"))
    val cached = nodes.collect { case s: InMemoryTableScanExec => s }
    val e = PlanExec(System.currentTimeMillis(), func, durationNs / 1e9,
      fileScans.map(m(_, "filesSize")).sum, fileScans.map(m(_, "numFiles")).sum,
      (fileScans ++ cached).map(m(_, "numOutputRows")).sum,
      fileScans.size, cached.size,
      nodes.filter(_.metrics.nonEmpty).map(p =>
        p.nodeName -> p.metrics.map { case (k, v) => k -> v.value }))
    synchronized(execs += e)
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot: Seq[PlanExec] = synchronized(execs.toList)
}

object PlanListener {
  /** Every node of the plan that actually ran: AQE's final plan, query
    * stages, subqueries. A reused exchange and a cached-table scan stop the
    * walk: what they cover ran (and was counted) once, elsewhere. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => Iterator(s) ++ nodes(s.plan)
    case r: ReusedExchangeExec => Iterator(r)
    case c: InMemoryTableScanExec => Iterator(c)
    case o => Iterator(o) ++ (o.children ++ o.subqueries).iterator.flatMap(nodes)
  }
}
