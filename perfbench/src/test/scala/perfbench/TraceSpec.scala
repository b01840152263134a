package perfbench

import graft.GraftSession
import org.apache.spark.sql.graftshim.ListenerBusBridge
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The traced run's counters can be trusted: on one traced backfill build,
  * the plan metrics see the scans, every listener job falls in exactly one
  * span, and the per-span job counts sum to the listener's total. */
class TraceSpec extends AnyFunSuite {

  test("a traced backfill build attributes every job once and scans > 0 MB") {
    val work = Files.createTempDirectory("perfbench-trace").toString
    val spark = GraftSession.builder("local[2]", 2)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    try {
      val c = new Ctx(spark, seed = 7L, cpus = 2, work)
      val w = new Backfill(c)
      w.generate(1)
      val run = new Window(w, c)
      run.engine = new EngineListener
      run.plans = new PlanListener
      spark.sparkContext.addSparkListener(run.engine)
      spark.listenerManager.register(run.plans)
      c.tracer = new Tracer(true, () => ListenerBusBridge.waitUntilEmpty(spark.sparkContext))
      run.loop(0.0)
      run.finish()
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext)

      val jobs = run.engine.snapshot
      val att = Report.attribute(c.tracer.spans, jobs)
      assert(jobs.nonEmpty)
      assert(att.stray == 0 && att.clash == 0)
      assert(att.attributed == jobs.size)
      assert(att.ok)
      assert(run.samples.forall(_.result.ok) && run.failedChecks == 0)

      val scanMb = run.plans.snapshot.map(_.scanBytes).sum / 1e6
      assert(scanMb > 0.0)
      val out = Report.result(w, c, run, setupS = 1.0, coldS = 1.0, traced = true).render
      assert(out.contains("\"storage.scan_mb\""))
      assert(out.contains("\"correct\":true"))
    } finally {
      spark.stop()
      perfbench.Files.delete(work)
    }
  }
}
