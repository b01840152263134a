package perfbench

import graft.GraftSession
import org.apache.spark.sql.graftshim.ListenerBusBridge

import java.lang.management.ManagementFactory
import scala.util.control.NonFatal

/** The lake benchmark's measuring process: one Spark `local[N]` session, one
  * workload, one closed-loop client. Usually started by `run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cpus <N> --work <dir> --out <result.json>
  *
  * Sequence: session start, `rounds` rounds of seeded input generation
  * (each into fresh directories), the untimed set-up, one warm-up operation
  * (the process's first, so its time is `cold_s`), the timed window of
  * operations, then untimed end-of-run checks. `setup_s` is the session
  * start plus the median generation round, the set-up and the warm-up. With
  * `--trace 1` the window is split: the first half runs untraced, the
  * second half with spans and listeners on, and the per-layer metrics come
  * from the second half. The result, samples and trace go to `--out`. */
object Main {
  /** Input-generation rounds per run; `setup_s` takes their median. */
  val rounds = 3

  def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    require(Workload.names.contains(workload), s"unknown workload: $workload")

    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.registerFunctions(spark)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val c = new Ctx(spark, seed, cpus, work)
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6
    c.note(s"workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      f"master=local[$cpus] storageMemory=$storageMb%.0f MB")
    val w = Workload(workload, c)

    try {
      val gens = (1 to rounds).map(r => secs(w.generate(r)))
      val prepareS = secs(w.prepare())
      val coldS = secs(w.warmUp())
      val setupS = sessionS + Report.median(gens) + prepareS + coldS
      c.note(f"set-up: session $sessionS%.2f s, generation ${gens.map(g => f"$g%.2f").mkString("/")} s, " +
        f"prepare $prepareS%.2f s, warm-up (cold) $coldS%.2f s; working set " +
        f"${w.workingSetBytes / 1e6}%.2f MB vs $storageMb%.0f MB storage memory")
      val run = new Window(w, c)
      if (!traced) { run.loop(seconds); run.finish() }
      else {
        run.loop(seconds / 2)
        run.engine = new EngineListener
        run.plans = new PlanListener
        spark.sparkContext.addSparkListener(run.engine)
        spark.listenerManager.register(run.plans)
        c.tracer = new Tracer(true, () => ListenerBusBridge.waitUntilEmpty(spark.sparkContext))
        run.loop(seconds / 2)
        run.finish()
        ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      }
      val out = Report.result(w, c, run, setupS, coldS, traced)
      Json.write(a("out"), out)
    } finally spark.stop()
  }
}

/** One timed operation: when it started, how long it took, its checks. */
final case class Sample(startMs: Long, secs: Double, result: OpResult, traced: Boolean)

/** The timed window: operations back to back until the time is spent (at
  * least one), each followed by its untimed checks. */
final class Window(w: Workload, c: Ctx) {
  val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
  var failedChecks = 0
  var engine: EngineListener = _
  var plans: PlanListener = _

  def loop(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = samples.size + 1
      val startMs = System.currentTimeMillis()
      val ns = System.nanoTime()
      val ran = try { c.tracer.span("op")(w.op(i)); true } catch {
        case NonFatal(e) => c.note(s"op $i failed: $e"); false
      }
      val secs = (System.nanoTime() - ns) / 1e9
      val r = if (!ran) OpResult(ok = false) else
        try c.tracer.span("check")(w.afterOp(i)) catch {
          case NonFatal(e) => c.note(s"op $i check failed: $e"); OpResult(ok = false)
        }
      samples += Sample(startMs, secs, r, c.tracer.on)
      n += 1
    }
  }

  def finish(): Unit =
    failedChecks = try c.tracer.span("finish")(w.finish()) catch {
      case NonFatal(e) => c.note(s"end-of-run check failed: $e"); 1
    }
}
