package perfbench

import scala.collection.mutable

/** Turns one run's samples, spans and listener records into the benchmark's
  * metrics. End-to-end metrics come from untraced operations only; per-layer
  * metrics from the traced ones, as the median over operations of each
  * operation's value. */
object Report {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); the maximum when there are fewer than 11. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val k = s.size - 11
    if (s.isEmpty) (0.0, 0.0, 0)
    else if (k < 0) (s.last, 100.0, s.size)
    else (s(k), 100.0 * (k + 1) / s.size, s.size)
  }

  /** median(last quarter) ÷ median(first quarter), in run order. */
  def drift(xs: Seq[Double]): Double = {
    val q = math.max(1, xs.size / 4)
    val first = median(xs.take(q))
    if (xs.isEmpty || first == 0.0) 0.0 else median(xs.takeRight(q)) / first
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Union length in seconds of [startMs, endMs] intervals. */
  private def covered(spans: Seq[Span]): Double = {
    var total, reach = 0L
    spans.sortBy(_.startMs).foreach { s =>
      val from = math.max(s.startMs, reach)
      if (s.endMs > from) { total += s.endMs - from; reach = s.endMs }
    }
    total / 1000.0
  }

  /** Jobs attributed to top-level spans by time window. `stray` jobs lie
    * inside no top-level span or several; `clash` jobs inside one but
    * within several of its child spans. */
  final case class Attribution(total: Int, byTop: Map[Int, Seq[Job]], stray: Int, clash: Int) {
    def attributed: Int = byTop.values.map(_.size).sum
    /** Every job falls in exactly one span, and the per-span counts sum
      * to the listener's total. */
    def ok: Boolean = stray == 0 && clash == 0 && attributed == total
  }

  def inside(s: Span, startMs: Long, endMs: Long): Boolean =
    s.startMs <= startMs && endMs >= 0 && endMs <= s.endMs

  def attribute(spans: Seq[Span], jobs: Seq[Job]): Attribution = {
    val top = spans.filter(_.parent == 0)
    val kids = spans.groupBy(_.parent)
    val owner = jobs.map(j => j -> top.filter(inside(_, j.startMs, j.endMs)))
    val byTop = owner.collect { case (j, Seq(s)) => s.id -> j }.groupBy(_._1)
      .map { case (id, js) => id -> js.map(_._2) }
    val clash = owner.collect { case (j, Seq(s)) =>
      kids.getOrElse(s.id, Nil).count(inside(_, j.startMs, j.endMs))
    }.count(_ > 1)
    Attribution(jobs.size, byTop, owner.count(_._2.size != 1), clash)
  }

  def result(w: Workload, c: Ctx, run: Window, setupS: Double, coldS: Double,
             traced: Boolean): Json.Obj = {
    val untraced = run.samples.filter(!_.traced)
    val opS = median(untraced.map(_.secs).toSeq)
    val (tailS, tailPct, tailN) = tail(untraced.map(_.secs).toSeq)
    val attempted = run.samples.size
    val failed = math.min(attempted, run.samples.count(!_.result.ok) + run.failedChecks)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_s" -> (opS, "s"),
      "op_tail_s" -> (tailS, "s"),
      "cold_s" -> (coldS, "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"),
      "stored_bytes_per_input_byte" -> (w.storedPerInput, "B/B"))
    val info = mutable.LinkedHashMap[String, Json.Value](
      "failure_rate" -> Json.num(failed.toDouble / attempted),
      "op_tail_percentile" -> Json.num(tailPct),
      "op_samples" -> Json.num(tailN),
      "op_drift" -> Json.num(drift(untraced.map(_.secs).toSeq)))
    val samples = Json.arr(run.samples.toSeq.map(s => Json.obj(
      "start_ms" -> Json.num(s.startMs), "secs" -> Json.num(s.secs),
      "ok" -> Json.bool(s.result.ok), "traced" -> Json.bool(s.traced))): _*)

    val (metrics, extra) =
      if (!traced) (e2e, Seq.empty[(String, Json.Value)])
      else layers(w, c, run, opS)
    val metricJson = Json.obj(metrics.map { case (k, (v, unit)) =>
      k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))
    }: _*)
    Json.obj(Seq(
      "result" -> Json.obj(
        "correct" -> Json.bool(failed == 0),
        "attempted" -> Json.num(attempted),
        "failed" -> Json.num(failed),
        "metrics" -> metricJson),
      "info" -> Json.obj(info.toSeq: _*),
      "samples" -> samples) ++ extra: _*)
  }

  /** Per-layer metrics from the traced half, plus the trace itself. */
  private def layers(w: Workload, c: Ctx, run: Window, untracedOpS: Double)
      : (Seq[(String, (Double, String))], Seq[(String, Json.Value)]) = {
    val spans = c.tracer.spans
    val jobs = run.engine.snapshot
    val plans = run.plans.snapshot
    val top = spans.filter(_.parent == 0)
    val kids = spans.groupBy(_.parent)
    val att = attribute(spans, jobs)
    val byTop = att.byTop

    val ops = top.filter(_.name == "op")
    val opResults = run.samples.filter(_.traced).map(_.result)
    require(ops.size == opResults.size, s"${ops.size} op spans vs ${opResults.size} traced ops")
    def selfS(s: Span) = s.secs - covered(kids.getOrElse(s.id, Nil))
    def childSelf(op: Span, names: String*) =
      kids.getOrElse(op.id, Nil).filter(k => names.contains(k.name)).map(selfS).sum
    def childTotal(op: Span, name: String) =
      kids.getOrElse(op.id, Nil).filter(_.name == name).map(_.secs).sum

    val perOp: Seq[Map[String, Double]] = ops.zip(opResults).map { case (op, r) =>
      val js = byTop.getOrElse(op.id, Nil)
      val ps = plans.filter(p => p.atMs >= op.startMs && p.atMs <= op.endMs)
      val taskS = js.map(_.taskMs).sum / 1000.0
      val scans = ps.map(p => p.fileScans + p.cachedScans).sum
      val scanRows = ps.map(_.scanRows).sum
      Map(
        "op_s" -> op.secs,
        "pipeline.bronze_s" -> childSelf(op, "pipeline.bronze", "sources.ingest"),
        "pipeline.silver_s" -> childSelf(op, "pipeline.silver"),
        "pipeline.gold_s" -> childSelf(op, "pipeline.gold"),
        "sources.ingest_s" -> childTotal(op, "sources.ingest"),
        "engine.jobs" -> js.size.toDouble,
        "engine.stages" -> js.map(_.stages).sum.toDouble,
        "engine.tasks" -> js.map(_.tasks).sum.toDouble,
        "engine.task_s" -> taskS,
        "engine.busy_frac" -> taskS / (op.secs * c.cpus),
        "engine.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6,
        "engine.shuffle_read_mb" -> js.map(_.shuffleReadBytes).sum / 1e6,
        "engine.spill_mb" -> js.map(_.spillBytes).sum / 1e6,
        "engine.gc_s" -> op.gcMs / 1000.0,
        "storage.scan_mb" -> ps.map(_.scanBytes).sum / 1e6,
        "storage.files_scanned" -> ps.map(_.scanFiles).sum.toDouble,
        "storage.written_mb" -> r.bytesWritten / 1e6,
        "storage.files_written" -> r.filesWritten.toDouble,
        "queries.plan_s" -> childSelf(op, "queries.plan"),
        "queries.exec_s" -> childSelf(op, "queries.exec"),
        "queries.fetch_s" -> childSelf(op, "queries.fetch"),
        "queries.cached_scan_frac" ->
          (if (scans == 0) 0.0 else ps.map(_.cachedScans).sum.toDouble / scans),
        "queries.rows_out_per_row_scanned" ->
          (if (scanRows == 0) 0.0 else r.rowsOut.toDouble / scanRows))
    }
    def med(k: String) = median(perOp.map(_(k)))
    def drifted(k: String) = drift(perOp.map(_(k)))

    val units = Seq(
      "pipeline.bronze_s" -> "s", "pipeline.silver_s" -> "s", "pipeline.gold_s" -> "s",
      "sources.ingest_s" -> "s", "engine.jobs" -> "count", "engine.stages" -> "count",
      "engine.tasks" -> "count", "engine.task_s" -> "s", "engine.busy_frac" -> "ratio",
      "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB",
      "engine.spill_mb" -> "MB", "engine.gc_s" -> "s", "storage.scan_mb" -> "MB",
      "storage.files_scanned" -> "count", "storage.written_mb" -> "MB",
      "storage.files_written" -> "count", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
      "queries.fetch_s" -> "s", "queries.cached_scan_frac" -> "ratio",
      "queries.rows_out_per_row_scanned" -> "ratio")
    val wl = w.layer
    val metrics = units.map { case (k, u) => k -> (med(k), u) } ++ Seq(
      "pipeline.full_rewrites" -> (wl.getOrElse("pipeline.full_rewrites", 0.0), "count"),
      "curate.quality_keep_frac" -> (wl.getOrElse("curate.quality_keep_frac", 0.0), "ratio"),
      "curate.exact_keep_frac" -> (wl.getOrElse("curate.exact_keep_frac", 0.0), "ratio"),
      "curate.neardup_keep_frac" -> (wl.getOrElse("curate.neardup_keep_frac", 0.0), "ratio"),
      "drift.op_s" -> (drifted("op_s"), "ratio"),
      "drift.pipeline.silver_s" -> (drifted("pipeline.silver_s"), "ratio"),
      "drift.pipeline.gold_s" -> (drifted("pipeline.gold_s"), "ratio"),
      "drift.storage.files_scanned" -> (drifted("storage.files_scanned"), "ratio"),
      "trace.overhead_frac" -> (med("op_s") / untracedOpS - 1.0, "ratio"),
      "trace.jobs" -> (jobs.size.toDouble, "count"),
      "trace.jobs_unattributed" -> ((att.stray + att.clash).toDouble, "count"))

    if (!att.ok) {
      c.note(s"trace attribution: ${jobs.size} jobs, ${att.attributed} attributed, " +
        s"${att.stray} outside exactly one span, ${att.clash} in several child spans")
      run.failedChecks += 1
    }
    if (w.isInstanceOf[Backfill] && med("storage.scan_mb") <= 0.0) {
      c.note("trace: backfill scanned 0 MB according to the plan metrics")
      run.failedChecks += 1
    }

    // jobs per span name, summed over the traced half
    val table = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val js = ss.flatMap(s => if (s.parent == 0) byTop.getOrElse(s.id, Nil)
        else byTop.getOrElse(s.parent, Nil).filter(j => inside(s, j.startMs, j.endMs)))
      name -> Json.obj("spans" -> Json.num(ss.size), "secs" -> Json.num(ss.map(_.secs).sum),
        "jobs" -> Json.num(js.size), "stages" -> Json.num(js.map(_.stages).sum),
        "tasks" -> Json.num(js.map(_.tasks).sum))
    }
    val spanOf = (t: Long) => spans.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(-_.id).headOption.map(_.name).getOrElse("")
    val extra = Seq(
      "span_table" -> Json.obj(table: _*),
      "spans" -> Json.arr(spans.map(s => Json.obj("id" -> Json.num(s.id),
        "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "secs" -> Json.num(s.secs), "gc_ms" -> Json.num(s.gcMs))): _*),
      "jobs" -> Json.arr(jobs.map(j => Json.obj("id" -> Json.num(j.id),
        "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs),
        "stages" -> Json.num(j.stages), "tasks" -> Json.num(j.tasks),
        "task_ms" -> Json.num(j.taskMs))): _*),
      "operators" -> Json.arr(plans.flatMap(p => p.ops.map { case (node, ms) =>
        Json.obj("span" -> Json.str(spanOf(p.atMs)), "query" -> Json.str(p.func),
          "query_s" -> Json.num(p.secs), "node" -> Json.str(node),
          "metrics" -> Json.obj(ms.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
      }): _*))
    (metrics, extra)
  }
}

/** Minimal JSON output. */
object Json {
  sealed trait Value { def render: String }
  final case class Obj(fields: Seq[(String, Value)]) extends Value {
    def render: String = fields.map { case (k, v) => quote(k) + ":" + v.render }
      .mkString("{", ",", "}")
  }
  final case class Arr(items: Seq[Value]) extends Value {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }
  final case class Raw(render: String) extends Value

  def obj(fields: (String, Value)*): Obj = Obj(fields)
  def arr(items: Value*): Arr = Arr(items)
  def num(d: Double): Value = Raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
  def num(l: Long): Value = Raw(l.toString)
  def str(s: String): Value = Raw(quote(s))
  def bool(b: Boolean): Value = Raw(b.toString)

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  }.mkString("\"", "", "\"")

  def write(path: String, v: Value): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, v.render.getBytes("UTF-8"))
  }
}
