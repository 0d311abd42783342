package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver planning phases (analysis, optimization, physical planning)
  * of every executed query, from the query's own planning tracker. */
final class PlanningListener extends QueryExecutionListener {
  /** (phase start, epoch ms; phase duration, ms) */
  val phases: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Per-layer metrics of a traced run.
  *
  * Conventions (see README.md): `*_ms` is the median per call of that
  * span over the timed ops; counts are totals over the count window
  * (identical for a given seed); `spark.*_s` and `*_mb` are
  * means per timed op; `jvm.*` are totals over the timed loop;
  * `<layer>.self_ms` is the layer's self time per timed op, for the
  * layers the timed ops reach; `trace.*_pct` split the timed ops' wall
  * time into named layers, harness and tracing. */
object Layers {
  /** Layers whose spans run inside the timed ops, so they have a self
    * time per timed op. */
  val Timed: Seq[String] = Seq("gen", "bus", "streaming", "core", "flow", "dq",
    "pii", "query", "queries")

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)

  def metrics(wl: Workload, engine: EngineListener, planning: PlanningListener,
      wall: Seq[Double], loopEndMs: Long, gcMs: Long,
      gcCount: Long, jitMs: Long, heapPeakMb: Double): Map[String, Double] = {
    val spans = Trace.spans.toSeq
    val timed = spans.filter(s => s.op >= 0 && s.op < Main.ExtrasBase)
    val nOps = math.max(1, wall.size)
    val m = collection.mutable.LinkedHashMap.empty[String, Double]
    def perCall(name: String, all: Boolean = false): Double =
      median((if (all) spans else timed).filter(_.name == name).map(_.ms))
    def counter(name: String): Double = Counters.get(name)

    // planning ms attributed to the innermost span open when each phase began
    val planBySpan = collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    planning.synchronized(planning.phases.toSeq).foreach { case (start, ms) =>
      Trace.innermostAt(start).foreach(s => planBySpan(s.id) += ms.toDouble)
    }
    /** median over ops of (span ms, planning ms) summed within matching spans */
    def perOp(matches: Trace.Span => Boolean, f: Seq[Trace.Span] => Double): Double =
      median(timed.filter(matches).groupBy(_.op).values.map(f).toSeq)
    def planIn(ss: Seq[Trace.Span]): Double = {
      val ids = ss.map(_.id).toSet
      // planning recorded in the spans or in any span nested below them
      spans.filter(s => s.op == ss.head.op && within(s, ids, spans))
        .map(s => planBySpan(s.id)).sum
    }

    m("gen.rows") = counter("gen.rows")
    m("gen.ms") = perCall("gen.batch")
    m("bus.publish_ms") = perCall("bus.publish")
    m("bus.poll_ms") = perCall("bus.poll")
    Seq("bus.msgs", "bus.lag_msgs", "bus.redelivered").foreach(k => m(k) = counter(k))
    m("ingest.bulk_ms") = perCall("ingest.bulk", all = true)
    m("ingest.bulk_rows") = Counters.setUp("ingest.bulk_rows")
    m("streaming.drain_ms") = perCall("streaming.drain")
    Seq("streaming.rows", "streaming.files_loaded", "streaming.files_replayed")
      .foreach(k => m(k) = counter(k))
    m("core.read_ms") = perCall("core.read")
    m("core.compact_ms") = perCall("core.compact")
    m("core.files") = counter("core.files")
    m("flow.tick_ms") = perCall("flow.tick")
    m("flow.overhead_ms") = perOp(_.name == "flow.tick", ss => {
      val ids = ss.map(_.id).toSet
      ss.map(_.ms).sum - timed.filter(s => ids(s.parent) && s.name.startsWith("flow.task"))
        .map(_.ms).sum
    })
    m("flow.tasks_failed") = counter("flow.tasks_failed")
    m("dq.ms") = perCall("dq.checks")
    m("dq.alerts") = counter("dq.alerts")
    m("pii.ms") = perCall("pii.mask")
    val isQuery = (s: Trace.Span) => s.name.startsWith("query.")
    m("query.plan_ms") = perOp(isQuery, planIn)
    m("query.exec_ms") = perOp(isQuery, ss => ss.map(_.ms).sum - planIn(ss))
    m("query.rows") = counter("query.rows")
    m("queries.build_ms") = perCall("queries.build")
    m("queries.plan_ms") = perOp(_.name.startsWith("queries."), planIn)
    m("queries.exec_ms") = perOp(_.name == "queries.exec", ss => ss.map(_.ms).sum - planIn(ss))
    for (f <- IndexChurn.Families) {
      ("probe" +: IndexChurn.Maintenance).foreach(o =>
        m(s"operators.$f.${o}_ms") = perCall(s"operators.$f.$o", all = true))
      m(s"operators.$f.probe_rows") = counter(s"operators.$f.probe_rows")
    }
    IndexChurn.Kernels.foreach(k =>
      m(s"functions.${k}_ms") = perCall(s"functions.$k", all = true))
    IndexChurn.Twins.foreach(k =>
      m(s"functions.$k.twin_ms") = perCall(s"functions.$k.twin", all = true))

    // engine counts: jobs attributed to the op whose span was open at job start
    val jobs = engine.synchronized(engine.jobs.toSeq)
    val jobOp = jobs.map(j => j -> Trace.innermostAt(j.start).map(_.op).getOrElse(-1))
    val windowJobs = jobOp.collect {
      case (j, op) if op >= Main.ExtrasBase || (op >= 0 && op < wl.roundLength) => j }
    val loopJobs = jobOp.collect { case (j, op) if op >= 0 && op < Main.ExtrasBase => j }
    val stagesOf = engine.synchronized(engine.jobStages.toMap)
    val allStages = engine.synchronized(engine.stages.toMap)
    def stages(js: Seq[engine.Job]) =
      js.flatMap(j => stagesOf.getOrElse(j.id, Nil)).distinct.flatMap(allStages.get)
    val ws = stages(windowJobs)
    val ls = stages(loopJobs)
    m("spark.jobs") = windowJobs.size
    m("spark.stages") = ws.size
    m("spark.tasks") = ws.map(_.tasks).sum
    m("spark.failed_tasks") = ws.map(_.failedTasks).sum
    val inJobS = union(loopJobs.map(j => (j.start, if (j.end < 0) loopEndMs else j.end))) / 1000.0
    val runS = ls.map(_.runMs).sum / 1000.0
    m("spark.in_job_s") = inJobS / nOps
    m("spark.driver_gap_s") = math.max(0.0, wall.sum / 1000.0 - inJobS) / nOps
    m("spark.executor_run_s") = runS / nOps
    m("spark.executor_cpu_s") = ls.map(_.cpuNs).sum / 1e9 / nOps
    m("spark.scheduler_delay_s") = ls.map(_.schedDelayMs).sum / 1000.0 / nOps
    m("spark.task_parallelism") = if (inJobS > 0) runS / inJobS else 0.0
    val mb = 1048576.0
    m("spark.shuffle_read_mb") = ls.map(_.shuffleRead).sum / mb / nOps
    m("spark.shuffle_write_mb") = ls.map(_.shuffleWrite).sum / mb / nOps
    m("spark.spill_mb") = ls.map(_.spill).sum / mb / nOps
    m("spark.input_mb") = ls.map(_.input).sum / mb / nOps
    m("spark.exchanges") = counter("spark.exchanges")
    m("spark.ckpt_jobs") = windowJobs.count(_.desc.startsWith("ckpt"))
    m("jvm.gc_ms") = gcMs.toDouble
    m("jvm.gc_count") = gcCount.toDouble
    m("jvm.jit_ms") = jitMs.toDouble
    m("jvm.heap_peak_mb") = heapPeakMb

    // self time per layer, per timed op. The named layers' share of the
    // ops' wall time is what the spans explain; the root "op" spans' own
    // time is the harness's share between layer calls, and "trace" spans
    // are tracing work.
    val self = Trace.selfNs
    val byLayer = timed.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e6 }
    Timed.foreach(l => m(s"$l.self_ms") = byLayer.getOrElse(l, 0.0) / nOps)
    val wallMs = math.max(1e-9, wall.sum)
    val layersMs = (byLayer - "op" - "trace").values.sum
    m("trace.attributed_pct") = 100.0 * layersMs / wallMs
    m("trace.unattributed_pct") = 100.0 * byLayer.getOrElse("op", 0.0) / wallMs
    m("trace.overhead_pct") = 100.0 * byLayer.getOrElse("trace", 0.0) / wallMs
    m("trace.spans") = timed.size.toDouble
    m.toMap
  }

  private def within(s: Trace.Span, ids: Set[Int], all: Seq[Trace.Span]): Boolean = {
    var cur = s
    var found = ids(cur.id)
    while (!found && cur.parent >= 0) { cur = all(cur.parent); found = ids(cur.id) }
    found
  }

  /** Total length of the union of [start, end] intervals (ms). */
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
