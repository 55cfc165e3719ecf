package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced pass, the cold first one whose wall
  * time the untraced runs report: span timings, plus listener events
  * attributed to the pass (and to a layer span inside it) by their own
  * timestamps, plus what the tracing itself cost.
  */
object Layers {

  val families: Seq[String] =
    Seq("relational", "curation", "vector", "multimodal", "web", "streaming")

  def reduce(spans: Spans, l: Listeners, pass: Main.Pass,
             cpus: Int): String = {
    val all = spans.all
    val tasks = l.tasks.asScala.toSeq
    val jobs = l.jobs.asScala.toSeq
    val stages = l.stages.asScala.toSeq
    val ph = l.phases.asScala.toSeq
    val bs = l.batches.asScala.toSeq

    def within(t: Long, s: Spans.Span) = t >= s.startMs && t <= s.endMs

    val ps = all.find(s => s.name == "pass" && s.pass == pass.index).get
    val inPass = all.filter(s => s.pass == pass.index && s.name != "pass")
    def spanS(name: String) = inPass.filter(_.name == name).map(_.seconds).sum
    def jobsIn(names: String*) = inPass.filter(s => names.contains(s.name))
      .map(s => jobs.count(within(_, s))).sum.toDouble
    def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val lastPerQuery = bs.groupBy(_.query).values.map(_.maxBy(_.endMs))
    val taskRun = tasks.map(_.runMs).sum / 1e3
    val byFamily = inPass.filter(_.name.startsWith("query."))
      .groupBy(s => graft.Bench.familyOf(s.name.stripPrefix("query.")))
    val metrics = Map(
      "extract.call_s" -> spanS("etl.Extract"),
      "extract.jobs" -> jobsIn("etl.Extract"),
      "refine.call_s" -> spanS("etl.Refine"),
      "load.write_s" -> spanS("etl.Load"),
      "sqlite.write_s" -> spanS("etl.Sqlite"),
      "analyze.merchant_s" -> spanS("etl.Analyze.merchant"),
      "analyze.payment_s" -> spanS("etl.Analyze.payment"),
      "analyze.card_s" -> spanS("etl.Analyze.card"),
      "analyze.jobs" -> jobsIn("etl.Analyze.merchant",
        "etl.Analyze.payment", "etl.Analyze.card"),
      "catalyst.analysis_s" -> ph.map(_.analysisMs).sum / 1e3,
      "catalyst.optimize_s" -> ph.map(_.optimizeMs).sum / 1e3,
      "catalyst.plan_s" -> ph.map(_.planMs).sum / 1e3,
      // warm passes hit the compiled-class cache; this one is cold
      "codegen.compiles" -> ps.compiles.toDouble,
      "codegen.compile_s" -> ps.compileNs / 1e9,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.driver_gap_s" -> (ps.seconds - busySeconds(tasks, ps)).max(0.0),
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "exec.slot_util" -> taskRun / (ps.seconds * cpus),
      "plan.exchanges" -> ph.map(_.exchanges).sum.toDouble,
      "plan.smj" -> ph.map(_.smj).sum.toDouble,
      "plan.broadcasts" -> ph.map(_.broadcasts).sum.toDouble,
      "stream.batches" -> bs.size.toDouble,
      "stream.addBatch_s" -> dur("addBatch"),
      "stream.walCommit_s" -> dur("walCommit"),
      "stream.commitOffsets_s" -> dur("commitOffsets"),
      "stream.latestOffset_s" -> dur("latestOffset"),
      "stream.queryPlanning_s" -> dur("queryPlanning"),
      "stream.overhead_s" -> (dur("triggerExecution") - dur("addBatch")),
      "stream.rows_in" -> bs.map(_.rowsIn).sum.toDouble,
      "stream.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "stream.state_bytes" -> lastPerQuery.map(_.stateBytes).sum.toDouble,
      // the harness's own work while tracing: span bookkeeping on the
      // driver thread plus listener callbacks on the bus threads
      "trace.overhead_s" -> (spans.costSeconds(pass.index) + l.costSeconds)
    ) ++ families.map(f => s"query.${f}_s" ->
      byFamily.getOrElse(f, Nil).map(_.seconds).sum)
    Json.obj("pass" -> pass.index, "metrics" -> metrics)
  }

  /** Seconds of the span during which at least one task was running. */
  private def busySeconds(ts: Seq[Listeners.Task], s: Spans.Span): Double = {
    val iv = ts.map(t => (t.launchMs.max(s.startMs), t.finishMs.min(s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    (busy + curB - curA) / 1e3
  }
}
