package graftbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run, each taken at the layer's public
  * boundary: the builder call (`operators`), forcing the executed plan
  * (`plans`), the materializing action (`exec`, `sources`), the store
  * calls (`stores`), session set-up (`setup`) and the JVM (`jvm`).
  * Per-query values are means over the traced executions of the timed
  * phase.
  */
object Layers {
  private val MB = 1048576.0

  private def dur(s: Span): Double = (s.endNs - s.startNs) / 1e6

  def apply(ops: Seq[Op], storeCalls: Seq[StoreCall], tracer: Tracer,
      setupMs: Map[String, Double], extra: Map[String, Double], kernels: Set[String],
      storeMb: Map[String, Double]): Map[String, Double] = {
    val timed = ops.filter(o => o.pass >= 0 && o.ok && o.kind != "store" && o.kind != "check")
    val traced = timed.filter(_.rec.isDefined)
    val untraced = timed.filter(_.rec.isEmpty)
    val recs = traced.map(_.rec.get)
    def c(s: Span) = tracer.of(s)
    def mean(f: QueryRec => Double): Double = Stats.mean(recs.map(f))
    def sum(f: QueryRec => Double): Double = recs.map(f).sum
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    m("query.ms") = Stats.mean(traced.map(_.ns / 1e6))
    m("trace.overhead_pct") =
      if (untraced.isEmpty) 0.0
      else 100.0 * (ratio(m("query.ms"), Stats.mean(untraced.map(_.ns / 1e6))) - 1.0)
    m("trace.span_coverage") =
      ratio(sum(r => dur(r.build) + dur(r.plan) + dur(r.exec)), traced.map(_.ns / 1e6).sum)

    m("operators.build_ms") = mean(r => dur(r.build))
    m("operators.build_jobs") = mean(r => c(r.build).jobs.toDouble)

    m("plans.ms") = mean(r => dur(r.plan))
    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"plans.${p}_ms") = mean(_.phasesMs.getOrElse(p, 0L).toDouble)
    }
    m("plans.graft_rules_ms") = mean(_.graftRuleNs / 1e6)
    m("plans.graft_rules_effective_ratio") =
      ratio(sum(_.graftRuleEff.toDouble), sum(_.graftRuleInv.toDouble))

    m("exec.ms") = mean(r => dur(r.exec))
    m("exec.jobs") = mean(r => c(r.exec).jobs.toDouble)
    m("exec.stages") = mean(r => c(r.exec).stagesRun.toDouble)
    m("exec.stages_skipped") =
      mean(r => (c(r.exec).stagesDeclared - c(r.exec).stagesRun).max(0L).toDouble)
    m("exec.tasks") = mean(r => c(r.exec).tasks.toDouble)
    m("exec.sched_delay_ms") = mean(r => c(r.exec).schedDelayMs.toDouble)
    m("exec.task_run_ms") = mean(r => c(r.exec).taskRunMs.toDouble)
    m("exec.task_cpu_ms") = mean(r => c(r.exec).taskCpuMs.toDouble)
    m("exec.parallelism") = ratio(sum(r => c(r.exec).taskRunMs.toDouble), sum(r => dur(r.exec)))
    m("exec.shuffle_write_mb") = mean(r => c(r.exec).shuffleWriteBytes / MB)
    m("exec.shuffle_read_mb") = mean(r => c(r.exec).shuffleReadBytes / MB)
    m("exec.spill_mb") = mean(r => c(r.exec).spillBytes / MB)
    m("exec.gc_ms") = mean(r => c(r.exec).gcMs.toDouble)

    // scans run both in eager build-time jobs and under the action
    def read(r: QueryRec)(f: Counters => Long): Double = (f(c(r.build)) + f(c(r.exec))).toDouble
    m("sources.read_mb") = mean(r => read(r)(_.inputBytes) / MB)
    m("sources.rows_read") = mean(r => read(r)(_.inputRows))
    m("sources.rows_read_per_row_out") =
      ratio(sum(r => read(r)(_.inputRows)), traced.map(_.rows.toDouble).sum)

    val kernelOps = traced.filter(o => kernels.contains(o.name)).map(_.rec.get)
    m("functions.kernel_cpu_ms") =
      Stats.mean(kernelOps.map(r => (c(r.build).taskCpuMs + c(r.exec).taskCpuMs).toDouble))

    // the set-up builds, and the appends and compactions of the timed
    // cycles (a store without such a call reports 0)
    storeMb.foreach { case (s, mb) =>
      val calls = storeCalls.filter(x => x.store == s && (x.call == "ensure" || x.pass >= 0))
      Seq("ensure", "append", "compact").foreach { call =>
        m(s"stores.$s.${call}_ms") = Stats.mean(calls.filter(_.call == call).map(x => dur(x.span)))
      }
      m(s"stores.$s.jobs") = Stats.mean(calls.map(x => c(x.span).jobs.toDouble))
      m(s"stores.$s.mb") = mb
    }
    m("stores.probe_merge_on_read_ms") =
      Stats.mean(timed.filter(_.kind == "probe_mor").map(_.ns / 1e6))
    m("stores.probe_published_ms") =
      Stats.mean(timed.filter(_.kind == "probe_pub").map(_.ns / 1e6))

    m("setup.session_ms") = setupMs("session")
    m("setup.warmup_ms") = setupMs("warmup")
    m("setup.stores_ms") = setupMs("stores")
    m("jvm.gc_ms") = extra("jvm.gc_ms")
    m("jvm.heap_peak_mb") = extra("jvm.heap_peak_mb")
    m.toMap
  }

  /** One record per traced query execution (the attribution table), and
    * every span with its parent.
    */
  def writeRecords(recordsPath: String, spansPath: String, ops: Seq[Op], tracer: Tracer): Unit = {
    val w = new PrintWriter(new File(recordsPath), "UTF-8")
    try ops.filter(_.rec.isDefined).foreach { o =>
      val r = o.rec.get
      val j = new Json
      j.obj {
        j.field("query", o.name); j.field("kind", o.kind); j.field("pass", o.pass)
        j.field("latency_ms", o.ns / 1e6); j.field("rows_out", o.rows)
        j.field("build_ms", dur(r.build)); j.field("plan_ms", dur(r.plan))
        j.field("exec_ms", dur(r.exec))
        r.phasesMs.foreach { case (k, v) => j.field(s"${k}_ms", v) }
        j.field("graft_rules_ms", r.graftRuleNs / 1e6)
        j.field("graft_rules_invocations", r.graftRuleInv)
        j.field("graft_rules_effective", r.graftRuleEff)
        Seq("build" -> r.build, "exec" -> r.exec).foreach { case (p, s) =>
          val c = tracer.of(s)
          j.obj(p) {
            j.field("jobs", c.jobs); j.field("stages", c.stagesRun)
            j.field("stages_skipped", (c.stagesDeclared - c.stagesRun).max(0L))
            j.field("tasks", c.tasks); j.field("sched_delay_ms", c.schedDelayMs)
            j.field("task_run_ms", c.taskRunMs); j.field("task_cpu_ms", c.taskCpuMs)
            j.field("gc_ms", c.gcMs); j.field("shuffle_write_bytes", c.shuffleWriteBytes)
            j.field("shuffle_read_bytes", c.shuffleReadBytes); j.field("spill_bytes", c.spillBytes)
            j.field("input_bytes", c.inputBytes); j.field("input_rows", c.inputRows)
          }
        }
      }
      w.println(j.toString)
    } finally w.close()
    val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val s = new PrintWriter(new File(spansPath), "UTF-8")
    try tracer.spans.foreach { sp =>
      val j = new Json
      j.obj {
        j.field("id", sp.id); j.field("parent", sp.parent); j.field("name", sp.name)
        j.field("start_ms", (sp.startNs - t0) / 1e6); j.field("end_ms", (sp.endNs - t0) / 1e6)
      }
      s.println(j.toString)
    } finally s.close()
  }
}
