package perfbench

import perfbench.live.LiveSeason

/** Per-layer metrics of one traced phase, computed from the tracer's
  * spans, jobs, stages and query phases plus the ledger's samples. Only
  * jobs and stages submitted inside a timed operation's span count. */
object Layers {
  /** Workload facts the listeners cannot see: the replay's landed bytes
    * and store state (live_season), and the number of timed passes. */
  final case class Facts(replay: Option[LiveSeason.Replay], passes: Int)

  private val MB = 1024.0 * 1024.0

  def compute(t: Tracer, l: Ledger, f: Facts): Map[String, Double] = {
    val m = scala.collection.mutable.Map[String, Double]()
    val roots = t.spans.filter(_.parent < 0).map(_.id).toSeq
    val jobs = t.jobs.values.filter(_.group >= 0).toSeq
    val stages = t.stages.values.filter(_.group >= 0).toSeq
    def jobSeconds(js: Seq[Tracer.Job]) = js.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1e3

    m("driver.build_s") = t.spans.filter(_.name == "build").map(s => s.endMs - s.startMs).sum / 1e3
    for ((phase, name) <- Seq("analysis" -> "analysis", "optimization" -> "optimization",
        "planning" -> "planning"))
      m(s"driver.${name}_ms") = t.phasesMs(phase)

    m("scheduler.jobs") = jobs.size
    m("scheduler.stages") = stages.size
    m("scheduler.tasks") = stages.map(_.tasks).sum
    m("scheduler.job_wall_s") = jobSeconds(jobs)
    m("scheduler.gap_s") = t.gapSeconds(roots)

    m("executor.cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("executor.gc_s") = stages.map(_.gcMs).sum / 1e3
    m("executor.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / MB
    m("executor.shuffle_read_mb") = stages.map(_.shuffleRead).sum / MB
    m("executor.spill_mb") = stages.map(_.spill).sum / MB
    m("executor.records_read") = stages.map(_.recordsRead).sum.toDouble
    m("executor.task_skew") = stages.filter(_.taskDurations.size >= 4).flatMap { s =>
      val med = Stats.median(s.taskDurations.map(_.toDouble).toSeq)
      if (med > 0) Some(s.taskDurations.max / med) else None
    }.maxOption.getOrElse(1.0)

    for (mod <- Main.Modules) {
      val js = jobs.filter(_.module == mod)
      m(s"$mod.jobs") = js.size
      m(s"$mod.job_wall_s") = jobSeconds(js)
      m(s"$mod.cpu_s") = stages.filter(_.module == mod).map(_.cpuNs).sum / 1e9
    }

    f.replay.foreach { r =>
      def med(kind: String) = l.seconds(kind) match { case Nil => 0.0; case xs => Stats.median(xs) }
      m("pipeline.reland_tick_p50_s") = med("bdeck.reland")
      m("pipeline.fix_tick_p50_s") = med("bdeck.fix")
      m("pipeline.adeck_tick_p50_s") = med("adeck")
      m("pipeline.compact_s") = med("compact")
      m("pipeline.maintenance_s") = med("maintenance")
      m("pipeline.store_files") = r.storeFiles
      m("pipeline.write_amp") = stages.map(_.bytesWritten).sum.toDouble / math.max(1L, r.timedNewBytes)
      m("pipeline.store_bytes_per_input_byte") = r.storeBytes.toDouble / math.max(1L, r.newBytes)
      m("parse.lines_landed") = r.timedNewLines.toDouble
      m("parse.reject_ratio") = r.rejectedLines.toDouble / math.max(1L, r.newLines)
      val tickTime = LiveSeason.bdeckTicks(l).sum + l.seconds("adeck").sum
      m("parse.ingest_lines_per_s") = r.timedNewLines / math.max(1e-9, tickTime)
      val queryStages = stages.filter(s => s.module == "analytics")
      m("analytics.records_read_per_row") =
        queryStages.map(_.recordsRead).sum.toDouble / math.max(1L, r.queryRows)
      m("analytics.ref_query_p50_s") = med("query")
      m("analytics.ref_query_tail_s") = l.seconds("query") match {
        case Nil => 0.0; case xs => Stats.tail(xs)._1 }
    }

    // per gate: median seconds over passes, jobs per invocation
    val gateSpans = t.spans.filter(s => s.parent < 0 && s.name.startsWith("q_"))
    for ((g, ss) <- gateSpans.groupBy(_.name)) {
      m(s"ops.${g}_s") = Stats.median(ss.map(s => (s.endMs - s.startMs) / 1e3).toSeq)
      m(s"ops.${g}_jobs") = ss.map(s => t.jobsUnder(s.id).size).sum.toDouble / ss.size
    }
    if (gateSpans.nonEmpty) {
      m("ops.closure_pass_s") = Stats.median(GateSuite.suiteSeconds(l, GateSuite.Closure, f.passes))
      m("ops.scan_pass_s") = Stats.median(GateSuite.suiteSeconds(l, GateSuite.Scan, f.passes))
    }
    val planSpans = gateSpans.filter(s => GateSuite.PlanRuleGates(s.name))
    if (planSpans.nonEmpty)
      m("plans.optimization_ms") = planSpans.flatMap(s => t.subtree(s.id))
        .map(id => t.phasesBySpan((id, "optimization"))).sum / f.passes
    m.toMap
  }
}
