package perfbench

/** The metrics of a run. Benchmark metrics carry the same names on every
  * workload (each workload's operation is defined in BENCHMARK.json); the
  * per-workload report carries the finer, workload-specific names. */
object Metrics {
  type Named = Map[String, (Double, String)]

  def asJson(m: Named): Map[String, Map[String, Any]] =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  /** End-to-end metrics: set-up wall time, and the CPU time the successful
    * operations cost ([[Recorder.cpuNanos]]: every thread but the JIT
    * compiler's). CPU time, not wall time, because on a shared machine the
    * wall of one run moves with the neighbours' load by far more than any
    * bound worth gating on; the walls and the JIT's CPU stay in the report. */
  def endToEnd(rec: Recorder, setupS: Double): Named = {
    val cpu = rec.good.map(_.cpuMs)
    Map("setup_s" -> (setupS, "s"), "cpu_ms" -> (Stats.mean(cpu), "ms"),
      "cpu_p50_ms" -> (Stats.median(cpu), "ms"))
  }

  /** Counters of every phase of one operation. */
  private def opCounters(snap: Map[String, Counters], r: OpRecord): Counters =
    Counters.sum(snap.collect { case (k, c) if k.startsWith(s"${r.index}/") => c })

  private def execMs(r: OpRecord): Double = r.phasesMs.filter(_._1 != "construct").values.sum

  /** Per-layer metrics of a traced run, per successful operation: the
    * construct/exec split of its span, the harness's self time, and the
    * Spark counters the probe charged to it. */
  def layers(rec: Recorder, snap: Map[String, Counters], cores: Int): Named = {
    val good = rec.good
    val n = math.max(1, good.size).toDouble
    val c = Counters.sum(good.map(opCounters(snap, _)))
    Map(
      "construct_ms" -> (Stats.mean(good.map(_.phasesMs.getOrElse("construct", 0.0))), "ms"),
      "exec_ms" -> (Stats.mean(good.map(execMs)), "ms"),
      "op_self_ms" -> (Stats.mean(good.map(_.selfMs)), "ms"),
      "jobs_per_op" -> (c.jobs / n, "count"),
      "stages_per_op" -> (c.stages / n, "count"),
      "tasks_per_op" -> (c.tasks / n, "count"),
      "deser_ms_per_op" -> (c.deserMs / n, "ms"),
      "task_run_ms_per_op" -> (c.runMs / n, "ms"),
      "gc_ms_per_op" -> (Stats.mean(good.map(_.gcMs)), "ms"),
      "shuffle_write_kb_per_op" -> (c.shuffleWriteBytes / 1e3 / n, "KB"),
      "nonempty_task_frac" -> (c.nonEmptyTasks.toDouble / math.max(1L, c.tasks), "frac"),
      "utilization" -> (c.runMs / (cores * math.max(1e-9, good.map(_.wallMs).sum)), "frac"))
  }

  /** The workload's own, finer-grained metrics (listed in
    * perfbench/README.md); traced runs add the per-layer split. */
  def report(workload: String, rec: Recorder, e2e: Named, extra: Extra,
             snap: Map[String, Counters], cores: Int, trace: Boolean): Named = {
    val good = rec.good
    val failedFrac = "failed_frac" -> (rec.failed.toDouble / math.max(1, rec.attempted), "frac")
    val walls: Named = Map("p50_ms" -> (Stats.median(rec.walls()), "ms"),
      "mean_ms" -> (Stats.mean(rec.walls()), "ms"),
      "jit_cpu_ms" -> (Stats.mean(good.map(_.jitMs)), "ms"))
    val base: Named =
      if (workload == "api_mix") {
        val (tail, pct) = Stats.tail(rec.walls())
        Map("api_p50_ms" -> walls("p50_ms"), "api_tail_ms" -> (tail, "ms"),
          "api_tail_pct" -> (pct, "pct")) ++
          Calls.ApiShapes.map(s => s"api_${s}_p50_ms" -> (Stats.median(rec.walls(_ == s)), "ms"))
      } else Map("suite_s" -> (good.map(_.wallMs).sum / 1e3, "s"))
    val traced: Named = if (!trace) Map.empty else if (workload == "api_mix") {
      val ingest = snap.getOrElse("ingest.derive_bars", new Counters) +=
        snap.getOrElse("ingest.materialize", new Counters)
      val buildS = extra.metrics.get("build_s").fold(Double.NaN)(_._1)
      val load = snap.getOrElse("serve.load", new Counters)
      Map("ingest.jobs" -> (ingest.jobs.toDouble, "count"),
        "ingest.tasks" -> (ingest.tasks.toDouble, "count"),
        "ingest.exec_run_s" -> (ingest.runMs / 1e3, "s"),
        "ingest.deser_s" -> (ingest.deserMs / 1e3, "s"),
        "ingest.gc_s" -> (ingest.taskGcMs / 1e3, "s"),
        "ingest.shuffle_write_mb" -> (ingest.shuffleWriteBytes / 1e6, "MB"),
        "ingest.utilization" -> (ingest.runMs / (cores * buildS * 1e3), "frac"),
        "serve.load.jobs" -> (load.jobs.toDouble, "count"),
        "serve.load.tasks" -> (load.tasks.toDouble, "count"),
        "serve.load.deser_s" -> (load.deserMs / 1e3, "s")) ++
        Calls.ApiShapes.flatMap { s =>
          val ops = good.filter(_.kind == s)
          val n = math.max(1, ops.size).toDouble
          val c = Counters.sum(ops.map(opCounters(snap, _)))
          def phase(p: String) = Stats.median(ops.map(_.phasesMs.getOrElse(p, 0.0)))
          Seq(s"api.$s.construct_ms" -> (phase("construct"), "ms"),
            s"api.$s.plan_ms" -> (phase("plan"), "ms"),
            s"api.$s.exec_ms" -> (phase("exec"), "ms"),
            s"api.$s.jobs" -> (c.jobs / n, "count"), s"api.$s.tasks" -> (c.tasks / n, "count"),
            s"api.$s.deser_ms" -> (c.deserMs / n, "ms"),
            s"api.$s.exec_run_ms" -> (c.runMs / n, "ms"),
            s"api.$s.nonempty_task_frac" ->
              (c.nonEmptyTasks.toDouble / math.max(1L, c.tasks), "frac"))
        }
    } else {
      val c = Counters.sum(good.map(opCounters(snap, _)))
      val wall = good.map(_.wallMs).sum
      good.flatMap { r =>
        val rc = opCounters(snap, r)
        Seq(s"suite.${r.kind}.construct_s" -> (r.phasesMs("construct") / 1e3, "s"),
          s"suite.${r.kind}.exec_s" -> (r.phasesMs("exec") / 1e3, "s"),
          s"suite.${r.kind}.jobs" -> (rc.jobs.toDouble, "count"),
          s"suite.${r.kind}.tasks" -> (rc.tasks.toDouble, "count"),
          s"suite.${r.kind}.deser_s" -> (rc.deserMs / 1e3, "s"))
      }.toMap ++ Map("suite.jobs" -> (c.jobs.toDouble, "count"),
        "suite.tasks" -> (c.tasks.toDouble, "count"),
        "suite.deser_s" -> (c.deserMs / 1e3, "s"), "suite.exec_run_s" -> (c.runMs / 1e3, "s"),
        "suite.utilization" -> (c.runMs / (cores * math.max(1e-9, wall)), "frac"))
    }
    e2e ++ walls + failedFrac ++ base ++ extra.metrics ++ traced
  }
}
