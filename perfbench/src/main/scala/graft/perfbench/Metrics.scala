package graft.perfbench

import scala.collection.mutable

/** One reported metric: value, unit and how many samples it summarises. */
final case class Metric(value: Double, unit: String, samples: Int)

/** Turns a run's samples and counters into named metrics. Timings are
  * medians: a run holds fewer than ten samples beyond any tail percentile.
  * A layer a workload does not exercise reports 0. */
object Metrics {
  /** the repeated closed-loop cycle of each workload */
  val cycleOf = Map("daily_cycle" -> "run_s", "daily_cycle_manifest" -> "run_s",
    "wide_edit" -> "edit_s", "operators" -> "operators_s")

  def collect(run: Run, layerCounts: Map[String, Double], stateMb: Double): Map[String, Metric] = {
    val out = mutable.LinkedHashMap[String, Metric]()
    def med(name: String, as: String = null): Unit = run.samples.get(name).foreach { xs =>
      out(Option(as).getOrElse(name)) = Metric(Json.median(xs.toSeq), run.units(name), xs.size)
    }
    // end to end
    Seq("setup_s", "bootstrap_s", "run_s", "dev_apply_s", "promote_s", "edit_s",
      "operators_s", "disk_mb", "peak_rss_mb").foreach(med(_))
    med(cycleOf(run.opts.workload), "cycle_s")
    med("work_s")
    out("fail_frac") = Metric(run.failed.toDouble / math.max(1, run.attempted), "ratio",
      run.attempted)

    // per layer
    def layer(name: String, unit: String, v: Double, n: Int = 1): Unit =
      out(name) = Metric(v, unit, n)
    def layerMed(name: String, unit: String, from: String = null): Unit =
      run.samples.get(Option(from).getOrElse(name)) match {
        case Some(xs) => out(name) = Metric(Json.median(xs.toSeq), unit, xs.size)
        case None => layer(name, unit, 0.0, 0)
      }
    layerMed("loader.load_s", "s")
    layerMed("macros.render_ms", "ms")
    layerMed("core.fingerprint_s", "s")
    layerMed("plans.plan_s", "s")
    layer("plans.batches", "count", layerCounts.getOrElse("plans.batches", 0.0))
    layerMed("plans.batch_s_p50", "s", "plans.batch_s")
    layer("plans.render_cache_hit_ratio", "ratio",
      layerCounts.getOrElse("plans.render_cache_hit_ratio", 0.0))
    layerMed("state.reload_s", "s")
    layer("state.durable_writes", "count", layerCounts.getOrElse("state.durable_writes", 0.0))
    layer("state.mb", "MB", stateMb)
    val c = run.tracer.counts
    Seq("adapter.write_n" -> "count", "adapter.write_s" -> "s", "adapter.ddl_n" -> "count",
      "adapter.ddl_s" -> "s").foreach { case (k, u) => layer(k, u, c(k)) }
    run.tracer.ddlNames.foreach { k =>
      layer(s"adapter.ddl_n.$k", "count", c(s"adapter.ddl_n.$k"))
      layer(s"adapter.ddl_s.$k", "s", c(s"adapter.ddl_s.$k"))
    }
    layer("adapter.files_written", "count", c("adapter.files_written"))
    layer("adapter.mb_written", "MB", c("adapter.mb_written"))
    Operators.names.foreach { q =>
      layerMed(s"op.$q.s", "s")
      layerMed(s"op.$q.cpu_s", "s")
    }
    Seq("engine.jobs" -> "count", "engine.analysis_jobs" -> "count", "engine.stages" -> "count",
      "engine.tasks" -> "count", "engine.task_cpu_s" -> "s", "engine.task_run_s" -> "s",
      "engine.gc_s" -> "s", "engine.shuffle_write_mb" -> "MB", "engine.spill_mb" -> "MB",
      "engine.plan_s" -> "s").foreach { case (k, u) => layer(k, u, c(k)) }
    layer("engine.busy_frac", "ratio", run.tracer.busyFraction(run.opIntervals.toSeq))
    out.toMap
  }

  /** The run's last line: every metric measured; perfbench/run.py keeps
    * the ones BENCHMARK.json names for the trace mode. */
  def json(run: Run, metrics: Map[String, Metric]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}, " +
        s"\"samples\": ${m.samples}}"
    }.mkString(", ")
    s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": {$ms}}"""
  }
}

/** The human-readable part of a run's output. */
object Report {
  private val endToEnd = Seq("setup_s", "bootstrap_s", "run_s", "dev_apply_s", "promote_s",
    "edit_s", "operators_s", "cycle_s", "work_s", "disk_mb", "peak_rss_mb", "fail_frac")

  def print(run: Run, metrics: Map[String, Metric], sessionS: Double, opts: Opts): Unit = {
    println(s"workload ${opts.workload}  seed ${opts.seed}  trace ${if (opts.trace) 1 else 0}  " +
      s"data ${opts.data}  cores ${Runtime.getRuntime.availableProcessors}")
    println(f"  ${"session_s"}%-22s ${sessionS}%12.4f s      (JVM start to Spark session, once)")
    endToEnd.flatMap(k => metrics.get(k).map(k -> _)).foreach { case (k, m) =>
      println(f"  $k%-22s ${m.value}%12.4f ${m.unit}%-6s n=${m.samples}")
    }
    if (opts.trace) {
      println("  per layer:")
      metrics.toSeq.filter { case (k, _) => k.contains('.') }.sortBy(_._1)
        .filter { case (k, m) => !k.startsWith("op.") || m.samples > 0 }
        .foreach { case (k, m) => println(f"    $k%-40s ${m.value}%14.4f ${m.unit}%-6s n=${m.samples}") }
    }
    println(s"  operations: ${run.attempted} attempted, ${run.failed} failed")
    run.failures.foreach(f => println(s"  FAILED $f"))
  }
}
