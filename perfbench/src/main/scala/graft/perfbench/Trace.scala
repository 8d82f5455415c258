package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `parent` is the id of
  * the enclosing span (0 for none). */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Long, end: Long)

/** Span recorder. The benchmark opens workload → step → graft-call spans
  * around its own calls into graft; with tracing on, SQL-execution and
  * Spark-job spans and the engine/adapter counters come from Spark's public
  * listener APIs. Everything stays in memory until the run ends.
  *
  * With tracing off no listener is registered and only the timing is kept,
  * so the untraced run measures graft alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val usBase = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + usBase

  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }
  private val stack = mutable.ArrayBuffer[Long]()
  private val benchSpans = mutable.ArrayBuffer[Span]()

  /** Run `f` as a span; returns its result and wall seconds. */
  def timed[A](kind: String, name: String)(f: => A): (A, Double) = {
    val id = newId()
    val parent = stack.lastOption.getOrElse(0L)
    val t0 = nowUs
    stack += id
    try {
      val a = f
      (a, (nowUs - t0) / 1e6)
    } finally {
      stack.remove(stack.size - 1)
      if (enabled) synchronized { benchSpans += Span(id, parent, name, kind, t0, nowUs) }
    }
  }

  def span[A](kind: String, name: String)(f: => A): A = timed(kind, name)(f)._1

  // ------------------------------------------------------------ Spark side

  /** Engine and adapter counters, summed over the run. */
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { counts(k) = counts(k) + v }

  // Listener events arrive late and on another thread, so Spark spans are
  // parented when the run ends, by time: a SQL execution belongs to the
  // innermost benchmark span open when it started, a job to its SQL
  // execution or, outside one, to that benchmark span.
  private val sqlSpans = mutable.LinkedHashMap[Long, (Long, Long)]()              // exec -> (start, end)
  private val jobSpans = mutable.LinkedHashMap[Int, (Option[Long], Long, Long)]() // job -> (exec, start, end)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      // a job outside any SQL execution runs while a query is still being
      // analysed: schema inference, file listing, view resolution
      if (exec.isEmpty) add("engine.analysis_jobs", 1)
      add("engine.jobs", 1)
      Tracer.this.synchronized { jobSpans(e.jobId) = (exec, e.time * 1000L, -1L) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.get(e.jobId).foreach { case (x, s, _) => jobSpans(e.jobId) = (x, s, e.time * 1000L) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("engine.stages", 1)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        add("engine.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("engine.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("engine.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("engine.task_cpu_s", m.executorCpuTime / 1e9)
        add("engine.task_run_s", m.executorRunTime / 1e3)
        add("engine.gc_s", m.jvmGCTime / 1e3)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqlSpans(s.executionId) = (s.time * 1000L, -1L)
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlSpans.get(s.executionId).foreach { case (t0, _) =>
          sqlSpans(s.executionId) = (t0, s.time * 1000L)
        }
      }
      case _ => ()
    }
  }

  /** Catalog DDL graft runs, by the command class Spark ran. */
  private val ddlKinds = Seq(
    "CreateViewCommand" -> "create_view",
    "CreateNamespace" -> "create_namespace",
    "CreateDatabaseCommand" -> "create_namespace",
    "RepairTableCommand" -> "recover_partitions",
    "RecoverPartitions" -> "recover_partitions",
    "AlterTableRenameCommand" -> "rename",
    "RenameTable" -> "rename",
    "CreateDataSourceTableCommand" -> "create_table",
    "CreateTable" -> "create_table")
  val ddlNames: Seq[String] = ddlKinds.map(_._2).distinct

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("engine.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      val cmd = try qe.commandExecuted.nodeName catch { case _: Throwable => "" }
      val writes = qe.executedPlan.collect { case w: DataWritingCommandExec => w }
      if (writes.nonEmpty) {
        add("adapter.write_n", 1)
        add("adapter.write_s", durationNs / 1e9)
        writes.foreach { w =>
          w.cmd.metrics.get("numFiles").foreach(m => add("adapter.files_written", m.value.toDouble))
          w.cmd.metrics.get("numOutputBytes").foreach(m => add("adapter.mb_written", m.value / 1e6))
        }
      } else ddlKinds.find { case (cls, _) => cmd.startsWith(cls) }.foreach { case (_, k) =>
        add("adapter.ddl_n", 1); add("adapter.ddl_s", durationNs / 1e9)
        add(s"adapter.ddl_n.$k", 1); add(s"adapter.ddl_s.$k", durationNs / 1e9)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Block until Spark's listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain(spark.sparkContext)

  /** Run `f` — a check or a set-up, not graft work being measured — and
    * leave the engine and adapter counts it causes out of the run's. */
  def excluded[A](f: => A): A =
    if (!enabled) f
    else {
      drain()
      val before = synchronized(counts.clone())
      try f
      finally {
        drain()
        synchronized { counts.clear(); counts ++= before }
      }
    }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Every closed span, Spark ones parented by time (see above). */
  def spans: Seq[Span] = synchronized {
    val bench = benchSpans.toVector
    def innermost(t: Long): Long = bench
      .filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0L)
    val sqlIds = sqlSpans.keys.map(x => x -> newId()).toMap
    val sql = sqlSpans.collect { case (x, (s, e)) if e >= 0 =>
      Span(sqlIds(x), innermost(s), s"sql $x", "sql", s, e)
    }
    val jobs = jobSpans.collect { case (j, (x, s, e)) if e >= 0 =>
      Span(newId(), x.flatMap(sqlIds.get).getOrElse(innermost(s)), s"job $j", "spark_job", s, e)
    }
    bench ++ sql ++ jobs
  }

  /** Share of the given wall intervals during which a Spark job ran. */
  def busyFraction(ops: Seq[(Long, Long)]): Double = {
    val jobs = synchronized(jobSpans.values.collect { case (_, s, e) if e >= 0 => (s, e) }.toVector)
    val merged = mutable.ArrayBuffer[(Long, Long)]()
    jobs.sortBy(_._1).foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    val total = ops.map { case (s, e) => e - s }.sum.toDouble
    val busy = ops.map { case (os, oe) =>
      merged.map { case (s, e) => math.max(0L, math.min(e, oe) - math.max(s, os)) }.sum
    }.sum
    if (total <= 0) 0.0 else busy / total
  }

  /** Self time per span name, in seconds: a span's duration minus the union
    * of its children's intervals (children may overlap: parallel batches).
    * SQL executions and jobs are grouped under their kind. */
  def selfTimes(all: Seq[Span]): Seq[(String, Double)] = {
    val byParent = all.groupBy(_.parent)
    val out = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = 0L; var curE = 0L
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      val key = if (s.kind == "spark_job" || s.kind == "sql") s.kind else s.name
      out(key) = out(key) + (s.end - s.start - covered) / 1e6
    }
    out.toSeq.sortBy(-_._2)
  }

  def writeJsonl(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start_us":${s.start},"end_us":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}
