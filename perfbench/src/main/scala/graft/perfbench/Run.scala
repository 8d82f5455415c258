package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options; see perfbench/README.md. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    /** directory of the read-only input tables */
    data: String,
    /** scratch root for workspaces, spans and Spark's local files */
    work: String,
    /** self-test switch: perturb one expected value, which must then be
      * reported as a failed operation */
    corruptExpected: Boolean)

/** A workload: a set-up the run repeats, then the measured part. */
trait Workload {
  def setup(dir: java.nio.file.Path): Unit
  def measure(dir: java.nio.file.Path): Unit
  /** graft-side counters read off the contexts it built */
  def layerCounts: Map[String, Double] = Map.empty
}

/** One benchmark run: samples per metric, and operations attempted/failed.
  * An operation fails when graft throws or when a check of its output finds
  * a mismatch; either way the run goes on. */
final class Run(val spark: SparkSession, val tracer: Tracer, val opts: Opts) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** metric name -> unit */
  val units = mutable.LinkedHashMap[String, String]()
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** wall interval of every timed operation, for engine.busy_frac */
  val opIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val rng = new scala.util.Random(opts.seed)
  /** the one expected value the self-test corrupts is the first one asked */
  private var corruptLeft = opts.corruptExpected

  def sample(metric: String, unit: String, v: Double): Unit = {
    units(metric) = unit
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer[Double]()) += v
  }

  /** Time one operation under `metric`, then run `check` on its result.
    * `check` returns mismatch descriptions; any mismatch or exception fails
    * the operation. Returns the result when the operation did not throw. */
  def op[A](name: String, metric: String)(f: => A)(check: A => Seq[String]): Option[A] = {
    attempted += 1
    val t0 = tracer.nowUs
    val res = try {
      val (a, secs) = tracer.timed("op", name)(f)
      sample(metric, "s", secs)
      System.err.println(f"perfbench: $name%-24s $secs%9.3f s")
      Some(a)
    } catch { case e: Throwable =>
      failed += 1
      failures += s"$name: threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      None
    }
    opIntervals += ((t0, tracer.nowUs))
    res.foreach { a =>
      val bad = try tracer.excluded(tracer.span("check", s"check $name")(check(a))) catch { case e: Throwable =>
        Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (bad.nonEmpty) {
        failed += 1
        failures ++= bad.map(b => s"$name: $b".take(500))
      }
    }
    res
  }

  /** One closed-loop cycle: the sum of the latest sample of each of its
    * operations, recorded only when every one of them completed. */
  private val cycleSeen = mutable.Map[String, Int]().withDefaultValue(0)
  def cycle(metric: String, ops: Seq[String]): Unit = {
    val n = cycleSeen(metric) + 1
    cycleSeen(metric) = n
    if (ops.forall(o => samples.get(o).exists(_.size >= n)))
      sample(metric, "s", ops.map(o => samples(o)(n - 1)).sum)
  }

  /** work_s: the run's fixed work — one sample of each of `once`, plus the
    * first `cycles` samples of `repeated` — recorded only when all of them
    * completed, so it does not depend on how many cycles fit in --seconds. */
  def fixedWork(once: Seq[String], repeated: String, cycles: Int = Main.workCycles): Unit = {
    val rep = samples.getOrElse(repeated, Nil).take(cycles)
    if (once.forall(samples.contains) && rep.size == cycles)
      sample("work_s", "s", once.map(samples(_).head).sum + rep.sum)
  }

  /** An expected value as the checks see it: the self-test corrupts one. */
  def expected(v: Long): Long =
    if (corruptLeft) { corruptLeft = false; v + 1 } else v
}

object Run {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes under `dir`, in MB. */
  def dirMb(dir: java.nio.file.Path): Double = {
    if (!java.nio.file.Files.exists(dir)) return 0.0
    val s = java.nio.file.Files.walk(dir)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum / 1e6
    finally s.close()
  }

  def deleteTree(dir: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(dir)) {
    val s = java.nio.file.Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    finally s.close()
  }
}
