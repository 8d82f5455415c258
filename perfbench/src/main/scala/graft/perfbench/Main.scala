package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; run through perfbench/run.py, which builds it.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --work <dir> --pins <file> [--corrupt-expected] [--write-pins]
  * }}}
  *
  * Prints a human-readable report, then one JSON line holding every metric
  * it measured; run.py picks the ones BENCHMARK.json names. */
object Main {
  val workloads = Seq("daily_cycle", "daily_cycle_manifest", "wide_edit", "operators")
  /** set-up is repeated this many times; setup_s is the median */
  val setupRounds = 3
  /** cycles counted into work_s, so it stays fixed work */
  val workCycles = 3

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val opts = Opts(
      workload = need("workload"), seed = need("seed").toLong, seconds = need("seconds").toDouble,
      trace = need("trace") == "1", data = need("data"),
      work = Paths.get(need("work")).toAbsolutePath.toString,
      corruptExpected = args.contains("--corrupt-expected"))
    require(workloads.contains(opts.workload),
      s"unknown workload ${opts.workload}; one of ${workloads.mkString(", ")}")
    require(Files.isRegularFile(Paths.get(opts.data, "lineitem.parquet")),
      s"no input tables under ${opts.data}")
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(opts.work, s"${opts.workload}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(spark, opts.trace)
    val run = new Run(spark, tracer, opts)
    var code = 0
    try {
      val pins = Paths.get(need("pins"))
      val w: Workload = opts.workload match {
        case "operators" => new Operators(run, pins)
        case "wide_edit" => new WideEdit(run)
        case "daily_cycle" => new DailyCycle(run, "dir")
        case _ => new DailyCycle(run, "manifest")
      }
      tracer.span("workload", opts.workload) {
        (1 to setupRounds).foreach { i =>
          val dir = work.resolve(s"setup-$i")
          val (_, s) = tracer.excluded(tracer.timed("setup", s"setup $i")(w.setup(dir)))
          run.sample("setup_s", "s", s)
          System.err.println(f"perfbench: setup $i%-18d $s%9.3f s")
          Run.deleteTree(dir)
        }
        w.measure(work.resolve("measure"))
      }
      run.sample("peak_rss_mb", "MB", Run.peakRssMb())
      tracer.drain()
      if (args.contains("--write-pins")) w match {
        case o: Operators => o.writePins()
        case _ => ()
      }
      val metrics = Metrics.collect(run, w.layerCounts,
        stateMb = Run.dirMb(work.resolve("measure/ws/state")))
      Report.print(run, metrics, sessionS, opts)
      if (tracer.enabled) {
        val all = tracer.spans
        val path = Paths.get(opts.work, "spans", s"${opts.workload}-seed${opts.seed}.jsonl")
        tracer.writeJsonl(path, all)
        println(s"spans: ${all.size} written to ${Paths.get("").toAbsolutePath.relativize(path)}")
        println("self time by span name (s):")
        tracer.selfTimes(all).take(25).foreach { case (n, s) => println(f"  $s%10.3f  $n") }
      }
      println(Metrics.json(run, metrics))
    } catch { case e: Throwable =>
      System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
      code = 1
    } finally {
      tracer.close()
      spark.stop()
      Run.deleteTree(work)
    }
    sys.exit(code)
  }
}
