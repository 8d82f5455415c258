package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** `operators`: operator queries of `SparkEntry.queries` at one scale
  * factor, in a seed-permuted order, each written to Spark's `noop` sink so
  * every output column is computed (a `count()` lets the optimizer prune
  * columns). Only the functions/queries modules and Spark run here.
  *
  * Each output is checked against a pinned row count and order-independent
  * hash, taken in the same execution as an observed metric. */
final class Operators(run: Run, pinsFile: Path) extends Workload {
  import run.{spark, tracer}
  private val names = Operators.names
  private val dataKey = Paths.get(run.opts.data).getFileName.toString

  /** The smallest scale factor next to the data, for the warm-up. */
  private val warmData = {
    val small = Paths.get(run.opts.data).resolveSibling("sf0.001")
    if (Files.isDirectory(small)) small.toString else run.opts.data
  }

  /** pins: data dir name -> operator -> (rows, hash) */
  private val pins: Map[String, Map[String, (Long, Long)]] =
    if (!Files.exists(pinsFile)) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(pinsFile.toFile)
      import scala.jdk.CollectionConverters._
      root.properties.asScala.map { e =>
        e.getKey -> e.getValue.properties.asScala.map { o =>
          o.getKey -> (o.getValue.get(0).asLong, o.getValue.get(1).asLong)
        }.toMap
      }.toMap
    }
  private val observed = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()

  /** Write `df` to the noop sink; returns (rows, hash) observed on the way. */
  private def noop(name: String, df: DataFrame): (Long, Long) = {
    val obs = Observation(s"check_$name")
    // maps have no hash; their JSON form does
    val cols = df.schema.fields.map { f =>
      if (f.dataType.catalogString.contains("map<"))
        to_json(col(s"`${f.name}`")) else col(s"`${f.name}`")
    }
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L))), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** Set-up, repeated: every operator once over the smallest scale factor,
    * which compiles each query's generated code before the timed pass. */
  def setup(dir: Path): Unit =
    names.foreach(n => noop(n, SparkEntry.queries(n)(spark, warmData)))

  def measure(dir: Path): Unit = {
    val order = run.rng.shuffle(names.toList)
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 1 || (System.nanoTime() - t0) / 1e9 < run.opts.seconds) {
      passes += 1
      tracer.span("step", s"pass $passes") {
        order.foreach { n =>
          tracer.drain()
          val cpu0 = tracer.counts("engine.task_cpu_s")
          run.op(s"operator $n", s"op.$n.s")(noop(n, SparkEntry.queries(n)(spark, run.opts.data))) {
            got =>
              observed(n) = got
              pins.get(dataKey).flatMap(_.get(n)) match {
                case None => Seq(s"no pinned value for $n on $dataKey")
                case Some((rows, hash)) =>
                  val want = (run.expected(rows), hash)
                  if (got == want) Nil else Seq(s"rows/hash $got, expected $want")
              }
          }
          tracer.drain()
          if (tracer.enabled)
            run.sample(s"op.$n.cpu_s", "s", tracer.counts("engine.task_cpu_s") - cpu0)
        }
      }
      run.cycle("operators_s", names.map(n => s"op.$n.s"))
    }
    run.fixedWork(Nil, "operators_s", cycles = 1)
  }

  /** Record this run's observed values as the pins for its data. */
  def writePins(): Unit = {
    val all = pins.updated(dataKey, observed.toMap)
    val body = all.toSeq.sortBy(_._1).map { case (k, ops) =>
      s"  ${Json.str(k)}: {\n" + ops.toSeq.sortBy(_._1).map { case (o, (r, h)) =>
        s"    ${Json.str(o)}: [$r, $h]" }.mkString(",\n") + "\n  }"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(pinsFile, body)
  }
}

object Operators {
  /** The timed operators: the gram-hash kernel's users (td_minhash_rowwise,
    * td_decontaminate), the scan-heavy text operators (td_html_extract,
    * td_text_quality), a window query (q22_sessionize) and the flagship
    * aggregate (q1_agg). All 26 bench queries take about 45 s a pass on 4
    * cores, more than one run's share of the benchmark's time budget. */
  val names: Seq[String] = Seq("td_minhash_rowwise", "td_decontaminate", "td_html_extract",
    "td_text_quality", "q22_sessionize", "q1_agg")
}
