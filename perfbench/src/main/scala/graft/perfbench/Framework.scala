package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.{GraftContext, Plan}
import graft.adapter.SparkMaterializer
import graft.core.{Interval, IntervalAlgebra, Snapshot}
import graft.state.FileStateStore
import scala.jdk.CollectionConverters._

/** What the framework workloads share: a CLI-shaped context per command
  * over one workspace, the per-layer probes of the traced run, and the
  * state and virtual-layer checks. */
abstract class FrameworkWorkload(val run: Run) extends Workload {
  import run.{spark, tracer}
  protected val D = 86400000L
  protected def day(s: String): Long = java.time.LocalDate.parse(s).toEpochDay * D
  protected def ts(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
  protected val cpus = Runtime.getRuntime.availableProcessors

  /** Write the project's files into `dir`. */
  def writeProject(dir: Path): Unit
  /** External relations the project reads. */
  def externals(data: String): Seq[(String, String)]

  /** A new context over `workspace`, loaded from `project` — what every
    * CLI command does (graft.Main): config.yaml, durable state, externals. */
  def context(workspace: Path, project: Path): GraftContext = {
    val cfg = graft.loader.ProjectConfig.load(project.toString)
      .getOrElse(graft.loader.ProjectConfig())
    val ctx = new GraftContext(spark, workspace.toString,
      concurrency = cfg.concurrency.getOrElse(cpus), durableState = true,
      tableFormat = cfg.tableFormat)
    ctx.state match {
      case f: FileStateStore => writes0(ctx) = f.durableWrites
      case _ => ()
    }
    val (_, secs) = tracer.timed("graft", "loader.loadModels")(ctx.loadModels(project.toString))
    run.sample("loader.load_s", "s", secs)
    externals(run.opts.data).foreach { case (n, p) => ctx.addExternal(n, p) }
    if (tracer.enabled) probeLayers(ctx)
    ctx
  }

  /** Traced run only: time the layers a command goes through before it
    * plans — a render of every model and a fingerprint of the whole DAG. */
  private def probeLayers(ctx: GraftContext): Unit = {
    val models = ctx.allModels.values.toSeq.sortBy(_.name)
    val e = day("1995-01-02")
    models.foreach { m =>
      if (m.body.isInstanceOf[graft.core.SqlBody]) {
        val (_, s) = tracer.timed("graft", "macros.render")(
          graft.plans.Renderer.render(m, e - D, e, e, Map.empty, ctx.allVariables))
        run.sample("macros.render_ms", "ms", s * 1000)
      }
    }
    val (_, fs) = tracer.timed("graft", "core.snapshotsOf")(ctx.snapshotsOf(models.map(_.name)))
    run.sample("core.fingerprint_s", "s", fs)
  }

  private val stateStats = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  /** the state store's write counter when each context was built */
  private val writes0 = new java.util.IdentityHashMap[GraftContext, Long]().asScala

  /** Per-command counters, read off the context once the command is done. */
  protected def finish(ctx: GraftContext, workspace: Path): Unit = {
    val report = ctx.lastRunReport
    stateStats("batches") += report.size
    report.foreach { case (_, _, ms) => run.sample("plans.batch_s", "s", ms / 1000.0) }
    stateStats("render_hits") += ctx.evaluator.renderCache.hits
    stateStats("render_misses") += ctx.evaluator.renderCache.misses
    ctx.state match {
      case f: FileStateStore => stateStats("durable_writes") += f.durableWrites - writes0(ctx)
      case _ => ()
    }
    if (tracer.enabled) {
      val (_, s) = tracer.timed("graft", "state.reload")(
        new FileStateStore(workspace.resolve("state").toString))
      run.sample("state.reload_s", "s", s)
    }
  }

  override def layerCounts: Map[String, Double] = Map(
    "plans.batches" -> stateStats("batches").toDouble,
    "state.durable_writes" -> stateStats("durable_writes").toDouble,
    "plans.render_cache_hit_ratio" -> {
      val n = stateStats("render_hits") + stateStats("render_misses")
      if (n == 0) 0.0 else stateStats("render_hits").toDouble / n
    })

  /** `plan` + `apply` in a fresh context, as `graft plan <env> --auto-apply`. */
  protected def planApply(ws: Path, project: Path, env: String, start: Long, end: Long,
                          exec: Long): (GraftContext, Plan) = {
    val ctx = context(ws, project)
    val (p, ps) = tracer.timed("graft", "plans.plan")(ctx.plan(env, start, end))
    run.sample("plans.plan_s", "s", ps)
    tracer.span("graft", "apply")(ctx.apply(p, exec))
    finish(ctx, ws)
    (ctx, p)
  }

  /** `run` in a fresh context, as `graft run <env>`. */
  protected def runEnv(ws: Path, project: Path, env: String, start: Long, end: Long,
                       exec: Long): GraftContext = {
    val ctx = context(ws, project)
    tracer.span("graft", "run")(ctx.run(env, start, end, exec))
    finish(ctx, ws)
    ctx
  }

  // ------------------------------------------------------------ checks

  /** Every snapshot of `env` that keeps intervals covers exactly
    * [start, end): sorted, non-overlapping, no gap, nothing past the end. */
  protected def checkIntervals(ctx: GraftContext, env: String, start: Long, end: Long): Seq[String] = {
    val rec = ctx.state.getEnvironment(env)
    if (rec.isEmpty) return Seq(s"environment $env missing")
    envSnapshots(ctx, env).filter(_.model.kind.isIncremental).flatMap { s =>
      val sorted = s.intervals.sortBy(_.start)
      val overlaps = sorted.zip(sorted.drop(1)).exists { case (a, b) => b.start < a.end }
      val merged = IntervalAlgebra.merge(sorted)
      val from = math.max(start, s.model.start.getOrElse(start))
      if (overlaps) Seq(s"${s.model.name}: overlapping intervals ${fmt(sorted)}")
      else if (merged != Vector(Interval(from, end)))
        Seq(s"${s.model.name}: intervals ${fmt(merged)} != [${ts(from)}, ${ts(end)})")
      else Nil
    }
  }
  private def fmt(ivs: Seq[Interval]) = ivs.map(i => s"[${ts(i.start)}, ${ts(i.end)})").mkString(" ")

  protected def envSnapshots(ctx: GraftContext, env: String): Seq[Snapshot] = {
    val rec = ctx.state.getEnvironment(env).get
    rec.snapshots.toSeq.flatMap { case (n, v) =>
      rec.identifiers.get(n).flatMap(id => ctx.state.getSnapshotById(n, id))
        .orElse(ctx.state.getSnapshot(n, v))
    }
  }

  /** After an apply: every model's view in `env` exists and selects from
    * the physical table of the snapshot the plan chose. */
  protected def checkViews(ctx: GraftContext, p: Plan): Seq[String] = {
    val catalog = spark.sessionState.catalog
    p.envSnapshots.flatMap { s =>
      val physical = ctx.evaluator.physicalTable(s, p.isDevPreview(s)).table
      val (db, view) = SparkMaterializer.envLocation(s.model.schemaName, s.model.tableName, p.env)
      val text = try catalog.getTableMetadata(TableIdentifier(view, Some(db))).viewText
        catch { case _: Exception => None }
      text match {
        case None => Seq(s"${s.model.name}: no view $db.$view in ${p.env}")
        case Some(t) if !t.contains(physical) =>
          Seq(s"${s.model.name}: view $db.$view in ${p.env} does not select from $physical")
        case _ => Nil
      }
    }
  }

  /** Compare the view of each model in `env` to its expected SQL by row
    * count and an order-independent hash: one query for the views, one for
    * the expectations. */
  protected def checkTables(ctx: GraftContext, env: String,
                            expected: Seq[(String, String, Seq[String])]): Seq[String] = {
    def digests(rels: Seq[(String, String, Seq[String])]): Map[String, (Long, Long)] =
      spark.sql(rels.map { case (k, sql, cols) =>
        s"SELECT '$k' AS k, count(*) AS n, coalesce(sum(pmod(xxhash64(${cols.mkString(", ")}), " +
          s"2147483647)), 0) AS h FROM ($sql)"
      }.mkString(" UNION ALL ")).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = digests(expected.map { case (m, _, cols) =>
      (m, s"SELECT * FROM ${ctx.envTable(m, env)}", cols) })
    val want = digests(expected)
    expected.flatMap { case (m, _, _) =>
      val w = (run.expected(want(m)._1), want(m)._2)
      if (got.get(m).contains(w)) Nil else Seq(s"$m in $env: rows/hash ${got.get(m)}, expected $w")
    }
  }

  def disk(ws: Path): Unit = run.sample("disk_mb", "MB", Run.dirMb(ws))

  /** Set-up, repeated: generate the project into a fresh directory, build
    * a context over a fresh workspace, plan it (nothing applied) and read
    * the inputs once. */
  def setup(dir: Path): Unit = {
    val project = dir.resolve("project")
    writeProject(project)
    val ctx = context(dir.resolve("ws"), project)
    ctx.plan("prod", day("1995-01-01"), day("1995-01-02"))
    externals(run.opts.data).foreach { case (_, p) => spark.read.parquet(p).count() }
  }
}

/** `daily_cycle` (and, with the `manifest` table format,
  * `daily_cycle_manifest`): six models over orders and lineitem,
  * bootstrapped over 62 days of history, then one-day cron ticks (`run`),
  * then one breaking edit of the mart planned and applied to `dev`, then to
  * `prod`. */
final class DailyCycle(run: Run, format: String) extends FrameworkWorkload(run) {
  private val start = day("1995-01-01")
  /** history bootstrapped before the first tick: 62 days */
  private val historyDays = 62
  private val hour = 3600000L
  /** the mart's filter, which the edit changes; 51 keeps every row */
  private var quantityCap = 51

  def externals(data: String) = Seq(
    "raw.orders" -> s"$data/orders.parquet",
    "raw.lineitem" -> s"$data/lineitem.parquet")

  // The mart joins the raw orders, not stg_orders: in this data half the
  // line items ship before their order date, so a join with stg_orders would
  // depend on which days had run when each day was computed.
  private def martSql(cap: Int) =
    s"""MODEL (
       |  name shop.daily_mart,
       |  kind INCREMENTAL_BY_TIME_RANGE (time_column ship_day),
       |  cron '@daily',
       |  start '1995-01-01'
       |);
       |SELECT l.l_shipdate AS ship_day, o.o_orderstatus AS status,
       |  count(*) AS lines, sum(l.l_quantity) AS qty, sum(l.l_extendedprice) AS revenue
       |FROM shop.stg_lineitem l JOIN raw.orders o ON l.l_orderkey = o.o_orderkey
       |WHERE l.l_shipdate BETWEEN @start_dt AND @end_dt AND l.l_quantity < $cap
       |GROUP BY l.l_shipdate, o.o_orderstatus
       |""".stripMargin

  def writeProject(dir: Path): Unit = {
    Files.createDirectories(dir)
    def w(name: String, body: String) = Files.writeString(dir.resolve(name), body)
    w("config.yaml", s"table_format: $format\n")
    w("stg_orders.sql",
      """MODEL (
        |  name shop.stg_orders,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate, batch_size 31),
        |  cron '@daily',
        |  start '1995-01-01',
        |  audits (not_null(columns = (o_orderkey)))
        |);
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_totalprice AS DECIMAL(18, 2)) AS o_totalprice, o_orderdate
        |FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt
        |""".stripMargin)
    w("stg_lineitem.sql",
      """MODEL (
        |  name shop.stg_lineitem,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column l_shipdate, batch_size 31),
        |  cron '@daily',
        |  start '1995-01-01',
        |  audits (not_null(columns = (l_orderkey)))
        |);
        |SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DECIMAL(18, 2)) AS l_quantity,
        |  CAST(l_extendedprice AS DECIMAL(18, 2)) AS l_extendedprice, l_shipdate
        |FROM raw.lineitem
        |WHERE l_shipdate BETWEEN @start_dt AND @end_dt
        |""".stripMargin)
    w("daily_mart.sql", martSql(quantityCap))
    w("customer_last_order.sql",
      """MODEL (
        |  name shop.customer_last_order,
        |  kind INCREMENTAL_BY_UNIQUE_KEY (unique_key o_custkey),
        |  cron '@daily',
        |  start '1995-01-01'
        |);
        |SELECT o_custkey, max(o_orderdate) AS last_order_date
        |FROM shop.stg_orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt
        |GROUP BY o_custkey
        |""".stripMargin)
    w("status_summary.sql",
      """MODEL (name shop.status_summary, kind FULL, cron '@daily');
        |SELECT status, count(*) AS day_rows, sum(lines) AS lines, sum(revenue) AS revenue
        |FROM shop.daily_mart
        |GROUP BY status
        |""".stripMargin)
    w("customer_recency.sql",
      """MODEL (name shop.customer_recency, kind VIEW);
        |SELECT year(last_order_date) AS y, month(last_order_date) AS m, count(*) AS customers
        |FROM shop.customer_last_order
        |GROUP BY year(last_order_date), month(last_order_date)
        |""".stripMargin)
  }

  /** Each model computed directly from the raw files over [start, end). */
  private def expected(end: Long): Seq[(String, String, Seq[String])] = {
    val d = run.opts.data
    val win = (c: String) => s"$c >= TIMESTAMP '${ts(start)}' AND $c < TIMESTAMP '${ts(end)}'"
    val mart =
      s"""SELECT l.l_shipdate AS ship_day, o.o_orderstatus AS status, count(*) AS lines,
         |  sum(CAST(l.l_quantity AS DECIMAL(18, 2))) AS qty,
         |  sum(CAST(l.l_extendedprice AS DECIMAL(18, 2))) AS revenue
         |FROM parquet.`$d/lineitem.parquet` l JOIN parquet.`$d/orders.parquet` o
         |  ON l.l_orderkey = o.o_orderkey
         |WHERE ${win("l.l_shipdate")} AND l.l_quantity < $quantityCap
         |GROUP BY l.l_shipdate, o.o_orderstatus""".stripMargin
    val last =
      s"""SELECT o_custkey, max(o_orderdate) AS last_order_date
         |FROM parquet.`$d/orders.parquet` WHERE ${win("o_orderdate")} GROUP BY o_custkey""".stripMargin
    Seq(
      ("shop.stg_orders",
        s"""SELECT o_orderkey, o_custkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18, 2)) AS o_totalprice, o_orderdate
           |FROM parquet.`$d/orders.parquet` WHERE ${win("o_orderdate")}""".stripMargin,
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")),
      ("shop.stg_lineitem",
        s"""SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DECIMAL(18, 2)) AS l_quantity,
           |  CAST(l_extendedprice AS DECIMAL(18, 2)) AS l_extendedprice, l_shipdate
           |FROM parquet.`$d/lineitem.parquet` WHERE ${win("l_shipdate")}""".stripMargin,
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")),
      ("shop.daily_mart", mart, Seq("ship_day", "status", "lines", "qty", "revenue")),
      ("shop.customer_last_order", last, Seq("o_custkey", "last_order_date")),
      ("shop.status_summary",
        s"SELECT status, count(*) AS day_rows, sum(lines) AS lines, sum(revenue) AS revenue " +
          s"FROM ($mart) GROUP BY status",
        Seq("status", "day_rows", "lines", "revenue")),
      ("shop.customer_recency",
        s"SELECT year(last_order_date) AS y, month(last_order_date) AS m, count(*) AS customers " +
          s"FROM ($last) GROUP BY year(last_order_date), month(last_order_date)",
        Seq("y", "m", "customers")))
  }

  def measure(dir: Path): Unit = {
    val project = dir.resolve("project"); val ws = dir.resolve("ws")
    writeProject(project)
    var end = start + historyDays * D
    // The tables are cumulative, so checking their data at the last tick
    // checks the bootstrap's and every tick's window; the promotion only
    // repoints views at tables already checked in dev.
    run.op("bootstrap", "bootstrap_s")(
      planApply(ws, project, "prod", start, end, end + hour)) { case (ctx, p) =>
      checkIntervals(ctx, "prod", start, end) ++ checkViews(ctx, p)
    }
    // cron ticks, at least Main.workCycles and then until --seconds is spent
    val t0 = System.nanoTime()
    var ticks = 0
    var last = false
    while (!last && ticks < 30) {
      ticks += 1
      end += D
      val e = end
      run.op(s"run day $ticks", "run_s") {
        val ctx = runEnv(ws, project, "prod", start, e, e + hour)
        last = ticks >= Main.workCycles && (System.nanoTime() - t0) / 1e9 >= run.opts.seconds
        ctx
      } { ctx =>
        checkIntervals(ctx, "prod", start, e) ++
          (if (last) checkTables(ctx, "prod", expected(e)) else Nil)
      }
    }
    // one breaking edit of the mart, built in dev, then promoted
    quantityCap = 20 + run.rng.nextInt(31)
    Files.writeString(project.resolve("daily_mart.sql"), martSql(quantityCap))
    run.op("edit → dev", "dev_apply_s")(
      planApply(ws, project, "dev", start, end, end + hour)) { case (ctx, p) =>
      checkTables(ctx, "dev", expected(end)) ++ checkIntervals(ctx, "dev", start, end) ++
        checkViews(ctx, p)
    }
    run.op("edit → prod", "promote_s")(
      planApply(ws, project, "prod", start, end, end + hour)) { case (ctx, p) =>
      checkIntervals(ctx, "prod", start, end) ++ checkViews(ctx, p)
    }
    run.fixedWork(Seq("bootstrap_s", "dev_apply_s", "promote_s"), "run_s")
    disk(ws)
  }
}
