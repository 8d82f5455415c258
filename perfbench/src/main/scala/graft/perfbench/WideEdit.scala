package graft.perfbench

import java.nio.file.{Files, Path}

/** `wide_edit`: cheap, macro-using FULL and VIEW models in four layers
  * over almost no data, so a command's time goes to loading,
  * rendering, fingerprinting, planning, state and virtual-layer DDL. Each
  * iteration rewrites one seed-chosen root, plans and applies it to `dev`,
  * then to `prod`. */
final class WideEdit(run: Run) extends FrameworkWorkload(run) {
  /** models per layer; layer 0 holds the roots */
  private val sizes = Vector(4, 8, 10, 10)
  private val rows = 32
  private val start = day("1995-01-01")
  private val end = start + D

  def externals(data: String) = Nil

  /** The fixed DAG: name -> (parent, kind); roots have no parent. */
  private val dag: Vector[(String, Option[String], String)] =
    sizes.indices.toVector.flatMap { k =>
      (0 until sizes(k)).map { j =>
        val parent = if (k == 0) None else Some(s"wide.l${k - 1}_m${(j * 7 + k) % sizes(k - 1)}")
        (s"wide.l${k}_m$j", parent, if (k == 0 || j % 3 == 0) "FULL" else "VIEW")
      }
    }
  private val shape = new scala.util.Random(7L)
  /** per-model constants, fixed; the roots' change as they are edited */
  private val coeff = scala.collection.mutable.Map[String, (Int, Int)]() ++
    dag.map { case (n, _, _) => n -> (shape.nextInt(9) + 1, shape.nextInt(1000)) }

  private def file(name: String) = name.replace('.', '_') + ".sql"

  private def body(name: String): String = {
    val (_, parent, kind) = dag.find(_._1 == name).get
    val (a, b) = coeff(name)
    val query = parent match {
      case None => s"SELECT id, id * $a + $b AS v FROM range(0, $rows)"
      case Some(p) => s"SELECT id, @SAFE_DIV(v, 2) + $b AS v FROM $p"
    }
    s"MODEL (name $name, kind $kind, cron '@daily', start '1995-01-01');\n$query\n"
  }

  /** The value of `v` as an expression of `id`, composed the way the
    * rendered models compute it (@SAFE_DIV(x, y) renders `(x) / NULLIF((y), 0)`). */
  private def expr(name: String): String = {
    val (_, parent, _) = dag.find(_._1 == name).get
    val (a, b) = coeff(name)
    parent match {
      case None => s"id * $a + $b"
      case Some(p) => s"((${expr(p)})) / NULLIF((2), 0) + $b"
    }
  }

  def writeProject(dir: Path): Unit = {
    Files.createDirectories(dir)
    dag.foreach { case (n, _, _) => Files.writeString(dir.resolve(file(n)), body(n)) }
  }

  /** Models downstream of `root`, itself included. */
  private def cone(root: String): Seq[String] = {
    val below = dag.collect { case (n, Some(p), _) if p == root => n }
    root +: below.flatMap(cone)
  }

  /** The views of `names` in `env` against their composed expressions. */
  private def check(ctx: graft.GraftContext, env: String,
                    names: Seq[String] = dag.map(_._1)): Seq[String] =
    checkTables(ctx, env, names.map(n =>
      (n, s"SELECT id, ${expr(n)} AS v FROM range(0, $rows)", Seq("id", "v"))))

  def measure(dir: Path): Unit = {
    val project = dir.resolve("project"); val ws = dir.resolve("ws")
    writeProject(project)
    run.op("bootstrap", "bootstrap_s")(planApply(ws, project, "prod", start, end, end)) {
      case (ctx, p) => check(ctx, "prod") ++ checkViews(ctx, p)
    }
    // edits, at least Main.workCycles and then until --seconds is spent;
    // each checks the edited cone, the last one every model
    val t0 = System.nanoTime()
    var it = 0
    var last = false
    while (!last && it < 30) {
      it += 1
      val root = s"wide.l0_m${run.rng.nextInt(sizes(0))}"
      // a fresh body: a new multiplier and an offset no earlier body used
      coeff(root) = (run.rng.nextInt(9) + 1, 1000 + it)
      Files.writeString(project.resolve(file(root)), body(root))
      run.tracer.span("step", s"edit $it") {
        run.op(s"edit $it → dev", "dev_apply_s")(planApply(ws, project, "dev", start, end, end)) {
          case (ctx, p) => check(ctx, "dev", cone(root)) ++ checkViews(ctx, p)
        }
        run.op(s"edit $it → prod", "promote_s") {
          val r = planApply(ws, project, "prod", start, end, end)
          last = it >= Main.workCycles && (System.nanoTime() - t0) / 1e9 >= run.opts.seconds
          r
        } { case (ctx, p) =>
          check(ctx, "prod", if (last) dag.map(_._1) else cone(root)) ++ checkViews(ctx, p)
        }
      }
      run.cycle("edit_s", Seq("dev_apply_s", "promote_s"))
    }
    run.fixedWork(Seq("bootstrap_s"), "edit_s")
    disk(ws)
  }
}
