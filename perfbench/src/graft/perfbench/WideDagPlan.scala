package graft.perfbench

import java.nio.file.{Files, Path}
import graft.{GraftContext, Plan}
import graft.core._
import graft.state.{EnvironmentRecord, FileStateStore}

/** `wide_dag_plan`: graft's control plane alone — loader, fingerprinting,
  * plan diff, durable state and the scheduler's interval bookkeeping — on
  * a generated project of [[Models]] trivial models, with almost no Spark
  * jobs. Set-up loads the project; the cold phase plans it, seeds the
  * state store with that plan, records a [[WaveDays]]-day scheduler wave
  * and reloads the state cold. Each repeated op is one deploy cycle: a
  * no-op re-plan, a one-model edit, its re-plan, the edit reverted, and a
  * one-day `recordOnly` wave. [[WarmupCycles]] untimed cycles run first:
  * the cold plan alone leaves the plan path half-compiled by the JIT, and
  * cycle times settle only after two more.
  *
  * No cycle applies its plan. `GraftContext.apply` pushes every snapshot
  * of a plan, each push a full rewrite of the state image, so one apply
  * costs time quadratic in the model count: about a minute at 1.5k models,
  * far past a run's budget at this size. */
object WideDagPlan extends Workload {
  final class State(val ctx: GraftContext)
  val name = "wide_dag_plan"
  val Models = 5000
  val Layers = 5
  /** share of incremental models, in percent */
  val IncrementalPct = 25
  val WaveDays = 20
  val MinCycles = 2
  val WarmupCycles = 2

  private val D = 86400000L
  private val day0 = java.time.LocalDate.parse("2024-01-01").toEpochDay * D

  private var dir: Path = _
  /** model index → parent indices, and parent → child indices */
  private var parents: Array[Array[Int]] = _
  private var children: Map[Int, Seq[Int]] = _
  private var incremental: Array[Boolean] = _

  def model(i: Int): String = s"w.m$i"

  def body(i: Int, k: Int): String = {
    val from = parents(i) match {
      case Array() => "(SELECT 1 AS id, DATE '2024-01-01' AS d)"
      case ps => model(ps.head) + " p0" + ps.tail.zipWithIndex.map { case (p, j) =>
        s" JOIN ${model(p)} p${j + 1} ON p0.id = p${j + 1}.id" }.mkString
    }
    val where = if (incremental(i)) " WHERE p0.d BETWEEN @start_ds AND @end_ds" else ""
    s"SELECT p0.id, p0.d, $k AS v FROM $from$where"
  }

  def header(i: Int): String =
    if (incremental(i))
      s"MODEL (name ${model(i)}, kind INCREMENTAL_BY_TIME_RANGE (time_column d, batch_size 1), " +
        "start '2024-01-01', cron '@daily');"
    else s"MODEL (name ${model(i)}, kind FULL, cron '@daily');"

  def prepare(run: Run): Unit = {
    val rnd = new scala.util.Random(run.seed)
    val perLayer = Models / Layers
    parents = Array.tabulate(Models) { i =>
      val layer = i / perLayer
      if (layer == 0) Array.empty[Int]
      else Array.fill(1 + rnd.nextInt(3))(rnd.nextInt(layer * perLayer)).distinct.sorted
    }
    children = parents.toSeq.zipWithIndex.flatMap { case (ps, c) => ps.map(_ -> c) }
      .groupMap(_._1)(_._2)
    incremental = Array.fill(Models)(rnd.nextInt(100) < IncrementalPct)
    dir = Files.createDirectories(run.root.resolve("project/models"))
    (0 until Models).foreach { i =>
      Files.write(dir.resolve(s"m$i.sql"), s"${header(i)}\n${body(i, 0)}\n".getBytes("UTF-8"))
    }
  }

  def setup(run: Run, rep: Int): State = {
    val ctx = new GraftContext(run.spark, run.newDir(s"setup$rep").toString,
      concurrency = run.concurrency, durableState = true)
    loads.add(Stats.time(run.op("load")(run.tracer.span("loader.load")(
      ctx.loadModels(dir.toString))))._2)
    // warm-up: fingerprint one model
    ctx.snapshotsOf(Seq(model(0)))
    new State(ctx)
  }

  private val loads = new Samples("project_load_s")

  /** the edited model plus everything downstream of it */
  def cone(i: Int): Set[String] = {
    var acc = Set(i); var frontier = Set(i)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(children.getOrElse(_, Nil)) -- acc
      acc ++= frontier
    }
    acc.map(model)
  }

  /** Seed the state store with a plan's snapshots and make them prod, in
    * one durable write. */
  private def seed(ctx: GraftContext, p: Plan): Unit = ctx.state.deferPersist {
    p.snapshots.foreach(ctx.state.pushSnapshot)
    ctx.state.promoteEnvironment(EnvironmentRecord("prod",
      p.envSnapshots.map(s => s.model.name -> s.version).toMap, finalized = true,
      identifiers = p.envSnapshots.map(s => s.model.name -> s.fingerprint.full).toMap))
  }

  private def envSnapshots(ctx: GraftContext): Seq[Snapshot] = {
    val rec = ctx.state.getEnvironment("prod").get
    rec.snapshots.toSeq.flatMap { case (n, v) =>
      rec.identifiers.get(n).flatMap(ctx.state.getSnapshotById(n, _)).orElse(ctx.state.getSnapshot(n, v))
    }
  }

  private def wave(ctx: GraftContext, run: Run, from: Long, to: Long): Int = {
    val snaps = envSnapshots(ctx)
    new graft.plans.Scheduler(ctx.evaluator, ctx.state, run.concurrency)
      .run(snaps, from, to, executionTs = to, tableMapping = _ => Map.empty, recordOnly = true)
    snaps.size
  }

  def measure(run: Run, st: State): Unit = {
    val ctx = st.ctx
    val stateDir = java.nio.file.Paths.get(ctx.workspace, "state")
    val rnd = new scala.util.Random(run.seed * 31 + 7)

    val (cold, planS) = Stats.time(run.op("plan")(
      ctx.plan("prod", day0, day0 + D, skipBackfill = true)))
    run.check("cold plan adds every model")(cold.exists(_.added.size == Models))
    val (_, seedS) = Stats.time(cold.foreach(p => run.op("seed")(seed(ctx, p))))
    val (n, waveS) = Stats.time(run.op("wave")(wave(ctx, run, day0, day0 + WaveDays * D)))
    val waveIntervals = n.getOrElse(0).toDouble * WaveDays
    val (reloaded, reloadS) = Stats.time(run.op("reload")(new FileStateStore(stateDir.toString)))
    run.check("reloaded state equals the state written")(reloaded.exists { r =>
      r.getEnvironment("prod") == ctx.state.getEnvironment("prod") &&
        envSnapshots(ctx).forall(s => r.getSnapshot(s.model.name, s.version).map(_.intervals) ==
          Some(s.intervals))
    })

    val layer = new LayerProbe(run, ctx, stateDir)
    val noop = new Samples("noop_plan_s")
    val edit = new Samples("edit_plan_s")
    val cycles = new Samples("cycle_s")
    var day = day0 + WaveDays * D
    var k = 0
    def cycle(): Unit = {
      k += 1
      val target = Models / Layers + rnd.nextInt(Models - Models / Layers)
      val (p0, s0) = Stats.time(run.op("noop plan")(run.tracer.span("context.plan")(
        ctx.plan("prod", day0, day + D, skipBackfill = true))))
      noop.add(s0)
      run.check("no-op re-plan changes nothing")(p0.exists(p =>
        p.added.isEmpty && p.modified.isEmpty && p.metadataOnly.isEmpty))
      val m = ctx.model(model(target))
      ctx.addModel(m.copy(body = SqlBody(body(target, k))))
      val (p1, s1) = Stats.time(run.op("edit plan")(run.tracer.span("context.plan")(
        ctx.plan("prod", day0, day + D, skipBackfill = true))))
      edit.add(s1)
      run.check("edit re-plan modifies exactly the downstream cone")(p1.exists(p =>
        p.added.isEmpty && p.modified.map(_._2.model.name).toSet == cone(target)))
      ctx.addModel(m)
      run.op("wave")(run.tracer.span("context.run")(wave(ctx, run, day0, day + D)))
      day += D
    }
    (1 to WarmupCycles).foreach(_ => cycle())
    Seq(noop, edit).foreach(_.xs.clear())
    run.startClock()
    while (run.failed == 0 && (cycles.xs.size < MinCycles || run.timeLeft))
      cycles.add(layer.op(layer.alternate(cycles.xs.size))(cycle())._2)

    run.layers("context.cold_s") = planS + waveS + reloadS
    run.e2e("op_s") = (cycles.median, "s")
    run.e2e("op_tail_s") = (Stats.tail(cycles.xs.toSeq)._1, "s")
    run.report += loads.describe("s") + s"  ($Models models, in set-up)"
    run.report += f"cold plan              ${planS}%.4f s  (n=1)"
    run.report += f"state seed             ${seedS}%.4f s  (n=1, one durable write, untimed)"
    run.report += f"wave_intervals_per_s   ${waveIntervals / waveS}%.1f 1/s  (${waveIntervals.toLong} intervals in ${waveS}%.3f s)"
    run.report += f"state_reload_s         ${reloadS}%.4f s  (n=1)"
    Seq(noop, edit, cycles).foreach(s => run.report += s.describe("s"))
    run.report += cycles.describeTail("cycle_s_tail", "s")
    layer.finish(functionsModel = None)
    layer.sideCalls(day0, day)
    if (run.traced) run.layers("loader.load_s") = loads.median
  }
}
