package graft.perfbench

import java.time.LocalDate
import graft.GraftContext
import graft.core.Interval

/** `daily_catchup`: production's every-tick path. A cold plan+apply over a
  * history window, then consecutive one-day `run` ticks, each waiting for
  * the previous one (a cron orchestrator's closed loop). */
object DailyCatchup extends Workload {
  val name = "daily_catchup"
  /** history window the bootstrap backfills, in days: one day partition of
    * `mart.daily_rev` each, which every tick's writes re-list */
  val HistoryDays = 30
  /** `mart.daily_rev`'s batch_size: the bootstrap backfills the history in
    * one batch, which keeps a run inside its time budget */
  val BatchSize = 30
  val MinTicks = 2
  /** the events' 30 days end this many days after the history does, so
    * every tick of a run reads events */
  val EventsPastHistory = 8

  private val D = 86400000L
  private def ms(d: LocalDate): Long = d.toEpochDay * D

  /** `loadS`: seconds the set-up spent registering the project (`loader`) */
  final class State(val ctx: GraftContext, val project: SixKindProject, val start: LocalDate,
                    val loadS: Double)

  private var project: SixKindProject = _
  private var start: LocalDate = _

  def prepare(run: Run): Unit = {
    val rnd = new scala.util.Random(run.seed)
    def day(table: String, expr: String): LocalDate = run.spark.read
      .parquet(run.data.resolve(s"$table.parquet").toString)
      .selectExpr(s"CAST($expr AS DATE)").head().getDate(0).toLocalDate
    val (first, last) = (day("orders", "min(o_orderdate)"), day("orders", "max(o_orderdate)"))
    // the window sits anywhere in the order history, with room for the ticks
    val span = (last.toEpochDay - first.toEpochDay).toInt - HistoryDays - 60
    start = first.plusDays(rnd.nextInt(span))
    val eventsEnd = start.plusDays(HistoryDays + EventsPastHistory)
    val shift = eventsEnd.toEpochDay - day("events", "max(ts)").toEpochDay
    project = new SixKindProject(run.root.resolve("project"), run.seed, start.toString,
      shift, BatchSize).write()
  }

  def setup(run: Run, rep: Int): State = {
    val ctx = new GraftContext(run.spark, run.newDir(s"setup$rep").toString,
      concurrency = run.concurrency, durableState = true)
    val loadS = Stats.time(project.register(ctx, run.data))._2
    // warm-up: render + execute one model's query for one day, without
    // materializing
    ctx.evaluate("mart.daily_rev", ms(start), ms(start.plusDays(1)))
      .write.format("noop").mode("overwrite").save()
    new State(ctx, project, start, loadS)
  }

  def measure(run: Run, st: State): Unit = {
    val ctx = st.ctx
    val s = ms(st.start)
    val histEnd = st.start.plusDays(HistoryDays)
    val layer = new LayerProbe(run, ctx, java.nio.file.Paths.get(ctx.workspace, "state"))

    val boot = Stats.time {
      val p = run.op("plan")(ctx.plan("prod", s, ms(histEnd)))
      p.foreach(p => run.op("apply")(ctx.apply(p, executionTs = ms(histEnd))))
    }._2
    val ticks = new Samples("tick_s")
    var day = histEnd
    var ok = true
    run.startClock()
    // at least MinTicks ticks, so the tick median never rests on one
    // sample; a failed tick ends the loop
    while (ok && (ticks.xs.size < MinTicks || run.timeLeft)) {
      val next = day.plusDays(1)
      val (done, secs) = layer.op(layer.alternate(ticks.xs.size)) {
        run.op("tick")(run.tracer.span("context.run")(
          ctx.run("prod", s, ms(next), executionTs = ms(next))))
      }
      ok = done.nonEmpty
      ticks.add(secs)
      day = next
    }
    val end = day

    // ---- output checks (untimed)
    val checks0 = System.nanoTime()
    val exp = st.project.expected(run.spark, run.data, st.start.toString, end.toString)
    // user_latest: one bootstrap batch over the history, then one per tick
    val batches = (st.start.toString, histEnd.toString) +:
      Iterator.iterate(histEnd)(_.plusDays(1)).takeWhile(_.isBefore(end))
        .map(d => (d.toString, d.plusDays(1).toString)).toSeq
    run.inParallel(exp.toSeq.map { case (model, df) => () =>
      run.check(s"table $model") {
        val got = run.spark.table(model)
        val cur = if (model == "mart.cust_scd")
          got.where("valid_to IS NULL").select("id", "updated_at", "n_orders") else got
        st.project.sameRows(cur, df)
      }
    } :+ (() => run.check("table mart.user_latest")(st.project.sameRows(
      run.spark.table("mart.user_latest"),
      st.project.expectedUserLatest(run.spark, run.data, batches)))))
    run.check("intervals") {
      st.project.intervals(ctx, "prod").values.forall(_ == Seq(Interval(s, ms(end))))
    }

    run.report += f"output checks          ${(System.nanoTime() - checks0) / 1e9}%.2f s (untimed)"
    run.layers("context.cold_s") = boot
    run.e2e("op_s") = (ticks.median, "s")
    run.e2e("op_tail_s") = (Stats.tail(ticks.xs.toSeq)._1, "s")
    run.report += f"bootstrap_s            ${boot}%.4f s  ($HistoryDays days, n=1)"
    run.report += ticks.describe("s") +
      s"  (day partitions in mart.daily_rev: $HistoryDays before the first tick, " +
      s"${HistoryDays + ticks.xs.size - 1} before the last)"
    run.report += ticks.describeTail("tick_s_tail", "s")
    layer.finish(functionsModel = Some("mart.doc_quality"))
    layer.sideCalls(s, ms(end))
    if (run.traced) {
      run.layers("loader.load_s") = st.loadS
      // the apply's VirtualLayerUpdate stage again: graft's own promote of
      // every prod model onto the snapshot it already serves
      val rec = ctx.state.getEnvironment("prod").get
      val snaps = rec.identifiers.toSeq.flatMap { case (n, id) => ctx.state.getSnapshotById(n, id) }
      run.layers("virtual.promote_s") = Stats.time(snaps.filter(_.model.kind.isMaterialized)
        .foreach(sn => ctx.evaluator.promote(sn, "prod", suffixTarget = rec.suffixTarget,
          executionTs = ms(end), catalog = rec.catalog)))._2
    }
    QueryEntries.run(run)
  }
}
