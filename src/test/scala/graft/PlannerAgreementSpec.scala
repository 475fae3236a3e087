package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** `plan --explain`, `check-intervals` and `export-schedule` report the
  * batches the scheduler then runs. For each plan shape the spec explains
  * and applies the same plan at one fixed execution time, and compares the
  * narrated interval count, batch count and range per model with the
  * scheduler's own `lastRunReport`. */
class PlannerAgreementSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val D = 86400000L

  /** `raw.orders`: one row per day of January 1995 — enough for interval
    * accounting, which is all this spec compares. */
  private def newCtx() = {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws-agree"), concurrency = 2)
    ctx.addExternal("raw.orders", "(SELECT explode(sequence(TIMESTAMP '1995-01-01', " +
      "TIMESTAMP '1995-01-31', INTERVAL 1 DAY)) AS o_orderdate)")
    ctx
  }

  private def day(s: String): Long = java.time.LocalDate.parse(s).toEpochDay * D

  private def daily(name: String, kind: ModelKind, mult: Int = 1): Model =
    Model(name, SqlBody(
      s"""SELECT o_orderdate, count(*) * $mult AS n FROM raw.orders
         |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = kind, cron = "@daily", start = Some(day("1995-01-01")))

  private def incr(batchSize: Option[Int] = None, forwardOnly: Boolean = false) =
    ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", batchSize = batchSize,
      forwardOnly = forwardOnly)

  /** (unit intervals, batches, range) per model */
  private type Work = (Int, Int, Interval)

  private val Pending = """│\s+(\S+): (\d+) interval\(s\) in (\d+) batch\(es\)\s+\[(\S+) … (\S+)\).*""".r
  private val UpToDate = """│\s+(\S+): up to date.*""".r

  /** The explain's backfill stage: model → its narrated work, None when up to date. */
  private def narrated(explain: String): Map[String, Option[Work]] = {
    val stage = explain.linesIterator
      .dropWhile(l => !l.startsWith("├─ backfill")).drop(1)
      .takeWhile(_.startsWith("│")).toSeq
    stage.map {
      case Pending(m, n, b, s, e) => m -> Some((n.toInt, b.toInt,
        Interval(java.time.Instant.parse(s).toEpochMilli, java.time.Instant.parse(e).toEpochMilli)))
      case UpToDate(m) => m -> None
      case other => fail(s"unparsed backfill line: $other")
    }.toMap
  }

  /** What the scheduler's last run actually processed, per model. */
  private def ran(ctx: GraftContext): Map[String, Work] =
    ctx.lastRunReport.groupBy(_._1).map { case (m, rs) =>
      val ivs = rs.map(_._2)
      val unit = ctx.model(m).intervalUnit
      m -> ((ivs.map(IntervalAlgebra.expand(_, unit).size).sum, ivs.size,
        Interval(ivs.map(_.start).min, ivs.map(_.end).max)))
    }

  /** Explain then apply `p` at `ts`; the narration must match the run. */
  private def explainAndApply(ctx: GraftContext, p: Plan, ts: Long): Map[String, Option[Work]] = {
    val told = narrated(ctx.explain(p, ts))
    ctx.apply(p, ts)
    assert(told.collect { case (m, Some(w)) => m -> w } == ran(ctx),
      s"explain narrated $told")
    told
  }

  test("plain plan: explain's cron-capped batches are the scheduler's") {
    val ctx = newCtx()
    ctx.addModel(daily("agr.plain", incr(batchSize = Some(3))))
    ctx.addModel(Model("agr.plain_sum", SqlBody("SELECT sum(n) AS n FROM agr.plain"),
      kind = ModelKind.Full))
    // executed mid-day on 01-10: the daily model is ready through 01-10 only
    val told = explainAndApply(ctx, ctx.plan("prod", day("1995-01-01"), day("1995-01-12")),
      day("1995-01-10") + D / 2)
    assert(told("agr.plain") ==
      Some((9, 3, Interval(day("1995-01-01"), day("1995-01-10")))))
    assert(told("agr.plain_sum") ==
      Some((11, 1, Interval(day("1995-01-01"), day("1995-01-12")))))
  }

  test("restatement: explain re-runs the cleared intervals the scheduler re-runs") {
    val ctx = newCtx()
    ctx.addModel(daily("agr.rst", incr(batchSize = Some(7))))
    ctx.addModel(Model("agr.rst_sum", SqlBody("SELECT sum(n) AS n FROM agr.rst"),
      kind = ModelKind.Full))
    val ts = day("1995-01-10")
    ctx.apply(ctx.plan("prod", day("1995-01-01"), ts), ts)
    val told = explainAndApply(ctx, ctx.plan("prod", day("1995-01-01"), ts,
      restate = Map("agr.rst" -> Interval(day("1995-01-03"), day("1995-01-05")))), ts)
    assert(told("agr.rst") == Some((2, 1, Interval(day("1995-01-03"), day("1995-01-05")))))
    assert(told("agr.rst_sum") == Some((2, 1, Interval(day("1995-01-03"), day("1995-01-05")))))
  }

  test("effective_from: explain re-runs the intervals apply drops") {
    val ctx = newCtx()
    ctx.addModel(daily("agr.effrom", incr(forwardOnly = true)))
    val (s, e) = (day("1995-01-01"), day("1995-01-09"))
    ctx.apply(ctx.plan("prod", s, e), e)
    ctx.addModel(daily("agr.effrom", incr(forwardOnly = true), mult = 10))
    val told = explainAndApply(ctx, ctx.plan("prod", s, e, forwardOnly = true,
      effectiveFrom = Some(day("1995-01-05"))), e)
    assert(told("agr.effrom") == Some((4, 1, Interval(day("1995-01-05"), e))))
  }

  test("--exclude-unmodified dev plan: explain backfills and repoints only what apply does") {
    val ctx = newCtx()
    def base(expr: String) = Model("agr.iu_base", SqlBody(
      s"SELECT count(*)$expr AS n FROM raw.orders"), kind = ModelKind.Full)
    ctx.addModel(base(""))
    ctx.addModel(Model("agr.iu_stable", SqlBody("SELECT 42 AS v"), kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", 0, D), D)
    ctx.addModel(base(" + 1"))
    val p = ctx.plan("dev", 0, D, includeUnmodified = false)
    val text = ctx.explain(p, D)
    assert(!text.contains("agr.iu_stable:"), text)
    assert(!text.contains("agr__dev.iu_stable"), text)
    assert(text.contains("agr__dev.iu_base"), text)
    val told = explainAndApply(ctx, p, D)
    assert(told.keySet == Set("agr.iu_base"))
    assert(told("agr.iu_base") == Some((1, 1, Interval(0, D))))
  }

  test("MANAGED inside its target_lag: explain and check-intervals report no work, like run") {
    val ctx = newCtx()
    ctx.addModel(daily("agr.managed", ModelKind.Managed(targetLag = "2 days")))
    val s = day("1995-01-01")
    ctx.apply(ctx.plan("prod", s, day("1995-01-05")), day("1995-01-05"))
    // one day later the data lags by 1 day < 2 days: the refresh is a no-op
    assert(ctx.checkIntervals("prod", s, day("1995-01-06"))("agr.managed").isEmpty)
    assert(ctx.exportSchedule("prod", s, day("1995-01-06"))
      .find(_.name == "agr.managed").get.batches.isEmpty)
    val told = explainAndApply(ctx, ctx.plan("prod", s, day("1995-01-06")), day("1995-01-06"))
    assert(told("agr.managed").isEmpty)
    // past the lag the refresh runs, and explain says so
    val told2 = explainAndApply(ctx, ctx.plan("prod", s, day("1995-01-08")), day("1995-01-08"))
    assert(told2("agr.managed") == Some((3, 1, Interval(day("1995-01-05"), day("1995-01-08")))))
  }

  test("fired auto-restatement: explain narrates the window the scheduler drops") {
    val ctx = newCtx()
    ctx.addModel(daily("agr.auto", ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate",
      autoRestatementCron = Some("@daily"), autoRestatementIntervals = Some(2))))
    val s = day("1995-01-01")
    ctx.apply(ctx.plan("prod", s, day("1995-01-10")), day("1995-01-10"))
    // next day the restatement cron has fired: the last 2 days re-run
    val text = ctx.explain(ctx.plan("prod", s, day("1995-01-10")), day("1995-01-11"))
    assert(text.contains("auto-restatement re-runs [1995-01-08T00:00:00Z … 1995-01-10T00:00:00Z)"),
      text)
    val told = explainAndApply(ctx, ctx.plan("prod", s, day("1995-01-11")), day("1995-01-11"))
    assert(told("agr.auto") == Some((3, 1, Interval(day("1995-01-08"), day("1995-01-11")))))
  }

  test("min_intervals: explain pulls the start back exactly as far as the scheduler") {
    val ctx = newCtx()
    ctx.addModel(daily("agr.mini", incr()))
    val told = explainAndApply(ctx,
      ctx.plan("prod", day("1995-01-08"), day("1995-01-10"), minIntervals = 5),
      day("1995-01-10"))
    assert(told("agr.mini") == Some((5, 1, Interval(day("1995-01-05"), day("1995-01-10")))))
  }

  test("export-schedule batches are the batches the following run records") {
    val ctx = newCtx()
    ctx.addModel(daily("agr.exp", incr(batchSize = Some(3))))
    ctx.addModel(Model("agr.exp_sum", SqlBody("SELECT sum(n) AS n FROM agr.exp"),
      kind = ModelKind.Full))
    val s = day("1995-01-01")
    ctx.apply(ctx.plan("prod", s, day("1995-01-05")), day("1995-01-05"))
    val exported = ctx.exportSchedule("prod", s, day("1995-01-12"))
      .map(m => m.name -> m.batches.toSet).toMap
    ctx.run("prod", s, day("1995-01-12"))
    val recorded = ctx.lastRunReport.groupBy(_._1).map { case (m, rs) => m -> rs.map(_._2).toSet }
    assert(exported == recorded)
    assert(exported("agr.exp").size == 3)
  }

  test("a window ending after now: check-intervals and export-schedule leave out the unfinished interval") {
    val ctx = newCtx()
    val today = IntervalUnit.Day.floor(System.currentTimeMillis())
    ctx.addModel(daily("agr.now", incr()).copy(start = Some(today - 2 * D)))
    ctx.apply(ctx.plan("prod", today - 2 * D, today))
    // today's interval has not elapsed: no run processes it yet
    assert(ctx.checkIntervals("prod", today - 2 * D, today + D)("agr.now").isEmpty)
    assert(ctx.exportSchedule("prod", today - 2 * D, today + D).head.batches.isEmpty)
    // so after a complete run the check reports no gap either
    ctx.run("prod", today - 2 * D, today + D)
    assert(ctx.lastRunReport.isEmpty)
    assert(ctx.checkIntervals("prod", today - 2 * D, today + D)("agr.now").isEmpty)
  }
}
