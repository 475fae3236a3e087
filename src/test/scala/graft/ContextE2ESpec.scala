package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._

/** End-to-end: load → snapshot → plan → backfill (batched intervals) →
  * promote → query env views — SURVEY §7 step 3's minimum slice, over the
  * driver testdata. */
class ContextE2ESpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val D = 86400000L

  private def newCtx() = {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws"), concurrency = 2)
    ctx.addExternal("raw.orders", s"$sf/orders.parquet")
    ctx.addExternal("raw.lineitem", s"$sf/lineitem.parquet")
    ctx
  }

  private def dayMs(s: String): Long =
    java.time.LocalDate.parse(s).toEpochDay * D

  test("incremental-by-time model backfills in batches and matches one-shot query") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.daily_revenue",
      body = SqlBody(
        """SELECT o_orderdate, round(sum(o_totalprice), 2) AS revenue, count(*) AS n
          |FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", batchSize = Some(3)),
      cron = "@daily",
      start = Some(dayMs("1995-01-01")),
      audits = Seq("not_null" -> Map("columns" -> "o_orderdate"))))

    val p = ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-15"))
    assert(p.added.size == 1 && !p.hasChanges == false)
    ctx.apply(p)

    val got = spark.table("mart.daily_revenue")
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-01-15").cast("timestamp"))
      .groupBy("o_orderdate")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n"))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // intervals were recorded and merged
    val snap = ctx.state.latestSnapshot("mart.daily_revenue").get
    assert(snap.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-15"))))

    // `run` extends the range; only new intervals processed
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-20"))
    val snap2 = ctx.state.latestSnapshot("mart.daily_revenue").get
    assert(snap2.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-20"))))
    assert(spark.table("mart.daily_revenue").count() > got.count())
  }

  test("full + view models over the incremental one; dev env isolated; janitor cleans") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.daily_revenue",
      body = SqlBody(
        """SELECT o_orderdate, sum(o_totalprice) AS revenue
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    ctx.addModel(Model(
      name = "mart.rev_stats",
      body = SqlBody("SELECT count(*) AS days, sum(revenue) AS total FROM mart.daily_revenue"),
      kind = ModelKind.Full))
    ctx.addModel(Model(
      name = "mart.rev_view",
      body = SqlBody("SELECT days, total FROM mart.rev_stats"),
      kind = ModelKind.View))

    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")))
    val total = spark.table("mart.rev_view").select("total").head().getDouble(0)
    assert(total > 0)

    // modify the FULL model → new snapshot version in dev env only
    ctx.addModel(ctx.model("mart.rev_stats").copy(
      body = SqlBody("SELECT count(*) AS days, sum(revenue) * 2 AS total FROM mart.daily_revenue")))
    val devPlan = ctx.plan("dev", dayMs("1995-01-01"), dayMs("1995-01-10"))
    // direct change + indirect downstream re-version (categorizer.py semantics)
    val cats = devPlan.modified.map(p => p._2.model.name -> p._2.category.get).toMap
    assert(cats == Map(
      "mart.rev_stats" -> ChangeCategory.Breaking,
      "mart.rev_view" -> ChangeCategory.IndirectBreaking))
    ctx.apply(devPlan)
    val devTotal = spark.table("mart__dev.rev_stats").select("total").head().getDouble(0)
    assert(math.abs(devTotal - 2 * total) < 1e-6)
    // prod untouched
    assert(spark.table("mart.rev_stats").select("total").head().getDouble(0) == total)

    // janitor drops nothing while both envs reference their versions
    val before = ctx.state.allSnapshots.size
    ctx.janitor()
    assert(ctx.state.allSnapshots.size == before)
  }

  test("restatement reprocesses a past interval") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.rst",
      body = SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    val n1 = spark.table("mart.rst").count()
    // restate two days — intervals removed then re-backfilled
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05"),
      restate = Map("mart.rst" -> Interval(dayMs("1995-01-02"), dayMs("1995-01-04")))))
    assert(spark.table("mart.rst").count() == n1)
  }

  test("restatement cascades to downstream dependents") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.rc_base",
      body = SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    ctx.addModel(Model(
      name = "mart.rc_child",
      body = SqlBody(
        """SELECT o_orderdate, n FROM mart.rc_base
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    val p = ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05"),
      restate = Map("mart.rc_base" -> Interval(dayMs("1995-01-02"), dayMs("1995-01-04"))))
    // the console summary names the restatements
    assert(p.describe.contains("restate") && p.describe.contains("mart.rc_child"))
    // the child inherits the restated interval
    assert(p.restatements.keySet == Set("mart.rc_base", "mart.rc_child"))
    assert(p.restatements("mart.rc_child") ==
      Interval(dayMs("1995-01-02"), dayMs("1995-01-04")))
    ctx.apply(p)
    assert(spark.table("mart.rc_child").count() == spark.table("mart.rc_base").count())
  }

  test("unique-key model merges across runs") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.cust_latest",
      body = SqlBody(
        """SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS n
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY o_custkey""".stripMargin),
      kind = ModelKind.IncrementalByUniqueKey(uniqueKey = Seq("o_custkey")),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
    val afterFirst = spark.table("mart.cust_latest").count()
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-03-01"))
    val afterSecond = spark.table("mart.cust_latest").count()
    assert(afterSecond >= afterFirst)
    // uniqueness invariant
    val dupes = spark.table("mart.cust_latest")
      .groupBy("o_custkey").count().filter(col("count") > 1).count()
    assert(dupes == 0)
  }

  test("auto-restatement recomputes trailing intervals when its cron fires") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.auto_rst",
      body = SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate",
        autoRestatementCron = Some("@daily"), autoRestatementIntervals = Some(2)),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")),
      executionTs = dayMs("1995-01-10"))
    val snap = ctx.state.latestSnapshot("mart.auto_rst").get
    assert(snap.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-10"))))
    assert(ctx.state.lastAutoRestatement("mart.auto_rst").contains(dayMs("1995-01-10")))
    // next day's run: the @daily restatement cron has fired again → the last
    // 2 day-intervals are dropped and recomputed along with the new day
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-11"),
      executionTs = dayMs("1995-01-11"))
    val snap2 = ctx.state.latestSnapshot("mart.auto_rst").get
    assert(snap2.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-11"))))
    assert(ctx.state.lastAutoRestatement("mart.auto_rst").contains(dayMs("1995-01-11")))
    // data stays correct after the restate+recompute
    val got = spark.table("mart.auto_rst").count()
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-01-11").cast("timestamp"))
      .select("o_orderdate").distinct().count()
    assert(got == expected)
  }

  test("unique-key auto-restatement drops all intervals and re-merges history") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.uk_auto_rst",
      body = SqlBody(
        """SELECT o_custkey, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_custkey""".stripMargin),
      kind = ModelKind.IncrementalByUniqueKey(uniqueKey = Seq("o_custkey"),
        autoRestatementCron = Some("@daily")),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")),
      executionTs = dayMs("1995-01-10"))
    val snap = ctx.state.latestSnapshot("mart.uk_auto_rst").get
    assert(snap.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-10"))))
    // next day: the restatement cron fired → ALL intervals drop, the whole
    // window re-merges (unique-key kinds have no partial restatement)
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-11"),
      executionTs = dayMs("1995-01-11"))
    val snap2 = ctx.state.latestSnapshot("mart.uk_auto_rst").get
    assert(snap2.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-11"))))
    // per-key counts match a one-shot query over the full window (the
    // restated merge must not double-count the re-processed days)
    val got = spark.table("mart.uk_auto_rst")
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-01-11").cast("timestamp"))
      .groupBy("o_custkey").count().withColumnRenamed("count", "n")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("failed audit rolls the physical table back (write-audit-publish)") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.wap",
      body = SqlBody("SELECT o_orderkey, o_totalprice FROM raw.orders"),
      kind = ModelKind.Full,
      audits = Seq("accepted_range" -> Map("column" -> "o_totalprice", "max_v" -> "0"))))
    // the apply fails its audit (way more than 1 row)…
    intercept[Exception](ctx.apply(ctx.plan("prod", 0, D)))
    val snap = ctx.state.latestSnapshot("mart.wap").get
    // …no interval was recorded and the staged write was rolled back
    assert(snap.intervals.isEmpty)
    val t = ctx.evaluator.physicalTable(snap)
    assert(ctx.materializer.currentDataDir(t).isEmpty)
  }

  test("additive projection change is NON_BREAKING; children keep their tables") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.base_nb",
      SqlBody("SELECT o_custkey, count(*) AS n FROM raw.orders GROUP BY o_custkey"),
      kind = ModelKind.Full))
    ctx.addModel(Model("mart.child_nb",
      SqlBody("SELECT count(*) AS n_rows FROM mart.base_nb"),
      kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", 0, D))
    val childSnap1 = ctx.state.latestSnapshot("mart.child_nb").get
    // add a projection to the parent — NON_BREAKING
    ctx.addModel(ctx.model("mart.base_nb").copy(body = SqlBody(
      "SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS spend FROM raw.orders GROUP BY o_custkey")))
    val p = ctx.plan("prod", 0, D)
    val cats = p.modified.map(x => x._2.model.name -> x._2.category.get).toMap
    assert(cats("mart.base_nb") == ChangeCategory.NonBreaking)
    assert(cats("mart.child_nb") == ChangeCategory.IndirectNonBreaking)
    // the child's physical version is pinned to its previous one
    val childNew = p.modified.find(_._2.model.name == "mart.child_nb").get._2
    assert(childNew.version == childSnap1.version)
    ctx.apply(p)
    assert(spark.table("mart.base_nb").columns.contains("spend"))
    assert(spark.table("mart.child_nb").head().getLong(0) > 0)

    // --no-auto-categorization (reference plan auto_categorization off):
    // the SAME additive edit takes the conservative BREAKING path
    ctx.addModel(ctx.model("mart.base_nb").copy(body = SqlBody(
      "SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS spend, " +
        "max(o_totalprice) AS top FROM raw.orders GROUP BY o_custkey")))
    val p2 = ctx.plan("prod", 0, D, autoCategorize = false)
    val cats2 = p2.modified.map(x => x._2.model.name -> x._2.category.get).toMap
    assert(cats2("mart.base_nb") == ChangeCategory.Breaking)
    assert(cats2("mart.child_nb") == ChangeCategory.IndirectBreaking)
  }

  test("signals gate interval readiness (core/signal.py)") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.gated",
      body = SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate",
        batchSize = Some(1)), // per-day batches so the signal gates each one
      start = Some(dayMs("1995-01-01"))))
    // only intervals fully before Jan 5 are "ready"
    ctx.addSignal("mart.gated", iv => iv.end <= dayMs("1995-01-05"))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")))
    val snap = ctx.state.latestSnapshot("mart.gated").get
    assert(snap.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-05"))))
    // signal opens up → the held-back intervals backfill on the next run
    ctx.addSignal("mart.gated", _ => true)
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-10"))
    assert(ctx.state.latestSnapshot("mart.gated").get.intervals ==
      Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-10"))))
  }

  test("freshness signal holds a model back until upstreams cover the batch") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.fresh_up",
      body = SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", batchSize = Some(1)),
      start = Some(dayMs("1995-01-01"))))
    ctx.addModel(Model(
      name = "mart.fresh_down",
      body = SqlBody(
        """SELECT o_orderdate, n FROM mart.fresh_up
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", batchSize = Some(1)),
      start = Some(dayMs("1995-01-01"))))
    // hold the upstream back for days >= Jan 3; freshness gates the downstream
    ctx.addSignal("mart.fresh_up", iv => iv.end <= dayMs("1995-01-03"))
    ctx.addFreshnessSignal("mart.fresh_down")
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-06")))
    assert(ctx.state.latestSnapshot("mart.fresh_down").get.intervals ==
      Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-03"))))
    // upstream catches up → downstream follows on the next run
    ctx.addSignal("mart.fresh_up", _ => true)
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-06"))
    assert(ctx.state.latestSnapshot("mart.fresh_down").get.intervals ==
      Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-06"))))
  }

  test("declared columns contract casts output and rejects drift") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.contract", SqlBody(
      "SELECT o_custkey, count(*) AS n FROM raw.orders GROUP BY o_custkey"),
      columns = Seq("o_custkey" -> "BIGINT", "n" -> "INT")))
    ctx.apply(ctx.plan("prod", 0, D))
    // declared INT wins over count(*)'s natural BIGINT
    assert(spark.table("mart.contract").schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // a body rename breaks the contract loudly
    val ctx2 = newCtx()
    ctx2.addModel(Model("mart.contract2", SqlBody(
      "SELECT o_custkey, count(*) AS renamed FROM raw.orders GROUP BY o_custkey"),
      columns = Seq("o_custkey" -> "BIGINT", "n" -> "INT")))
    assertThrows[Exception](ctx2.apply(ctx2.plan("prod", 0, D)))
  }

  test("on_destructive_change guards forward-only migrations") {
    def body(cols: String) = SqlBody(
      s"SELECT o_custkey$cols FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt")
    def mk(name: String, cols: String, guard: String) = Model(name, body(cols),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", forwardOnly = true),
      start = Some(dayMs("1995-01-01")), onDestructiveChange = guard)
    val ctx = newCtx()
    ctx.addModel(mk("mart.guard", ", o_totalprice, o_orderdate", "error"))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    // dropping o_totalprice is destructive → default errors
    ctx.addModel(mk("mart.guard", ", o_orderdate", "error"))
    assertThrows[IllegalStateException](
      ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05"))))
    // 'allow' permits it
    ctx.addModel(mk("mart.guard", ", o_orderdate", "allow"))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    assert(!spark.table("mart.guard").columns.contains("o_totalprice"))
  }

  test("on_additive_change guards forward-only column adds; --allow-additive-model lifts") {
    def body(cols: String) = SqlBody(
      s"SELECT o_custkey$cols FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt")
    def mk(cols: String, guard: String) = Model("mart.add_guard", body(cols),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", forwardOnly = true),
      start = Some(dayMs("1995-01-01")), onAdditiveChange = guard)
    val ctx = newCtx()
    ctx.addModel(mk(", o_orderdate", "error"))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    // adding o_totalprice is additive → 'error' guard aborts the migration
    ctx.addModel(mk(", o_orderdate, o_totalprice", "error"))
    assertThrows[IllegalStateException](
      ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05"))))
    // --allow-additive-model lifts the guard for this apply only
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05"),
      allowAdditiveModels = Seq("mart.add_guard")))
    assert(spark.table("mart.add_guard").columns.contains("o_totalprice"))

    // 'ignore' migrates WITHOUT the add: the new column never appears
    val ctx2 = newCtx()
    ctx2.addModel(Model("mart.add_ignore", body(", o_orderdate"),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", forwardOnly = true),
      start = Some(dayMs("1995-01-01")), onAdditiveChange = "ignore"))
    ctx2.apply(ctx2.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    ctx2.addModel(Model("mart.add_ignore", body(", o_orderdate, o_totalprice"),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", forwardOnly = true),
      start = Some(dayMs("1995-01-01")), onAdditiveChange = "ignore"))
    ctx2.apply(ctx2.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    assert(!spark.table("mart.add_ignore").columns.contains("o_totalprice"))
  }

  test("forward-only migration renders with custom macros and variables") {
    // r8 review finding: migrate()'s render omitted the macro registry, so
    // a schema change on any @MACRO-using forward-only model aborted
    val ctx = newCtx()
    ctx.addMacro("PRICECOL")(_ => "o_totalprice")
    def mk(extra: String) = Model("mart.macro_fwd", SqlBody(
      s"SELECT o_custkey$extra FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt"),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", forwardOnly = true),
      start = Some(dayMs("1995-01-01")))
    ctx.addModel(mk(", @PRICECOL() AS p, o_orderdate"))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    // additive change on the same macro-using body must migrate cleanly
    ctx.addModel(mk(", @PRICECOL() AS p, o_orderdate, o_orderstatus"))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    assert(spark.table("mart.macro_fwd").columns.contains("o_orderstatus"))
  }

  test("evaluate and the skip-backfill physical layer render with the context's macros") {
    val ctx = newCtx()
    ctx.addMacro("PRICECOL")(_ => "o_totalprice")
    ctx.addModel(Model("mart.macro_eval", SqlBody(
      """SELECT o_orderkey, @PRICECOL() AS p, o_orderdate FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    val df = ctx.evaluate("mart.macro_eval", dayMs("1995-01-01"), dayMs("1995-01-05"))
    assert(df.columns.toSeq == Seq("o_orderkey", "p", "o_orderdate"))
    assert(df.count() > 0)
    // --skip-backfill builds the empty physical object from the same render
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05"), skipBackfill = true))
    assert(spark.table("mart.macro_eval").columns.contains("p"))
    assert(spark.table("mart.macro_eval").count() == 0)
  }

  test("includeUnmodified=false keeps unchanged models out of a dev environment") {
    val ctx = newCtx()
    def base(expr: String) = Model("mart.iu_base", SqlBody(
      s"SELECT count(*)$expr AS n FROM raw.orders"), kind = ModelKind.Full)
    ctx.addModel(base(""))
    ctx.addModel(Model("mart.iu_stable", SqlBody(
      "SELECT 42 AS v FROM raw.orders LIMIT 1"), kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", 0, D))
    // edit ONE model, plan into dev with the reference's exclusion default
    ctx.addModel(base(" + 1"))
    ctx.apply(ctx.plan("dev", 0, D, includeUnmodified = false))
    val env = ctx.state.getEnvironment("dev").get
    assert(env.snapshots.keySet == Set("mart.iu_base"))   // changed model only
    assert(spark.catalog.tableExists("mart__dev.iu_base"))
    assert(!spark.catalog.tableExists("mart__dev.iu_stable")) // no dev view
    // prod untouched, and the dev view carries the edit
    assert(spark.table("mart.iu_base").head.getLong(0) + 1 ==
      spark.table("mart__dev.iu_base").head.getLong(0))
  }

  test("dev environments expire via the janitor; destroy removes everything") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.ttl_m", SqlBody(
      "SELECT count(*) AS n FROM raw.orders")))
    val t0 = 1000000L
    ctx.apply(ctx.plan("prod", 0, D), executionTs = t0)
    ctx.apply(ctx.plan("dev", 0, D), executionTs = t0)
    assert(ctx.state.getEnvironment("dev").get.expirationTs.contains(t0 + ctx.envTtlMs))
    assert(ctx.state.getEnvironment("prod").get.expirationTs.isEmpty)
    // before TTL: janitor keeps the env; after: demoted + deleted
    ctx.janitor(now = t0 + 1)
    assert(ctx.state.getEnvironment("dev").isDefined)
    ctx.janitor(now = t0 + ctx.envTtlMs + 1)
    assert(ctx.state.getEnvironment("dev").isEmpty)
    assert(ctx.state.getEnvironment("prod").isDefined) // prod never expires
    // destroy drops env views, physical tables, and state
    val phys = ctx.evaluator.physicalTable(ctx.state.latestSnapshot("mart.ttl_m").get)
    assert(ctx.materializer.tableExists(phys))
    ctx.destroy()
    assert(ctx.state.environments.isEmpty && ctx.state.allSnapshots.isEmpty)
    assert(!ctx.materializer.tableExists(phys))
  }

  test("batch_concurrency backfills a partitioned model's batches in parallel") {
    val ctx = newCtx()
    def mk(name: String, conc: Option[Int]) = Model(
      name = name,
      body = SqlBody(
        """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
          |  round(sum(o_totalprice), 2) AS rev
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "d",
        batchSize = Some(2), batchConcurrency = conc),
      start = Some(dayMs("1995-01-01")), partitionedBy = Seq("d"))
    ctx.addModel(mk("mart.bc_par", Some(4)))
    ctx.addModel(mk("mart.bc_seq", None))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-11")))
    // 10 days / 2-day batches = 5 batches; parallel result == sequential result
    val par = spark.table("mart.bc_par").orderBy("d").collect().toSeq
    val seq = spark.table("mart.bc_seq").orderBy("d").collect().toSeq
    assert(par == seq && par.nonEmpty)
    assert(ctx.state.latestSnapshot("mart.bc_par").get.intervals ==
      Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-11"))))
  }

  test("plan selectors leave unselected local changes out; skip_backfill is virtual-only") {
    val ctx = newCtx()
    def body(n: Int) = SqlBody(
      s"SELECT o_custkey, count(*) + $n AS n FROM raw.orders GROUP BY o_custkey")
    ctx.addModel(Model("sel.a", body(0)))
    ctx.addModel(Model("sel.b", body(100)))
    ctx.apply(ctx.plan("prod", 0, D))
    val a1 = ctx.state.latestSnapshot("sel.a").get
    // edit BOTH models, but select only sel.b — sel.a's edit stays out
    ctx.addModel(Model("sel.a", body(1)))
    ctx.addModel(Model("sel.b", body(101)))
    val p = ctx.plan("prod", 0, D, select = Seq("sel.b"))
    assert(p.modified.map(_._2.model.name) == Seq("sel.b"))
    assert(p.unchanged.exists(s => s.model.name == "sel.a" &&
      s.fingerprint.full == a1.fingerprint.full))
    ctx.apply(p)
    // sel.a still serves the old result (count+0); sel.b the new one
    assert(spark.table("sel.b").filter(col("n") >= 101).count() > 0)

    // skip_backfill: a brand-new model gets its snapshot + view but no data
    ctx.addModel(Model("sel.c", body(0),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "n"), start = Some(0L)))
    ctx.apply(ctx.plan("prod", 0, D, skipBackfill = true))
    assert(ctx.state.latestSnapshot("sel.c").get.intervals.isEmpty)
  }

  test("plan --select-model git:main selects exactly the changed-model closure") {
    // fixture repo (reference selector.py:214 Git + GitClient): two models
    // committed on main; a work branch edits ONE — `git:main` must pick the
    // edited model (plus selector-applied downstream), leaving the other's
    // local state untouched by the plan
    val root = java.nio.file.Files.createTempDirectory("graft_gite2e")
    def sh(args: String*): Unit = {
      val pb = new ProcessBuilder((Seq("git", "-C", root.toString,
        "-c", "user.email=t@example.com", "-c", "user.name=t") ++ args): _*)
      pb.redirectErrorStream(true)
      val pr = graft.core.Spawn.start(pb)
      val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
      require(pr.waitFor() == 0, s"git ${args.mkString(" ")}: $out")
    }
    def w(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text)
    }
    w("models/base.sql",
      """MODEL (name gsel.base);
        |SELECT o_custkey, count(*) AS n FROM raw.orders GROUP BY o_custkey""".stripMargin)
    w("models/other.sql",
      """MODEL (name gsel.other);
        |SELECT count(*) AS total FROM raw.orders""".stripMargin)
    w("models/down.sql",
      """MODEL (name gsel.down);
        |SELECT sum(n) AS s FROM gsel.base""".stripMargin)
    sh("init", "-b", "main"); sh("add", "."); sh("commit", "-m", "base")

    val ctx = newCtx()
    ctx.loadModels(root.toString)
    ctx.apply(ctx.plan("prod", 0, D))

    sh("checkout", "-b", "feature")
    w("models/base.sql",
      """MODEL (name gsel.base);
        |SELECT o_custkey, count(*) + 1 AS n FROM raw.orders GROUP BY o_custkey""".stripMargin)
    sh("add", "."); sh("commit", "-m", "edit base")
    // reload the edited tree into the SAME context (state carries the prior
    // apply); ALSO locally edit the unselected model — git:main keeps it out
    ctx.loadModels(root.toString)
    ctx.addModel(ctx.model("gsel.other").copy(
      body = SqlBody("SELECT count(*) + 5 AS total FROM raw.orders")))

    val p = ctx.plan("prod", 0, D, select = Seq("git:main"))
    // base changed on the branch → modified; down re-fingerprints through its
    // parent; other's local edit is NOT selected and stays out of the plan
    assert(p.modified.map(_._2.model.name).toSet == Set("gsel.base", "gsel.down"),
      p.modified.map(_._2.model.name))
    assert(!p.modified.exists(_._2.model.name == "gsel.other"))
  }

  test("allow_partials runs the trailing sub-unit interval; default floors it") {
    val ctx = newCtx()
    def m(name: String, partials: Boolean) = Model(
      name = name,
      body = SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01")), allowPartials = partials)
    ctx.addModel(m("mart.whole_units", partials = false))
    ctx.addModel(m("mart.partial_ok", partials = true))
    val half = dayMs("1995-01-03") + 12 * 3600000L // mid-day end bound
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), half))
    assert(ctx.state.latestSnapshot("mart.whole_units").get.intervals ==
      Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-03"))))
    assert(ctx.state.latestSnapshot("mart.partial_ok").get.intervals ==
      Vector(Interval(dayMs("1995-01-01"), half)))
  }

  test("standalone audits run post-backfill; blocking fails, non-blocking warns") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.sa_rev", SqlBody(
      "SELECT o_custkey, sum(o_totalprice) AS spend FROM raw.orders GROUP BY o_custkey")))
    // passing audit: no negative spend
    ctx.addStandaloneAudit(graft.audits.StandaloneAudit(
      "assert_no_negative_spend", "SELECT * FROM mart.sa_rev WHERE spend < 0"))
    ctx.apply(ctx.plan("prod", 0, D)) // must not throw
    // non-blocking failing audit warns but does not abort
    ctx.addStandaloneAudit(graft.audits.StandaloneAudit(
      "warn_high_spend", "SELECT * FROM mart.sa_rev WHERE spend > 0", blocking = false))
    ctx.run("prod", 0, D)
    // blocking failing audit aborts the run
    ctx.addStandaloneAudit(graft.audits.StandaloneAudit(
      "assert_impossible", "SELECT * FROM mart.sa_rev WHERE spend > 0"))
    assertThrows[IllegalStateException](ctx.run("prod", 0, D))
  }

  test("materialized view kind refreshes a physical table, not a view") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.mv_orders", SqlBody(
      "SELECT count(*) AS n FROM raw.orders"), kind = ModelKind.MaterializedView))
    ctx.apply(ctx.plan("prod", 0, D))
    assert(spark.table("mart.mv_orders").head().getLong(0) > 0)
    // the physical object is a table over a data dir (not a logical view on
    // the upstream): its fingerprint differs from plain VIEW
    val snap = ctx.state.latestSnapshot("mart.mv_orders").get
    assert(snap.model.kind == ModelKind.MaterializedView)
    assert(ModelKind.MaterializedView.dataFields != ModelKind.View.dataFields)
  }

  test("forward-only dev plan previews in a __dev table; prod table untouched") {
    val ctx = newCtx()
    def body(extra: String) = SqlBody(
      s"""SELECT o_orderdate, count(*) AS n$extra FROM raw.orders
         |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin)
    ctx.addModel(Model(
      name = "mart.fwd_dev",
      body = body(""),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", forwardOnly = true),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    val prodCols = spark.table("mart.fwd_dev").columns.toSeq
    val prodCount = spark.table("mart.fwd_dev").count()

    // forward-only edit planned into DEV: previews in a __dev table
    ctx.addModel(ctx.model("mart.fwd_dev").copy(body = body(", sum(o_totalprice) AS rev")))
    val devPlan = ctx.plan("dev", dayMs("1995-01-01"), dayMs("1995-01-05"))
    val nw = devPlan.modified.head._2
    assert(nw.category.contains(ChangeCategory.ForwardOnly))
    assert(devPlan.isDevPreview(nw))
    ctx.apply(devPlan)

    // dev env sees the new column; prod table/schema untouched
    assert(spark.table("mart__dev.fwd_dev").columns.contains("rev"))
    assert(spark.table("mart.fwd_dev").columns.toSeq == prodCols)
    assert(spark.table("mart.fwd_dev").count() == prodCount)
    // preview progress tracked as devIntervals, shared intervals unchanged
    val snap = ctx.state.latestSnapshot("mart.fwd_dev").get
    assert(snap.devIntervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-05"))))
    assert(snap.intervals == Vector(Interval(dayMs("1995-01-01"), dayMs("1995-01-05"))))

    // promoting the same change to prod migrates the real table in place
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    assert(spark.table("mart.fwd_dev").columns.contains("rev"))
    assert(spark.table("mart.fwd_dev").count() == prodCount)
  }

  test("non-blocking audits warn without failing or rolling back") {
    val ctx = newCtx()
    ctx.addModel(Model(
      name = "mart.nb_audit",
      body = SqlBody("SELECT o_orderkey, o_totalprice FROM raw.orders"),
      kind = ModelKind.Full,
      audits = Seq("accepted_range_non_blocking" ->
        Map("column" -> "o_totalprice", "max_v" -> "0"))))
    ctx.apply(ctx.plan("prod", 0, D)) // would throw if blocking
    assert(spark.table("mart.nb_audit").count() > 0)
    assert(ctx.state.latestSnapshot("mart.nb_audit").get.intervals.nonEmpty)
  }

  test("invalidateEnvironment drops views; janitor reclaims unreferenced snapshots") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.inv",
      SqlBody("SELECT count(*) AS n FROM raw.orders"), kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", 0, D))
    ctx.apply(ctx.plan("scratch", 0, D))
    assert(spark.table("mart__scratch.inv").head().getLong(0) > 0)
    ctx.invalidateEnvironment("scratch")
    assert(!spark.catalog.tableExists("mart__scratch.inv"))
    // still referenced by prod → janitor keeps it
    ctx.janitor()
    assert(spark.table("mart.inv").head().getLong(0) > 0)
  }

  test("wide DAG backfills level-parallel with correct results") {
    val ctx = newCtx()
    // diamond: 4 independent mid models over one base, one fan-in
    ctx.addModel(Model("mart.w_base",
      SqlBody("SELECT o_custkey, o_totalprice FROM raw.orders"), kind = ModelKind.Full))
    val mids = (1 to 4).map { i =>
      val name = s"mart.w_mid$i"
      ctx.addModel(Model(name,
        SqlBody(s"SELECT o_custkey, sum(o_totalprice) * $i AS v FROM mart.w_base GROUP BY o_custkey"),
        kind = ModelKind.Full))
      name
    }
    ctx.addModel(Model("mart.w_sink",
      SqlBody(mids.map(m => s"SELECT sum(v) AS s FROM $m").mkString(" UNION ALL ")),
      kind = ModelKind.Full, dependsOn = mids.toSet))
    ctx.apply(ctx.plan("prod", 0, D))
    val sums = spark.table("mart.w_sink").collect().map(_.getDouble(0)).sorted
    assert(sums.length == 4)
    // v of mid_i = i × base total ⇒ ratios 1:2:3:4
    assert((1 to 4).forall(i => math.abs(sums(i - 1) / sums(0) - i) < 1e-9))
  }

  test("plan-evolution torture: edits + restatement converge to a from-scratch rebuild") {
    val ctx = newCtx()
    def baseBody(pred: String) = SqlBody(
      s"""SELECT o_orderdate, count(*) AS n, round(sum(o_totalprice), 2) AS rev
         |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt $pred
         |GROUP BY o_orderdate""".stripMargin)
    ctx.addModel(Model("mart.tt_base", baseBody(""),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", batchSize = Some(5)),
      start = Some(dayMs("1995-01-01"))))
    ctx.addModel(Model("mart.tt_child",
      SqlBody("SELECT count(*) AS days, round(sum(rev), 2) AS total FROM mart.tt_base"),
      kind = ModelKind.Full))

    // 1. initial backfill
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
    // 2. NON_BREAKING: add a projection to the base
    ctx.addModel(ctx.model("mart.tt_base").copy(body = SqlBody(
      """SELECT o_orderdate, count(*) AS n, round(sum(o_totalprice), 2) AS rev,
        |  round(avg(o_totalprice), 2) AS avg_rev
        |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
        |GROUP BY o_orderdate""".stripMargin)))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
    // 3. BREAKING: change the filter (drops some rows)
    ctx.addModel(ctx.model("mart.tt_base").copy(body = SqlBody(
      """SELECT o_orderdate, count(*) AS n, round(sum(o_totalprice), 2) AS rev,
        |  round(avg(o_totalprice), 2) AS avg_rev
        |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
        |  AND o_totalprice > 1000
        |GROUP BY o_orderdate""".stripMargin)))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
    // 4. restate a middle chunk; 5. extend the range via run
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01"),
      restate = Map("mart.tt_base" -> Interval(dayMs("1995-01-10"), dayMs("1995-01-20")))))
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-02-15"))
    // child needs a refresh after run-extension of its parent (FULL recomputes
    // on any plan application; run only backfills intervals)
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-15")))

    // from-scratch ground truth of the CURRENT model over the full range
    val truth = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-02-15").cast("timestamp") &&
        col("o_totalprice") > 1000)
      .groupBy("o_orderdate")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"),
        round(avg("o_totalprice"), 2).as("avg_rev"))
    val got = spark.table("mart.tt_base")
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
      "incremental evolution diverged from from-scratch rebuild")
    val childTotal = spark.table("mart.tt_child").select("total").head().getDouble(0)
    val truthTotal = truth.agg(round(sum("rev"), 2)).head().getDouble(0)
    assert(math.abs(childTotal - truthTotal) < 1e-6)
  }

  test("on_virtual_update statements run at promote against the env view") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.ovu",
      SqlBody("SELECT o_orderkey, o_totalprice FROM raw.orders LIMIT 10"),
      kind = ModelKind.Full,
      onVirtualUpdate = Seq(
        "CREATE OR REPLACE VIEW mart.ovu_marker AS SELECT count(*) AS n FROM @this_model")))
    ctx.apply(ctx.plan("prod", 0, D))
    // the statement ran after the view repoint, with @this_model = env view
    assert(spark.table("mart.ovu_marker").head().getLong(0) == 10)
    // on_virtual_update is metadata-only: editing it must not re-version
    val s1 = ctx.state.latestSnapshot("mart.ovu").get
    ctx.addModel(ctx.model("mart.ovu").copy(onVirtualUpdate =
      Seq("CREATE OR REPLACE VIEW mart.ovu_marker AS SELECT count(*) + 1 AS n FROM @this_model")))
    val p2 = ctx.plan("prod", 0, D)
    assert(p2.metadataOnly.map(_.model.name) == Seq("mart.ovu"))
    ctx.apply(p2)
    assert(ctx.state.latestSnapshot("mart.ovu").get.version == s1.version)
    assert(spark.table("mart.ovu_marker").head().getLong(0) == 11)
  }

  test("an environment MOVING location (suffix target change) drops its old views") {
    // same workspace (shared durable state), configured target changes
    // between applies: the old location's views must be demoted or they
    // serve stale snapshots forever
    val ws = SparkTestSession.tmpDir("ws-move")
    val c1 = new GraftContext(spark, ws, concurrency = 2, durableState = true,
      envSuffixTarget = "schema")
    c1.addExternal("raw.orders", s"$sf/orders.parquet")
    c1.addModel(Model("mart.mv",
      SqlBody("SELECT o_orderkey FROM raw.orders LIMIT 5"), kind = ModelKind.Full))
    c1.apply(c1.plan("dev_m", 0, D))
    assert(spark.table("mart__dev_m.mv").count() == 5)
    val c2 = new GraftContext(spark, ws, concurrency = 2, durableState = true,
      envSuffixTarget = "table")
    c2.addExternal("raw.orders", s"$sf/orders.parquet")
    c2.addModel(Model("mart.mv",
      SqlBody("SELECT o_orderkey FROM raw.orders LIMIT 5"), kind = ModelKind.Full))
    c2.apply(c2.plan("dev_m", 0, D))
    assert(spark.table("mart.mv__dev_m").count() == 5)
    assert(!spark.catalog.tableExists("mart__dev_m.mv"),
      "suffix-target move left the old schema-suffixed view serving stale data")
    // and the record now demotes at the NEW location
    c2.invalidateEnvironment("dev_m")
    assert(!spark.catalog.tableExists("mart.mv__dev_m"))
  }

  test("TABLE suffix target puts dev views in the prod schema, suffixed") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws"), concurrency = 2,
      envSuffixTarget = "table")
    ctx.addExternal("raw.orders", s"$sf/orders.parquet")
    ctx.addModel(Model("mart.sfx",
      SqlBody("SELECT o_orderkey FROM raw.orders LIMIT 5"), kind = ModelKind.Full))
    ctx.apply(ctx.plan("dev_a", 0, D))
    // view lives at mart.sfx__dev_a (config/common.py:30-32), not mart__dev_a.sfx
    assert(spark.table("mart.sfx__dev_a").count() == 5)
    assert(!spark.catalog.databaseExists("mart__dev_a"))
    ctx.invalidateEnvironment("dev_a")
    assert(!spark.catalog.tableExists("mart.sfx__dev_a"))
    // prod promotion is the bare name regardless of target
    ctx.apply(ctx.plan("prod", 0, D))
    assert(spark.table("mart.sfx").count() == 5)
  }

  test("effective_from re-runs a forward-only change only from the given date") {
    val ctx = newCtx()
    def body(mult: Int) = SqlBody(
      s"""SELECT o_orderdate, count(*) * $mult AS n FROM raw.orders
         |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin)
    ctx.addModel(Model("mart.effrom", body(1),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate", forwardOnly = true),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-09")))

    ctx.addModel(ctx.model("mart.effrom").copy(body = body(10)))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-09"),
      forwardOnly = true, effectiveFrom = Some(dayMs("1995-01-05"))))

    val truth = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-01-09").cast("timestamp"))
      .groupBy("o_orderdate").agg(count(lit(1)).as("c"))
    val got = spark.table("mart.effrom").join(truth, "o_orderdate")
    // before the effective date the OLD logic's rows survive; from it on,
    // the interval re-ran with the new one
    assert(got.filter(col("o_orderdate") < lit("1995-01-05").cast("timestamp"))
      .filter(col("n") =!= col("c")).isEmpty)
    assert(got.filter(col("o_orderdate") >= lit("1995-01-05").cast("timestamp"))
      .filter(col("n") =!= col("c") * 10).isEmpty)
    // effective_from without forward_only is a config error (builder.py:239)
    intercept[IllegalArgumentException](
      ctx.plan("prod", 0, D, effectiveFrom = Some(0L)))
  }

  test("no_gaps blocks promoting a re-versioned incremental with holes") {
    val ctx = newCtx()
    def body(extra: String) = SqlBody(
      s"""SELECT o_orderdate, count(*) AS n$extra FROM raw.orders
         |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin)
    ctx.addModel(Model("mart.nogaps", body(""),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-09")))

    // breaking edit, but the plan window starts AFTER the predecessor's
    // coverage — the new table would have a 4-day hole
    ctx.addModel(ctx.model("mart.nogaps").copy(
      body = body(", sum(o_totalprice) AS rev"), columns = Nil))
    val ex = intercept[IllegalStateException](
      ctx.apply(ctx.plan("prod", dayMs("1995-01-05"), dayMs("1995-01-09"), noGaps = true)))
    assert(ex.getMessage.contains("no_gaps"))
    // same plan without the flag promotes (holes allowed by default)
    ctx.apply(ctx.plan("prod", dayMs("1995-01-05"), dayMs("1995-01-09")))
    assert(spark.table("mart.nogaps").columns.contains("rev"))
  }

  test("before_all/after_all statements run around apply and run") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws"), concurrency = 2,
      beforeAll = Seq(
        "CREATE TABLE IF NOT EXISTS default.env_log (phase STRING, at STRING) USING parquet",
        // @start_ds/@end_ds render to quoted literals ('1995-01-01') — the
        // reference never expands macros INSIDE string literals, so the
        // statement uses them bare (macros.py transform: Identifier-only template)
        "INSERT INTO default.env_log VALUES ('before', @start_ds)"),
      afterAll = Seq("INSERT INTO default.env_log VALUES ('after', @end_ds)"))
    ctx.addExternal("raw.orders", s"$sf/orders.parquet")
    ctx.addModel(Model("mart.envst",
      SqlBody("SELECT o_orderkey FROM raw.orders LIMIT 3"), kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-02")))
    val log = spark.table("default.env_log").collect().map(r => (r.getString(0), r.getString(1)))
    assert(log.contains(("before", "1995-01-01")) && log.contains(("after", "1995-01-01")))
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-03"))
    assert(spark.table("default.env_log").count() == 4)
    spark.sql("DROP TABLE default.env_log")
  }

  test("@STAR expands against the live catalog schema in model bodies") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.star_base", SqlBody(
      "SELECT o_orderkey, o_orderpriority FROM raw.orders LIMIT 5"), kind = ModelKind.Full))
    // @STAR(table, alias, [except...]) needs the upstream's schema — resolved
    // through the table mapping against the catalog at evaluation time
    ctx.addModel(Model("mart.star_sel", SqlBody(
      "SELECT @STAR(mart.star_base, b, [o_orderpriority]) FROM mart.star_base b"),
      kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-02")))
    val df = spark.table("mart.star_sel")
    assert(df.columns.toSeq == Seq("o_orderkey"))
    assert(df.count() == 5)
  }

  test("create_external_models round-trips referenced externals with columns") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.ext_consumer", SqlBody(
      "SELECT o_orderkey FROM raw.orders LIMIT 1"), kind = ModelKind.Full))
    val yml = SparkTestSession.tmpDir("extm") + "/external_models.yaml"
    ctx.createExternalModels(yml)
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(yml))
    assert(text.contains("name: raw.orders") && text.contains("o_orderkey: BIGINT"))

    // a fresh context loads the schema metadata as EXTERNAL models; the
    // physical binding still comes from addExternal, and plans run normally
    val ctx2 = newCtx()
    ctx2.loadExternalModels(yml)
    assert(ctx2.model("raw.orders").kind == ModelKind.External)
    assert(ctx2.model("raw.orders").columns.exists(_._1 == "o_orderkey"))
    ctx2.addModel(Model("mart.ext_consumer", SqlBody(
      "SELECT o_orderkey FROM raw.orders LIMIT 3"), kind = ModelKind.Full))
    ctx2.apply(ctx2.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-02")))
    assert(spark.table("mart.ext_consumer").count() == 3)
  }

  test("table_diff compares a model across environments") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.td_model", SqlBody(
      "SELECT o_orderkey, o_totalprice FROM raw.orders WHERE o_orderkey <= 100"),
      kind = ModelKind.Full, grains = Seq("o_orderkey")))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-02")))
    // dev gets a modified version: same keys, shifted values
    ctx.addModel(ctx.model("mart.td_model").copy(body = SqlBody(
      "SELECT o_orderkey, o_totalprice + 1 AS o_totalprice FROM raw.orders WHERE o_orderkey <= 100")))
    ctx.apply(ctx.plan("dev", dayMs("1995-01-01"), dayMs("1995-01-02")))
    val diff = ctx.tableDiff("mart.td_model", "prod", "dev").collect().head
    val byName = diff.schema.fieldNames.zipWithIndex.toMap
    assert(diff.getLong(byName("full_match")) == 0L)
    assert(diff.getLong(byName("s_only")) == 0L && diff.getLong(byName("t_only")) == 0L)
  }

  test("column lineage traces through joins, aggregates, and model views") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.lin_base", SqlBody(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM raw.orders"""),
      kind = ModelKind.Full))
    ctx.addModel(Model("mart.lin_top", SqlBody(
      """SELECT b.o_custkey AS cust,
        |  round(sum(b.o_totalprice + l.l_extendedprice), 2) AS combined,
        |  count(*) AS n
        |FROM mart.lin_base b JOIN raw.lineitem l ON b.o_orderkey = l.l_orderkey
        |GROUP BY b.o_custkey""".stripMargin), kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-02")))

    val lin = ctx.columnLineage("mart.lin_top")
    assert(lin("cust") == Set("mart.lin_base.o_custkey"))
    assert(lin("combined") == Set("mart.lin_base.o_totalprice", "raw.lineitem.l_extendedprice"))
    assert(lin("n") == Set.empty) // count(*) references no columns
    // the base model's own lineage reaches the external
    val lin2 = ctx.columnLineage("mart.lin_base")
    assert(lin2("o_totalprice") == Set("raw.orders.o_totalprice"))
  }

  test("dagDot renders models, kinds, externals, and edges") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.dag_a", SqlBody("SELECT o_orderkey FROM raw.orders"),
      kind = ModelKind.Full))
    ctx.addModel(Model("mart.dag_b", SqlBody("SELECT * FROM mart.dag_a"),
      kind = ModelKind.View))
    val dot = ctx.dagDot
    assert(dot.contains("\"mart.dag_a\" -> \"mart.dag_b\""))
    assert(dot.contains("\"raw.orders\" -> \"mart.dag_a\""))
    assert(dot.contains("FULL") && dot.contains("VIEW"))
    assert(dot.contains("\"raw.orders\" [style=dashed]"))
  }

  test("check_intervals reports gaps a run would backfill; info summarizes") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.ci_model", SqlBody(
      """SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-05")))
    // processed [01-01, 01-05); asking through 01-09 reports the 4-day gap
    val gaps = ctx.checkIntervals("prod", dayMs("1995-01-01"), dayMs("1995-01-09"))
    assert(gaps("mart.ci_model") ==
      Seq(Interval(dayMs("1995-01-05"), dayMs("1995-01-09"))))
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-09"))
    assert(ctx.checkIntervals("prod", dayMs("1995-01-01"), dayMs("1995-01-09"))("mart.ci_model").isEmpty)
    assert(ctx.info.contains("INCREMENTAL_BY_TIME_RANGE: 1"))
    assert(ctx.environments.map(_.name) == Seq("prod"))
  }

  test("context lint flags missing externals and analyzer-invalid columns") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.lint_ok", SqlBody("SELECT o_orderkey FROM raw.orders"),
      kind = ModelKind.Full, owner = Some("me"),
      audits = Seq("not_null" -> Map("columns" -> "o_orderkey"))))
    ctx.addModel(Model("mart.lint_missing", SqlBody("SELECT x FROM raw.nowhere"),
      kind = ModelKind.Full, owner = Some("me"),
      audits = Seq("not_null" -> Map("columns" -> "x"))))
    ctx.addModel(Model("mart.lint_badcol", SqlBody(
      "SELECT no_such_col FROM raw.orders"),
      kind = ModelKind.Full, owner = Some("me"),
      audits = Seq("not_null" -> Map("columns" -> "no_such_col"))))
    val vs = ctx.lint()
    assert(vs.exists(v => v.rule == "nomissingexternalmodels" && v.model == "mart.lint_missing"))
    assert(vs.exists(v => v.rule == "ambiguousorinvalidcolumn" && v.model == "mart.lint_badcol"))
    assert(!vs.exists(_.model == "mart.lint_ok"))
    intercept[IllegalStateException](ctx.lint(enforce = true))
  }

  test("cron gating: an off-midnight cron holds back yesterday until it fires") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.cron_m", SqlBody(
      """SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      cron = "30 3 * * *", start = Some(dayMs("1995-01-01"))))
    // executing at 01:00 on Jan 5: the 03:30 tick of Jan 5 hasn't fired, so
    // Jan 4's interval is NOT ready — only through Jan 4 00:00
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-06")),
      executionTs = dayMs("1995-01-05") + 3600000L)
    def maxMs(): Long = spark.table("mart.cron_m").agg(max(col("o_orderdate"))).head()
      .getAs[java.time.LocalDateTime](0).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    assert(maxMs() < dayMs("1995-01-04"))
    // at 04:00 the tick has fired: Jan 4 becomes ready
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-01-06"),
      executionTs = dayMs("1995-01-05") + 4 * 3600000L)
    assert(maxMs() >= dayMs("1995-01-04") && maxMs() < dayMs("1995-01-05"))
  }

  test("time-range models auto-partition physically; restates touch only their dirs") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.autopt", SqlBody(
      """SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-06")))
    // physical layout: one __graft_pt=<day> dir per processed day
    val snap = ctx.state.latestSnapshot("mart.autopt").get
    val root = ctx.evaluator.physicalTable(snap).root
    val dataDir = ctx.materializer.currentDataDir(ctx.evaluator.physicalTable(snap)).get
    val dirs = new java.io.File(dataDir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    // one dir per day that actually has orders in the window
    val expectDays = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-01-06").cast("timestamp"))
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d")).distinct()
      .collect().map(r => "__graft_pt=" + r.getString(0)).sorted
    assert(dirs.toSeq == expectDays.toSeq)
    // the managed column is hidden from the catalog view
    assert(!spark.table("mart.autopt").columns.contains("__graft_pt"))
    // restating one present day rewrites ONLY that day's directory
    val restDay = dirs.head.stripPrefix("__graft_pt=")
    val mtimes = dirs.map(d => d -> new java.io.File(dataDir, d).lastModified()).toMap
    Thread.sleep(1100)
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-06"),
      restate = Map("mart.autopt" -> Interval(dayMs(restDay), dayMs(restDay) + D))))
    val after = dirs.map(d => d -> new java.io.File(dataDir, d).lastModified()).toMap
    assert(after(s"__graft_pt=$restDay") > mtimes(s"__graft_pt=$restDay"))
    assert(dirs.filterNot(_ == s"__graft_pt=$restDay")
      .forall(d => after(d) == mtimes(d)), "untouched partitions were rewritten")
    // data correct after the partial rewrite
    assert(spark.table("mart.autopt").count() ==
      spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-01-06").cast("timestamp"))
        .select("o_orderdate").distinct().count())
  }

  test("bucketed unique-key model merges by rewriting only touched buckets") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.bk_merge", SqlBody(
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt""".stripMargin),
      kind = ModelKind.IncrementalByUniqueKey(uniqueKey = Seq("o_orderkey"), buckets = 8),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
    val snap = ctx.state.latestSnapshot("mart.bk_merge").get
    val dataDir = ctx.materializer.currentDataDir(ctx.evaluator.physicalTable(snap)).get
    val dirs = new java.io.File(dataDir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("__graft_bk=")) && dirs.nonEmpty)
    assert(!spark.table("mart.bk_merge").columns.contains("__graft_bk"))
    val n1 = spark.table("mart.bk_merge").count()

    // second window merges new keys in; results equal an unbucketed baseline
    ctx.run("prod", dayMs("1995-01-01"), dayMs("1995-03-01"))
    val got = spark.table("mart.bk_merge")
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-03-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    assert(got.count() > n1 && got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("embedded models inline into consumers") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.emb",
      SqlBody("SELECT o_orderkey, o_totalprice FROM raw.orders"),
      kind = ModelKind.Embedded))
    ctx.addModel(Model("mart.emb_user",
      SqlBody("SELECT count(*) AS n FROM mart.emb WHERE o_totalprice > 0"),
      kind = ModelKind.Full))
    ctx.apply(ctx.plan("prod", 0, D))
    assert(spark.table("mart.emb_user").head().getLong(0) > 0)
    // no physical table for the embedded model
    assert(!spark.catalog.databaseExists("graft__mart") ||
      !spark.catalog.listTables("graft__mart").collect().exists(_.name.contains("emb__")))
  }

  test("physical/session/virtual properties reach writes, confs, and views") {
    val ctx = newCtx()
    ctx.addModel(graft.loader.ModelLoader.parse(
      """MODEL (
        |  name mart.props_demo,
        |  physical_properties (compression = 'zstd'),
        |  session_properties ('spark.sql.shuffle.partitions' = '3'),
        |  virtual_properties (team = 'curation')
        |);
        |SELECT o_orderkey, o_totalprice FROM raw.orders""".stripMargin))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    ctx.apply(ctx.plan("prod", 0L, D))
    // session conf restored after evaluation
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // physical_properties: parquet files actually written with zstd
    val snap = ctx.snapshotsOf(Seq("mart.props_demo"))("mart.props_demo")
    val dataDir = ctx.evaluator.materializer.currentDataDir(
      ctx.evaluator.physicalTable(snap)).get
    val files = new java.io.File(dataDir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".zstd.parquet")), files.mkString(","))
    // virtual_properties: TBLPROPERTIES on the promoted env view
    val props = spark.sql("SHOW TBLPROPERTIES mart.props_demo").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("team").contains("curation"))
    assert(spark.table("mart.props_demo").count() > 0)
  }

  test("lastRunReport records each backfilled batch with its duration") {
    val ctx = newCtx()
    ctx.addModel(Model("mart.report_demo",
      SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate",
        batchSize = Some(3)),
      start = Some(dayMs("1995-01-01"))))
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")))
    val rep = ctx.lastRunReport
    // 9 days in batches of 3 → 3 recorded batches, durations populated
    assert(rep.count(_._1 == "mart.report_demo") == 3)
    assert(rep.forall(_._3 >= 0))
    assert(rep.map(r => (r._2.start, r._2.end)).toSet == Set(
      (dayMs("1995-01-01"), dayMs("1995-01-04")),
      (dayMs("1995-01-04"), dayMs("1995-01-07")),
      (dayMs("1995-01-07"), dayMs("1995-01-10"))))
  }

  test("ad-hoc audit verb runs attached audits without backfilling") {
    val ctx = newCtx()
    val base = Model("mart.audit_target",
      SqlBody(
        """SELECT o_orderkey, o_totalprice, o_orderdate FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      start = Some(dayMs("1995-01-01")),
      audits = Seq("not_null" -> Map("columns" -> "o_orderkey")))
    ctx.addModel(base)
    ctx.apply(ctx.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")))

    // tighten the audit spec AFTER materialization (audits are metadata — no
    // rebuild); the ad-hoc verb checks the standing table on demand
    ctx.addModel(base.copy(audits = base.audits :+
      ("accepted_range" -> Map("column" -> "o_totalprice",
        "min_v" -> "-1", "max_v" -> "0")))) // impossible range → violations
    val r = ctx.audit("mart.audit_target", "prod",
      dayMs("1995-01-01"), dayMs("1995-01-10"))
    assert(r("not_null") == 0L)
    assert(r("accepted_range") > 0L)
    // time bounds respected: an empty window has nothing to violate
    val empty = ctx.audit("mart.audit_target", "prod",
      dayMs("1994-01-01"), dayMs("1994-01-02"))
    assert(empty("accepted_range") == 0L)
  }

  test("apply records a plan's snapshots in one durable write, whatever their count") {
    def applyWrites(models: Int): Long = {
      val ctx = new GraftContext(spark, SparkTestSession.tmpDir("dw-ws"), concurrency = 2,
        durableState = true)
      ctx.addExternal("raw.orders", s"$sf/orders.parquet")
      (1 to models).foreach(i => ctx.addModel(Model(s"dw.m$i", SqlBody(
        s"SELECT $i AS v, count(*) AS n FROM raw.orders"))))
      val p = ctx.plan("prod", 0L, D, skipBackfill = true)
      val store = ctx.state.asInstanceOf[graft.state.FileStateStore]
      val before = store.durableWrites
      ctx.apply(p)
      store.durableWrites - before
    }
    assert(applyWrites(2) == applyWrites(8))
  }

  test("a janitor pass deletes its expired records in one durable write") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("jw-ws"), concurrency = 2,
      durableState = true)
    ctx.addExternal("raw.orders", s"$sf/orders.parquet")
    def define(v: Int): Unit = (1 to 2).foreach(i => ctx.addModel(Model(s"jw.m$i",
      SqlBody(s"SELECT ${v * i} AS v, count(*) AS n FROM raw.orders"))))
    val t0 = 1000000L
    define(1)
    ctx.apply(ctx.plan("prod", 0L, D, skipBackfill = true), executionTs = t0)
    define(2) // a breaking edit of both: dev holds two versions prod does not
    ctx.apply(ctx.plan("dev", 0L, D, skipBackfill = true), executionTs = t0)
    assert(ctx.state.allSnapshots.size == 4)
    val store = ctx.state.asInstanceOf[graft.state.FileStateStore]
    val before = store.durableWrites
    ctx.janitor(now = t0 + ctx.envTtlMs + 1)
    assert(ctx.state.getEnvironment("dev").isEmpty && ctx.state.allSnapshots.size == 2)
    assert(store.durableWrites - before == 1)
  }

  test("ad-hoc audit scopes an epoch_millis model's window like the evaluator") {
    val ctx = newCtx()
    val (d1, d2, d3) = (dayMs("1995-01-01"), dayMs("1995-01-02"), dayMs("1995-01-03"))
    // one NULL, inside the second day
    ctx.addModel(Model("mart.ms_events", SqlBody(
      s"""SELECT * FROM VALUES (1, 'a', ${d1 + 3600000L}L), (2, CAST(NULL AS STRING),
         |  ${d2 + 3600000L}L), (3, 'c', ${d2 + 7200000L}L) AS t(id, v, ts)""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "ts", timeFormat = "epoch_millis"),
      start = Some(d1),
      audits = Seq("not_null_non_blocking" -> Map("columns" -> "v"))))
    ctx.apply(ctx.plan("prod", d1, d3))
    assert(ctx.audit("mart.ms_events", "prod", d2, d3)("not_null_non_blocking") == 1L)
    assert(ctx.audit("mart.ms_events", "prod", d1, d2)("not_null_non_blocking") == 0L)
  }
}
