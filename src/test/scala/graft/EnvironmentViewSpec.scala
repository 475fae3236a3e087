package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** One environment resolver (reference core/environment.py:41): which
  * snapshot a model name means in an environment and where that
  * environment's view of it lives are answered by `plans.EnvironmentView`
  * alone. Each test is a site that once answered one of them its own way and
  * got it wrong. */
class EnvironmentViewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val D = 86400000L
  private val day0 = 788918400000L // 1995-01-01

  /** 30 rows `(id, d)` spread over 1995-01-01 … 1995-01-03. */
  private def source(): String = {
    val path = SparkTestSession.tmpDir("ev-src") + "/src"
    spark.sql("SELECT id, date_add(DATE'1995-01-01', CAST(id % 3 AS INT)) AS d FROM range(30)")
      .write.parquet(path)
    path
  }

  test("audit of a model the context no longer defines runs the applied audits") {
    val ws = SparkTestSession.tmpDir("ev-audit")
    val first = new GraftContext(spark, ws, durableState = true)
    first.addModel(Model("eva.t", SqlBody("SELECT * FROM VALUES (1), (NULL) AS t(id)"),
      kind = ModelKind.Full, audits = Seq("not_null_non_blocking" -> Map("columns" -> "id"))))
    first.apply(first.plan("prod", 0L, D))
    val later = new GraftContext(spark, ws, durableState = true)
    assert(later.audit("eva.t") == Map("not_null_non_blocking" -> 1L))
  }

  test("an audit arg naming an EMBEDDED model inlines it") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ev-emb"))
    ctx.addModel(Model("evb.parent_keys", SqlBody("SELECT * FROM VALUES (1), (2) AS t(id)"),
      kind = ModelKind.Embedded))
    ctx.addModel(Model("evb.child", SqlBody("SELECT * FROM VALUES (1), (2), (3) AS t(pid)"),
      kind = ModelKind.Full, audits = Seq("relationships_non_blocking" ->
        Map("column" -> "pid", "field" -> "id", "to" -> "evb.parent_keys"))))
    ctx.apply(ctx.plan("prod", 0L, D))
    // pid 3 has no parent key
    assert(ctx.audit("evb.child") == Map("relationships_non_blocking" -> 1L))
  }

  test("after a breaking dev plan, optimize and vacuum act on prod's table") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ev-opt"))
    ctx.addExternal("raw.ev_src", source())
    def inc(n: String) = Model("evo.inc", SqlBody(
      s"SELECT d, $n AS n FROM raw.ev_src WHERE d BETWEEN @start_dt AND @end_dt GROUP BY d"),
      kind = ModelKind.IncrementalByTimeRange("d"))
    ctx.addModel(inc("count(*)"))
    ctx.apply(ctx.plan("prod", day0, day0 + 3 * D))
    ctx.addModel(inc("count(*) * 2"))
    ctx.apply(ctx.plan("dev", day0, day0 + D))
    def table(env: String) = ctx.evaluator.physicalTable(ctx.state.getSnapshot("evo.inc",
      ctx.state.getEnvironment(env).get.snapshots("evo.inc")).get)
    val (prod, dev) = (table("prod"), table("dev"))
    assert(prod != dev)
    val (prodDir, devDir) = (ctx.materializer.currentDataDir(prod), ctx.materializer.currentDataDir(dev))
    ctx.optimizeTable("evo.inc") // compaction rolls a new version dir
    assert(ctx.materializer.currentDataDir(prod) != prodDir)
    assert(ctx.materializer.currentDataDir(dev) == devDir)
    // vacuum reclaims the version compaction left behind in prod's table
    assert(ctx.vacuumTable("evo.inc") == 1)
    assert(ctx.materializer.currentDataDir(dev) == devDir)
  }

  test("table-diff takes the grain from the source environment's snapshot") {
    val ws = SparkTestSession.tmpDir("ev-diff")
    def model(rows: String) = Model("evd.t", SqlBody(s"SELECT * FROM VALUES $rows AS t(id, v)"),
      kind = ModelKind.Full, grains = Seq("id"))
    val first = new GraftContext(spark, ws, durableState = true)
    first.addModel(model("(1, 10), (2, 20)"))
    first.apply(first.plan("prod", 0L, D))
    first.addModel(model("(1, 10), (3, 30)"))
    first.apply(first.plan("dev", 0L, D))
    // a later context that no longer defines the model diffs what both envs hold
    val later = new GraftContext(spark, ws, durableState = true)
    val row = later.tableDiff("evd.t", "prod", "dev").head
    assert(row.getAs[Long]("s_only") == 1L && row.getAs[Long]("t_only") == 1L &&
      row.getAs[Long]("full_match") == 1L, row)
  }

  test("explain's drop line names the location apply drops after the suffix target changes") {
    val ws = SparkTestSession.tmpDir("ev-move")
    def model(name: String) = Model(name, SqlBody("SELECT 1 AS x"), kind = ModelKind.Full)
    val first = new GraftContext(spark, ws, durableState = true)
    first.addModel(model("eve.kept")).addModel(model("eve.gone"))
    first.apply(first.plan("dev", 0L, D))
    assert(spark.catalog.tableExists("eve__dev.gone"))
    // the suffix target moves to "table" and eve.gone leaves the project
    val later = new GraftContext(spark, ws, durableState = true, envSuffixTarget = "table")
    later.addModel(model("eve.kept"))
    val p = later.plan("dev", 0L, D)
    assert(p.removed == Seq("eve.gone"))
    val text = later.explain(p)
    assert(text.contains("- drop eve__dev.gone  (removed from env)"), text)
    assert(text.contains("eve.kept__dev → "), text)
    later.apply(p)
    assert(!spark.catalog.tableExists("eve__dev.gone"))
    assert(spark.catalog.tableExists("eve.kept__dev") && !spark.catalog.tableExists("eve__dev.kept"))
  }

  test("a prod run's freshness gate reads prod's upstream, not a dev version's") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ev-fresh"))
    ctx.addExternal("raw.evf_src", source())
    def inc(name: String, from: String, id: String = "id") = Model(name, SqlBody(
      s"SELECT $id AS id, d FROM $from WHERE d BETWEEN @start_dt AND @end_dt"),
      kind = ModelKind.IncrementalByTimeRange("d", batchSize = Some(1)), start = Some(day0))
    ctx.addModel(inc("evf.up", "raw.evf_src")).addModel(inc("evf.child", "evf.up"))
    ctx.addFreshnessSignal("evf.child")
    // prod: days 1–2; dev: a breaking upstream edit backfilled over days 1–3
    ctx.apply(ctx.plan("prod", day0, day0 + 2 * D))
    ctx.addModel(inc("evf.up", "raw.evf_src", id = "id * 10"))
    ctx.apply(ctx.plan("dev", day0, day0 + 3 * D))
    def intervals(env: String, name: String) = ctx.state.getSnapshot(name,
      ctx.state.getEnvironment(env).get.snapshots(name)).get.intervals
    assert(intervals("dev", "evf.up") == Vector(Interval(day0, day0 + 3 * D)))
    // prod's upstream still ends at day 2, so prod's child defers day 3
    ctx.run("prod", day0, day0 + 3 * D, selectModels = Seq("evf.child"), autoUpstream = false)
    assert(intervals("prod", "evf.child") == Vector(Interval(day0, day0 + 2 * D)))
  }

  test("only the environment resolver reads an environment record") {
    // which snapshot a name means in an environment (identifier, version,
    // latest) and where its view lives (the suffix target and catalog naming
    // rule) are EnvironmentView's; state/ stores the records and
    // SparkMaterializer defines the naming rule. Allowed elsewhere: plan's
    // fallback to the latest snapshot for a name no record holds
    val root = Paths.get("src/main/scala/graft")
    val reads = """getSnapshotById\(|latestSnapshot\(|\.identifiers\b|envLocation\(|envCatalog\(|envTarget\(""".r
    val allowed = Seq("plans/EnvironmentView.scala", "state/", "adapter/SparkMaterializer.scala")
    val exempt = Map(
      "GraftContext.scala" -> "base.snapshot(name).orElse(state.latestSnapshot(name))")
    val stream = Files.walk(root)
    val files = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    } finally stream.close()
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val offenders = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      if !allowed.exists(rel.startsWith)
      (line, i) <- Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if reads.findFirstIn(line).isDefined && !exempt.get(rel).exists(line.contains)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
