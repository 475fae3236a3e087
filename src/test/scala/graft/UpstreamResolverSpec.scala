package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** One upstream resolver (reference EmbeddedStrategy, evaluator.py:1965):
  * every model reference resolves per batch through
  * `SnapshotEvaluator.upstreams`, from the consumer's own snapshot. Each test
  * here is a site that once resolved references its own way and got it wrong. */
class UpstreamResolverSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val D = 86400000L
  private val day0 = 1704067200000L // 2024-01-01

  /** `n` rows `(id, ts)`, even ids on day 0 and odd ids on day 1. */
  private def source(n: Int): String = {
    val path = SparkTestSession.tmpDir("ur-src") + "/src"
    spark.range(n).selectExpr("id", s"timestamp_millis(${day0}L + (id % 2) * ${D}L + id) AS ts")
      .write.parquet(path)
    path
  }

  private def newCtx(ws: String = SparkTestSession.tmpDir("ur-ws"), durable: Boolean = false) =
    new GraftContext(spark, ws, concurrency = 2, durableState = durable)

  test("an EMBEDDED upstream renders at each batch's interval") {
    val ctx = newCtx()
    ctx.addExternal("ur.src", source(10))
    ctx.addModel(Model("ur.emb_day", SqlBody(
      "SELECT id, ts FROM ur.src WHERE to_date(ts) BETWEEN @start_ds AND @end_ds"),
      kind = ModelKind.Embedded))
    ctx.addModel(Model("ur.emb_inc", SqlBody("SELECT id, ts FROM ur.emb_day"),
      kind = ModelKind.IncrementalByTimeRange("ts", batchSize = Some(1))))
    ctx.apply(ctx.plan("prod", day0, day0 + 2 * D), executionTs = day0 + 2 * D)
    assert(ctx.lastRunReport.count(_._1 == "ur.emb_inc") == 2)
    val byDay = spark.table("ur.emb_inc").selectExpr("CAST(to_date(ts) AS STRING)").collect()
      .groupBy(_.getString(0)).map { case (d, rs) => d -> rs.length }
    assert(byDay == Map("2024-01-01" -> 5, "2024-01-02" -> 5), byDay)
  }

  test("run resolves references from the environment's stored snapshots") {
    val ws = SparkTestSession.tmpDir("ur-durable")
    val src = source(10)
    val first = newCtx(ws, durable = true)
    first.addExternal("ur.src", src)
    first.addModel(Model("ur.st_inc", SqlBody("SELECT id, ts FROM ur.src"),
      kind = ModelKind.IncrementalByTimeRange("ts")))
    first.addModel(Model("ur.st_all", SqlBody("SELECT count(*) AS n FROM ur.st_inc")))
    first.apply(first.plan("prod", day0, day0 + D), executionTs = day0 + D)
    assert(spark.table("ur.st_all").head.getLong(0) == 5)
    // a later context that no longer defines ur.st_inc locally still runs
    // the environment as planned
    val later = newCtx(ws, durable = true)
    later.addExternal("ur.src", src)
    later.addModel(Model("ur.st_all", SqlBody("SELECT count(*) AS n FROM ur.st_inc")))
    later.run("prod", day0, day0 + 2 * D, executionTs = day0 + 2 * D)
    assert(spark.table("ur.st_all").head.getLong(0) == 10)
  }

  test("a standalone audit over an EXTERNAL-kind model reads the registered relation") {
    val ctx = newCtx()
    val schema = SparkTestSession.tmpDir("ur-ext") + "/external_models.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(schema),
      "- name: ur.ext\n  columns:\n    id: bigint\n    ts: timestamp\n")
    ctx.loadExternalModels(schema).addExternal("ur.ext", source(10))
    ctx.addModel(Model("ur.ext_use", SqlBody("SELECT id FROM ur.ext")))
    ctx.addStandaloneAudit(graft.audits.StandaloneAudit("ext_no_negative_id",
      "SELECT * FROM ur.ext WHERE id < 0"))
    ctx.apply(ctx.plan("prod", day0, day0 + D), executionTs = day0 + D)
    // the audit really reads the external: one that flags every row blocks
    ctx.addStandaloneAudit(graft.audits.StandaloneAudit("ext_all_flagged",
      "SELECT * FROM ur.ext WHERE id >= 0"))
    val e = intercept[IllegalStateException](ctx.run("prod", day0, day0 + D, executionTs = day0 + D))
    assert(e.getMessage.contains("standalone audit ext_all_flagged failed"), e.getMessage)
  }

  test("a custom strategy registered after a render is the one apply uses") {
    val ctx = newCtx()
    ctx.addModel(Model("ur.custom", SqlBody("SELECT 1 AS x"), kind = ModelKind.Custom("late")))
    assert(ctx.renderSql("ur.custom", day0, day0 + D).contains("SELECT 1"))
    var calls = 0
    ctx.registerCustomMaterialization("late") { (mat, t, df) => calls += 1; mat.replaceQuery(t, df) }
    ctx.apply(ctx.plan("prod", day0, day0 + D), executionTs = day0 + D)
    assert(calls == 1)
    assert(spark.table("ur.custom").head.getInt(0) == 1)
  }

  test("lint fingerprints each model once") {
    val ctx = newCtx()
    ctx.addExternal("ur.src", source(4))
    val n = 8
    ctx.addModel(Model("ur.lint_0", SqlBody("SELECT id, ts FROM ur.src")))
    (1 until n).foreach(i =>
      ctx.addModel(Model(s"ur.lint_$i", SqlBody(s"SELECT id, ts FROM ur.lint_${i - 1}"))))
    val before = Fingerprint.computed.get()
    ctx.lint()
    assert(Fingerprint.computed.get() - before == n)
  }

  test("ad-hoc audit resolves a registered external as the evaluator does") {
    val ctx = newCtx()
    val src = source(10)
    ctx.addExternal("ur.src", src).addExternal("ur.parent", src)
    ctx.addModel(Model("ur.child", SqlBody("SELECT id FROM ur.src"),
      audits = Seq("relationships" -> Map("column" -> "id", "to" -> "ur.parent", "field" -> "id"))))
    // the evaluator runs the audit at apply (a failure would throw) ...
    ctx.apply(ctx.plan("prod", day0, day0 + D), executionTs = day0 + D)
    // ... and `audit` runs the same one against the environment
    assert(ctx.audit("ur.child") == Map("relationships" -> 0L))
  }
}
