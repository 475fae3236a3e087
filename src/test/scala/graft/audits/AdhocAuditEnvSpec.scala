package graft.audits

import org.scalatest.funsuite.AnyFunSuite
import graft._
import graft.core._

/** The ad-hoc `audit` verb must resolve audit args (e.g. `relationships`
  * `to:`) against the SAME environment it audits: a dev child checked
  * against the PROD parent would report phantom violations for every key a
  * dev plan legitimately added to both sides. Mirrors the evaluator's
  * resolvedArgs behavior (reference cli/main.py:783 audit; dbt
  * relationships test). */
class AdhocAuditEnvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val D = 86400000L

  test("dev relationships audit checks the dev parent, not prod's") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws-audit-env"))
    def parent(keys: Seq[Int]) = Model("mart.aud_parent",
      SqlBody(s"SELECT * FROM VALUES ${keys.map(k => s"($k)").mkString(",")} AS t(id)"),
      kind = ModelKind.Full)
    def child(keys: Seq[Int]) = Model("mart.aud_child",
      SqlBody(s"SELECT * FROM VALUES ${keys.map(k => s"($k)").mkString(",")} AS t(pid)"),
      kind = ModelKind.Full,
      audits = Seq("relationships" ->
        Map("column" -> "pid", "field" -> "id", "to" -> "mart.aud_parent")))

    ctx.addModel(parent(Seq(1, 2)))
    ctx.addModel(child(Seq(1, 2)))
    ctx.apply(ctx.plan("prod", 0L, D))
    assert(ctx.audit("mart.aud_child", "prod") == Map("relationships" -> 0L))

    // dev adds key 3 to BOTH parent and child
    ctx.addModel(parent(Seq(1, 2, 3)))
    ctx.addModel(child(Seq(1, 2, 3)))
    ctx.apply(ctx.plan("dev", 0L, D))

    // against the dev parent: consistent → 0 violations. (The old unresolved
    // behavior read `mart.aud_parent` = the prod view and counted pid=3.)
    assert(ctx.audit("mart.aud_child", "dev") == Map("relationships" -> 0L))
    // prod stayed consistent too, and still lacks key 3
    assert(ctx.audit("mart.aud_child", "prod") == Map("relationships" -> 0L))
    assert(spark.table("mart.aud_parent").count() == 2)
  }

  test("bounds AND the interval onto an audit's own condition") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws-audit-cond"))
    val day0 = 788918400000L // 1995-01-01
    // (id, d, v): a NULL v on day 0 the user condition excludes, one on day 1 it keeps
    ctx.addModel(Model("mart.aud_cond", SqlBody(
      """SELECT id, CAST(d AS DATE) AS d, v FROM VALUES
        |  (1, '1995-01-01', NULL), (2, '1995-01-01', 5), (3, '1995-01-02', NULL)
        |  AS t(id, d, v) WHERE CAST(d AS DATE) BETWEEN @start_dt AND @end_dt""".stripMargin),
      kind = ModelKind.IncrementalByTimeRange("d"),
      audits = Seq("not_null_non_blocking" -> Map("columns" -> "v", "condition" -> "id > 1"))))
    ctx.apply(ctx.plan("prod", day0, day0 + 2 * D))
    val audit = "not_null_non_blocking"
    assert(ctx.audit("mart.aud_cond") == Map(audit -> 1L))
    assert(ctx.audit("mart.aud_cond", start = day0, end = day0 + D) == Map(audit -> 0L))
    assert(ctx.audit("mart.aud_cond", start = day0, end = day0 + 2 * D) == Map(audit -> 1L))
  }
}
