package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** What the model graph decides inside a context: plan's restatement
  * cascade and the docs page's lineage columns. Plans only; nothing is
  * applied. */
class ModelDagPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val D = 86400000L

  private def sqlModel(name: String, sql: String) = Model(name, SqlBody(sql))

  test("a restatement covers the windows of every restated parent") {
    // a → b → b2 → c and d → c: c is one hop from d but three from a, and
    // must re-run both restated windows, not only the first one to reach it
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("dag-cascade"))
    ctx.addModel(sqlModel("dc.a", "SELECT 1 AS x"))
    ctx.addModel(sqlModel("dc.b", "SELECT x FROM dc.a"))
    ctx.addModel(sqlModel("dc.b2", "SELECT x FROM dc.b"))
    ctx.addModel(sqlModel("dc.d", "SELECT 1 AS x"))
    ctx.addModel(sqlModel("dc.c", "SELECT x FROM dc.b2 UNION ALL SELECT x FROM dc.d"))
    val p = ctx.plan("prod", 0L, 10 * D,
      restate = Map("dc.a" -> Interval(1 * D, 3 * D), "dc.d" -> Interval(5 * D, 7 * D)))
    assert(p.restatements("dc.b2") == Interval(1 * D, 3 * D))
    assert(p.restatements("dc.c") == Interval(1 * D, 7 * D))
    assert(p.restatements.keySet == Set("dc.a", "dc.b", "dc.b2", "dc.c", "dc.d"))
  }

  test("docs columns: externals and roots first, each model past its deepest upstream") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("dag-docs"))
    ctx.addModel(sqlModel("dd.root", "SELECT 1 AS x"))
    ctx.addModel(sqlModel("dd.src", "SELECT x FROM raw.ext"))
    ctx.addModel(sqlModel("dd.l", "SELECT x FROM dd.src"))
    ctx.addModel(sqlModel("dd.r", "SELECT s.x FROM dd.src s JOIN dd.root r ON s.x = r.x"))
    ctx.addModel(sqlModel("dd.deep", "SELECT x FROM dd.l"))
    ctx.addModel(sqlModel("dd.sink",
      "SELECT d.x FROM dd.deep d JOIN dd.r r ON d.x = r.x JOIN raw.other o ON o.x = d.x"))
    val html = graft.docs.DocsGenerator.html(ctx)
    // a node is a box at x = 10 + column * 270, labelled with its name
    val column = """<g><rect x="(\d+)" y="\d+"[^>]*/><text[^>]*>([^<]+)</text>""".r
      .findAllMatchIn(html).map(g => g.group(2) -> (g.group(1).toInt - 10) / 270).toMap
    assert(column == Map(
      "raw.ext" -> 0, "raw.other" -> 0, "dd.root" -> 0,
      "dd.src" -> 1,
      "dd.l" -> 2, "dd.r" -> 2,
      "dd.deep" -> 3,
      "dd.sink" -> 4))
  }

  test("a model that reads its own table plans, lints and traces lineage") {
    // `SELECT … FROM sr.a` inside sr.a (a self-reading incremental model, say):
    // the self-reference is no parent edge, so fingerprinting terminates
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("dag-self"))
    ctx.addModel(sqlModel("sr.src", "SELECT 1 AS id"))
    ctx.addModel(sqlModel("sr.a", "SELECT id FROM sr.src UNION ALL SELECT id FROM sr.a WHERE id > 1"))
    val p = ctx.plan("prod", 0L, D)
    assert(p.added.map(_.model.name).toSet == Set("sr.src", "sr.a"))
    assert(p.added.find(_.model.name == "sr.a").get.parents.map(_.name) == Seq("sr.src"))
    assert(!ctx.lint().exists(_.rule == "nomissingexternalmodels"))
    // lineage analyzes against the physical objects; stand them up by hand
    val snaps = ctx.snapshotsOf(Seq("sr.src", "sr.a"))
    spark.sql("CREATE SCHEMA IF NOT EXISTS graft__sr")
    snaps.values.foreach(s => spark.sql(
      s"CREATE OR REPLACE VIEW ${ctx.evaluator.physicalTable(s).qualified} AS SELECT 1 AS id"))
    assert(ctx.columnLineage("sr.a") == Map("id" -> Set("sr.src.id", "sr.a.id")))
  }
}
