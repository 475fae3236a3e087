package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** One render path (reference renderer.py:527 QueryRenderer): `render`,
  * lineage, unit tests, standalone audits, embedded models and
  * `plan --diff-rendered` render a model exactly as the evaluator does — with
  * the context's variables and macros and `@this_model` bound. Each test
  * here is a site that once assembled its own render and saw less. */
class RenderPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  /** the sf 0.001 test tables, where TESTDATA.md says they are */
  private val sf = """(?m)^\|\s*0\.001\s*\|\s*`([^`]+?)/?`""".r
    .findFirstMatchIn(java.nio.file.Files.readString(java.nio.file.Paths.get("TESTDATA.md")))
    .map(_.group(1)).getOrElse(sys.error("TESTDATA.md lists no sf 0.001 directory"))
  private val D = 86400000L

  private def newCtx(variables: Map[String, String] = Map.empty) = {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("rp-ws"), concurrency = 2,
      variables = variables)
    ctx.addExternal("raw.orders", s"$sf/orders.parquet")
    ctx
  }

  private def ordersOver(price: Int): Long =
    spark.read.parquet(s"$sf/orders.parquet").where(s"o_totalprice > $price").count()

  private def cli(args: String*): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val code = Main.run(args.toIndexedSeq, spark, new java.io.PrintStream(buf, true))
    (code, buf.toString)
  }

  private def write(dir: String, file: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, file), text)

  test("an EMBEDDED upstream is inlined with the context's variables") {
    val ctx = newCtx(Map("min_price" -> "100000"))
    ctx.addModel(Model("rp.emb_big", SqlBody(
      "SELECT o_orderkey FROM raw.orders WHERE o_totalprice > @min_price"),
      kind = ModelKind.Embedded))
    ctx.addModel(Model("rp.emb_use", SqlBody("SELECT count(*) AS n FROM rp.emb_big")))
    val expected = ordersOver(100000)
    assert(expected > 0)
    assert(ctx.evaluate("rp.emb_use", 0L, D).head.getLong(0) == expected)
    ctx.apply(ctx.plan("prod", 0L, D))
    assert(spark.table("rp.emb_use").head.getLong(0) == expected)
  }

  test("a standalone audit renders with the context's macros") {
    val ctx = newCtx()
    ctx.addMacro("NEGATIVE")(args => s"${args.head} < 0")
    ctx.addModel(Model("rp.sa_orders", SqlBody(
      "SELECT o_orderkey, o_totalprice FROM raw.orders")))
    ctx.addStandaloneAudit(graft.audits.StandaloneAudit("no_negative_price",
      "SELECT * FROM rp.sa_orders WHERE @NEGATIVE(o_totalprice)"))
    ctx.apply(ctx.plan("prod", 0L, D))
    // the macro really reaches the audit: one that flags every row blocks
    ctx.addStandaloneAudit(graft.audits.StandaloneAudit("all_negative_price",
      "SELECT * FROM rp.sa_orders WHERE NOT @NEGATIVE(o_totalprice)"))
    val e = intercept[IllegalStateException](ctx.run("prod", 0L, D))
    assert(e.getMessage.contains("standalone audit all_negative_price failed"), e.getMessage)
  }

  test("ctx.runTests sees the context's variables and macros") {
    val ctx = newCtx(Map("min_price" -> "10"))
    ctx.addMacro("PRICE")(_ => "o_totalprice")
    ctx.addModel(Model("rp.t_big", SqlBody(
      "SELECT o_orderkey, @PRICE() AS p FROM raw.orders WHERE o_totalprice > @min_price")))
    val dir = SparkTestSession.tmpDir("rp-tests")
    write(dir, "t_big.yaml",
      """test_t_big:
        |  model: rp.t_big
        |  inputs:
        |    raw.orders:
        |      rows:
        |        - { o_orderkey: 1, o_totalprice: 5.0 }
        |        - { o_orderkey: 2, o_totalprice: 50.0 }
        |  outputs:
        |    query:
        |      rows:
        |        - { o_orderkey: 2, p: 50.0 }
        |""".stripMargin)
    val results = ctx.loadTests(dir).runTests()
    assert(results.size == 1)
    assert(results.forall(_.failure.isEmpty), results.flatMap(_.failure).mkString)
  }

  test("graft create-test and graft test render with --var variables") {
    val proj = SparkTestSession.tmpDir("rp-cli-test")
    write(proj, "big.sql",
      """MODEL (name rp.cli_big, kind FULL);
        |SELECT o_orderkey, o_totalprice FROM raw.orders WHERE o_totalprice > @min_price
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet",
      "--var", "min_price=100000")
    val tests = SparkTestSession.tmpDir("rp-cli-tests")
    val (c1, o1) = cli(Seq("create-test", "rp.cli_big", "--output", s"$tests/t.yaml",
      "--limit", "200") ++ base: _*)
    assert(c1 == 0, o1)
    // the fixture pins the filtered rows, so the variable was expanded
    val yaml = java.nio.file.Files.readString(java.nio.file.Paths.get(tests, "t.yaml"))
    val expectedRows = yaml.substring(yaml.indexOf("outputs"))
      .split("\n").count(_.trim.startsWith("- o_orderkey:"))
    assert(expectedRows > 0 && expectedRows < 200, yaml)
    val (c2, o2) = cli(Seq("test", "--tests", tests) ++ base: _*)
    assert(c2 == 0 && o2.contains("1/1 tests passed"), o2)
  }

  test("plan --diff-rendered expands --var variables") {
    val proj = SparkTestSession.tmpDir("rp-cli-diff")
    def model(expr: String) = write(proj, "m.sql",
      s"""MODEL (name rp.diffed, kind FULL);
         |SELECT count(*) AS n$expr FROM raw.orders WHERE o_totalprice > @min_price
         |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet",
      "--var", "min_price=100000", "--start", "1995-01-01", "--end", "1995-01-05")
    model("")
    assert(cli(Seq("plan", "prod", "--auto-apply") ++ base: _*)._1 == 0)
    model(", 1 AS extra")
    val (c, out) = cli(Seq("plan", "prod", "--diff-rendered") ++ base: _*)
    assert(c == 0 && out.contains("--- rp.diffed"), out)
    assert(!out.contains("@min_price") && out.contains("o_totalprice > 100000"), out)
  }

  test("render binds @this_model the way evaluate does") {
    val body =
      """SELECT o_orderkey FROM raw.orders WHERE o_totalprice > 100000
        |@IF(@dedupe, AND o_orderkey NOT IN (SELECT o_orderkey FROM @this_model))""".stripMargin
    val off = newCtx(Map("dedupe" -> "0"))
    off.addModel(Model("rp.self", SqlBody(body)))
    val rendered = off.renderSql("rp.self", 0L, D, 0L)
    assert(!rendered.contains("@"), rendered)
    assert(spark.sql(rendered).count() == off.evaluate("rp.self", 0L, D, 0L).count())
    // with the branch on, render names the table evaluate reads
    val on = newCtx(Map("dedupe" -> "1"))
    on.addModel(Model("rp.self", SqlBody(body)))
    val table = on.evaluator.physicalTable(on.snapshotsOf(Seq("rp.self"))("rp.self")).qualified
    assert(on.renderSql("rp.self", 0L, D, 0L).contains(s"FROM $table"))
  }

  test("only the plans layer assembles a render") {
    // the context-free render primitives: outside `plans/` (the one render
    // path) and `macros/` (the engine), only the LSP preview, which has no
    // context, and the oracle entries that test the macro engine use them
    val renderPrimitives = Seq("""Renderer\.render\(""", """Renderer\.evaluate\(""",
      """cachedRender\(""", """new\s+(graft\.macros\.)?MacroEvaluator\s*\(""").map(_.r)
    // reference-to-physical-table resolution: only the evaluator's upstream
    // resolver maps a name to a physical table (display strings, such as
    // explain's `view → table` lines, name no mapping)
    val resolution = Seq("""->.*physicalTable\(""", """tableMappingFor""").map(_.r)
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val allowed = Seq("plans/", "macros/", "lsp/LspServer.scala", "queries/MacroQueries.scala")
    def patternsFor(rel: String) =
      (if (allowed.exists(rel.startsWith)) Nil else renderPrimitives) ++
        (if (rel.startsWith("plans/")) Nil else resolution)
    val stream = java.nio.file.Files.walk(root)
    val files = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    } finally stream.close()
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val offenders = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      patterns = patternsFor(rel)
      if patterns.nonEmpty
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if patterns.exists(_.findFirstIn(line).isDefined)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
