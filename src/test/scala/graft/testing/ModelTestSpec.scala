package graft.testing

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core._
import graft.linter.Linter

class ModelTestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fixture inputs drive the rendered query; row sets compare coerced") {
    val m = Model("mart.rev",
      SqlBody(
        """WITH filtered AS (
          |  SELECT * FROM raw.orders WHERE status = 'OK'
          |)
          |SELECT cust, sum(amount) AS total FROM filtered GROUP BY cust""".stripMargin))
    val inputs = Map("raw.orders" -> Seq(
      (1, "OK", 10.5), (1, "OK", 4.5), (2, "BAD", 99.0), (2, "OK", 7.0))
      .toDF("cust", "status", "amount"))
    ModelTest.run(spark, ModelTest.Case(m, inputs,
      expected = Seq(Map("cust" -> 1, "total" -> 15.0), Map("cust" -> 2, "total" -> 7.0)),
      expectedCtes = Map("filtered" -> Seq(
        Map("cust" -> 1, "status" -> "OK", "amount" -> 10.5),
        Map("cust" -> 1, "status" -> "OK", "amount" -> 4.5),
        Map("cust" -> 2, "status" -> "OK", "amount" -> 7.0)))))
  }

  test("mismatches raise a readable failure") {
    val m = Model("mart.bad", SqlBody("SELECT count(*) AS n FROM raw.t"))
    val inputs = Map("raw.t" -> Seq(1, 2, 3).toDF("x"))
    val e = intercept[ModelTest.Failure] {
      ModelTest.run(spark, ModelTest.Case(m, inputs, expected = Seq(Map("n" -> 99))))
    }
    assert(e.getMessage.contains("expected") && e.getMessage.contains("99"))
  }

  test("partial rows check only the expected columns") {
    val m = Model("mart.p", SqlBody("SELECT x, x * 2 AS y, x * 3 AS z FROM raw.t"))
    val inputs = Map("raw.t" -> Seq(1).toDF("x"))
    ModelTest.run(spark, ModelTest.Case(m, inputs,
      expected = Seq(Map("x" -> 1, "y" -> 2)), partial = true))
  }

  test("time variables render from the case interval") {
    val m = Model("mart.tv", SqlBody("SELECT CAST(@start_ds AS STRING) AS s FROM raw.t LIMIT 1"))
    val inputs = Map("raw.t" -> Seq(1).toDF("x"))
    ModelTest.run(spark, ModelTest.Case(m, inputs,
      expected = Seq(Map("s" -> "1995-01-01")),
      start = java.time.LocalDate.parse("1995-01-01").toEpochDay * 86400000L,
      end = java.time.LocalDate.parse("1995-01-02").toEpochDay * 86400000L))
  }

  test("YAML fixtures run the reference test format end-to-end") {
    val m = Model("mart.rev",
      SqlBody(
        """WITH ok AS (SELECT * FROM raw.orders WHERE status = 'OK')
          |SELECT cust, sum(amount) AS total FROM ok GROUP BY cust""".stripMargin))
    val yaml =
      """test_revenue_ok:
        |  model: mart.rev
        |  inputs:
        |    raw.orders:
        |      rows:
        |        - { cust: 1, status: OK, amount: 10.5 }
        |        - { cust: 1, status: OK, amount: 4.5 }
        |        - { cust: 2, status: BAD, amount: 99.0 }
        |  outputs:
        |    query:
        |      rows:
        |        - { cust: 1, total: 15.0 }
        |    ctes:
        |      ok:
        |        rows:
        |          - { cust: 1, status: OK, amount: 10.5 }
        |          - { cust: 1, status: OK, amount: 4.5 }
        |test_revenue_mismatch:
        |  model: mart.rev
        |  inputs:
        |    raw.orders:
        |      rows:
        |        - { cust: 1, status: OK, amount: 1.0 }
        |  outputs:
        |    query:
        |      rows:
        |        - { cust: 1, total: 999.0 }
        |test_inline_model:
        |  model: mart.inline
        |  query: SELECT count(*) AS n FROM raw.t
        |  inputs:
        |    raw.t:
        |      rows: [ { x: 1 }, { x: 2 } ]
        |  outputs:
        |    query:
        |      rows: [ { n: 2 } ]
        |""".stripMargin
    val results = YamlModelTest.runAll(spark, yaml, Map("mart.rev" -> m))
    val byName = results.map(r => r.name -> r.failure).toMap
    assert(byName("test_revenue_ok").isEmpty)
    assert(byName("test_inline_model").isEmpty)
    assert(byName("test_revenue_mismatch").exists(_.contains("999")))
  }

  test("linter flags select-star, missing audits, unfiltered incrementals") {
    val starModel = Model("m.star", SqlBody("SELECT * FROM raw.t"))
    val noAudit = Model("m.na", SqlBody("SELECT 1 AS x"), kind = ModelKind.Full)
    val incNoFilter = Model("m.inc", SqlBody("SELECT a, b FROM raw.t"),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "a"))
    val clean = Model("m.ok", SqlBody("SELECT a FROM raw.t WHERE a BETWEEN @start_dt AND @end_dt"),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "a"),
      audits = Seq("not_null" -> Map("columns" -> "a")), owner = Some("me"))

    val vs = Linter.lint(Seq(starModel, noAudit, incNoFilter, clean))
    val byRule = vs.groupBy(_.rule).view.mapValues(_.map(_.model).toSet).toMap
    assert(byRule("noselectstar") == Set("m.star"))
    assert(byRule("nomissingaudits").contains("m.na"))
    assert(byRule("incrementalmustfiltertime") == Set("m.inc"))
    assert(!vs.exists(_.model == "m.ok"))
    intercept[IllegalStateException](Linter.enforce(Seq(starModel)))
    Linter.enforce(Seq(clean)) // no blocking violations
  }

  test("row sets compare regardless of the key order of expected rows") {
    val m = Model("mart.pairs", SqlBody("SELECT a, b FROM raw.pairs"))
    val inputs = Map("raw.pairs" -> Seq((1, 2), (3, 0)).toDF("a", "b"))
    // fixture rows parsed from YAML arrive with an arbitrary key order
    ModelTest.run(spark, ModelTest.Case(m, inputs,
      expected = Seq(Map("b" -> 2, "a" -> 1), Map("a" -> 3, "b" -> 0))))
  }
}
