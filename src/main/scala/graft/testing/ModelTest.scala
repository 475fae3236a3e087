package graft.testing

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.core._
import graft.plans.QueryRenderer

/** Model unit tests (reference: sqlmesh/core/test/definition.py:447-571
  * `ModelTest` — YAML `inputs:` rows per upstream table, `outputs:` rows for
  * the query and optionally each CTE; runner core/test/runner.py:43).
  *
  * Ours is the same contract as a Scala fixture API: inputs are small inline
  * row sets registered as temp views, the model's rendered query runs on them
  * (Spark itself is the "testing engine" — no second dialect), and results
  * compare row-wise with type coercion. `partial = true` checks only the
  * expected columns, mirroring the reference's partial rows support.
  */
object ModelTest {

  final case class Failure(message: String) extends AssertionError(message)

  final case class Case(
      model: Model,
      inputs: Map[String, DataFrame],
      expected: Seq[Map[String, Any]],
      start: Long = 0L,
      end: Long = 86400000L,
      executionTs: Long = 0L,
      variables: Map[String, String] = Map.empty,
      partial: Boolean = false,
      /** expected rows per CTE name (reference: outputs.ctes) */
      expectedCtes: Map[String, Seq[Map[String, Any]]] = Map.empty)

  /** Run one test case; throws [[Failure]] with a readable diff on mismatch.
    * Renders through a context's `renderer` (its variables under the case's,
    * its macros); `@this_model` is the model, i.e. its fixture if given. */
  def run(spark: SparkSession, c: Case, renderer: QueryRenderer = new QueryRenderer()): Unit = {
    // register inputs as uniquely-suffixed temp views and map references
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val mapping = c.inputs.map { case (name, df) =>
      val view = s"__fixture_${name.replace('.', '_')}_$suffix"
      df.createOrReplaceTempView(view)
      name -> view
    }
    val vars = renderer.variables ++ c.variables
    try {
      val df = renderer.frame(spark, c.model, None, c.start, c.end, c.executionTs,
        mapping, Some(c.model.name), vars)
      compare(s"query of ${c.model.name}", df, c.expected, c.partial)
      // CTE outputs: wrap the rendered SQL selecting the CTE by name
      c.expectedCtes.foreach { case (cte, rows) =>
        val sql = renderer.sql(spark, c.model, None, c.start, c.end, c.executionTs,
          mapping, Some(c.model.name), vars)
        val probe = spark.sql(replaceFinalSelect(sql, cte))
        compare(s"cte $cte of ${c.model.name}", probe, rows, c.partial)
      }
    } finally mapping.values.foreach(spark.catalog.dropTempView(_))
  }

  /** Swap the main SELECT of a WITH query for `SELECT * FROM <cte>`
    * (test/definition.py renders each CTE the same way). */
  private[testing] def replaceFinalSelect(sql: String, cte: String): String = {
    val s = sql.trim
    // find the main SELECT: first top-level `select` outside parens
    var i = 0; var depth = 0; var inStr = false; var mainAt = -1
    val lower = s.toLowerCase
    while (i < s.length && mainAt < 0) {
      val ch = s.charAt(i)
      if (ch == '\'') { inStr = !inStr; i += 1 }
      else if (inStr) i += 1
      else if (ch == '(') { depth += 1; i += 1 }
      else if (ch == ')') { depth -= 1; i += 1 }
      else if (depth == 0 && lower.regionMatches(i, "select", 0, 6) &&
        (i == 0 || !s.charAt(i - 1).isLetterOrDigit)) mainAt = i
      else i += 1
    }
    require(mainAt >= 0, s"no main SELECT found in: $sql")
    s.substring(0, mainAt) + s"SELECT * FROM $cte"
  }

  private def compare(what: String, df: DataFrame, expected: Seq[Map[String, Any]],
                      partial: Boolean): Unit = {
    val cols =
      if (partial) df.columns.filter(expected.headOption.getOrElse(Map.empty).keySet)
      else df.columns
    val actual = df.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().map(rowToMap(cols)).toSeq
    val exp = expected.map(_.filter { case (k, _) => cols.contains(k) })
    // rows sort by their sorted entries: a map's own toString follows its
    // key order, which differs between fixture rows and result rows
    val normA = actual.map(normalize).sortBy(_.toSeq.sorted.toString)
    val normE = exp.map(normalize).sortBy(_.toSeq.sorted.toString)
    if (normA != normE)
      throw Failure(
        s"""$what mismatch
           |expected: ${normE.mkString("; ")}
           |actual:   ${normA.mkString("; ")}""".stripMargin)
  }

  private def rowToMap(cols: Seq[String])(r: Row): Map[String, Any] =
    cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap

  /** Type-coercing normalization (test/definition.py pandas compare with
    * coercion): numbers to BigDecimal text, timestamps/dates to ISO strings. */
  private def normalize(m: Map[String, Any]): Map[String, String] =
    m.map { case (k, v) =>
      k -> (v match {
        case null => "null"
        case d: java.sql.Timestamp => d.toInstant.toString
        case d: java.sql.Date => d.toString
        case n: java.lang.Number =>
          val bd = BigDecimal(n.toString)
          if (bd.isWhole) bd.toBigInt.toString else bd.bigDecimal.stripTrailingZeros.toPlainString
        case other => other.toString
      })
    }
}
