package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.macros.MacroEvaluator

/** Query rendering (reference: sqlmesh/core/renderer.py:527 QueryRenderer.render):
  * macro expansion with interval-bound time variables, then upstream model
  * references swapped for their physical (or environment) tables. The rendered
  * text is Spark SQL — Catalyst does qualify/annotate/simplify for free
  * (SURVEY §4), so render stops at text. This primitive sees no context:
  * every caller that has one renders through [[QueryRenderer]].
  */
object Renderer {

  /** Total render invocations — observability for the render cache (spec
    * asserts repeated cycles don't re-render; reference cache.py hit path). */
  val renders = new java.util.concurrent.atomic.AtomicLong

  /** Replace upstream model names with resolved physical table names.
    * Longest-name-first so `a.b.c` wins over `a.b`. */
  def resolveTables(sql: String, mapping: Map[String, String]): String =
    mapping.toSeq.sortBy(-_._1.length).foldLeft(sql) { case (acc, (from, to)) =>
      acc.replaceAll("(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(from) + "(?![\\w.`])",
        java.util.regex.Matcher.quoteReplacement(to))
    }

  def render(
      model: Model,
      start: Long,
      end: Long,
      execution: Long,
      tableMapping: Map[String, String],
      variables: Map[String, String] = Map.empty,
      thisModel: Option[String] = None,
      schemaOf: String => Seq[(String, String)] = _ => Nil,
      macros: Map[String, Seq[String] => String] = Map.empty,
      columnValues: Option[(String, String, Int) => Seq[String]] = None,
      runQuery: Option[String => (Seq[String], Seq[Seq[Any]])] = None): String = {
    renders.incrementAndGet()
    val body = model.body match {
      case SqlBody(sql) => sql
      case _ => throw new IllegalArgumentException(s"${model.name} is not a SQL model")
    }
    // dbt {{ ref('x') }}: a short name resolves to the unique known model
    // whose last segment matches; full names (and unknowns) pass through
    val refResolver: String => String = name =>
      if (name.contains(".")) name
      else tableMapping.keys.filter(_.split('.').last.equalsIgnoreCase(name)).toList match {
        case one :: Nil => one
        case _          => name
      }
    val evaluator = new MacroEvaluator(start, end, execution, thisModel, variables,
      schemaOf, macros, refResolver, columnValues, runQuery)
    resolveTables(evaluator.render(body), tableMapping)
  }

  /** Live distinct-value lookup for dbt_utils.get_column_values: resolve the
    * relation through the table mapping, then one Spark aggregate — dbt's
    * default ordering (count desc) with a value tie-break for determinism. */
  def catalogColumnValues(spark: SparkSession,
                          mapping: Map[String, String]): Option[(String, String, Int) => Seq[String]] =
    Some { (name, column, max) =>
      val resolved = mapping.getOrElse(name, name)
      spark.sql(s"SELECT CAST($column AS STRING) AS v FROM $resolved " +
          s"WHERE $column IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, v LIMIT $max")
        .collect().toSeq.map(_.getString(0))
    }

  /** Render-time query execution for dbt run_query / statement: resolve
    * model/source names through the table mapping (the body SQL references
    * logical names; physical snapshot tables are what exists), execute, cap
    * rows — run_query feeds jinja control flow, never bulk data; an
    * unbounded macro query materializing a corpus into the DRIVER's render
    * is the failure mode the cap exists for. Cells come back raw (null |
    * Number | Boolean | String) so the jinja literal can keep numerics
    * bare. */
  def catalogRunQuery(spark: SparkSession, mapping: Map[String, String],
                      maxRows: Int = 10000): Option[String => (Seq[String], Seq[Seq[Any]])] =
    Some { sql =>
      val df = spark.sql(resolveTables(sql, mapping)).limit(maxRows + 1)
      val rows = df.collect()
      require(rows.length <= maxRows,
        s"run_query returned more than $maxRows rows — render-time queries " +
          "drive jinja control flow, not bulk data movement")
      (df.schema.fieldNames.toSeq,
        rows.toSeq.map(r => r.toSeq.map {
          case null => null
          case n: java.lang.Number => n
          case b: java.lang.Boolean => b
          case other => other.toString
        }))
    }

  /** Live schema lookup for schema-aware macros (@STAR, @UNION): resolve the
    * model/external name through the table mapping, then ask the catalog.
    * The reference does the same with its `mapping_schema` (renderer.py:
    * 671-685 annotate/qualify against upstream schemas); here Spark IS the
    * catalog, so a zero-row analysis gives the schema for free. */
  def catalogSchemaOf(spark: SparkSession,
                      mapping: Map[String, String]): String => Seq[(String, String)] =
    name => try {
      val resolved = mapping.getOrElse(name, name)
      spark.sql(s"SELECT * FROM $resolved WHERE 1 = 0")
        .schema.fields.toSeq.map(f => f.name -> f.dataType.sql)
    } catch { case _: Exception => Nil }
}

/** The one render path (reference renderer.py:527 QueryRenderer, shared by
  * `render`, `evaluate`, unit tests and audits): every site that turns a
  * model body or a statement into SQL or a frame comes here, so all see the
  * same variables, macros, `@this_model` and catalog introspection. Inputs
  * are live views (vars merged late by dbt are visible); the macro registry's
  * version counter joins the cache key, so redefining a macro invalidates. */
final class QueryRenderer(
    variablesFn: () => Map[String, String] = () => Map.empty,
    macrosFn: () => (Map[String, Seq[String] => String], Long) = () => (Map.empty, 0L)) {

  /** Rendered-SQL cache for this renderer's lifetime (reference
    * snapshot/cache.py) — see [[RenderCache]] for the key/bypass rules. */
  val renderCache = new RenderCache()

  def variables: Map[String, String] = variablesFn()

  /** A SQL body rendered: `@this_model` bound to `thisModel`, catalog
    * introspection over `mapping`, memoized in [[renderCache]] under the
    * snapshot `fingerprint` (None — a unit test's or standalone audit's
    * model, which has no snapshot — renders uncached). */
  def sql(spark: SparkSession, model: Model, fingerprint: Option[String],
          start: Long, end: Long, executionTs: Long, mapping: Map[String, String],
          thisModel: Option[String], vars: Map[String, String] = variables): String = {
    val (macros, macrosVersion) = macrosFn()
    def run = Renderer.render(model, start, end, executionTs, mapping, vars, thisModel,
      Renderer.catalogSchemaOf(spark, mapping), macros,
      Renderer.catalogColumnValues(spark, mapping), Renderer.catalogRunQuery(spark, mapping))
    val key = (fingerprint, model.body) match {
      case (Some(fp), SqlBody(body)) => RenderCache.key(fp, body, start, end, executionTs,
        mapping, vars, thisModel, macros.keys, macrosVersion)
      case _ => None
    }
    key.fold(run)(renderCache.getOrElseUpdate(_)(run))
  }

  /** The model's query as a frame, whatever its body — the one body
    * dispatch: SQL through [[sql]] (`vars` is read only there), Scala bodies
    * called, seeds read with the kind's CSV options. */
  def frame(spark: SparkSession, model: Model, fingerprint: Option[String],
            start: Long, end: Long, executionTs: Long, mapping: Map[String, String],
            thisModel: Option[String], vars: => Map[String, String] = variables): DataFrame =
    model.body match {
      case SqlBody(_) =>
        spark.sql(sql(spark, model, fingerprint, start, end, executionTs, mapping, thisModel, vars))
      case ScalaBody(fn) => fn(spark, mapping, start, end)
      case SeedBody(path) =>
        val opts = model.kind match {
          case k: ModelKind.Seed => k.options
          case _ => Map.empty[String, String]
        }
        spark.read.option("header", "true").option("inferSchema", "true")
          .options(opts).csv(path)
    }

  /** A statement — pre/post statements, merge expressions, on_virtual_update,
    * before_all/after_all — macro-rendered the same way, then its model names
    * resolved through `mapping`. */
  def statement(statement: String, interval: Interval, executionTs: Long,
                mapping: Map[String, String], thisModel: Option[String]): String =
    Renderer.resolveTables(new MacroEvaluator(interval.start, interval.end,
      executionTs, thisModel, variables, registry = macrosFn()._1).render(statement), mapping)
}
