package graft.testing

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{Model, SqlBody}
import graft.plans.QueryRenderer

/** The reference's YAML model-test format (sqlmesh/core/test/definition.py;
  * example: examples/sushi/tests/test_customer_revenue_by_day.yaml), parsed
  * with the YAML support already on the Spark classpath and executed through
  * [[ModelTest]]:
  *
  * {{{
  * test_revenue:
  *   model: mart.revenue
  *   inputs:
  *     raw.orders:
  *       rows:
  *         - { cust: 1, amount: 10.5 }
  *         - { cust: 1, amount: 4.5 }
  *   outputs:
  *     query:
  *       rows:
  *         - { cust: 1, total: 15.0 }
  *     ctes:                      # optional per-CTE expectations
  *       filtered:
  *         rows: [ { cust: 1 } ]
  *   vars:                        # optional interval bounds
  *     start: 2024-01-01
  *     end: 2024-01-02
  * }}}
  *
  * Rows may be given under `rows:` or directly as a list. Column types are
  * inferred per column from the first non-null value (long / double / boolean
  * / string), mirroring the reference's pandas coercion.
  */
object YamlModelTest {

  private val mapper = new ObjectMapper(new YAMLFactory())

  final case class Result(name: String, failure: Option[String])

  /** Run every test in a YAML document against the given model registry.
    * Returns one Result per test; callers assert no failures. A
    * `nameFilter` selects ONE test before anything executes — a
    * single-test run never pays for (or triggers the side effects of) its
    * sibling tests. Queries render through `renderer` ([[ModelTest.run]]). */
  def runAll(spark: SparkSession, yaml: String,
             models: Map[String, Model],
             nameFilter: Option[String] = None,
             renderer: QueryRenderer = new QueryRenderer()): Seq[Result] = {
    val root = mapper.readTree(yaml)
    root.properties().asScala.toSeq
      .filter(e => nameFilter.forall(_ == e.getKey))
      .map { e =>
        val (name, spec) = (e.getKey, e.getValue)
        try { runOne(spark, name, spec, models, renderer); Result(name, None) }
        catch { case ex: Throwable => Result(name, Some(ex.getMessage)) }
      }
  }

  /** The models a YAML document declares tests FOR (each test's `model:`
    * field) — the `nomissingunittest` lint's coverage registry; parsing
    * only, nothing executes. */
  def modelsUnderTest(yaml: String): Set[String] = {
    val root = mapper.readTree(yaml)
    root.properties().asScala.flatMap(e =>
      Option(e.getValue.path("model").asText(null))).toSet
  }

  def runFile(spark: SparkSession, path: String,
              models: Map[String, Model],
              nameFilter: Option[String] = None,
              renderer: QueryRenderer = new QueryRenderer()): Seq[Result] =
    runAll(spark, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"), models, nameFilter, renderer)

  private def runOne(spark: SparkSession, name: String, spec: JsonNode,
                     models: Map[String, Model], renderer: QueryRenderer): Unit = {
    val modelName = spec.path("model").asText()
    val model = models.getOrElse(modelName,
      // model may be defined inline for self-contained fixtures
      Model(modelName, SqlBody(Option(spec.get("query")).map(_.asText()).getOrElse(
        throw new IllegalArgumentException(s"$name: unknown model $modelName and no inline query")))))

    val inputs = spec.path("inputs").properties().asScala.map { t =>
      t.getKey -> rowsToDf(spark, rowsOf(t.getValue))
    }.toMap

    val expected = rowsOf(spec.path("outputs").path("query")).map(nodeToMap)
    val ctes = Option(spec.path("outputs").get("ctes")).map {
      _.properties().asScala.map(c => c.getKey -> rowsOf(c.getValue).map(nodeToMap)).toMap
    }.getOrElse(Map.empty)

    val vars = spec.path("vars")
    def dayMs(field: String, dflt: Long): Long =
      Option(vars.get(field)).map(v =>
        java.time.LocalDate.parse(v.asText()).toEpochDay * 86400000L).getOrElse(dflt)

    ModelTest.run(spark, ModelTest.Case(model, inputs, expected,
      start = dayMs("start", 0L), end = dayMs("end", 86400000L),
      executionTs = dayMs("execution_time", 0L),
      partial = Option(spec.get("partial")).exists(_.asBoolean()),
      expectedCtes = ctes), renderer)
  }

  /** Auto-generate a YAML unit test from LIVE data (reference `sqlmesh
    * create_test`, cli/main.py:677): sample up to `limit` rows from each
    * upstream relation, execute the model's rendered query on exactly those
    * rows, and emit the YAML fixture whose expectations match — a regression
    * pin of today's behavior that [[runAll]] replays hermetically. */
  def fromLive(spark: SparkSession, testName: String, model: Model,
               resolve: String => DataFrame, limit: Int = 10,
               start: Long = 0L, end: Long = 86400000L,
               executionTs: Long = 0L,
               renderer: QueryRenderer = new QueryRenderer()): String = {
    val deps = model.references.toSeq.sorted
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val mapping = deps.map { d =>
      val view = s"__live_${d.replace('.', '_')}_$suffix"
      d -> view
    }.toMap
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val inputRows = deps.map { d =>
        // cache: each sampled input is read twice (the rendered query and
        // the YAML rows dump); released in the finally — a CacheManager
        // persist outlives the frame otherwise
        val df = resolve(d).limit(limit).cache()
        cached += df
        df.createOrReplaceTempView(mapping(d))
        d -> df
      }
      val out = renderer.frame(spark, model, None, start, end, executionTs, mapping,
        Some(model.name))

      val root = mapper.createObjectNode()
      val test = root.putObject(testName)
      test.put("model", model.name)
      val inputs = test.putObject("inputs")
      inputRows.foreach { case (d, df) =>
        dfToRows(df, inputs.putObject(d).putArray("rows"))
      }
      dfToRows(out, test.putObject("outputs").putObject("query").putArray("rows"))
      mapper.writeValueAsString(root)
    } finally {
      mapping.values.foreach(spark.catalog.dropTempView(_))
      cached.foreach(_.unpersist(blocking = false))
    }
  }

  /** Serialize a DataFrame's rows into a YAML `rows:` array, typed the way
    * [[rowsToDf]] reads them back (long/double/boolean/string). */
  private def dfToRows(df: DataFrame,
                       arr: com.fasterxml.jackson.databind.node.ArrayNode): Unit = {
    val cols = df.columns
    df.collect().foreach { r =>
      val o = arr.addObject()
      cols.zipWithIndex.foreach { case (c, i) =>
        r.get(i) match {
          case null => o.putNull(c)
          case b: java.lang.Boolean => o.put(c, b.booleanValue())
          case n: java.lang.Byte => o.put(c, n.longValue())
          case n: java.lang.Short => o.put(c, n.longValue())
          case n: java.lang.Integer => o.put(c, n.longValue())
          case n: java.lang.Long => o.put(c, n.longValue())
          case n: java.lang.Float => o.put(c, n.doubleValue())
          case n: java.lang.Double => o.put(c, n.doubleValue())
          case n: java.math.BigDecimal => o.put(c, n.doubleValue())
          // ISO instant matches ModelTest.normalize's comparison form; the
          // replayed fixture input becomes a string column (same lossy
          // coercion the reference's create_test applies)
          case t: java.sql.Timestamp => o.put(c, t.toInstant.toString)
          case other => o.put(c, other.toString)
        }
      }
    }
  }

  private def rowsOf(n: JsonNode): Seq[JsonNode] = {
    val arr = if (n.has("rows")) n.path("rows") else n
    arr.elements().asScala.toSeq
  }

  private def nodeToMap(n: JsonNode): Map[String, Any] =
    n.properties().asScala.map(e => e.getKey -> valueOf(e.getValue)).toMap

  private def valueOf(v: JsonNode): Any =
    if (v == null || v.isNull) null
    else if (v.isIntegralNumber) v.asLong()
    else if (v.isFloatingPointNumber) v.asDouble()
    else if (v.isBoolean) v.asBoolean()
    else v.asText()

  /** Infer a per-column type from the first non-null value and build rows. */
  private def rowsToDf(spark: SparkSession, rows: Seq[JsonNode]): DataFrame = {
    require(rows.nonEmpty, "fixture input needs at least one row")
    val cols = rows.flatMap(_.properties().asScala.map(_.getKey)).distinct
    def sparkType(a: Any): DataType = a match {
      case _: java.lang.Long => LongType
      case _: java.lang.Double => DoubleType
      case _: java.lang.Boolean => BooleanType
      case _ => StringType
    }
    val colTypes = cols.map { c =>
      val first = rows.iterator.map(r => valueOf(r.get(c))).find(_ != null)
      c -> first.map(sparkType).getOrElse(StringType)
    }
    val schema = StructType(colTypes.map { case (c, t) => StructField(c, t) })
    val data = rows.map { r =>
      Row.fromSeq(colTypes.map { case (c, t) =>
        valueOf(r.get(c)) match {
          case null => null
          case l: java.lang.Long if t == DoubleType => l.doubleValue(): java.lang.Double
          case other => other
        }
      })
    }
    spark.createDataFrame(data.asJava, schema)
  }
}
