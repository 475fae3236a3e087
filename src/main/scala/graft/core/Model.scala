package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A model: named query + metadata — the reference's `_Model`/`SqlModel`/
  * `PythonModel`/`SeedModel` (sqlmesh/core/model/definition.py:99,1353,1646,1876).
  *
  * The body is either Spark SQL (Plane A runs natively on Catalyst) or a Scala
  * function producing a DataFrame (the reference's Python-model analog).
  */
sealed trait ModelBody
final case class SqlBody(sql: String) extends ModelBody
/** (spark, resolved upstream tables, start_ms, end_ms) => DataFrame */
final case class ScalaBody(fn: (SparkSession, Map[String, String], Long, Long) => DataFrame)
    extends ModelBody
final case class SeedBody(csvPath: String) extends ModelBody

final case class Model(
    name: String,                       // fully-qualified "schema.table"
    body: ModelBody,
    kind: ModelKind = ModelKind.Full,
    cron: String = "@daily",
    /** IANA zone the cron's wall-clock fields fire in (reference node.py:293
      * `cron_tz`; default UTC). Metadata, not data — changing it never
      * triggers a backfill, matching the reference's metadata hash. */
    cronTz: Option[String] = None,
    /** explicit interval unit (reference node.py:294 interval_unit_): how
      * finely intervals are sliced, overriding the cron-derived cadence. May
      * be finer than the cron (an @daily model backfilled hour-by-hour),
      * never coarser. Part of the data hash (definition.py:1139). */
    intervalUnitName: Option[String] = None,
    start: Option[Long] = None,         // default backfill start (epoch ms)
    dependsOn: Set[String] = Set.empty, // explicit upstream names (else extracted)
    grains: Seq[String] = Nil,
    /** non-unique entity references (reference `references` model property,
      * core/reference.py:15): foreign-entity keys this model carries; shared
      * names with other models' grains define join paths (ReferenceGraph). */
    entityReferences: Seq[String] = Nil,
    audits: Seq[(String, Map[String, String])] = Nil, // (audit name, args)
    description: Option[String] = None,
    owner: Option[String] = None,
    tags: Seq[String] = Nil,
    storageFormat: String = "parquet",
    partitionedBy: Seq[String] = Nil,
    /** clustered_by (reference model prop → mixins.py:84): rows co-located
      * and sorted by these columns within each written file, so downstream
      * joins/filters on them hit fewer, sorted row groups. */
    clusteredBy: Seq[String] = Nil,
    preStatements: Seq[String] = Nil,
    postStatements: Seq[String] = Nil,
    /** statements executed after the virtual-layer update (promote), with
      * @this_model resolving to the environment VIEW, not the physical table
      * (reference on_virtual_update: model/definition.py:158,1433, executed
      * snapshot/evaluator.py:1284). Metadata-only: editing them never
      * triggers a backfill (definition.py:2620). */
    onVirtualUpdate: Seq[String] = Nil,
    allowPartials: Boolean = false,
    /** declared output schema contract (reference `columns (...)`,
      * model/definition.py columns_to_types): when present, every insert is
      * cast/projected to exactly these columns — a rename or type drift in
      * the body fails loudly instead of silently changing the table. */
    columns: Seq[(String, String)] = Nil,
    /** forward-only migration guard (reference on_destructive_change):
      * "error" (default) aborts a migration that drops/narrows columns,
      * "warn" prints and proceeds, "allow" is silent. */
    onDestructiveChange: String = "error",
    /** forward-only additive-migration guard (reference OnAdditiveChange,
      * kind.py:220 via meta.py:618): "allow" (default) applies column adds /
      * widenings in place, "warn" prints, "error" aborts, "ignore" migrates
      * WITHOUT the additive ops (the new columns simply don't appear). */
    onAdditiveChange: String = "allow",
    /** arbitrary version-bust string (reference `stamp`, meta.py:131 /
      * definition.py:1135): changing it changes the DATA hash — a new
      * version and physical table without touching the query. */
    stamp: Option[String] = None,
    /** physical-table write options (reference physical_properties,
      * meta.py:107; data hash per definition.py:1148). On parquet these pass
      * straight to the DataFrameWriter — e.g. `compression = 'zstd'`, a real
      * storage/scan-cost lever at 100 TB. */
    physicalProperties: Map[String, String] = Map.empty,
    /** per-evaluation Spark session confs (reference session_properties,
      * meta.py:109; metadata — definition.py's data hash excludes them), set
      * around this model's evaluation and restored after — e.g. a per-model
      * `spark.sql.shuffle.partitions`. */
    sessionProperties: Map[String, String] = Map.empty,
    /** environment-view DDL properties (reference virtual_properties,
      * meta.py:108; metadata) — applied as TBLPROPERTIES on promote. */
    virtualProperties: Map[String, String] = Map.empty,
    /** disabled models are skipped at load (reference `enabled`,
      * meta.py:112) — kept out of plans, never materialized. */
    enabled: Boolean = true,
    /** per-model linter opt-outs (reference `ignored_rules` model property,
      * linter/definition.py:63): these rules never report for THIS model.
      * Lint metadata only — excluded from both hashes. */
    ignoredRules: Set[String] = Set.empty,
    /** absolute path of the file this model was loaded from (reference
      * `_path` on Node): selector metadata only — `git:<branch>` selections
      * match models whose file is in the repo's changed set. Excluded from
      * both hashes (moving a file is never a data change). */
    sourcePath: Option[String] = None) {

  require(name.nonEmpty)
  def schemaName: String = name.split('.').dropRight(1).mkString(".") match {
    case "" => "default"; case s => s
  }
  def tableName: String = name.split('.').last
  def intervalUnit: IntervalUnit = intervalUnitName match {
    case Some(n) =>
      val u = IntervalUnit.fromName(n)
      val cronUnit = IntervalUnit.fromCron(cron)
      require(u.approxMillis <= cronUnit.approxMillis,
        s"$name: interval_unit '${u.name}' is coarser than the cron cadence '${cronUnit.name}' " +
          "(reference node.py: interval unit may only be equal or finer)")
      u
    case None => IntervalUnit.fromCron(cron)
  }

  /** Upstream model/table references: declared, plus extracted from SQL bodies.
    * Extraction mirrors `d.find_tables` (renderer.py:607) at the level we need:
    * FROM/JOIN identifiers that look like qualified names. */
  lazy val references: Set[String] = {
    val fromBody = body match {
      case SqlBody(sql) => dependsOn ++ Model.extractTables(sql)
      case _            => dependsOn
    }
    // audit args can reference OTHER relations (dbt `relationships` `to:`) —
    // those are real dependencies: they must resolve through the same table
    // mapping as the body, and the referenced model must be materialized
    // BEFORE this model's post-insert audit runs (DAG ordering). Only the
    // relation-holding `to` key counts, and only bare qualified names — a
    // dotted STRUCT-column arg (`column -> meta.ip`) or an expression never
    // becomes a phantom dependency.
    fromBody ++ auditTableRefs
  }

  private def auditTableRefs: Set[String] =
    audits.flatMap(_._2.get("to")).collect {
      case v if Model.qualifiedName.matches(v) => v
    }.toSet
}

object Model {
  /** A bare dot-qualified relation name (schema.table[...]) — what an audit
    * arg must look like to be treated as a model/table dependency. */
  private[core] val qualifiedName = """[a-zA-Z_]\w*(?:\.[a-zA-Z_]\w*)+""".r

  private val tableRef =
    """(?is)\b(?:from|join)\s+([a-zA-Z_][\w]*(?:\.[a-zA-Z_][\w]*)*)""".r
  private val dbtRef = java.util.regex.Pattern.compile(
    "(?is)\\{\\{\\s*ref\\(\\s*['\"]([^'\"]+)['\"]\\s*\\)\\s*\\}\\}")
  private val dbtSource = java.util.regex.Pattern.compile(
    "(?is)\\{\\{\\s*source\\(\\s*['\"]([^'\"]+)['\"]\\s*,\\s*['\"]([^'\"]+)['\"]\\s*\\)\\s*\\}\\}")
  private val stringLiteral = java.util.regex.Pattern.compile("'[^']*'")
  private val cteName = """(?is)(?:with|,)\s*([a-zA-Z_]\w*)\s+as\s*\(""".r

  /** Cheap dependency extraction from SQL text; CTE names are excluded. */
  def extractTables(sql: String): Set[String] = {
    // dbt relation calls resolve textually BEFORE string-blanking (their
    // arguments are string literals): {{ ref('a.b') }} -> a.b,
    // {{ source('s','t') }} -> s.t — so FROM {{ ref(...) }} extracts normally
    val deJinjaed = dbtSource.matcher(dbtRef.matcher(sql).replaceAll("$1")).replaceAll("$1.$2")
    val noStrings = stringLiteral.matcher(deJinjaed).replaceAll("''")
    val ctes = cteName.findAllMatchIn(noStrings).map(_.group(1).toLowerCase).toSet
    tableRef.findAllMatchIn(noStrings)
      .map(_.group(1))
      .filterNot(t => ctes.contains(t.toLowerCase))
      .filterNot(t => t.toLowerCase == "values" || t.toLowerCase == "unnest")
      .toSet
  }
}
