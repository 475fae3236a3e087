package graft.loader

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** Project-level file configuration — the reference's `config.yaml` root
  * config (core/config/root.py:91 `Config`, config/model.py
  * `ModelDefaultsConfig`): a YAML file at the project root sets project-wide
  * defaults that individual `MODEL (...)` headers override.
  *
  * Supported surface:
  * {{{
  * model_defaults:          # header props applied when a model omits them
  *   kind: VIEW             # any header kind spec, incl. parameterized ones
  *   cron: '@daily'
  *   start: '2024-01-01'
  *   owner: team_data
  *   storage_format: parquet
  *   interval_unit: hour
  *   cron_tz: UTC
  *   on_destructive_change: warn
  *   allow_partials: true
  *   tags: [finance]        # APPENDED to model tags (never overridden)
  *   audits: "not_null(columns = (id))"   # applied when a model has none
  * variables: {k: v}        # merged under model/user variables
  * environment_ttl: 7 days  # dev-env TTL: '<n> days|hours|minutes' or ms
  * environment_suffix_target: schema | table
  * state_dir: .graft        # workspace root, relative to the project dir
  * state_connection: 'jdbc:derby:/shared/state;create=true'  # DB-backed state
  * concurrency: 4
  * before_all: [ "SET x=1" ]
  * after_all: []
  * linter:
  *   enabled: true
  *   ignored_rules: [noselectstar]
  *   rules: [nomissingowner]       # opt-in selection, forced to ERROR
  *   warn_rules: [nomissingaudits] # selected at WARN severity ("all" expands)
  * }}}
  */
final case class ProjectConfig(
    modelDefaults: Map[String, String] = Map.empty,
    defaultTags: Seq[String] = Nil,
    defaultAudits: Option[String] = None,
    variables: Map[String, String] = Map.empty,
    environmentTtlMs: Option[Long] = None,
    environmentSuffixTarget: Option[String] = None,
    stateDir: Option[String] = None,
    /** shared state backend (`jdbc:` URL or `hdfs://` URI) — reference
      * config/connection.py `state_connection`. */
    stateConnection: Option[String] = None,
    concurrency: Option[Int] = None,
    beforeAll: Seq[String] = Nil,
    afterAll: Seq[String] = Nil,
    /** default env for `plan`/`run` when none is given (reference
      * config/root.py:161 default_target_environment; default "prod"). */
    defaultTargetEnvironment: Option[String] = None,
    linterEnabled: Boolean = true,
    linterIgnored: Set[String] = Set.empty,
    /** rules forced to ERROR severity (reference LinterConfig.rules;
      * the "all" sentinel selects every rule). When either severity list is
      * present, ONLY the listed rules report — the reference's opt-in
      * selection semantics (linter/definition.py:49-55). */
    linterRules: Set[String] = Set.empty,
    /** rules downgraded to warnings (reference LinterConfig.warn_rules);
      * must be disjoint from [[linterRules]] (definition.py:41). */
    linterWarnRules: Set[String] = Set.empty)

object ProjectConfig {

  private val mapper = new ObjectMapper(new YAMLFactory())

  /** Load `config.yaml` / `config.yml` from `dir`; None when absent (a
    * config-less directory is a valid project, same as the reference). */
  def load(dir: String): Option[ProjectConfig] = {
    val p = Seq("config.yaml", "config.yml").map(Paths.get(dir, _)).find(Files.exists(_))
    p.map(f => parse(new String(Files.readAllBytes(f), "UTF-8")))
  }

  def parse(yaml: String): ProjectConfig = {
    val root = mapper.readTree(yaml)
    if (root == null || root.isNull) return ProjectConfig()

    def textOpt(n: JsonNode, k: String): Option[String] =
      Option(n.get(k)).filterNot(_.isNull).map(_.asText)

    val md = Option(root.get("model_defaults"))
    // header-prop defaults: merged UNDER the parsed header props, so a model
    // that states a prop always wins (config/model.py precedence)
    val scalarKeys = Seq("kind", "cron", "cron_tz", "interval_unit", "start",
      "owner", "storage_format", "on_destructive_change", "allow_partials")
    val defaults = md.map { n =>
      scalarKeys.flatMap(k => textOpt(n, k).map(k -> _)).toMap
    }.getOrElse(Map.empty)
    val tags = md.flatMap(n => Option(n.get("tags"))).map {
      case t if t.isArray => t.elements.asScala.map(_.asText).toSeq
      case t              => Seq(t.asText)
    }.getOrElse(Nil)
    val audits = md.flatMap(n => textOpt(n, "audits"))

    val vars = Option(root.get("variables")).map { n =>
      n.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty)

    def strList(k: String): Seq[String] = Option(root.get(k)).map {
      case n if n.isArray => n.elements.asScala.map(_.asText).toSeq
      case n              => Seq(n.asText)
    }.getOrElse(Nil)

    textOpt(root, "table_format").foreach(refuseRemovedTableFormat)
    val linter = Option(root.get("linter"))
    ProjectConfig(
      modelDefaults = defaults,
      defaultTags = tags,
      defaultAudits = audits,
      variables = vars,
      environmentTtlMs = textOpt(root, "environment_ttl").map(parseTtl),
      environmentSuffixTarget = textOpt(root, "environment_suffix_target"),
      stateDir = textOpt(root, "state_dir"),
      stateConnection = textOpt(root, "state_connection"),
      concurrency = textOpt(root, "concurrency").map(_.toInt),
      beforeAll = strList("before_all"),
      afterAll = strList("after_all"),
      defaultTargetEnvironment = textOpt(root, "default_target_environment"),
      linterEnabled = linter.flatMap(n => textOpt(n, "enabled")).forall(_.toBoolean),
      linterIgnored = ruleSet(linter, "ignored_rules"),
      linterRules = ruleSet(linter, "rules"),
      linterWarnRules = ruleSet(linter, "warn_rules"))
  }

  /** `table_format` (config key) / `--table-format` (CLI flag) selected a
    * second, manifest-log table format that no longer exists. Its tables
    * hold no `v<N>` snapshot dirs, so the dir format would read every one
    * as empty while the state store still records their intervals as done:
    * refuse loudly instead of ignoring the setting. `dir` is accepted. */
  def refuseRemovedTableFormat(value: String): Unit =
    if (value != "dir") throw new IllegalArgumentException(
      s"table_format '$value' is no longer supported: the manifest table " +
        "format was removed and every table is stored as dir-version " +
        "snapshots. Rebuild the workspace (delete its state and physical " +
        "dirs, then plan and apply again) and drop the table_format setting.")

  /** A linter rule list: YAML array or a single scalar, lowercased
    * (reference LinterConfig.rules_validator). */
  private def ruleSet(linter: Option[JsonNode], key: String): Set[String] =
    linter.flatMap(n => Option(n.get(key))).map {
      case t if t.isArray => t.elements.asScala.map(_.asText.toLowerCase).toSet
      case t              => Set(t.asText.toLowerCase)
    }.getOrElse(Set.empty)

  /** `'7 days'`, `'12 hours'`, `'30 minutes'`, or plain epoch-ms. */
  private[loader] def parseTtl(s: String): Long = {
    val t = s.trim.toLowerCase
    val re = """(\d+)\s*(day|hour|minute|week)s?""".r
    t match {
      case re(n, unit) =>
        val ms = unit match {
          case "week"   => 7L * 24 * 3600 * 1000
          case "day"    => 24L * 3600 * 1000
          case "hour"   => 3600L * 1000
          case "minute" => 60L * 1000
        }
        n.toLong * ms
      case _ => t.toLong
    }
  }
}
