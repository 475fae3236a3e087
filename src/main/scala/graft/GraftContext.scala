package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.adapter.{PhysicalTable, SparkMaterializer, UtcInterval}
import graft.plans.{Batch, BatchPlanner, EnvironmentView, Renderer, Scheduler, Signals,
  SnapshotEvaluator}
import graft.state.{EnvironmentRecord, InMemoryStateStore, StateStore}

/** A plan: what changes and what gets backfilled (reference:
  * sqlmesh/core/plan/builder.py:55 PlanBuilder → Plan; ContextDiff
  * context_diff.py:42). */
final case class Plan(
    env: String,
    start: Long,
    end: Long,
    added: Seq[Snapshot],
    modified: Seq[(Snapshot, Snapshot)], // (old, new)
    removed: Seq[String],
    metadataOnly: Seq[Snapshot],
    unchanged: Seq[Snapshot],
    restatements: Map[String, Interval] = Map.empty,
    deployability: DeployabilityIndex = DeployabilityIndex.allDeployable,
    /** `--skip-backfill`: apply the virtual update (snapshots, tables, env
      * views) without running any interval backfill (plan/definition.py
      * skip_backfill). */
    skipBackfill: Boolean = false,
    /** `--effective-from` (plan/builder.py:239): forward-only changes apply
      * their new logic from this date — inherited intervals at/after it are
      * dropped so the shared table re-runs them with the new query. */
    effectiveFrom: Option[Long] = None,
    /** `--no-gaps` (state_sync/db/facade.py:581 _ensure_no_gaps): refuse to
      * promote a re-versioned incremental model whose new table has interval
      * holes where its predecessor had data. */
    noGaps: Boolean = false,
    /** `--empty-backfill` (plan/builder.py:76): like skip_backfill, but the
      * plan window's would-be intervals are recorded as processed — empty
      * tables, complete accounting, so the next `run` starts after them. */
    emptyBackfill: Boolean = false,
    /** `--backfill-model` (cli/main.py): when set, only these models
      * backfill intervals; everything else still gets its physical object
      * and env views (like skip_backfill for the unselected). */
    backfillSelected: Option[Set[String]] = None,
    /** `--allow-destructive-model` (plan/builder.py): forward-only
      * migrations of these models may drop/narrow columns this apply,
      * overriding their on_destructive_change guard. */
    allowDestructive: Set[String] = Set.empty,
    /** `--allow-additive-model` (cli/main.py): forward-only migrations of
      * these models may add/widen columns this apply, overriding their
      * on_additive_change guard. */
    allowAdditive: Set[String] = Set.empty,
    /** `--include-unmodified` (cli/main.py; reference default False for new
      * dev environments): when false on a non-prod plan, UNCHANGED models
      * are left out of the environment — no dev views, no backfill; their
      * references still resolve to the shared physical tables. Our CLI
      * keeps the reference flag with the reference default. */
    includeUnmodified: Boolean = true,
    /** `--min-intervals` (context.py:1345): per-model, pull the plan start
      * back far enough that at least this many intervals are covered — how
      * a narrow PR-environment window still proves every model runs. */
    minIntervals: Int = 0) {
  def snapshots: Seq[Snapshot] = added ++ modified.map(_._2) ++ metadataOnly ++ unchanged

  /** Snapshots that belong to the target ENVIRONMENT: everything, unless a
    * non-prod plan excludes unmodified models (include_unmodified=False). */
  def envSnapshots: Seq[Snapshot] =
    if (includeUnmodified || env == "prod") snapshots
    else added ++ modified.map(_._2) ++ metadataOnly

  /** A snapshot previews in a `__dev` table instead of touching the shared
    * physical table when the plan targets a non-prod environment and the
    * change is forward-only (or downstream of one) — definition.py:1568
    * DeployabilityIndex semantics. */
  def isDevPreview(s: Snapshot): Boolean = env != "prod" && !deployability.isDeployable(s)

  def hasChanges: Boolean = added.nonEmpty || modified.nonEmpty || removed.nonEmpty ||
    metadataOnly.nonEmpty || restatements.nonEmpty

  /** Human-readable plan summary (the `sqlmesh plan` console diff). */
  def describe: String = {
    val lines = Seq.newBuilder[String]
    lines += s"plan → env '$env'  [${java.time.Instant.ofEpochMilli(start)} … ${java.time.Instant.ofEpochMilli(end)})"
    added.foreach(s => lines += s"  + ${s.model.name}  (new, version ${s.version})")
    modified.foreach { case (old, nw) =>
      val cat = nw.category.map(_.name).getOrElse("?")
      val ver = if (old.version == nw.version) s"version ${nw.version} (reused)"
        else s"${old.version} → ${nw.version}"
      val dev = if (isDevPreview(nw)) "  [dev preview]" else ""
      lines += s"  ~ ${nw.model.name}  [$cat] $ver$dev"
    }
    metadataOnly.foreach(s => lines += s"  m ${s.model.name}  [METADATA]")
    removed.foreach(n => lines += s"  - $n  (removed from env)")
    restatements.foreach { case (n, iv) =>
      lines += s"  ↻ $n  restate [${java.time.Instant.ofEpochMilli(iv.start)} … ${java.time.Instant.ofEpochMilli(iv.end)})"
    }
    if (!hasChanges) lines += "  no changes"
    lines.result().mkString("\n")
  }
}

/** Top-level façade — the reference's `Context` (sqlmesh/core/context.py:
  * plan :1314, apply :1755, run :756, evaluate :1168). Owns the model
  * registry, state, materializer, and scheduler; collapses the adapter zoo to
  * one Spark-native engine.
  */
class GraftContext(
    val spark: SparkSession,
    val workspace: String,
    val concurrency: Int = 4,
    val variables: Map[String, String] = Map.empty,
    val durableState: Boolean = false,
    /** dev-environment TTL (reference `--environment-ttl`, default 1 week) */
    val envTtlMs: Long = 7L * 24 * 3600 * 1000,
    /** where dev environments live (EnvironmentSuffixTarget,
      * config/common.py:22): "schema" → views in `<schema>__<env>`;
      * "table" → views named `<table>__<env>` in the prod schema. */
    val envSuffixTarget: String = "schema",
    /** ordered (regex → catalog) pairs mapping environment NAMES into
      * environment catalogs (reference `environment_catalog_mapping`,
      * config/root.py:120/160; first prefix-match wins, environment.py:87)
      * — e.g. `Seq("^prod$" -> "prod_cat", ".*" -> "dev_cat")`. Realized
      * through [[graft.adapter.EnvCatalog]] on vanilla Spark; mutually
      * exclusive with `envSuffixTarget = "catalog"`. */
    val envCatalogMapping: Seq[(String, String)] = Nil,
    /** project-level statements around every plan apply / run (reference
      * config/root.py:172 before_all/after_all, executed as the BeforeAll /
      * AfterAll plan stages, plan/stages.py) — e.g. session props, grants. */
    val beforeAll: Seq[String] = Nil,
    val afterAll: Seq[String] = Nil,
    /** explicit state location override — a directory, an `hdfs://`-style
      * URI, or a `jdbc:` URL for a shared database-backed state (reference
      * config/connection.py state_connection). Default: `<workspace>/state`. */
    val stateLocation: Option[String] = None) {

  /** Durable contexts persist snapshots/intervals/environments under
    * `<workspace>/state` (reference state_sync/db), so a new context over the
    * same workspace resumes exactly where the last one stopped. */
  val state: StateStore =
    if (durableState) new graft.state.FileStateStore(
      stateLocation.getOrElse(s"$workspace/state"))
    else new InMemoryStateStore
  val materializer = new SparkMaterializer(spark)
  private val customStrategies =
    scala.collection.mutable.Map[String, (SparkMaterializer, PhysicalTable, DataFrame) => Unit]()
  private val customMacros =
    scala.collection.mutable.Map[String, Seq[String] => String]()
  /** bumped on every addMacro (including same-name re-registration) — feeds
    * the render-cache key so redefinition invalidates stale renders */
  private val macroVersion = new java.util.concurrent.atomic.AtomicLong(0L)
  lazy val evaluator = new SnapshotEvaluator(materializer, workspace, customStrategies.get,
    () => allVariables, () => (customMacros.toMap, macroVersion.get),
    onAuditFailure = (m, a, msg, blocking) => {
      notifier.notifyAuditFailure(m, a, msg, blocking)
      // reference scheduler.py:924: the failing model's owner gets the event
      // on their OWN targets, in addition to the global channel
      models.get(m).flatMap(_.owner).foreach(owner =>
        notifyUser(owner)(_.notifyAuditFailure(m, a, msg, blocking)))
    })
  lazy val scheduler = new Scheduler(evaluator, state, concurrency)

  /** vars merged at load time (dbt_project.yml `vars`) on top of the
    * constructor-supplied project variables */
  private val extraVariables = scala.collection.mutable.Map[String, String]()
  def allVariables: Map[String, String] = variables ++ extraVariables

  private val models = scala.collection.mutable.LinkedHashMap[String, Model]()
  private val externals = scala.collection.mutable.Map[String, String]()
  /** Each signal-gated model's gate, built per run or apply from the graph
    * and the snapshots (by name) that call reads. */
  private val signals = scala.collection.mutable.Map[
    String, (ModelDag, String => Option[Snapshot]) => Interval => Boolean]()
  private val standaloneAudits =
    scala.collection.mutable.LinkedHashMap[String, graft.audits.StandaloneAudit]()

  def addModel(m: Model): this.type = { models(m.name) = m; this }
  def model(name: String): Model = models(name)
  def modelInventory: Map[String, Model] = models.toMap

  /** Notification targets (reference core/notification_target.py): fire on
    * apply/run start/end/failure and audit failures. Targets never throw
    * into the flow they observe. */
  private val notificationTargets =
    scala.collection.mutable.ArrayBuffer[NotificationTarget]()
  private[graft] val notifier =
    new NotificationDispatcher(() => notificationTargets.toSeq)
  def addNotificationTarget(t: NotificationTarget): this.type = {
    notificationTargets += t; this
  }

  /** User registry (reference core/user.py + NotificationTargetManager
    * .notify_user, notification_target.py:460): per-user targets receive
    * events routed to a specific username — today the audit-failure path,
    * which the scheduler routes to the failing model's `owner` (reference
    * scheduler.py:924-926). */
  private val userRegistry = scala.collection.mutable.LinkedHashMap[String, User]()
  def addUser(u: User): this.type = { userRegistry(u.username) = u; this }
  def users: Map[String, User] = userRegistry.toMap
  def requiredApprovers: Seq[User] =
    userRegistry.values.filter(_.isRequiredApprover).toSeq

  /** Route an event to one user's own targets; like the dispatcher, a
    * throwing target never breaks the flow being observed. */
  private def notifyUser(username: String)(f: NotificationTarget => Unit): Unit =
    userRegistry.get(username).toSeq.flatMap(_.notificationTargets).foreach { t =>
      try f(t)
      catch { case e: Exception =>
        System.err.println(s"[graft] WARN user '$username' notification target threw: ${e.getMessage}")
      }
    }

  /** Model-independent audit (reference audit/definition.py:559) — run after
    * every plan application / scheduled run against the environment's tables. */
  def addStandaloneAudit(a: graft.audits.StandaloneAudit): this.type = {
    standaloneAudits(a.name) = a; this
  }

  /** Directory of the last-loaded project — the working directory `git:`
    * selections resolve against (reference Selector context_path, default
    * "."). */
  private var projectDirOpt: Option[String] = None

  /** Changed-file resolver for `git:<branch>` selector nodes: a fresh
    * GitClient per expansion (reference selector.py:50 constructs one per
    * Selector), so a long-lived context always sees the repo's CURRENT
    * state. Driver-side subprocess metadata only — never on an executor. */
  private[graft] def gitChangedFiles: String => Set[String] =
    branch => new GitClient(projectDirOpt.getOrElse(".")).changedFiles(branch)

  /** Load every `*.sql` file under `dir` (reference Loader.load,
    * core/loader.py:191): `MODEL (...)` headers become models,
    * `AUDIT (...)` headers become standalone audits, `METRIC (...)` headers
    * become semantic-layer metrics. */
  def loadModels(dir: String): this.type = {
    projectDirOpt = Some(dir)
    val (ms, audits, metricDefs) = graft.loader.ModelLoader.loadProject(dir)
    // disabled models are skipped entirely (reference meta.py:112 `enabled`)
    ms.filter(_.enabled).foreach(addModel)
    audits.foreach(addStandaloneAudit)
    metricDefs.foreach(addMetric)
    // project config.yaml (reference core/config/root.py Config): variables
    // merge under --var/programmatic ones; linter toggles apply contextwide
    graft.loader.ProjectConfig.load(dir).foreach { cfg =>
      // config vars are the LOWEST precedence: --var / programmatic wins
      cfg.variables.foreach { case (k, v) =>
        if (!variables.contains(k) && !extraVariables.contains(k)) extraVariables(k) = v
      }
      cfg.defaultTargetEnvironment.foreach(defaultTargetEnvironment = _)
      if (!cfg.linterEnabled) lintEnabled = false
      // severity overrides (reference LinterConfig rules/warn_rules with the
      // "all" sentinel): expand, then reject overlap — definition.py:41
      // raises on rules ∩ warn_rules. The check runs on the ACCUMULATED sets
      // so two --project configs can't smuggle a rule into both severities.
      def expand(s: Set[String]) =
        if (s.contains("all")) graft.linter.Linter.allRuleNames.toSet else s
      lintIgnoredRules ++= expand(cfg.linterIgnored)
      lintErrorRules ++= expand(cfg.linterRules)
      lintWarnRules ++= expand(cfg.linterWarnRules)
      val overlap = lintErrorRules.toSet.intersect(lintWarnRules.toSet)
      require(overlap.isEmpty,
        s"linter: rules and warn_rules overlap on ${overlap.toSeq.sorted.mkString(", ")}")
    }
    this
  }

  /** Linter toggles from config.yaml (reference core/config/linter.py):
    * rules in `ignored_rules` never report; `enabled: false` silences lint
    * entirely (models still analyze at plan time). */
  /** env `plan`/`run` target when the CLI names none (reference
    * config/root.py:161 default_target_environment). */
  var defaultTargetEnvironment: String = "prod"

  private val lintIgnoredRules = scala.collection.mutable.Set[String]()
  private var lintEnabled = true
  /** config.yaml severity selections (reference LinterConfig.rules /
    * warn_rules): when either is non-empty, ONLY selected rules report —
    * `lintErrorRules` as blocking, `lintWarnRules` as warnings. */
  private val lintErrorRules = scala.collection.mutable.Set[String]()
  private val lintWarnRules = scala.collection.mutable.Set[String]()

  // ----------------------------------------------------------- metrics ----

  private val metrics = scala.collection.mutable.LinkedHashMap[String, graft.metrics.Metric]()

  def addMetric(m: graft.metrics.Metric): this.type = { metrics(m.name) = m; this }

  /** Run a semantic-layer query (`SELECT dim, metric FROM __semantic.__table
    * …`): the metric rewriter expands it into one aggregate subquery per
    * base model FULL OUTER JOINed on the dims (reference metric/rewriter.py),
    * with base models resolving through the environment's virtual layer. */
  def semanticQuery(sql: String, env: String = "prod"): DataFrame =
    spark.sql(rewriteSemantic(sql, env))

  /** The `rewrite` verb (reference cli/main.py:1072 → context.rewrite): show
    * the executable SQL a semantic-reference query expands to, without
    * running it. */
  def rewriteSemantic(sql: String, env: String = "prod"): String = {
    val registry = new graft.metrics.MetricRegistry(metrics.values.toSeq,
      graph = Some(new graft.core.ReferenceGraph(models.values)))
    registry.rewrite(sql, tableFor = name =>
      if (models.contains(name)) envTable(name, env)
      else externals.getOrElse(name, name))
  }

  /** `sqlmesh clean` (cli/main.py:1086 → context.clear_caches): drop cached
    * Spark relations and remove crash-leftover staging dirs (`tmp_*` under
    * the physical roots, debris of an interrupted compaction/merge). State
    * and committed table versions are untouched. Returns the removed paths. */
  def clean(): Seq[String] = {
    spark.catalog.clearCache()
    val physRoot = new org.apache.hadoop.fs.Path(s"$workspace/physical")
    val f = physRoot.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(physRoot)) Nil
    else f.listStatus(physRoot).toSeq.filter(_.isDirectory).flatMap { tableDir =>
      f.listStatus(tableDir.getPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("tmp_"))
        .map { s => f.delete(s.getPath, true); s.getPath.toString }
    }
  }

  /** Load a dbt-layout project (reference sqlmesh/dbt/loader.py): models,
    * seeds, snapshots become graft models; `dbt_project.yml` vars merge into
    * the render variables; `sources:` entries are returned so callers bind
    * them (`addExternal(src.relation, path)`). */
  def loadDbtProject(dir: String, vars: Map[String, String] = Map.empty,
                     target: Option[String] = None): Seq[graft.loader.DbtLoader.DbtSource] = {
    projectDirOpt = Some(dir)
    val p = graft.loader.DbtLoader.loadProject(dir, vars, target)
    p.models.foreach(addModel)
    extraVariables ++= p.vars
    dbtSourcesBuf ++= p.sources
    dbtTargetOpt = p.target
    dbtProjectName = Some(p.name)
    dbtPackageOf ++= p.pkgOf
    dbtStemOf ++= p.stemOf
    p.sources
  }

  /** The resolved profiles.yml target of the last dbt project loaded
    * (None for plain graft projects or profile-less dbt ones). */
  var dbtTargetOpt: Option[graft.loader.DbtLoader.DbtTarget] = None
  /** `name:` of the last dbt project loaded (artifact node-id namespace). */
  var dbtProjectName: Option[String] = None
  /** model name → owning vendored dbt package (artifact node-id namespace;
    * dbt ids package models as `model.<pkg>.<name>`, not the project). */
  var dbtPackageOf: Map[String, String] = Map.empty
  /** aliased model name → source-file stem (dbt unique_ids use the stem). */
  var dbtStemOf: Map[String, String] = Map.empty

  private val dbtSourcesBuf =
    scala.collection.mutable.ArrayBuffer[graft.loader.DbtLoader.DbtSource]()
  /** The dbt `sources:` entries loaded so far (freshness metadata intact). */
  def dbtSources: Seq[graft.loader.DbtLoader.DbtSource] = dbtSourcesBuf.toSeq

  /** `dbt source freshness` (dbt's source-staleness check; the sources yml
    * already carries `loaded_at_field` + warn_after/error_after): per source
    * table, age = now − max(loaded_at_field), classified pass/warn/error
    * against the declared thresholds. Sources without a `loaded_at_field`
    * are skipped like dbt does; an unbound or unreadable relation is an
    * error (staleness unknown ≠ fresh). Cost: one max() aggregate per
    * source — at any scale this is a scan-bounded reduction, and on
    * partitioned-by-time layouts Spark prunes to the scanned column only. */
  def sourceFreshness(nowMs: Long = System.currentTimeMillis())
      : Seq[(graft.loader.DbtLoader.DbtSource, Option[Long], String)] =
    dbtSources.filter(_.loadedAtField.nonEmpty).map { src =>
      externals.get(src.relation) match {
        case None => (src, None, "error")
        case Some(rel) =>
          try {
            val v = spark.sql(
              s"SELECT max(${src.loadedAtField.get}) FROM $rel").head.get(0)
            val tsMs = v match {
              case t: java.sql.Timestamp => t.getTime
              case d: java.sql.Date => d.getTime
              case i: java.time.Instant => i.toEpochMilli
              case l: java.time.LocalDateTime =>
                l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              case n: Number => n.longValue
              case _ => throw new IllegalArgumentException(
                s"${src.relation}.${src.loadedAtField.get}: not a time column")
            }
            val age = nowMs - tsMs
            val status =
              if (src.errorAfterMs.exists(age > _)) "error"
              else if (src.warnAfterMs.exists(age > _)) "warn"
              else "pass"
            (src, Some(age), status)
          } catch { case _: Exception => (src, None, "error") }
      }
    }

  /** Gate `modelName`'s batches on all its upstreams having processed the
    * batch interval first — the built-in `freshness` signal (signal.py:46).
    * The upstreams are the model's parents in the graph of the run or apply
    * being gated, each the snapshot that run reads. */
  def addFreshnessSignal(modelName: String): this.type = {
    signals(modelName) = (dag, snapshotOf) =>
      Signals.freshness(state, snapshotOf, dag.parents(modelName).toSeq)
    this
  }

  /** The gates of a run or apply over `dag`, reading `snapshotOf`'s snapshots. */
  private def gates(dag: ModelDag, snapshotOf: String => Option[Snapshot])
      : Map[String, Interval => Boolean] =
    signals.map { case (name, gate) => name -> gate(dag, snapshotOf) }.toMap

  /** Render a model's SQL for an interval without executing (reference
    * `sqlmesh render`, cli/main.py:253). */
  def renderSql(name: String, start: Long, end: Long,
                executionTs: Long = System.currentTimeMillis()): String = {
    val (s, mapping, thisModel) = renderScope()(name, start, end, executionTs)
    evaluator.renderSql(s, start, end, executionTs, mapping, thisModel)
  }

  /** What `render`, lineage, lint and `evaluate` render against, as a
    * backfill does: the project fingerprinted once, then per (model, start,
    * end, executionTs) its snapshot, upstream mapping and `@this_model`. */
  private def renderScope()
      : (String, Long, Long, Long) => (Snapshot, Map[String, String], String) = {
    val snaps = snapshotsOf(models.keys.toSeq)
    val upstreams = evaluator.upstreams(snaps.values, Map.empty, externals.toMap)
    (name, start, end, executionTs) => (snaps(name), upstreams(Batch(snaps(name).model,
      Interval(start, end), executionTs)), evaluator.physicalTable(snaps(name)).qualified)
  }

  /** Column-level lineage for a model (reference `sqlmesh lineage
    * model.column`, core/lineage.py): output column → the upstream
    * `relation.column` leaves it derives from, traced through the ANALYZED
    * Catalyst plan (aliases, CTEs, stars, joins already resolved by the
    * analyzer — see [[graft.plans.Lineage]]). Upstream models resolve to
    * their physical tables, so their tables must exist (plan applied) or be
    * externals. */
  def columnLineage(name: String): Map[String, Set[String]] = {
    val (s, mapping, thisModel) = renderScope()(name, 0L, 86400000L, 0L)
    graft.plans.Lineage.columnLineage(
      spark.sql(evaluator.renderSql(s, 0L, 86400000L, 0L, mapping, thisModel)),
      graft.plans.Lineage.namerFromMapping(mapping))
  }

  /** Lint the project (reference `sqlmesh lint`): the model-local rules
    * plus the context-aware ones from linter/rules/builtin.py —
    * `nomissingexternalmodels` (:147 every reference must be a model or a
    * registered external), `invalidselectstarexpansion` (:83 a star over an
    * unresolvable reference can never be expanded),
    * `ambiguousorinvalidcolumn` (:98 the rendered query must pass the
    * ANALYZER — Spark is the name resolver here, so ambiguity/typo
    * detection is exactly Catalyst's), `noambiguousprojections` (:292
    * outer projections need unique, explicitly-aliasable names), and
    * `nomissingunittest` (:132 every model should be covered by a loaded
    * YAML unit test). Throws on blocking violations when `enforce` is set. */
  def lint(extraRules: Seq[graft.linter.Linter.Rule] = Nil,
           enforce: Boolean = false): Seq[graft.linter.Linter.Violation] = {
    import graft.linter.Linter
    val base = Linter.lint(models.values.toSeq, Linter.defaultRules ++ extraRules)
    def unresolved(m: Model): Seq[String] =
      m.references.toSeq.sorted.filterNot(r => models.contains(r) || externals.contains(r))
    val missingExt = models.values.flatMap { m =>
      unresolved(m).map(r => Linter.Violation("nomissingexternalmodels", m.name,
        s"reference '$r' is neither a model nor a registered external", blocking = true))
    }
    // star-specific cousin of the above (builtin.py:83): a `SELECT *` whose
    // upstream has no obtainable schema is not just an unregistered
    // dependency — the projection itself can never be expanded, so schema
    // inference and change categorization are impossible
    val starRe = """(?is)select\s+(?:\w+\.)?\*""".r
    val starExpansion = models.values.flatMap { m =>
      m.body match {
        case SqlBody(sql) if starRe.findFirstIn(sql).nonEmpty =>
          val missing = unresolved(m)
          if (missing.nonEmpty)
            Some(Linter.Violation("invalidselectstarexpansion", m.name,
              s"SELECT * cannot be expanded: missing schema(s) for ${missing.mkString(", ")}" +
                " — register them (addExternal / create_external_models)", blocking = true))
          else None
        case _ => None
      }
    }
    lazy val scope = renderScope()
    val analysis = models.values.flatMap { m =>
      m.body match {
        case SqlBody(_) if m.kind != ModelKind.External && m.kind != ModelKind.Embedded =>
          try {
            val (s, mapping, thisModel) = scope(m.name, 0L, 86400000L, 0L)
            val outAttrs = spark.sql(evaluator.renderSql(s, 0L, 86400000L, 0L, mapping, thisModel))
              .queryExecution.analyzed.output
            val out = outAttrs.map(_.name)
            // noambiguousprojections (builtin.py:292): duplicate output
            // names break schema contracts and downstream SELECTs; an
            // output whose name Spark invented from the expression's SQL
            // text (it tags those with __autoGeneratedAlias metadata) needs
            // an explicit alias. An explicit alias is always accepted, even
            // a backtick-quoted one like AS `total rev` — only
            // non-inferrable auto-generated names are violations.
            val dups = out.groupBy(_.toLowerCase).collect {
              case (n, g) if g.length > 1 => n
            }.toSeq.sorted
            val unaliased = outAttrs
              .filter(a => a.metadata.contains("__autoGeneratedAlias") &&
                !a.name.matches("[A-Za-z_][A-Za-z0-9_]*"))
              .map(_.name).sorted
            dups.map(n => Linter.Violation("noambiguousprojections", m.name,
                s"duplicate outer select name '$n'", blocking = true)) ++
              unaliased.map(n => Linter.Violation("noambiguousprojections", m.name,
                s"outer projection `$n` needs an explicit alias", blocking = true))
          } catch {
            case e: org.apache.spark.sql.AnalysisException
                if Option(e.getCondition).exists(c =>
                  c.startsWith("AMBIGUOUS") || c.startsWith("UNRESOLVED_COLUMN")) =>
              Seq(Linter.Violation("ambiguousorinvalidcolumn", m.name,
                e.getMessage.linesIterator.next(), blocking = true))
            case _: Exception => Nil // missing physical tables etc. — not a lint
          }
        case _ => Nil
      }
    }
    // nomissingunittest (builtin.py:132): only meaningful once the project
    // has loaded a tests/ directory — a purely programmatic context isn't
    // nagged about a convention it never opted into
    val missingTests =
      if (testFiles.isEmpty) Nil
      else models.values
        .filterNot(m => m.kind == ModelKind.External || m.kind == ModelKind.Embedded)
        .filterNot(m => testedModels.contains(m.name))
        .map(m => Linter.Violation("nomissingunittest", m.name,
          "model has no unit test in the loaded tests directory", blocking = false))
    val severityConfigured = lintErrorRules.nonEmpty || lintWarnRules.nonEmpty
    val all = (base ++ missingExt ++ starExpansion ++ analysis ++ missingTests)
      .filterNot(v => lintIgnoredRules.contains(v.rule))
      // per-model ignored_rules (reference linter/definition.py:63); the
      // "all" sentinel opts a model out of linting entirely
      .filterNot(v => models.get(v.model).exists(m =>
        m.ignoredRules.contains(v.rule) || m.ignoredRules.contains("all")))
      // config severity selection: when rules/warn_rules are configured only
      // the selected rules report, at the configured severity (reference
      // opt-in semantics, definition.py:49-55); unconfigured keeps the
      // built-in severities. Rules the registry doesn't know (caller-supplied
      // extraRules) keep their own severity — an opt-in list over BUILTIN
      // names must not silently swallow custom rules.
      .flatMap { v =>
        if (!severityConfigured) Some(v)
        else if (lintErrorRules.contains(v.rule)) Some(v.copy(blocking = true))
        else if (lintWarnRules.contains(v.rule)) Some(v.copy(blocking = false))
        else if (!Linter.allRuleNames.contains(v.rule)) Some(v)
        else None
      }
      .filter(_ => lintEnabled)
    if (enforce && all.exists(_.blocking))
      throw new IllegalStateException("linter: " + all.filter(_.blocking)
        .map(v => s"[${v.rule}] ${v.model}: ${v.message}").mkString("; "))
    all
  }

  // ------------------------------------------------------------ tests ----

  private val testFiles = scala.collection.mutable.ArrayBuffer[String]()
  private val testedModels = scala.collection.mutable.Set[String]()

  /** Load every YAML unit test under `dir` (reference `sqlmesh test`,
    * core/test/definition.py; yaml files with model/inputs/outputs).
    * Registers which models are covered (for `nomissingunittest`) without
    * running anything; [[runTests]] executes them. */
  def loadTests(dir: String): this.type = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.isDirectory(root)) {
      val stream = java.nio.file.Files.walk(root)
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".yaml") || p.toString.endsWith(".yml"))
        .toSeq.sortBy(_.toString).foreach { p =>
          testFiles += p.toString
          testedModels ++= graft.testing.YamlModelTest.modelsUnderTest(
            java.nio.file.Files.readString(p))
        }
      finally stream.close()
    }
    this
  }

  /** Run every loaded YAML test; returns one result per test case. */
  def runTests(): Seq[graft.testing.YamlModelTest.Result] =
    testFiles.toSeq.flatMap(f =>
      graft.testing.YamlModelTest.runFile(spark, f, models.toMap, renderer = evaluator.renderer))

  /** All environment records (reference `sqlmesh environments`). */
  def environments: Seq[EnvironmentRecord] = state.environments

  /** Read-only view of the loaded model graph (docs/tooling surface). */
  def allModels: Map[String, Model] = models.toMap

  /** Registered external relations: name → resolved relation/path. */
  def externalRelations: Map[String, String] = externals.toMap

  /** Names of loaded standalone AUDIT files. */
  def standaloneAuditNames: Seq[String] = standaloneAudits.keys.toSeq

  /** `env` as an [[EnvironmentView]] under this context's configured naming. */
  private def envView(env: String, fallback: Option[String] = None): EnvironmentView =
    new EnvironmentView(state, env, envSuffixTarget, envCatalogMapping, fallback)

  /** Per-model missing interval gaps in an environment's window (reference
    * `sqlmesh check_intervals`, cli/main.py): what `run --ignore-cron`
    * started now would process ([[BatchPlanner]]) — elapsed intervals only,
    * whether or not the model's cron has fired for them yet. */
  def checkIntervals(env: String, start: Long, end: Long,
                     select: Seq[String] = Nil): Map[String, Seq[Interval]] = {
    val view = envView(env)
    val chosen: String => Boolean =
      if (select.isEmpty) _ => true
      else ModelSelector.expand(select, view.snapshots.map(s => s.model.name -> s.model).toMap,
        changedFiles = gitChangedFiles)
    val now = System.currentTimeMillis()
    view.snapshots.collect { case s if s.model.kind.isMaterialized && chosen(s.model.name) =>
      s.model.name -> BatchPlanner.pending(s, start, math.min(end, now), now,
        view.devFlags(s.model.name), ignoreCron = true).gaps
    }.toMap
  }

  /** Read-only schedule export for an external orchestrator (reference
    * `sqlmesh/schedulers/`): the environment's models with cron/unit/batch
    * metadata, dependency edges, and the batches a `run` started now would
    * process ([[BatchPlanner]]), computed WITHOUT recording anything. */
  def exportSchedule(env: String, start: Long, end: Long): Seq[graft.plans.ScheduleExport.ModelSchedule] = {
    val view = envView(env)
    val now = System.currentTimeMillis()
    view.snapshots.collect { case s if s.model.kind.isMaterialized =>
      val m = s.model
      graft.plans.ScheduleExport.ModelSchedule(
        name = m.name,
        kind = m.kind.name,
        cron = m.cron,
        cronTz = m.cronTz,
        intervalUnit = m.intervalUnit.name,
        batchSize = m.kind match {
          case k: ModelKind.IncrementalByTimeRange => k.batchSize
          case _ => None
        },
        owner = m.owner,
        // within-project dependencies only: externals are inputs, not tasks
        dependsOn = view.dag.parents(m.name).toSeq.sorted,
        hasSignal = signals.contains(m.name),
        batches = BatchPlanner.pending(s, start, end, now, view.devFlags(m.name)).batches)
    }.sortBy(_.name)
  }

  /** Signal-gate probe backing the `signal-ready` CLI verb (the poke target
    * of exported Airflow BashSensors): true when every missing batch of the
    * model inside [start, end) passes its signal — or the model has no
    * signal / nothing missing. Read-only, like exportSchedule. */
  def signalReady(env: String, model: String, start: Long, end: Long): Boolean = {
    val sched = exportSchedule(env, start, end).find(_.name == model).getOrElse(
      throw new IllegalArgumentException(s"model $model not in environment $env"))
    val view = envView(env)
    gates(view.dag, view.snapshot).get(model).forall(g => sched.batches.forall(g))
  }

  /** Project summary (reference `sqlmesh info`): model counts by kind,
    * external count, environment count. */
  def info: String = {
    val byKind = models.values.groupBy(_.kind.name).toSeq.sortBy(_._1)
      .map { case (k, ms) => s"  $k: ${ms.size}" }.mkString("\n")
    s"""models: ${models.size}
       |$byKind
       |externals: ${externals.size}
       |standalone audits: ${standaloneAudits.size}
       |environments: ${state.environments.size}""".stripMargin
  }

  /** The model DAG as graphviz DOT (reference `sqlmesh dag`,
    * cli/main.py dag → web/ui rendering): models as nodes (labeled with
    * their kind), dependency edges upstream → downstream; externals dashed. */
  def dagDot: String = {
    def q(s: String) = "\"" + s + "\""
    val sb = new StringBuilder("digraph graft {\n  rankdir=LR;\n")
    models.values.foreach { m =>
      sb.append(s"  ${q(m.name)} [label=${q(s"${m.name}\\n${m.kind.name}")}];\n")
    }
    val dag = ModelDag.withExternals(models.values)
    (dag.names -- models.keySet).toSeq.sorted.foreach(e => sb.append(s"  ${q(e)} [style=dashed];\n"))
    models.values.foreach { m =>
      dag.parents(m.name).toSeq.sorted.foreach(r => sb.append(s"  ${q(r)} -> ${q(m.name)};\n"))
    }
    sb.append("}\n").toString
  }

  /** Register a pre-existing table (EXTERNAL kind) by parquet path,
    * catalog-resolvable name, or inline `(SELECT …)` subquery. Inline
    * subqueries stay persistent-view-safe (unlike temp views, which a
    * CREATE VIEW of a VIEW-kind model may not reference). */
  def addExternal(name: String, pathOrTable: String): this.type = {
    externals(name) =
      if (pathOrTable.startsWith("(")) pathOrTable
      else if (pathOrTable.contains("/")) s"parquet.`$pathOrTable`" else pathOrTable
    this
  }

  /** Signals gate interval readiness (reference core/signal.py:14). */
  def addSignal(modelName: String, signal: Interval => Boolean): this.type = {
    signals(modelName) = (_, _) => signal; this
  }

  /** User macro (the reference's Python `@macro()` registry, macros.py:592):
    * a Scala function from rendered argument texts to SQL text, callable as
    * `@NAME(...)` in model bodies. Register before the first plan/render. */
  def addMacro(name: String)(fn: Seq[String] => String): this.type = {
    customMacros(name) = fn; macroVersion.incrementAndGet(); this
  }

  def registerCustomMaterialization(
      name: String)(fn: (SparkMaterializer, PhysicalTable, DataFrame) => Unit): this.type = {
    customStrategies(name) = fn; this
  }

  // ------------------------------------------------------------ snapshots

  /** Fingerprint parents-first (snapshot/definition.py:1861). `overrides`
    * substitutes model definitions before fingerprinting — used by plan
    * selectors so unselected models diff (and cascade to children) with
    * their promoted definition, not the local edit. */
  def snapshotsOf(names: Seq[String],
                  overrides: Map[String, Model] = Map.empty): Map[String, Snapshot] =
    fingerprinted(names, overrides)._1

  /** Each model name's last fingerprint with the model and the parent
    * fingerprints it was computed from (fingerprint_from_node's shared
    * `cache`, snapshot/definition.py:1861). An entry is reused only for an
    * equal model over equal parent fingerprints, so an edit, a reload with
    * other content or a selector override recomputes the model, and a new
    * parent fingerprint recomputes its whole downstream cone. Concurrent:
    * a server may plan from several threads; entries are immutable, so two
    * threads computing the same miss store equal values. */
  private val fingerprintIndex = new java.util.concurrent.ConcurrentHashMap[
    String, (Model, Seq[SnapshotFingerprint], SnapshotFingerprint)]()

  /** [[snapshotsOf]] plus the graph it walked: `names` and their upstream
    * models, a parent's fingerprint feeding its children's. */
  private def fingerprinted(names: Seq[String], overrides: Map[String, Model])
      : (Map[String, Snapshot], ModelDag) = {
    def modelOf(name: String): Option[Model] = overrides.get(name).orElse(models.get(name))
    val dag = ModelDag.upstreamOf(names, modelOf)
    val fps = scala.collection.mutable.Map[String, SnapshotFingerprint]()
    def parents(name: String): Seq[String] = dag.parents(name).toSeq.sorted
    dag.levels.flatten.foreach { name =>
      val m = modelOf(name).get
      val parentFps = parents(name).map(fps)
      // `==` on a case class tests `eq` first, so an unreloaded model is cheap
      fps(name) = Option(fingerprintIndex.get(name)).collect {
        case (known, knownParents, fp) if known == m && knownParents == parentFps => fp
      }.getOrElse {
        val bodyText = m.body match {
          case SqlBody(sql)  => sql
          case ScalaBody(fn) => s"scala:${fn.getClass.getName}"
          case SeedBody(p)   => s"seed:$p"
        }
        val fp = Fingerprint.of(m, bodyText, parentFps)
        fingerprintIndex.put(name, (m, parentFps, fp))
        fp
      }
    }
    val now = System.currentTimeMillis()
    (names.map { n =>
      n -> Snapshot(modelOf(n).getOrElse(models(n)), fps(n),
        parents(n).map(p => SnapshotId(p, fps(p).full)), createdTs = now)
    }.toMap, dag)
  }

  // ------------------------------------------------------------------ plan

  /** Diff local models against state and build a plan (plan/builder.py:280;
    * categorizer snapshot/categorizer.py:70). Walked parents-first so indirect
    * categories can follow their ancestors:
    *  - data-hash change ⇒ BREAKING, unless the edit only ADDS outer
    *    projections (NON_BREAKING, [[QueryDiff.isAdditiveProjection]]) or the
    *    model/plan is forward-only (FORWARD_ONLY: previous version pinned,
    *    table migrated in place, history kept);
    *  - version moved with own data hash unchanged ⇒ INDIRECT_*: breaking
    *    ancestors rebuild the child; non-breaking ones pin its version;
    *  - metadata-hash-only change ⇒ METADATA. */
  def plan(
      env: String,
      start: Long,
      end: Long,
      restate: Map[String, Interval] = Map.empty,
      forwardOnly: Boolean = false,
      skipBackfill: Boolean = false,
      /** `--select-model` selector expressions (reference selector.py):
        * `name`, `schema.*` wildcards, `+name` (include upstream), `name+`
        * (downstream), `tag:pat`, `git:branch` (models whose source file
        * changed vs the branch), `^` NOT, `&`/`|`, parens. Local changes to
        * UNSELECTED models are left out of the plan — their currently-promoted
        * snapshot is kept (plan/builder.py select_models). Empty = all. */
      select: Seq[String] = Nil,
      effectiveFrom: Option[Long] = None,
      noGaps: Boolean = false,
      /** `--create-from` (plan/builder.py create_from): the environment a
        * NEW environment diffs against (and effectively forks from) when
        * the target doesn't exist yet. Default prod, like the reference. */
      createFrom: String = "prod",
      emptyBackfill: Boolean = false,
      /** `--backfill-model` selector expressions; empty = backfill all. */
      backfill: Seq[String] = Nil,
      /** `--allow-destructive-model` selector expressions. */
      allowDestructiveModels: Seq[String] = Nil,
      /** `--allow-additive-model` selector expressions. */
      allowAdditiveModels: Seq[String] = Nil,
      /** `--include-unmodified` — see Plan.includeUnmodified. */
      includeUnmodified: Boolean = true,
      /** `--min-intervals` (context.py:1345): ensure every model's backfill
        * covers at least this many intervals, pulling its start back. */
      minIntervals: Int = 0,
      /** `--no-auto-categorization` (reference plan/builder.py
        * auto_categorization / config plan.auto_categorize_changes): when
        * false, the additive-projection NON_BREAKING inference is skipped
        * and every direct data change takes the conservative BREAKING
        * category — the reference's non-interactive fallback for
        * uncategorized changes. */
      autoCategorize: Boolean = true): Plan = {
    require(effectiveFrom.isEmpty || forwardOnly,
      "effective_from requires a forward-only plan (plan/builder.py:239)")
    val selectedSet: Set[String] =
      if (select.isEmpty) models.keySet.toSet
      else ModelSelector.expand(select, models.toMap, changedFiles = gitChangedFiles)
    def selected(name: String): Boolean = selectedSet.contains(name)
    // diff baseline: the snapshot the TARGET environment (or, for a new env,
    // the --create-from environment) currently points at — reference
    // ContextDiff diffs env snapshot ids, which is what keeps a dev preview
    // from masking a pending prod change; a name neither record holds falls
    // back to its latest snapshot
    val base = envView(env, fallback = Some(createFrom))
    def baseline(name: String): Option[Snapshot] =
      base.snapshot(name).orElse(state.latestSnapshot(name))
    // selectors: unselected models fingerprint (and cascade to dependents)
    // with their baseline definition, not the local edit; unselected NEW
    // models still enter the plan (dependents need them)
    val overrides: Map[String, Model] =
      if (select.isEmpty) Map.empty
      else models.keys.filterNot(selected).flatMap(n => baseline(n).map(n -> _.model)).toMap
    // one graph over the snapshots' models: walked parents-first here, then
    // the restatement cascade and the deployability index read it
    val (snaps, dag) = fingerprinted(models.keys.toSeq, overrides)
    val added = Seq.newBuilder[Snapshot]
    val modified = Seq.newBuilder[(Snapshot, Snapshot)]
    val metadataOnly = Seq.newBuilder[Snapshot]
    val unchanged = Seq.newBuilder[Snapshot]
    val categories = scala.collection.mutable.Map[String, ChangeCategory]()

    def kindForwardOnly(m: Model): Boolean = m.kind match {
      case k: ModelKind.IncrementalByTimeRange => k.forwardOnly
      case _ => false
    }
    def bodySql(m: Model): Option[String] = m.body match {
      case SqlBody(sql) => Some(sql); case _ => None
    }

    dag.levels.flatten.map(snaps).foreach { s =>
      val name = s.model.name
      baseline(name) match {
        case None => added += s.copy(category = Some(ChangeCategory.Breaking))
        case Some(old) if old.fingerprint.full == s.fingerprint.full =>
          unchanged += old
        case Some(old) if old.fingerprint.dataHash == s.fingerprint.dataHash &&
          old.fingerprint.parentDataHash == s.fingerprint.parentDataHash =>
          // only metadata moved; keep the (possibly pinned) version
          metadataOnly += s.copy(category = Some(ChangeCategory.Metadata),
            forcedVersion = Some(old.version), intervals = old.intervals)
        case Some(old) if old.fingerprint.dataHash == s.fingerprint.dataHash =>
          // own query unchanged; version moved through a parent
          val parentCats = dag.parents(name).flatMap(categories.get)
          val nonBreakingAncestors = parentCats.nonEmpty && parentCats.forall {
            case ChangeCategory.NonBreaking | ChangeCategory.IndirectNonBreaking |
                 ChangeCategory.Metadata => true
            case _ => false
          }
          if (nonBreakingAncestors) {
            categories(name) = ChangeCategory.IndirectNonBreaking
            modified += ((old, s.copy(category = Some(ChangeCategory.IndirectNonBreaking),
              forcedVersion = Some(old.version), intervals = old.intervals)))
          } else {
            categories(name) = ChangeCategory.IndirectBreaking
            modified += ((old, s.copy(category = Some(ChangeCategory.IndirectBreaking))))
          }
        case Some(old) =>
          if (forwardOnly || kindForwardOnly(s.model)) {
            categories(name) = ChangeCategory.ForwardOnly
            modified += ((old, s.copy(category = Some(ChangeCategory.ForwardOnly),
              forcedVersion = Some(old.version), intervals = old.intervals)))
          } else {
            val additive = autoCategorize &&
              ((bodySql(old.model), bodySql(s.model)) match {
                case (Some(o), Some(n)) => QueryDiff.isAdditiveProjection(o, n)
                case _ => false
              })
            val cat = if (additive) ChangeCategory.NonBreaking else ChangeCategory.Breaking
            categories(name) = cat
            modified += ((old, s.copy(category = Some(cat))))
          }
      }
    }
    val removed = base.record.map(_.snapshots.keySet.filterNot(snaps.contains).toSeq).getOrElse(Nil)

    // restatements cascade to transitive dependents (reference
    // plan/builder.py:369 _build_restatements): walked parents-first, a
    // model re-runs the smallest interval covering its own requested window
    // and the windows of ALL its restated parents — a child rebuilt from
    // restated parent data must re-run every interval that data feeds
    val cascaded = dag.levels.flatten.foldLeft(restate) { (acc, n) =>
      val ivs = restate.get(n).toSeq ++ dag.parents(n).toSeq.flatMap(acc.get)
      if (ivs.isEmpty) acc
      else acc + (n -> Interval(ivs.map(_.start).min, ivs.map(_.end).max))
    }

    val allSnaps = added.result() ++ modified.result().map(_._2) ++
      metadataOnly.result() ++ unchanged.result()
    Plan(env, start, end, added.result(), modified.result(), removed,
      metadataOnly.result(), unchanged.result(), cascaded,
      DeployabilityIndex.of(allSnaps, dag), skipBackfill = skipBackfill,
      effectiveFrom = effectiveFrom, noGaps = noGaps,
      emptyBackfill = emptyBackfill,
      backfillSelected =
        if (backfill.isEmpty) None
        else Some(ModelSelector.expand(backfill, models.toMap,
          changedFiles = gitChangedFiles)),
      allowDestructive =
        if (allowDestructiveModels.isEmpty) Set.empty
        else ModelSelector.expand(allowDestructiveModels, models.toMap,
          changedFiles = gitChangedFiles),
      allowAdditive =
        if (allowAdditiveModels.isEmpty) Set.empty
        else ModelSelector.expand(allowAdditiveModels, models.toMap,
          changedFiles = gitChangedFiles),
      includeUnmodified = includeUnmodified,
      minIntervals = minIntervals)
  }

  /** Which snapshots [[apply]] previews in `__dev` tables, migrates in
    * place, backfills (the rest only get an empty physical object) and
    * repoints views at, plus the (model, version, interval) drops it makes
    * before the backfill — decided once, so [[explain]] narrates the same. */
  private final class ApplySteps(
      val devFlags: Map[String, Boolean],
      val migrating: Seq[Snapshot],
      val drops: Seq[(String, String, Interval)],
      val backfillable: Set[String],
      val backfill: Seq[Snapshot],
      val promoted: Seq[Snapshot])

  private def applySteps(p: Plan): ApplySteps = {
    val migrating = p.modified.collect {
      case (_, nw) if nw.category.contains(ChangeCategory.ForwardOnly) &&
        !p.isDevPreview(nw) => nw
    }
    // restatement against the PLAN's snapshot version (_build_restatements),
    // else the environment's; effective_from keeps inherited intervals only
    // BEFORE the floored effective date (snapshot/definition.py:970-977, :1425)
    val byName = p.snapshots.map(s => s.model.name -> s).toMap
    lazy val current = envView(p.env)
    val drops = p.restatements.toSeq.flatMap { case (name, ivl) =>
      byName.get(name).orElse(current.snapshot(name)).map(s => (name, s.version, ivl))
    } ++ p.effectiveFrom.toSeq.flatMap(ef => migrating.map(nw =>
      (nw.model.name, nw.version, Interval(nw.model.intervalUnit.floor(ef), Long.MaxValue / 2))))
    val backfillable: Set[String] =
      if (p.skipBackfill || p.emptyBackfill) Set.empty
      else p.backfillSelected.getOrElse(p.envSnapshots.map(_.model.name).toSet)
    new ApplySteps(
      devFlags = p.snapshots.map(s => s.model.name -> p.isDevPreview(s)).toMap,
      migrating = migrating,
      drops = drops,
      backfillable = backfillable,
      backfill =
        if (p.skipBackfill) Nil
        else p.envSnapshots.filter(s => p.emptyBackfill || backfillable(s.model.name)),
      promoted = p.envSnapshots.filter(_.model.kind.isMaterialized))
  }

  /** `plan --explain` (reference sqlmesh/core/plan/explainer.py:38-160
    * PlanExplainer): narrate, stage by stage, what [[apply]] would do —
    * snapshot records, restatement interval clears, physical-layer creates
    * (dev previews flagged), in-place schema migrations, per-model backfill
    * batches, audit gates, the virtual-layer view repoints, and environment
    * finalization — WITHOUT mutating state, tables, or views. Snapshots come
    * from [[applySteps]]; batches from [[BatchPlanner]] over the intervals
    * apply leaves: pushed, minus its drops and a due auto-restatement. */
  def explain(p: Plan, executionTs: Long = System.currentTimeMillis()): String = {
    def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms)
    val steps = applySteps(p)
    val devFlags = steps.devFlags
    val L = Seq.newBuilder[String]
    L += s"explained plan → env '${p.env}'  [${iso(p.start)} … ${iso(p.end)})  (dry run — nothing applied)"
    if (beforeAll.nonEmpty)
      L += s"├─ before_all: execute ${beforeAll.size} statement(s)"
    L += s"├─ snapshot records: push ${p.snapshots.size} snapshot(s) to state"
    if (p.restatements.nonEmpty) {
      L += "├─ restatement: clear processed intervals (re-run below)"
      p.restatements.foreach { case (n, iv) =>
        L += s"│    ↻ $n  [${iso(iv.start)} … ${iso(iv.end)})"
      }
    }
    p.effectiveFrom.foreach { ef =>
      if (steps.migrating.nonEmpty)
        L += s"├─ effective_from ${iso(ef)}: drop inherited intervals at/after it for ${steps.migrating.map(_.model.name).mkString(", ")}"
    }
    L += "├─ physical layer: validate SQL, create missing tables/views"
    p.snapshots.filter(_.model.kind.isMaterialized).foreach { s =>
      val t = evaluator.physicalTable(s, devFlags(s.model.name))
      val exists = materializer.tableExists(t)
      val tag =
        (if (exists) "exists" else "create") +
          (if (devFlags(s.model.name)) ", dev preview" else "")
      L += s"│    ${t.qualified}  ($tag)"
    }
    if (steps.migrating.nonEmpty) {
      L += "├─ migrate schemas in place (forward-only reuses the physical table)"
      steps.migrating.foreach { nw =>
        val destr = if (p.allowDestructive.contains(nw.model.name))
          "  [destructive changes allowed this apply]" else ""
        L += s"│    ~ ${nw.model.name} → ${evaluator.physicalTable(nw).qualified}$destr"
      }
    }
    def without(s: Snapshot, iv: Interval): Snapshot =
      s.copy(intervals = IntervalAlgebra.remove(s.intervals, iv),
        devIntervals = IntervalAlgebra.remove(s.devIntervals, iv))
    if (p.skipBackfill)
      L += "├─ backfill: SKIPPED (--skip-backfill: physical layer + views only)"
    else {
      L += (if (p.emptyBackfill)
        "├─ backfill: record intervals as processed WITHOUT evaluating (--empty-backfill)"
      else "├─ backfill missing intervals")
      steps.backfill.filter(_.model.kind.isMaterialized).foreach { s =>
        val name = s.model.name
        val pushed = state.getSnapshot(name, s.version).fold(s)(cur => s.copy(
          intervals = IntervalAlgebra.merge(cur.intervals ++ s.intervals),
          devIntervals = IntervalAlgebra.merge(cur.devIntervals ++ s.devIntervals)))
        val dropped = steps.drops.collect {
          case (n, v, iv) if n == name && v == s.version => iv
        }.foldLeft(pushed)(without)
        val auto = BatchPlanner.autoRestatement(dropped, executionTs,
          state.lastAutoRestatement(name)).flatMap(_.window)
        val pending = BatchPlanner.pending(auto.fold(dropped)(without(dropped, _)),
          p.start, p.end, executionTs, devFlags(name), minIntervals = p.minIntervals)
        val batches = pending.batches
        val restated = auto.fold("")(w =>
          s"  (auto-restatement re-runs [${iso(w.start)} … ${iso(w.end)}))")
        val gate = if (signals.contains(name)) "  [signal-gated]" else ""
        val capped = if (pending.cappedEnd < p.end)
          s"  (cron-capped at ${iso(pending.cappedEnd)})" else ""
        if (batches.isEmpty)
          L += s"│    $name: up to date$capped$restated$gate"
        else
          L += s"│    $name: ${pending.missing.size} interval(s) in ${batches.size} batch(es)  [${iso(batches.head.start)} … ${iso(batches.last.end)})$capped$restated$gate"
      }
    }
    val standalone = standaloneAuditNames
    if (standalone.nonEmpty)
      L += s"├─ standalone audits gate promotion: ${standalone.mkString(", ")}"
    if (p.noGaps)
      L += "├─ no_gaps: verify re-versioned incremental models cover their predecessors' intervals"
    L += "├─ virtual layer: repoint environment views"
    // views repoint where the configured naming puts them; removed models'
    // views drop where the record put them, as apply does
    val current = envView(p.env)
    def described(loc: (Option[String], String, String)) = loc match {
      case (cat, db, view) => cat.fold("")(_ + ".") + s"$db.$view"
    }
    steps.promoted.foreach { s =>
      L += s"│    ${described(current.targetLocation(s.model.name))} → " +
        evaluator.physicalTable(s, devFlags(s.model.name)).qualified
    }
    p.removed.foreach(n => L += s"│    - drop ${described(current.location(n))}  (removed from env)")
    val ttl = if (p.env == "prod") "never expires"
      else s"expires ${iso(executionTs + envTtlMs)}"
    L += s"├─ environment record: promote + finalize '${p.env}'  ($ttl)"
    if (afterAll.nonEmpty)
      L += s"└─ after_all: execute ${afterAll.size} statement(s)"
    else L += "└─ done"
    L.result().mkString("\n")
  }

  /** Evaluate a plan: stages per plan/stages.py:238 — snapshot records →
    * physical layer → restatement → backfill → environment record → virtual
    * layer → finalize. */
  def apply(p: Plan, executionTs: Long = System.currentTimeMillis()): Unit = {
    val planId = s"${p.env}@$executionTs"
    notifier.notifyApplyStart(p.env, planId)
    try { applyInner(p, executionTs); notifier.notifyApplyEnd(p.env, planId) }
    catch { case e: Throwable =>
      notifier.notifyApplyFailure(p.env, planId, e); throw e
    }
  }

  private def applyInner(p: Plan, executionTs: Long): Unit = {
    // BeforeAll stage (plan/stages.py:238; config/root.py:172)
    runEnvStatements(beforeAll, p.start, p.end, executionTs)
    val steps = applySteps(p)
    // CreateSnapshotRecords, then restatement + effective_from: drop
    // intervals so the scheduler re-runs them with the plan's logic — one
    // durable write for the lot, not one whole-image rewrite per snapshot
    state.deferPersist {
      p.snapshots.foreach(state.pushSnapshot)
      steps.drops.foreach { case (name, version, ivl) => state.removeInterval(name, version, ivl) }
    }
    // DeployabilityIndex: forward-only changes (and their downstream) preview
    // in __dev tables when the plan targets a non-prod environment
    val devFlags = steps.devFlags
    // PhysicalLayerUpdate
    val upstreams = evaluator.upstreams(p.snapshots, devFlags, externals.toMap)
    p.snapshots.foreach(evaluator.create)
    // MigrateSchemas: forward-only changes evolve the reused physical table in
    // place — but NEVER from a dev plan, whose preview table starts fresh.
    // `--allow-destructive-model` lifts the on_destructive_change guard for
    // the matching models for THIS apply only (plan/builder.py).
    steps.migrating.foreach { nw =>
      var m = nw.model
      if (p.allowDestructive.contains(m.name)) m = m.copy(onDestructiveChange = "allow")
      if (p.allowAdditive.contains(m.name)) m = m.copy(onAdditiveChange = "allow")
      evaluator.migrate(nw.copy(model = m), p.start, p.end, executionTs, upstreams)
    }
    // Backfill. `--skip-backfill`/`--empty-backfill` plans build just the
    // physical layer (empty tables/views created parents-first so the env
    // views resolve); `--backfill-model` does the same for UNSELECTED models.
    val dag = ModelDag(p.snapshots.map(_.model))
    val byName = p.snapshots.map(s => s.model.name -> s).toMap
    dag.levels.flatten.map(byName)
      .filter(s => s.model.kind.isMaterialized && !steps.backfillable(s.model.name))
      .foreach(s => evaluator.ensurePhysical(
        s, executionTs, upstreams, devFlags.getOrElse(s.model.name, false)))
    if (!p.skipBackfill) {
      val live = steps.backfill.map(s => state.getSnapshot(s.model.name, s.version).getOrElse(s))
      scheduler.runIn(dag, live, p.start, p.end, executionTs, upstreams, gates(dag, byName.get),
        devFlags, recordOnly = p.emptyBackfill, ignoreCron = false, minIntervals = p.minIntervals)
    }
    // standalone audits gate promotion (audit/definition.py:559): they run
    // against the PHYSICAL tables, so a failing blocking audit aborts before
    // any environment view is repointed at the new data
    runStandaloneAudits(upstreams, p.start, p.end, executionTs)
    // no_gaps (_ensure_no_gaps, state_sync/db/facade.py:581): a re-versioned
    // incremental model must cover everything its predecessor had before its
    // env views repoint — promotion never silently serves interval holes
    if (p.noGaps) p.modified.foreach { case (old, nw) =>
      if (old.version != nw.version && nw.model.kind.isIncremental &&
          old.model.kind.isIncremental) {
        val prevEnd = state.getSnapshot(old.model.name, old.version)
          .map(_.intervals).getOrElse(old.intervals).lastOption.map(_.end)
        prevEnd.foreach { pe =>
          val live = state.getSnapshot(nw.model.name, nw.version).getOrElse(nw)
          // from the MODEL's start (facade.py:609 start_date), not the plan's
          // — a narrow plan window must not mask holes behind it
          val missing = live.missingIntervals(nw.model.start.getOrElse(p.start), pe)
          if (missing.nonEmpty) throw new IllegalStateException(
            s"no_gaps: ${nw.model.name} is missing ${missing.size} interval(s) " +
              s"(first: ${missing.head}) its predecessor covered — aborting promotion")
        }
      }
    }
    // EnvironmentRecordUpdate + VirtualLayerUpdate (materialized kinds only —
    // EMBEDDED/EXTERNAL have no physical object to point a view at)
    val current = envView(p.env)
    val envCat = current.targetCatalog
    // an EXISTING record remembers where the env's views actually landed
    // (environment.py stores catalog_name_override for the same reason): if
    // the configured catalog or suffix target moved this env since the last
    // apply, drop the OLD location's whole virtual layer first — otherwise it
    // keeps serving stale snapshots forever — and demote removed models where
    // they were actually promoted
    if (current.record.exists(r => r.suffixTarget != envSuffixTarget || r.catalog != envCat))
      demoteAll(current)
    steps.promoted.foreach(s =>
      evaluator.promote(s, p.env, devFlags(s.model.name), envSuffixTarget, executionTs,
        envCat))
    p.removed.foreach(name => materializer.demote(current.location(name)))
    state.promoteEnvironment(EnvironmentRecord(
      p.env, p.envSnapshots.map(s => s.model.name -> s.version).toMap, finalized = false,
      identifiers = p.envSnapshots.map(s => s.model.name -> s.fingerprint.full).toMap,
      suffixTarget = envSuffixTarget,
      catalog = envCat,
      // dev environments expire (environment.py expiration_ts, default 1w);
      // prod never does
      expirationTs = if (p.env == "prod") None else Some(executionTs + envTtlMs)))
    state.finalizeEnvironment(p.env)
    // AfterAll stage
    runEnvStatements(afterAll, p.start, p.end, executionTs)
  }

  /** before_all/after_all statements: macro-rendered (time vars + user
    * macros), executed on the session — the reference's environment
    * statements (environment.py:265, plan BeforeAll/AfterAll stages). */
  private def runEnvStatements(statements: Seq[String], start: Long, end: Long,
                               executionTs: Long): Unit =
    statements.foreach(st =>
      spark.sql(evaluator.renderer.statement(st, Interval(start, end), executionTs, Map.empty, None)))

  /** `sqlmesh run` (context.py:756): backfill new missing intervals in an
    * already-planned environment. */
  def run(env: String, start: Long, end: Long,
          executionTs: Long = System.currentTimeMillis(),
          /** `--ignore-cron`: backfill every missing interval up to `end`,
            * ignoring per-model cron-tick readiness (cli/main.py run). */
          ignoreCron: Boolean = false,
          /** `--select-model` selector expressions; empty = the whole env.
            * Upstream dependencies are pulled in automatically unless
            * `autoUpstream = false` (`--no-auto-upstream`). */
          selectModels: Seq[String] = Nil,
          autoUpstream: Boolean = true): Unit = {
    notifier.notifyRunStart(env)
    try {
      runInner(env, start, end, executionTs, ignoreCron, selectModels, autoUpstream)
      notifier.notifyRunEnd(env)
    }
    catch { case e: Throwable => notifier.notifyRunFailure(env, e); throw e }
  }

  private def runInner(env: String, start: Long, end: Long,
                       executionTs: Long, ignoreCron: Boolean = false,
                       selectModels: Seq[String] = Nil,
                       autoUpstream: Boolean = true): Unit = {
    runEnvStatements(beforeAll, start, end, executionTs)
    val view = envView(env)
    val (allSnaps, dag) = (view.snapshots, view.dag)
    val snaps =
      if (selectModels.isEmpty) allSnaps
      else {
        val selected = ModelSelector.expand(selectModels,
          allSnaps.map(s => s.model.name -> s.model).toMap,
          changedFiles = gitChangedFiles)
        // `--select-model` always includes upstream dependencies so the
        // selected models read fresh inputs; --no-auto-upstream opts out
        val wanted = if (autoUpstream) dag.upstream(selected) else selected
        allSnaps.filter(s => wanted(s.model.name))
      }
    // references resolve against the whole environment, selected or not
    val upstreams = evaluator.upstreams(allSnaps, view.devFlags, externals.toMap)
    scheduler.runIn(dag, snaps, start, end, executionTs, upstreams, gates(dag, view.snapshot),
      view.devFlags, recordOnly = false, ignoreCron = ignoreCron, minIntervals = 0)
    runStandaloneAudits(upstreams, start, end, executionTs)
    runEnvStatements(afterAll, start, end, executionTs)
  }

  /** Standalone audits run after backfill against the environment's physical
    * tables (audit/definition.py:559; scheduler audit pass). Blocking
    * failures abort the run; non-blocking ones warn. Only a LIMIT-1
    * violation sample ever reaches the driver. */
  private def runStandaloneAudits(upstreams: Batch => Map[String, String],
                                  start: Long, end: Long, executionTs: Long): Unit =
    standaloneAudits.values.foreach { a =>
      val synthetic = Model(name = a.name, body = SqlBody(a.sql))
      val violations = evaluator.renderer.frame(spark, synthetic, None, start, end, executionTs,
        upstreams(Batch(synthetic, Interval(start, end), executionTs)), None).limit(1).collect()
      if (violations.nonEmpty) {
        val msg = s"standalone audit ${a.name} failed: ${violations.head}"
        if (a.blocking) throw new IllegalStateException(msg)
        else System.err.println(s"[graft] WARN $msg")
      }
    }

  /** Per-batch report of the LAST backfill (model, interval, wall millis) —
    * what ran and what was slow (the reference's per-batch console
    * progress, as data). */
  def lastRunReport: Seq[(String, Interval, Long)] = scheduler.lastRunReport

  /** Compact a model's physical table (the OPTIMIZE verb): merge accreted
    * small files into ~targetFileBytes files, copy-on-write — run it on
    * append/streaming-fed models whose scan cost has become
    * file-count-bound. Returns (filesBefore, filesAfter). */
  def optimizeTable(modelName: String,
                    targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    materializer.compact(envPhysicalTable(modelName), targetFileBytes)

  /** Vacuum a model's physical table: expire all but the newest `keepLast`
    * snapshots and reclaim their storage (Delta VACUUM analog, via the
    * TableFormat seam). Time travel to expired versions stops working. */
  def vacuumTable(modelName: String, keepLast: Int = 1): Int =
    materializer.vacuum(envPhysicalTable(modelName), keepLast)

  /** The physical table an environment serves a model from — prod's for
    * optimize and vacuum, never a dev plan's version. */
  private[graft] def envPhysicalTable(modelName: String, env: String = "prod"): PhysicalTable =
    evaluator.physicalTable(envView(env).snapshot(modelName).getOrElse(
      throw new IllegalStateException(s"$modelName has no snapshot in $env")))

  /** Ad-hoc audit run (reference `sqlmesh audit`, cli/main.py:783): execute a
    * model's attached audits against its environment table WITHOUT
    * backfilling — the on-demand data-quality check. Incremental-by-time
    * models audit only [start, end) when bounds are given, mirroring the
    * evaluator's injected time condition. Returns audit name → violation
    * count (0 = pass); counting is one aggregation per audit, never a
    * driver-side row fetch. */
  def audit(modelName: String, env: String = "prod",
            start: Long = 0L, end: Long = Long.MaxValue): Map[String, Long] = {
    import graft.audits.Audits
    // audits are metadata: the project's current ones run against the
    // standing table (reference Context.audit audits the project's own
    // snapshots); a model the project no longer defines audits as applied
    val view = envView(env)
    val m = models.get(modelName).orElse(view.snapshot(modelName).map(_.model)).getOrElse(
      throw new IllegalArgumentException(s"$modelName is not in environment $env"))
    val table = EnvironmentView.quoted(view.location(modelName))
    val timeCond = m.kind match {
      case k: ModelKind.IncrementalByTimeRange if end < Long.MaxValue =>
        // the time column's type from the table's commit record, as the
        // evaluator takes it from the frame it wrote
        val recorded = view.snapshot(modelName).flatMap(s => materializer.format.schema(
          evaluator.physicalTable(s, view.devFlags.getOrElse(modelName, false))))
        Some(UtcInterval.condition(k.timeColumn, k.timeFormat, start, end,
          recorded.flatMap(UtcInterval.typeOf(_, k.timeColumn))))
      case _ => None
    }
    // audit args may reference OTHER models (relationships `to:`): they
    // resolve over the SAME environment as `run` resolves them — a dev audit
    // checks the dev parent, not prod's, and an EMBEDDED model inlines
    val mapping = evaluator.upstreams(view.snapshots, view.devFlags, externals.toMap)(
      Batch(m, Interval(start, end), System.currentTimeMillis()))
    m.audits.map { case (rawName, args) =>
      val resolvedArgs = args.map { case (k, v) => k -> Renderer.resolveTables(v, mapping) }
      rawName -> Audits.run(spark, rawName.stripSuffix("_non_blocking"), table,
        Audits.withIntervalCondition(resolvedArgs, timeCond)).count()
    }.toMap
  }

  /** Ad-hoc evaluate (context.py:1168): render (as a backfill does) +
    * execute, no materialization. */
  def evaluate(name: String, start: Long, end: Long,
               executionTs: Long = System.currentTimeMillis()): DataFrame = {
    val (s, mapping, thisModel) = renderScope()(name, start, end, executionTs)
    evaluator.query(s, start, end, executionTs, mapping, thisModel)
  }

  /** Query through the environment's virtual layer. */
  def fetch(sql: String): DataFrame = spark.sql(sql)

  /** The environment view a model resolves to (reference `sqlmesh
    * table_name`): prod = bare name; other envs apply the suffix target. */
  def envTable(modelName: String, env: String): String =
    EnvironmentView.quoted(envView(env).location(modelName))

  /** Models whose snapshot version differs between two environments —
    * `table_diff source:target` WITHOUT a model diffs exactly this set
    * (reference cli/main.py:966: model optional; env-pair invocations diff
    * the changed models, optionally narrowed by --select-model). */
  def changedModelsBetween(sourceEnv: String, targetEnv: String): Seq[String] = {
    // a typo'd env must fail loudly, not read as "no changes"
    def snaps(e: String) = envView(e).record.getOrElse(
      throw new IllegalArgumentException(s"unknown environment '$e'")).snapshots
    val s = snaps(sourceEnv); val t = snaps(targetEnv)
    (s.keySet intersect t.keySet).filter(m => s(m) != t(m)).toSeq.sorted
  }

  /** Diff one model's data between two environments (reference `sqlmesh
    * table_diff source_env:target_env model`, cli/main.py:966): row-level
    * full-outer comparison on the model's grain. */
  def tableDiff(modelName: String, sourceEnv: String, targetEnv: String,
                keys: Seq[String] = Nil,
                /** `--where`: filter both sides before diffing. */
                where: Option[String] = None,
                /** `--skip-columns`: ignore these data columns. */
                skipColumns: Seq[String] = Nil,
                /** `--decimals`: float comparison precision (default 3). */
                decimals: Int = 3): DataFrame = {
    val (src, tgt, grain) = tableDiffSides(modelName, sourceEnv, targetEnv, keys,
      where, skipColumns)
    graft.adapter.TableDiff.rowDiff(src, tgt, grain, decimals)
  }

  /** `--show-sample`: the differing rows themselves (side-by-side), capped
    * at `limit` — the drill-down companion to the [[tableDiff]] summary. */
  def tableDiffSample(modelName: String, sourceEnv: String, targetEnv: String,
                      keys: Seq[String] = Nil, where: Option[String] = None,
                      skipColumns: Seq[String] = Nil, limit: Int = 20): DataFrame = {
    val (src, tgt, grain) = tableDiffSides(modelName, sourceEnv, targetEnv, keys,
      where, skipColumns)
    graft.adapter.TableDiff.rowDiffSamples(src, tgt, grain, limit)
  }

  private def tableDiffSides(modelName: String, sourceEnv: String,
                             targetEnv: String, keys: Seq[String],
                             where: Option[String], skipColumns: Seq[String]) = {
    val grain = if (keys.nonEmpty) keys
      else envView(sourceEnv).snapshot(modelName).toSeq.flatMap(_.model.grains)
    require(grain.nonEmpty, s"$modelName: table_diff needs keys (model has no grain)")
    def side(env: String): DataFrame = {
      var df = spark.table(envTable(modelName, env))
      where.foreach(w => df = df.where(w))
      if (skipColumns.nonEmpty) df = df.drop(skipColumns: _*)
      df
    }
    (side(sourceEnv), side(targetEnv), grain)
  }

  /** Write referenced-but-undefined relations to an external-models schema
    * file (reference `sqlmesh create_external_models`, context.py): every
    * reference that is not a model, with its introspected columns. Reload
    * with [[loadExternalModels]] for schema-aware macros and linting when
    * the physical tables are not reachable. */
  def createExternalModels(path: String): Unit = {
    val modelNames = models.keySet
    val refs = models.values.flatMap(_.references).toSet.diff(modelNames).toSeq.sorted
    val sb = new StringBuilder
    refs.foreach { r =>
      val cols = Renderer.catalogSchemaOf(spark, externals.toMap)(r)
      if (cols.nonEmpty) {
        sb.append(s"- name: $r\n  columns:\n")
        cols.foreach { case (c, t) => sb.append(s"    $c: $t\n") }
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Load an external-models schema file: each entry registers as an
    * EXTERNAL model with declared columns (schema metadata only — the
    * physical binding still comes from [[addExternal]]). */
  def loadExternalModels(path: String): this.type = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    root.elements().forEachRemaining { e =>
      val name = e.path("name").asText
      val cols = Option(e.get("columns")).map { c =>
        val b = Seq.newBuilder[(String, String)]
        c.properties().forEach(p => b += p.getKey -> p.getValue.asText)
        b.result()
      }.getOrElse(Nil)
      addModel(Model(name, SqlBody(s"SELECT 1"), kind = ModelKind.External,
        columns = cols))
    }
    this
  }

  /** Drop every view an environment's record placed, where the record placed
    * it — by recorded model NAME, so models no longer defined in this context
    * leak no views. */
  private def demoteAll(view: EnvironmentView): Unit =
    view.record.toSeq.flatMap(_.snapshots.keys).foreach(n => materializer.demote(view.location(n)))

  /** Invalidate an environment (reference `sqlmesh invalidate`): drop its
    * views and record, leaving physical cleanup to the janitor. */
  def invalidateEnvironment(env: String, sync: Boolean = false): Unit = {
    require(env != "prod", "refusing to invalidate prod")
    demoteAll(envView(env))
    if (sync) state.deferPersist {
      // `--sync` (cli/main.py:830): tear down NOW — record deleted and the
      // janitor pass reclaims any physical tables nothing references
      state.deleteEnvironment(env)
      janitor()
    } else state.promoteEnvironment(EnvironmentRecord(env, Map.empty, finalized = true))
  }

  /** TTL janitor (core/janitor.py): expire dev environments past their TTL
    * (views demoted, record deleted), then drop physical tables of snapshots
    * no environment references — one durable write (`graft run` runs it). */
  def janitor(now: Long = System.currentTimeMillis()): Unit = state.deferPersist {
    state.expiredEnvironments(now).foreach { rec =>
      demoteAll(envView(rec.name))
      state.deleteEnvironment(rec.name)
    }
    dropSnapshots(state.expiredSnapshots)
  }

  private def dropSnapshots(snapshots: Seq[Snapshot]): Unit = snapshots.foreach { s =>
    materializer.dropTable(evaluator.physicalTable(s))
    materializer.dropTable(evaluator.physicalTable(s, dev = true))
    state.deleteSnapshot(s.model.name, s.version)
  }

  /** `sqlmesh destroy` (context.py destroy): remove EVERYTHING this context
    * manages — environment views, physical snapshot tables (prod included),
    * and all state records in one durable write. Irreversible; refuses nothing. */
  def destroy(): Unit = state.deferPersist {
    state.environments.foreach { rec =>
      demoteAll(envView(rec.name))
      state.deleteEnvironment(rec.name)
    }
    dropSnapshots(state.allSnapshots)
  }
}
