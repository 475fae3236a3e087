package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Interval, IntervalUnit}

/** Command-line entry point — the reference's `sqlmesh` CLI verb surface
  * (reference sqlmesh/cli/main.py: plan :392, run :573, render :680,
  * evaluate :848, audit :783, lint, table_diff :966, janitor) over
  * [[GraftContext]]. State is durable under `<workspace>/state`, so
  * successive invocations (plan, then run, then audit) resume the same
  * project exactly like the reference CLI does.
  *
  * Usage:
  * {{{
  * graft.Main <verb> [target...] [flags]
  *   init [dir]            scaffold an example project (config.yaml, models/…)
  *   format [dir...]       canonical SQL formatting (--check: report only)
  *   plan [env]            build + print the diff (apply with --auto-apply)
  *   run [env]             backfill missing intervals in [--start, --end)
  *   evaluate <model>      render + execute, print rows (no materialization)
  *   render <model>        print the rendered SQL
  *   audit <model>         run the model's audits, print violation counts
  *   lint                  print linter violations (exit 2 if blocking)
  *   test                  run YAML unit tests (--tests DIR or <project>/tests)
  *   table-diff [<model>] <srcEnv:tgtEnv>  row/schema diff (no model: all changed)
  *   check-intervals [env] per-model elapsed intervals still missing
  *   fetch <sql>           query through the virtual layer, print rows
  *   table-name <model> [env]   the env view a model resolves to
  *   partitions <model>    committed partition values (metadata only)
  *   invalidate <env>      demote an environment's views immediately
  *   create-external-models     write external_models.yaml for unknown refs
  *   create-test <model>   generate a YAML unit test from live data
  *   state-export <path> / state-import <path>   durable state round-trip
  *   export-schedule [env]  DAG + crons + the batches a run now would do, for an
  *                          external orchestrator (--format json|airflow)
  *   environments          list environments
  *   diff [env]            change summary against an environment (no apply)
  *   rewrite <sql>         expand semantic metric references into runnable SQL
  *   clean                 clear Spark cache + remove staging leftovers
  *   migrate               persist the state file at the current schema version
  *   rollback              restore the pre-migration state backup
  *   info                  project summary
  *   dag                   model DAG as graphviz DOT
  *   docs [--out DIR]      static HTML project docs (lineage SVG, model browser)
  *   lineage <model> [col] column-level lineage via the analyzed Catalyst plan
  *   janitor               expire dev environments past their TTL
  *   destroy               drop everything the project created
  * Flags:
  *   --project DIR     load `*.sql` models from DIR (repeatable)
  *   --workspace DIR   physical/state root (default <project>/.graft)
  *   --external NAME=PATH  register an external table (repeatable)
  *   --var K=V         project variable (repeatable)
  *   --start/--end     ISO date (yyyy-MM-dd) or epoch millis; end default now
  *   --select EXPR     model selector (repeatable; plan only)
  *   --auto-apply --forward-only --skip-backfill/--dry-run --no-gaps
  *   --explain              stage-by-stage dry-run narration (plan/explainer.py)
  *   --empty-backfill       record would-be intervals without computing them
  *   --create-from ENV      baseline env for a new environment (default prod)
  *   --backfill MODEL       restrict backfill to matching models (repeatable)
  *   --allow-destructive-model EXPR   lift on_destructive_change (repeatable)
  *   --allow-additive-model EXPR      lift on_additive_change (repeatable)
  *   --skip-tests --skip-linter       bypass the plan-time gates
  *   --no-auto-categorization         direct changes categorize BREAKING
  *   --run                  backfill immediately after --auto-apply
  *   --effective-from DATE   (with --forward-only)
  *   --restate MODEL=START:END   restatement window (repeatable; plan only)
  *   --keys A,B        grain override (table-diff)
  *   --concurrency N   scheduler parallelism (default 4)
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("lsp")) {
      // fast path BEFORE SparkSession construction: the language server
      // needs only the loader/linter/formatter — editors must not wait for
      // (or fail on) Spark startup. stdout is the protocol channel. The
      // graft/runTest runner starts Spark LAZILY on the first test run, so
      // the instant start survives while tests stay runnable in-editor.
      val (flags, _) = parse(args.toIndexedSeq.tail)
      val proj = flags.get("project").map(_.last)
      new graft.lsp.LspServer(System.in, System.out, proj,
        Some(lspTestRunner)).run()
      return
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(args.toIndexedSeq, spark, Console.out)
    finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** graft/runTest backend for the LSP host: YAML unit tests through
    * [[graft.testing.YamlModelTest]] over the project's models, with the
    * SparkSession created on FIRST use only (editors get the instant
    * Spark-free start; the first in-editor test run pays the startup).
    * The project directory arrives PER CALL — the server resolves it from
    * its live root (initialize rootUri or a later --project override), so
    * editors that never pass --project still get test running, and the
    * runner can never target a stale directory. */
  private val lspTestRunner: (String, String, String) => Seq[(String, Option[String])] = {
    lazy val spark = {
      // stdout is the JSON-RPC channel while this runs inside `graft lsp`:
      // any Spark/Ivy/JVM banner reaching System.out on first use would
      // corrupt the protocol stream (the LSP frames themselves go through
      // the server's captured stream, not System.out), so route System.out
      // to stderr for the duration of session startup
      val realOut = System.out
      System.setOut(new java.io.PrintStream(
        new java.io.FileOutputStream(java.io.FileDescriptor.err), true))
      try SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-lsp-tests")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      finally System.setOut(realOut)
    }
    (proj, name, yamlPath) => {
      val models = graft.loader.ModelLoader.loadDirectory(proj)
        .map(m => m.name -> m).toMap
      // name filter applied BEFORE execution: a single-test run from the
      // editor must not execute (or pay for) its sibling tests
      graft.testing.YamlModelTest.runFile(spark, yamlPath, models,
          nameFilter = Option(name).filter(_.nonEmpty))
        .map(r => (r.name, r.failure))
    }
  }

  /** Testable core: parses args, drives the context, writes to `out`,
    * returns the process exit code (0 ok, 1 usage/error, 2 failed gate). */
  def run(args: Seq[String], spark: SparkSession, out: java.io.PrintStream): Int =
    run(args, spark, out, System.in)

  def run(args: Seq[String], spark: SparkSession, out: java.io.PrintStream,
          stdin: java.io.InputStream): Int = {
    if (args.isEmpty) { out.println(usage); return 1 }
    val (flags, positional) = parse(args.tail)
    val verb = args.head

    if (verb == "lsp") {
      // language server over stdio (reference `sqlmesh_lsp`, sqlmesh/lsp/):
      // intercepted BEFORE context construction — the LSP needs only the
      // loader/linter/formatter, never a SparkSession, so editors get an
      // instant start. `out` carries the JSON-RPC frames; diagnostics for
      // humans go through the protocol, not the console.
      val lspProj = flags.get("project").map(_.last)
      new graft.lsp.LspServer(stdin, out, lspProj,
        Some(lspTestRunner)).run()
      return 0
    }

    if (verb == "repl") {
      // the notebook-magics analog (reference sqlmesh/magics.py: %plan,
      // %run_dag, %evaluate, %render, %fetchdf… — per-invocation commands
      // bound to one project): each line is one verb, with the repl's own
      // flags (--project/--external/--var/--workspace) appended, so state
      // persists across lines through the durable workspace exactly like
      // successive notebook cells.
      val sticky = args.tail
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(stdin))
      var line = in.readLine()
      while (line != null && line.trim != "exit" && line.trim != "quit") {
        val toks = tokenizeLine(line)
        if (toks.nonEmpty) {
          // sticky flags go BEFORE the line's own tokens: flag() takes the
          // last occurrence, so a per-line flag overrides a sticky one. The
          // session's stdin is threaded through so stdin-consuming verbs in
          // a scripted repl never grab the real process stdin; nested repl
          // would fight this loop for the same reader, so reject it.
          val c = try {
            if (toks.head == "repl") { out.println("error: nested repl"); 1 }
            else run(toks.head +: (sticky ++ toks.tail), spark, out, stdin)
          } catch { case e: Throwable => out.println(s"error: ${e.getMessage}"); 1 }
          if (c != 0) out.println(s"[exit $c]")
        }
        line = in.readLine()
      }
      return 0
    }

    def flag(name: String): Option[String] = flags.get(name).map(_.last)
    def flagAll(name: String): Seq[String] = flags.getOrElse(name, Nil)
    def has(name: String): Boolean = flags.contains(name)

    try {
      flag("table-format").foreach(graft.loader.ProjectConfig.refuseRemovedTableFormat)
      val projects = flagAll("project")
      // project config.yaml (reference core/config/root.py Config): CLI flags
      // override file config, file config overrides built-in defaults
      val config = projects.headOption
        .flatMap(graft.loader.ProjectConfig.load)
        .getOrElse(graft.loader.ProjectConfig())
      val workspace = flag("workspace")
        .orElse(config.stateDir.map(sd => projects.headOption match {
          case Some(p) if !java.nio.file.Paths.get(sd).isAbsolute => s"$p/$sd"
          case _ => sd
        }))
        .orElse(projects.headOption.map(p => s"$p/.graft"))
        .getOrElse(sys.props("user.dir") + "/.graft")
      val ctx = new GraftContext(spark, workspace,
        concurrency = flag("concurrency").map(_.toInt)
          .orElse(config.concurrency).getOrElse(4),
        variables = flagAll("var").map(kv => splitOnce(kv, '=', "--var")).toMap,
        durableState = true,
        envTtlMs = config.environmentTtlMs.getOrElse(7L * 24 * 3600 * 1000),
        envSuffixTarget = config.environmentSuffixTarget.getOrElse("schema"),
        beforeAll = config.beforeAll,
        afterAll = config.afterAll,
        stateLocation = config.stateConnection)
      // init/format operate on files, not the loaded model graph — and must
      // work on projects that don't parse yet (that's what init creates and
      // what format may be asked to clean up)
      // dbt-layout projects (dbt_project.yml present) load through the dbt
      // loader transparently — the reference does the same via its loader
      // registry, so `plan`/`run`/`dbt` all work on either layout
      if (verb != "init" && verb != "format") projects.foreach { p =>
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(p, "dbt_project.yml")))
          ctx.loadDbtProject(p, target = flag("target"))
        else ctx.loadModels(p)
      }
      flagAll("external").foreach { kv =>
        val (n, p) = splitOnce(kv, '=', "--external"); ctx.addExternal(n, p)
      }

      val now = System.currentTimeMillis()
      val start = flag("start").map(parseTs).getOrElse(0L)
      val end = flag("end").map(parseTs).getOrElse(IntervalUnit.Day.floor(now))

      verb match {
        case "plan" =>
          val env = positional.headOption.getOrElse(ctx.defaultTargetEnvironment)
          // the reference plan gates on linter + unit tests before building
          // (cli/main.py --skip-tests/--skip-linter; plan() runs both)
          val lintBlockers =
            if (has("skip-linter")) Nil else ctx.lint().filter(_.blocking)
          lintBlockers.foreach(v =>
            out.println(s"  ERROR [${v.rule}] ${v.model}: ${v.message}"))
          val testFailures =
            if (has("skip-tests") || lintBlockers.nonEmpty) Nil
            else {
              flagAll("tests").foreach(ctx.loadTests)
              projects.map(p => s"$p/tests")
                .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
                .foreach(ctx.loadTests)
              ctx.runTests().filter(_.failure.nonEmpty)
            }
          testFailures.foreach(r => out.println(s"  FAIL  ${r.name}  (${r.failure.get})"))
          if (lintBlockers.nonEmpty) {
            out.println("plan aborted: blocking linter violations (pass --skip-linter to bypass)")
            2
          } else if (testFailures.nonEmpty) {
            out.println("plan aborted: failing unit tests (pass --skip-tests to bypass)")
            2
          } else {
            val p = ctx.plan(env, start, end,
              restate = flagAll("restate").map(parseRestate).toMap,
              forwardOnly = has("forward-only"),
              skipBackfill = has("skip-backfill") || has("dry-run"),
              select = flagAll("select"),
              effectiveFrom = flag("effective-from").map(parseTs),
              noGaps = has("no-gaps"),
              createFrom = flag("create-from").getOrElse("prod"),
              emptyBackfill = has("empty-backfill"),
              backfill = flagAll("backfill"),
              allowDestructiveModels = flagAll("allow-destructive-model"),
              allowAdditiveModels = flagAll("allow-additive-model"),
              // reference default is exclusion for dev envs; ours is
              // inclusion (dev views always resolve). --exclude-unmodified
              // opts into the reference behavior; --include-unmodified is
              // accepted for reference-compatible invocations.
              includeUnmodified = !has("exclude-unmodified"),
              minIntervals = flag("min-intervals").map(_.toInt).getOrElse(0),
              autoCategorize = !has("no-auto-categorization"))
            out.println(p.describe)
            // reference plan console: unified text diff per changed model
            // (--no-diff hides; --diff-rendered diffs the RENDERED queries,
            // cli/main.py --diff-rendered)
            if (!has("no-diff")) p.modified.foreach { case (old, nw) =>
              (old.model.body, nw.model.body) match {
                case (graft.core.SqlBody(o), graft.core.SqlBody(n)) if o != n =>
                  def rendered(m: graft.core.Model, raw: String): String =
                    if (!has("diff-rendered")) raw
                    else try graft.plans.Renderer.render(m, start, end,
                      System.currentTimeMillis(), Map.empty)
                    catch { case _: Exception => raw }
                  out.println(s"--- ${nw.model.name} (${old.version})")
                  out.println(s"+++ ${nw.model.name} (${nw.version})")
                  out.println(graft.core.TextDiff.unified(
                    rendered(old.model, o), rendered(nw.model, n)))
                case _ => ()
              }
            }
            if (has("explain")) {
              // `plan --explain` (reference plan/explainer.py): stage-by-stage
              // dry-run narration; never applies, even with --auto-apply
              out.println(ctx.explain(p))
            } else if (p.hasChanges && has("auto-apply")) {
              ctx.apply(p)
              out.println(s"applied → ${p.snapshots.size} snapshots promoted in '$env'")
              if (has("run")) { // `--run` (cli/main.py): backfill right after apply
                ctx.run(env, start, end)
                out.println(s"run '$env' complete: ${ctx.lastRunReport.size} batches")
              }
            } else if (p.hasChanges) {
              out.println("(dry run — pass --auto-apply to apply)")
            }
            0
          }
        case "run" =>
          val env = positional.headOption.getOrElse(ctx.defaultTargetEnvironment)
          ctx.run(env, start, end,
            ignoreCron = has("ignore-cron"),
            selectModels = flagAll("select"),
            autoUpstream = !has("no-auto-upstream"))
          val report = ctx.lastRunReport
          report.foreach { case (m, iv, ms) =>
            out.println(f"  $m  [${fmtTs(iv.start)} … ${fmtTs(iv.end)})  $ms%d ms")
          }
          out.println(s"run '$env' complete: ${report.size} batches")
          // the reference runs the janitor after every `run` (context.py:855)
          if (!has("skip-janitor")) ctx.janitor()
          0
        case "evaluate" =>
          val model = positionalRequired(positional, "evaluate <model>")
          printDf(out, ctx.evaluate(model, start, end))
          0
        case "render" =>
          val model = positionalRequired(positional, "render <model>")
          val sql = ctx.renderSql(model, start, end)
          if (has("html")) {
            // the VSCode render webview's payload: rendered SQL + the same
            // lineage SVG the SPA draws, generated server-side. Lineage is
            // best-effort — a model that renders but whose lineage analysis
            // trips must still preview.
            val ups = ctx.allModels.get(model).map(_.references.toSeq.sorted)
              .getOrElse(Nil)
            val lin = scala.util.Try(ctx.columnLineage(model))
              .getOrElse(Map.empty[String, Set[String]])
            out.println(graft.web.RenderHtml.renderPage(model, sql, ups, lin))
          } else out.println(sql)
          0
        case "audit" =>
          val model = positionalRequired(positional, "audit <model>")
          val env = positional.drop(1).headOption.getOrElse("prod")
          val results = ctx.audit(model, env, start,
            if (has("end")) end else Long.MaxValue)
          results.toSeq.sortBy(_._1).foreach { case (name, n) =>
            out.println(s"  ${if (n == 0) "PASS" else "FAIL"}  $name  ($n violations)")
          }
          if (results.valuesIterator.exists(_ > 0)) 2 else 0
        case "test" =>
          flagAll("tests").foreach(ctx.loadTests)
          projects.foreach(p => ctx.loadTests(s"$p/tests"))
          val results = ctx.runTests()
          results.foreach { r =>
            out.println(s"  ${if (r.failure.isEmpty) "PASS" else "FAIL"}  ${r.name}" +
              r.failure.map(f => s"  ($f)").getOrElse(""))
          }
          out.println(s"${results.count(_.failure.isEmpty)}/${results.size} tests passed")
          if (results.exists(_.failure.nonEmpty)) 2 else 0
        case "lint" =>
          projects.foreach(p => ctx.loadTests(s"$p/tests"))
          val vs = ctx.lint()
          vs.foreach(v => out.println(
            s"  ${if (v.blocking) "ERROR" else "WARN "} [${v.rule}] ${v.model}: ${v.message}"))
          out.println(s"${vs.size} violations (${vs.count(_.blocking)} blocking)")
          if (vs.exists(_.blocking)) 2 else 0
        case "table-diff" =>
          val first = positionalRequired(positional, "table-diff [<model>] <src:tgt>")
          // model is OPTIONAL (reference cli/main.py:966): an env-pair-only
          // invocation diffs every model changed between the environments
          val (modelOpt, envs) = positional.drop(1).headOption match {
            case Some(e) => (Some(first), e)
            case None if first.contains(":") => (None, first)
            case None => throw new IllegalArgumentException(
              "table-diff [<model>] <srcEnv:tgtEnv>")
          }
          val (src, tgt) = splitOnce(envs, ':', "source:target envs")
          val keys = flag("keys").map(_.split(',').toSeq).getOrElse(Nil)
          val where = flag("where")
          val skipCols = flag("skip-columns").map(_.split(',').toSeq).getOrElse(Nil)
          val all = ctx.allModels
          val targets = modelOpt match {
            case Some(m) => Seq(m)
            case None =>
              val changed = ctx.changedModelsBetween(src, tgt)
              val sel = flagAll("select")
              if (sel.isEmpty) changed
              else changed.filter(graft.core.ModelSelector.expand(sel, all,
                changedFiles = ctx.gitChangedFiles))
          }
          if (modelOpt.isEmpty)
            out.println(s"${targets.size} changed model(s) between $src and $tgt")
          targets.foreach { model =>
            if (modelOpt.isEmpty) out.println(s"--- $model")
            // in multi-model mode, a model still in env state but no longer
            // in the project, or one without a grain, is reported — not fatal
            if (modelOpt.isEmpty && !all.contains(model))
              out.println(s"  (skipped: not in the loaded project)")
            else if (modelOpt.isEmpty && keys.isEmpty &&
                all.get(model).exists(_.grains.isEmpty))
              out.println(s"  (skipped: no grain declared)")
            else {
              printDf(out, ctx.tableDiff(model, src, tgt, keys, where, skipCols,
                decimals = flag("decimals").map(_.toInt).getOrElse(3)))
              if (has("show-sample"))
                printDf(out, ctx.tableDiffSample(model, src, tgt, keys, where,
                  skipCols, limit = flag("limit").map(_.toInt).getOrElse(20)))
            }
          }
          0
        case "check-intervals" =>
          val env = positional.headOption.getOrElse("prod")
          ctx.checkIntervals(env, start, end, select = flagAll("select")).toSeq.sortBy(_._1).foreach {
            case (m, gaps) =>
              val s = if (gaps.isEmpty) "complete"
                else gaps.map(iv => s"[${fmtTs(iv.start)} … ${fmtTs(iv.end)})").mkString(", ")
              out.println(s"  $m: $s")
          }
          0
        case "environments" =>
          ctx.environments.foreach(e => out.println(
            s"  ${e.name}  (${e.snapshots.size} models" +
              e.expirationTs.map(t => s", expires ${fmtTs(t)}").getOrElse("") + ")"))
          0
        case "fetch" =>
          printDf(out, ctx.fetch(positionalRequired(positional, "fetch <sql>")))
          0
        case "table-name" =>
          val model = positionalRequired(positional, "table-name <model> [env]")
          out.println(ctx.envTable(model, positional.drop(1).headOption.getOrElse("prod")))
          0
        case "partitions" =>
          // SHOW PARTITIONS analog over the TableFormat metadata (partition
          // dir names — never a data scan)
          val model = positionalRequired(positional, "partitions <model>")
          val snap = ctx.state.latestSnapshot(model).getOrElse(
            throw new IllegalArgumentException(s"$model has no snapshot"))
          val t = ctx.evaluator.physicalTable(snap)
          ctx.materializer.partitionValues(t) match {
            case Nil => out.println("(unpartitioned or empty)"); 0
            case pvs =>
              pvs.map(_.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
                  .mkString("/"))
                .sorted.foreach(out.println)
              out.println(s"${pvs.size} partition(s)")
              0
          }
        case "invalidate" =>
          val env = positionalRequired(positional, "invalidate <env>")
          ctx.invalidateEnvironment(env, sync = has("sync"))
          out.println(s"environment '$env' invalidated" +
            (if (has("sync")) " and removed" else ""))
          0
        case "create-external-models" =>
          val path = flag("output").getOrElse(
            projects.headOption.map(p => s"$p/external_models.yaml")
              .getOrElse("external_models.yaml"))
          ctx.createExternalModels(path)
          out.println(s"wrote $path")
          0
        case "create-test" =>
          val model = positionalRequired(positional, "create-test <model>")
          // upstream refs resolve like the planner's table mapping: CLI
          // externals by path, models through the prod virtual layer
          val externalPaths = flagAll("external")
            .map(kv => splitOnce(kv, '=', "--external")).toMap
          val resolve: String => DataFrame = name =>
            externalPaths.get(name) match {
              case Some(p) if !p.startsWith("(") => spark.read.parquet(p)
              case Some(sub)                     => spark.sql(s"SELECT * FROM $sub g")
              case None => spark.table(ctx.envTable(name, "prod"))
            }
          val yaml = graft.testing.YamlModelTest.fromLive(spark,
            s"test_${model.replace('.', '_')}", ctx.model(model), resolve,
            limit = flag("limit").map(_.toInt).getOrElse(10),
            start = start, end = end)
          flag("output") match {
            case Some(p) =>
              java.nio.file.Files.writeString(java.nio.file.Paths.get(p), yaml)
              out.println(s"wrote $p")
            case None => out.println(yaml)
          }
          0
        case "state-export" =>
          val path = positionalRequired(positional, "state-export <path>")
          ctx.state match {
            case f: graft.state.FileStateStore => f.exportTo(path); out.println(s"wrote $path"); 0
            case _ => out.println("state-export requires a durable state store"); 1
          }
        case "state-import" =>
          val path = positionalRequired(positional, "state-import <path>")
          ctx.state match {
            case f: graft.state.FileStateStore =>
              f.importFrom(path); out.println(s"imported $path"); 0
            case _ => out.println("state-import requires a durable state store"); 1
          }
        case "init" =>
          // scaffold an example project (reference `sqlmesh init`,
          // cli/main.py:152); never overwrites existing files
          val dir = positional.headOption.orElse(projects.headOption)
            .getOrElse(sys.props("user.dir"))
          val created = graft.loader.Scaffold.init(dir)
          created.foreach(p => out.println(s"  created $p"))
          out.println(
            if (created.isEmpty) s"nothing to do — project files already exist in $dir"
            else s"project scaffolded in $dir — try: plan --project $dir --auto-apply")
          0
        case "format" =>
          // canonical SQL formatting (reference `sqlmesh format`,
          // cli/main.py:343); --check reports instead of rewriting
          val dirs = (projects ++ positional).distinct
          if (dirs.isEmpty) { out.println("format: pass --project DIR"); 1 }
          else {
            val checkOnly = has("check")
            val (changed, total) = graft.loader.Scaffold.formatDirs(dirs, write = !checkOnly)
            changed.foreach(p => out.println(s"  ${if (checkOnly) "would format" else "formatted"} $p"))
            out.println(s"${changed.size}/$total files ${if (checkOnly) "need formatting" else "rewritten"}")
            if (checkOnly && changed.nonEmpty) 1 else 0
          }
        case "diff" =>
          // reference `sqlmesh diff [env]` (cli/main.py:386): the plan's
          // change summary against the target environment, never applied
          val env = positional.headOption.getOrElse("prod")
          val p = ctx.plan(env, start, end, select = flagAll("select"),
            createFrom = flag("create-from").getOrElse("prod"))
          out.println(p.describe)
          // unified text diff per modified SQL model (reference
          // ContextDiff.text_diff, rendered by `sqlmesh diff`)
          p.modified.foreach { case (old, nw) =>
            (old.model.body, nw.model.body) match {
              case (graft.core.SqlBody(o), graft.core.SqlBody(n)) if o != n =>
                out.println(s"--- ${nw.model.name} (${old.version})")
                out.println(s"+++ ${nw.model.name} (${nw.version})")
                out.println(graft.core.TextDiff.unified(o, n))
              case _ => ()
            }
          }
          0
        case "rewrite" =>
          val sql = positionalRequired(positional, "rewrite <sql>")
          out.println(ctx.rewriteSemantic(sql, flag("env").getOrElse("prod")))
          0
        case "clean" =>
          val removed = ctx.clean()
          removed.foreach(p => out.println(s"  removed $p"))
          out.println(s"cache cleared; ${removed.size} staging leftovers removed")
          0
        case "migrate" =>
          ctx.state match {
            case f: graft.state.FileStateStore =>
              out.println(
                if (f.migrateNow()) "state migrated to current schema version"
                else "state already at current schema version")
              0
            case _ => out.println("migrate requires a durable state store"); 1
          }
        case "rollback" =>
          ctx.state match {
            case f: graft.state.FileStateStore =>
              f.rollback()
              out.println("state rolled back to pre-migration backup")
              0
            case _ => out.println("rollback requires a durable state store"); 1
          }
        case "info"    => out.println(ctx.info); 0
        case "dag"     => out.println(ctx.dagDot); 0
        case "join-path" =>
          // entity-join inference (reference core/reference.py find_path):
          // the grains/references chain that joins two models safely
          val src = positionalRequired(positional, "join-path <source> <target>")
          val tgt = positional.drop(1).headOption.getOrElse(
            throw new IllegalArgumentException("join-path <source> <target>"))
          val graph = new graft.core.ReferenceGraph(ctx.allModels.values)
          val path = graph.findPath(src, tgt,
            flag("max-depth").map(_.toInt).getOrElse(3))
          if (path.isEmpty) { out.println(s"no references declared on $src"); 1 }
          else {
            out.println((Seq(src) ++ path.map(st =>
              s"=[${st.name}${if (st.toUnique) "" else " *many"}]=> ${st.toModel}")).mkString(" "))
            0
          }
        case "optimize" =>
          // small-file compaction (Delta OPTIMIZE analog; ctx.optimizeTable)
          val model = positionalRequired(positional, "optimize <model>")
          val (b, a) = ctx.optimizeTable(model,
            flag("target-file-mb").map(_.toLong * 1024 * 1024)
              .getOrElse(128L * 1024 * 1024))
          out.println(s"  $model: $b -> $a files")
          0
        case "vacuum" =>
          // expire old snapshots + reclaim storage (Delta VACUUM analog)
          val model = positionalRequired(positional, "vacuum <model>")
          val n = ctx.vacuumTable(model, flag("keep").map(_.toInt).getOrElse(1))
          out.println(s"  $model: $n old snapshot(s) reclaimed")
          0
        case "export-schedule" =>
          // external-orchestrator export (reference sqlmesh/schedulers/):
          // read-only — computes what a run now WOULD backfill, mutates nothing
          val env = positional.headOption.getOrElse("prod")
          val sched = ctx.exportSchedule(env, start, end)
          val text = flag("format").getOrElse("json") match {
            case "airflow" => graft.plans.ScheduleExport.airflowDag(env, sched)
            case "json" => graft.plans.ScheduleExport.json(env, start, end, sched)
            case other => throw new IllegalArgumentException(
              s"unknown --format '$other' (json|airflow)")
          }
          flag("out") match {
            case Some(f) =>
              java.nio.file.Files.writeString(java.nio.file.Paths.get(f), text)
              out.println(s"schedule written to $f")
            case None => out.println(text)
          }
          0
        case "ui" =>
          // browser UI (reference `sqlmesh ui`, cli/main.py:900): serves the
          // API + single-page app until interrupted
          val srv = new graft.web.UiServer(ctx,
            host = flag("host").getOrElse("127.0.0.1"),
            port = flag("port").map(_.toInt).getOrElse(8000),
            projectDir = flag("project")).start()
          out.println(s"graft ui listening on ${srv.address}/?token=${srv.token} (ctrl-c to stop)")
          Thread.currentThread().join()
          0
        case "signal-ready" =>
          // sensor poke target for exported Airflow DAGs: exit 0 iff every
          // missing batch of the model in the window passes its signal gate
          val env = positional.headOption.getOrElse("prod")
          val sel = flag("select").getOrElse(throw new IllegalArgumentException(
            "usage: signal-ready <env> --select <model> [--start S --end E]"))
          val ready = ctx.signalReady(env, sel, start, end)
          out.println(s"$sel: " + (if (ready) "ready" else "waiting"))
          if (ready) 0 else 1
        case "lineage" =>
          // column-level lineage (reference core/lineage.py, surfaced in the
          // web UI/LSP): output column → upstream relation.column leaves
          positional.headOption match {
            case None => out.println("usage: lineage <model> [column]"); 1
            case Some(modelName) =>
              val lin = ctx.columnLineage(modelName)
              val chosen = positional.lift(1) match {
                case Some(c) => lin.view.filterKeys(_ == c).toMap
                case None    => lin
              }
              if (chosen.isEmpty) { out.println("no matching columns"); 1 }
              else {
                chosen.toSeq.sortBy(_._1).foreach { case (c, ups) =>
                  val src = if (ups.isEmpty) "(constant)"
                            else ups.toSeq.sorted.mkString(", ")
                  out.println(s"$c <- $src")
                }
                0
              }
          }
        case "docs" =>
          // static HTML project docs (the offline stand-in for the
          // reference's web UI; reference web/, `sqlmesh ui`)
          val outDir = flag("out").getOrElse(
            projects.headOption.getOrElse(sys.props("user.dir")) + "/docs")
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
          val f = java.nio.file.Paths.get(outDir, "index.html")
          java.nio.file.Files.writeString(f, graft.docs.DocsGenerator.html(ctx))
          out.println(s"docs written to $f"); 0
        case "dbt" =>
          // `graft dbt <sub>` — the dbt-CLI facade (reference sqlmesh_dbt/:
          // cli.py verbs `run` :165 and `list` :176; everything else there
          // is a stub). run/list are faithful; seed/test/build/compile map
          // naturally onto the engine so they work here too.
          val sub = positional.headOption.getOrElse("")
          val env = flag("env").orElse(flag("environment")).getOrElse("prod")
          // dbt writes target/manifest.json on every command; run-shaped
          // verbs add run_results.json below — the artifact surface
          // downstream dbt tooling (docs sites, monitors) consumes
          val dbtProjDir = projects.headOption.getOrElse(sys.props("user.dir"))
          val dbtProjName = ctx.dbtProjectName.getOrElse(
            java.nio.file.Paths.get(dbtProjDir)
              .toAbsolutePath.normalize.getFileName.toString)
          if (sub.nonEmpty)
            graft.loader.DbtArtifacts.writeManifest(dbtProjDir, dbtProjName,
              ctx.allModels.values, ctx.dbtSources, ctx.dbtPackageOf,
              ctx.dbtStemOf)
          val selExprs = graft.loader.DbtSelectors.toSelector(
            flagAll("select") ++ flagAll("s"),
            flagAll("models") ++ flagAll("m"), flagAll("exclude"))
          def selectedNames: Seq[String] = graft.core.ModelSelector
            .expand(selExprs, ctx.modelInventory).toSeq.sorted
          def dbtRun(): Int = {
            // dbt run = plan with auto-apply and no prompts (operations.py:43
            // run → plan_builder + auto_apply), then backfill the window.
            // --full-refresh drops incremental history by restating selected
            // incremental models over their whole lifetime
            val restate: Map[String, graft.core.Interval] =
              if (!has("full-refresh")) Map.empty
              else selectedNames.filter(n => ctx.model(n).kind.isIncremental)
                .map(n => n -> graft.core.Interval(0L, end)).toMap
            val p = ctx.plan(env, start, end, select = selExprs, restate = restate)
            ctx.apply(p)
            // apply's backfill and the catch-up run are separate scheduler
            // passes; the run report (console + run_results.json) is their
            // union — apply-time batches would otherwise vanish from it
            val applyReport = ctx.lastRunReport
            ctx.run(env, start, end, selectModels = selExprs)
            val report = applyReport ++ ctx.lastRunReport
            report.foreach { case (m, iv, ms) =>
              out.println(f"  $m  [${fmtTs(iv.start)} … ${fmtTs(iv.end)})  $ms%d ms")
            }
            graft.loader.DbtArtifacts.writeRunResults(dbtProjDir, dbtProjName,
              ctx.allModels, report, ctx.dbtPackageOf, ctx.dbtStemOf)
            out.println(s"Completed successfully: ${report.size} batches in '$env'")
            0
          }
          def dbtTest(): Int = {
            val withAudits = selectedNames.filter(n => ctx.model(n).audits.nonEmpty)
            var failures = 0
            withAudits.foreach { m =>
              val results = ctx.audit(m, env, start, Long.MaxValue)
              results.toSeq.sortBy(_._1).foreach { case (name, n) =>
                if (n > 0) failures += 1
                out.println(s"  ${if (n == 0) "PASS" else "FAIL"}  $m.$name  ($n violations)")
              }
            }
            out.println(s"dbt test: ${withAudits.size} model(s) audited, $failures failure(s)")
            if (failures > 0) 2 else 0
          }
          def dbtSeed(): Int = {
            val seeds = selectedNames.filter(n => ctx.model(n).kind match {
              case _: graft.core.ModelKind.Seed => true; case _ => false
            })
            if (seeds.isEmpty) { out.println("no seed models"); 0 }
            else {
              ctx.apply(ctx.plan(env, start, end, backfill = seeds))
              seeds.foreach(s => out.println(s"  seeded $s"))
              0
            }
          }
          def dbtSnapshot(): Int = {
            // dbt snapshot: materialize only the SCD2-kind models (dbt
            // snapshots/ blocks load as SCD_TYPE_2_* via DbtLoader)
            val snaps = selectedNames.filter(n => ctx.model(n).kind match {
              case _: graft.core.ModelKind.ScdType2ByTime => true
              case _: graft.core.ModelKind.ScdType2ByColumn => true
              case _ => false
            })
            if (snaps.isEmpty) { out.println("no snapshot models"); 0 }
            else {
              ctx.apply(ctx.plan(env, start, end, backfill = snaps))
              ctx.run(env, start, end, selectModels = snaps)
              snaps.foreach(s => out.println(s"  snapshotted $s"))
              0
            }
          }
          sub match {
            case "run" => dbtRun()
            case "snapshot" => dbtSnapshot()
            case "source" =>
              // dbt source freshness: staleness per source table with a
              // loaded_at_field; exit 2 on any error-stale source (dbt
              // exits nonzero), warn-stale prints but passes
              positional.drop(1).headOption match {
                case Some("freshness") =>
                  val results = ctx.sourceFreshness()
                  if (results.isEmpty) { out.println("no sources with loaded_at_field"); 0 }
                  else {
                    results.sortBy(_._1.relation).foreach { case (src, age, status) =>
                      val ageTxt = age.map(a => f"age ${a / 3600000.0}%.1fh").getOrElse("unreadable")
                      out.println(s"  ${src.source}.${src.table}: ${status.toUpperCase} ($ageTxt)")
                    }
                    val errs = results.count(_._3 == "error")
                    out.println(s"dbt source freshness: ${results.size} checked, " +
                      s"${results.count(_._3 == "warn")} warn, $errs error")
                    if (errs > 0) 2 else 0
                  }
                case other =>
                  out.println(s"usage: dbt source freshness (got '${other.getOrElse("")}')"); 1
              }
            case "docs" =>
              // dbt docs generate → the engine's static docs page
              val outDir = flag("out").getOrElse(
                projects.headOption.getOrElse(sys.props("user.dir")) + "/docs")
              java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
              val f = java.nio.file.Paths.get(outDir, "index.html")
              java.nio.file.Files.writeString(f, graft.docs.DocsGenerator.html(ctx))
              out.println(s"docs written to $f"); 0
            case "list" | "ls" =>
              // dbt list prints models and their data tests (operations.py:25)
              selectedNames.foreach { n =>
                val m = ctx.model(n)
                out.println(s"  $n  [${m.kind.name}]")
                m.audits.foreach { case (a, _) => out.println(s"    test: $n.$a") }
              }
              0
            case "compile" =>
              selectedNames.foreach { n =>
                out.println(s"-- $n"); out.println(ctx.renderSql(n, start, end))
              }
              0
            case "show" =>
              // dbt show: preview rows of each selected model's rendered
              // query (compiled + executed with a LIMIT, like dbt's)
              val limit = flag("limit").map(_.toInt).getOrElse(5)
              if (selectedNames.isEmpty) { out.println("no models selected"); 1 }
              else {
                selectedNames.foreach { n =>
                  out.println(s"-- $n")
                  printDf(out, ctx.evaluate(n, start, end).limit(limit))
                }
                0
              }
            case "test" => dbtTest()
            case "seed" => dbtSeed()
            case "build" =>
              // dbt build = seed + run + test in DAG order
              val s0 = dbtSeed(); val r0 = dbtRun(); val t0 = dbtTest()
              Seq(s0, r0, t0).max
            case other =>
              out.println(s"dbt $other not implemented"); 1
          }
        case "cicd" =>
          // offline GitHub-bot analog (reference integrations/github/cicd):
          // PR-scoped virtual environment + gated prod deploy, with the
          // check results emitted as the would-be PR comment markdown
          val sub = positionalRequired(positional,
            "cicd <run-all|update-pr-environment|gen-prod-plan|deploy-production|invalidate-pr> --pr N")
          val pr = flag("pr").map(_.toInt).getOrElse(
            throw new IllegalArgumentException("cicd requires --pr <number>"))
          val repo = flag("repo").orElse(projects.headOption.map(p =>
            java.nio.file.Paths.get(p).toAbsolutePath.normalize.getFileName.toString))
            .getOrElse("repo")
          // the bot's unit-test check runs the project's tests (command.py:74)
          flagAll("tests").foreach(ctx.loadTests)
          projects.map(p => s"$p/tests")
            .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
            .foreach(ctx.loadTests)
          val bot = new graft.cicd.CicdBot(ctx, repo, pr, start, end,
            skipPrBackfill = !has("pr-backfill"),
            prMinIntervals = flag("min-intervals").map(_.toInt).getOrElse(0))
          val code = sub match {
            case "run-all" => if (bot.runAll(autoDeploy = has("deploy"))) 0 else 2
            case "update-pr-environment" => bot.updatePrEnvironment(); 0
            case "gen-prod-plan" => bot.prodPlanPreview(); 0
            case "deploy-production" => bot.deployProduction(); 0
            case "invalidate-pr" =>
              ctx.invalidateEnvironment(bot.prEnvironmentName, sync = true)
              ctx.janitor(); out.println(s"invalidated ${bot.prEnvironmentName}"); 0
            case other => out.println(s"unknown cicd subcommand '$other'"); 1
          }
          flag("comment-file").foreach(f => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(f), bot.comment))
          out.println(bot.comment)
          code
        case "dlt-refresh" =>
          // reference `sqlmesh dlt_refresh <pipeline> [table...]`
          // (integrations/dlt.py:134 generate_dlt_models): scaffold
          // incremental models from a dlt pipeline's persisted schema
          val pipeline = positionalRequired(positional,
            "dlt-refresh <pipeline> [table...] --dlt-path DIR")
          val dltPath = flag("dlt-path").getOrElse(
            sys.props("user.home") + "/.dlt/pipelines")
          val dataset = flag("dataset")
            .orElse(graft.loader.DltGenerator.datasetName(dltPath, pipeline))
            .getOrElse(s"${pipeline}_dataset")
          val gen = graft.loader.DltGenerator.generate(
            dltPath, pipeline, dataset, positional.drop(1))
          val projDir = projects.headOption.getOrElse(sys.props("user.dir"))
          val written = graft.loader.DltGenerator.writeModels(
            projDir, gen, ctx.modelInventory.keySet, has("force"))
          written.foreach(n => out.println(s"  + $n"))
          graft.loader.DltGenerator.startDateFromLoads(dltPath, pipeline)
            .foreach(d => out.println(s"  suggested --start: $d"))
          out.println(s"dlt-refresh: ${written.size} model(s) written to $projDir/models")
          0
        case "janitor" => ctx.janitor(); out.println("janitor complete"); 0
        case "destroy" => ctx.destroy(); out.println("project destroyed"); 0
        case other =>
          out.println(s"unknown verb '$other'\n$usage"); 1
      }
    } catch {
      case e: IllegalArgumentException => out.println(s"error: ${e.getMessage}"); 1
      case e: IllegalStateException    => out.println(s"error: ${e.getMessage}"); 2
      // engine/analysis failures (bad SQL in fetch/evaluate, missing tables)
      // exit cleanly with the first message line, not a stack trace
      case e: Exception =>
        out.println(s"error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}")
        2
    }
  }

  // ---------------------------------------------------------- helpers ----

  /** Shell-ish line tokenizer for the repl: whitespace-separated, single or
    * double quotes group. */
  private def tokenizeLine(s: String): Seq[String] = {
    val toks = Vector.newBuilder[String]; val cur = new StringBuilder
    var q: Char = 0
    for (c <- s) {
      if (q != 0) { if (c == q) q = 0 else cur += c }
      else if (c == '"' || c == '\'') q = c
      else if (c.isWhitespace) {
        if (cur.nonEmpty) { toks += cur.result(); cur.clear() }
      } else cur += c
    }
    if (cur.nonEmpty) toks += cur.result()
    toks.result()
  }

  private def parse(args: Seq[String]): (Map[String, Seq[String]], Seq[String]) = {
    val flags = scala.collection.mutable.Map[String, Vector[String]]()
    val positional = Vector.newBuilder[String]
    val boolFlags = Set("auto-apply", "forward-only", "skip-backfill", "dry-run",
      "no-gaps", "check", "empty-backfill", "skip-tests", "skip-linter", "run",
      "ignore-cron", "no-auto-upstream", "skip-janitor", "show-sample", "sync",
      "explain", "full-refresh", "deploy", "pr-backfill", "force", "html",
      "no-diff", "diff-rendered", "include-unmodified", "exclude-unmodified",
      "no-auto-categorization")
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val name = a.drop(2)
        if (boolFlags(name)) { flags(name) = flags.getOrElse(name, Vector()) :+ "true" }
        else {
          if (i + 1 >= args.length)
            throw new IllegalArgumentException(s"--$name requires a value")
          flags(name) = flags.getOrElse(name, Vector()) :+ args(i + 1)
          i += 1
        }
      } else positional += a
      i += 1
    }
    (flags.toMap, positional.result())
  }

  private def positionalRequired(positional: Seq[String], what: String): String =
    positional.headOption.getOrElse(
      throw new IllegalArgumentException(s"usage: $what"))

  private def splitOnce(s: String, sep: Char, what: String): (String, String) =
    s.indexOf(sep) match {
      case -1 => throw new IllegalArgumentException(s"$what expects KEY${sep}VALUE, got '$s'")
      case i  => (s.take(i), s.drop(i + 1))
    }

  /** ISO date (UTC midnight) or raw epoch millis. */
  /** Epoch millis, `yyyy-MM-dd`, ISO instant (`…T00:00:00Z`), or local
    * datetime (UTC). The instant form is what export-schedule emits in its
    * batch commands, so exported commands must round-trip through here. */
  private[graft] def parseTs(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else if (!s.contains('T')) java.time.LocalDate.parse(s).toEpochDay * 86400000L
    else if (s.endsWith("Z") || s.contains('+'))
      java.time.Instant.parse(s).toEpochMilli
    else java.time.LocalDateTime.parse(s)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  private def parseRestate(s: String): (String, Interval) = {
    val (model, window) = splitOnce(s, '=', "--restate")
    val (a, b) = splitOnce(window, ':', "--restate window")
    model -> Interval(parseTs(a), parseTs(b))
  }

  private def fmtTs(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString.stripSuffix("Z").stripSuffix("T00:00:00")

  /** Bounded tabular print — never pulls more than `max` rows to the driver. */
  private def printDf(out: java.io.PrintStream, df: DataFrame, max: Int = 50): Unit = {
    val rows = df.limit(max + 1).collect()
    val cols = df.columns
    val cells = rows.take(max).map(r => cols.indices.map(i => String.valueOf(r.get(i))))
    val widths = cols.indices.map(i =>
      (cols(i).length +: cells.map(_(i).length)).max)
    def line(vals: Seq[String]) =
      out.println(vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("  "))
    line(cols.toSeq)
    line(widths.map("-" * _))
    cells.foreach(line)
    if (rows.length > max) out.println(s"… (truncated at $max rows)")
  }

  private val usage: String =
    """usage: graft <verb> [target...] [flags]
      |verbs: init format plan run diff evaluate render audit lint test
      |       table-diff check-intervals environments fetch table-name
      |       partitions
      |       invalidate create-external-models create-test state-export
      |       state-import rewrite clean migrate rollback info dag docs
      |       lineage janitor destroy
      |       export-schedule [env] [--format json|airflow] [--out F]
      |       signal-ready <env> --select <model> [--start S --end E]
      |       ui [--host H] [--port N]   browser UI + HTTP API
      |       lsp [--project DIR]        language server (JSON-RPC on stdio)
      |       optimize <model> [--target-file-mb N]   vacuum <model> [--keep N]
      |       dbt run|list|compile|test|seed|build|snapshot|show|source freshness
      |         (dbt-CLI facade over a
      |          dbt_project.yml project; --select/--models/--exclude,
      |          --full-refresh, --env)
      |       cicd run-all|update-pr-environment|gen-prod-plan|
      |         deploy-production|invalidate-pr  --pr N [--deploy]
      |         [--pr-backfill] [--comment-file F]  (offline CICD bot)
      |run `graft <verb>` with --project DIR --start/--end dates; see Scaladoc.""".stripMargin
}
