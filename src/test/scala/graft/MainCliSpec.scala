package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI end-to-end over a file project (reference `sqlmesh plan/run/...`,
  * cli/main.py): each verb is a SEPARATE Main.run invocation building a
  * fresh context over the same durable workspace — exactly how a user
  * drives the CLI — so this also pins that plan state, intervals, and
  * environments persist across processes. */
class MainCliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def cli(args: String*): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val code = Main.run(args.toIndexedSeq, spark, new java.io.PrintStream(buf, true))
    (code, buf.toString)
  }

  test("plan / run / audit / render / lint / info drive a file project end-to-end") {
    val proj = SparkTestSession.tmpDir("cli-proj")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (
        |  name cli.daily,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate, batch_size 14),
        |  cron '@daily',
        |  start '1995-01-01',
        |  audits (not_null(columns = (o_orderdate)))
        |);
        |SELECT o_orderdate, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
        |GROUP BY o_orderdate
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "report.sql"),
      """MODEL (name cli.report, kind VIEW);
        |SELECT count(*) AS days, round(sum(rev), 2) AS total FROM cli.daily
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")

    // dry-run plan prints the diff and applies nothing
    val (c0, dry) = cli(Seq("plan", "prod", "--start", "1995-01-01",
      "--end", "1995-01-15") ++ base: _*)
    assert(c0 == 0 && dry.contains("+ cli.daily") && dry.contains("dry run"))
    assert(!spark.catalog.tableExists("cli.daily"))

    // plan --auto-apply materializes and promotes
    val (c1, applied) = cli(Seq("plan", "prod", "--start", "1995-01-01",
      "--end", "1995-01-15", "--auto-apply") ++ base: _*)
    assert(c1 == 0 && applied.contains("applied"))
    val afterPlan = spark.table("cli.daily").count()
    assert(afterPlan > 0)
    assert(spark.table("cli.report").select("days").head.getLong(0) == afterPlan)

    // a fresh invocation sees the planned env (durable state) and extends it
    val (c2, ran) = cli(Seq("run", "prod", "--start", "1995-01-01",
      "--end", "1995-01-25") ++ base: _*)
    assert(c2 == 0 && ran.contains("run 'prod' complete"))
    assert(spark.table("cli.daily").count() > afterPlan)

    // check-intervals reports the window complete after the run
    val (c3, gaps) = cli(Seq("check-intervals", "prod", "--start", "1995-01-01",
      "--end", "1995-01-25") ++ base: _*)
    assert(c3 == 0 && gaps.contains("cli.daily: complete"))

    val (c4, audited) = cli(Seq("audit", "cli.daily") ++ base: _*)
    assert(c4 == 0 && audited.contains("PASS") && audited.contains("not_null"))

    val (c5, rendered) = cli(Seq("render", "cli.daily", "--start", "1995-01-01",
      "--end", "1995-01-02") ++ base: _*)
    assert(c5 == 0 && rendered.toLowerCase.contains("group by"))
    assert(rendered.contains("1995-01-01")) // time macros resolved

    val (c6, linted) = cli(Seq("lint") ++ base: _*)
    assert(c6 == 0 && linted.contains("0 blocking"))

    val (c7, infod) = cli(Seq("info") ++ base: _*)
    assert(c7 == 0 && infod.contains("models: 2"))

    val (c8, envs) = cli(Seq("environments") ++ base: _*)
    assert(c8 == 0 && envs.contains("prod"))

    // evaluate executes without materializing and prints rows
    val (c9, evaled) = cli(Seq("evaluate", "cli.daily", "--start", "1995-01-01",
      "--end", "1995-01-05") ++ base: _*)
    assert(c9 == 0 && evaled.contains("o_orderdate"))

    // unknown verbs and missing targets fail cleanly
    assert(cli(Seq("frobnicate") ++ base: _*)._1 == 1)
    assert(cli(Seq("render") ++ base: _*)._1 == 1)
  }

  test("docs writes a standalone HTML page with lineage SVG and model detail") {
    val proj = SparkTestSession.tmpDir("cli-docs")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "base.sql"),
      """MODEL (name docs.base, kind FULL, owner 'data-eng', tags (docs, core),
        |  audits (not_null(columns = (o_orderkey))));
        |SELECT o_orderkey, o_totalprice FROM raw.orders WHERE o_totalprice < 1000
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "top.sql"),
      """MODEL (name docs.top, kind VIEW, description 'cheap order count');
        |SELECT count(*) AS n FROM docs.base
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    assert(cli(Seq("plan", "prod", "--auto-apply") ++ base: _*)._1 == 0)

    val (c, outTxt) = cli(Seq("docs") ++ base: _*)
    assert(c == 0 && outTxt.contains("index.html"))
    val html = java.nio.file.Files.readString(
      java.nio.file.Paths.get(proj, "docs", "index.html"))
    // lineage SVG: nodes for both models + the external, and at least 2 edges
    assert(html.contains("<svg") && html.contains("docs.base")
      && html.contains("docs.top") && html.contains("raw.orders"))
    assert("""<path d="M """.r.findAllIn(html).size >= 2)
    assert(html.contains("stroke-dasharray")) // external node is dashed
    // model table + detail: kind, owner, tags, description, audits, SQL body
    assert(html.contains("FULL") && html.contains("VIEW")
      && html.contains("data-eng") && html.contains("docs, core")
      && html.contains("cheap order count") && html.contains("not_null"))
    assert(html.contains("upstream") && html.contains("downstream"))
    // SQL operators are HTML-escaped inside <pre>
    assert(html.contains("o_totalprice &lt; 1000") && !html.contains("o_totalprice < 1000"))
    // planned environment shows up
    assert(html.contains("Environments") && html.contains("prod"))
    // column lineage rendered into the page (plan applied, so resolvable)
    assert(html.contains("Column lineage")
      && html.contains("raw.orders.o_totalprice"))
    // --out overrides the target directory
    val alt = SparkTestSession.tmpDir("cli-docs-out")
    assert(cli(Seq("docs", "--out", alt) ++ base: _*)._1 == 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(alt, "index.html")))

    // the lineage verb prints column provenance; count(*) is constant-derived
    val (cl, lin) = cli(Seq("lineage", "docs.base") ++ base: _*)
    assert(cl == 0 && lin.contains("o_totalprice <- raw.orders.o_totalprice"))
    val (cl2, lin2) = cli(Seq("lineage", "docs.base", "o_orderkey") ++ base: _*)
    assert(cl2 == 0 && lin2.trim == "o_orderkey <- raw.orders.o_orderkey")
    assert(cli(Seq("lineage", "docs.base", "nope") ++ base: _*)._1 == 1)
  }

  test("init scaffolds a runnable project; format is idempotent over it") {
    val dir = SparkTestSession.tmpDir("cli-init")
    val (c0, o0) = cli("init", dir)
    assert(c0 == 0 && o0.contains("created config.yaml") && o0.contains("scaffolded"))
    // re-running never overwrites
    val (c1, o1) = cli("init", dir)
    assert(c1 == 0 && o1.contains("nothing to do"))
    // the scaffold plans + applies with zero external bindings (seed-driven)
    val (c2, o2) = cli("plan", "prod", "--project", dir,
      "--start", "2020-01-01", "--end", "2020-01-08", "--auto-apply")
    assert(c2 == 0 && o2.contains("applied"), o2)
    assert(spark.table("graft_example.full_model").count() > 0)
    // the scaffolded YAML unit test passes
    val (c3, o3) = cli("test", "--project", dir)
    assert(c3 == 0 && o3.contains("1/1 tests passed"), o3)
    // format: first pass may rewrite, second pass must be a no-op
    val (c4, _) = cli("format", "--project", dir)
    assert(c4 == 0)
    val (c5, o5) = cli("format", "--project", dir, "--check")
    assert(c5 == 0 && o5.contains("0/"), s"format not idempotent:\n$o5")
    // and the formatted project still loads + plans cleanly
    val (c6, o6) = cli("plan", "prod", "--project", dir,
      "--start", "2020-01-01", "--end", "2020-01-08")
    assert(c6 == 0, o6)
  }

  test("format leaves jinja-templated (dbt) files untouched") {
    val dir = SparkTestSession.tmpDir("cli-fmt-jinja")
    val dbtModel = "{{ config(materialized='table') }}\nSELECT 1   AS x\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "m.sql"), dbtModel)
    val (c, o) = cli("format", "--project", dir)
    assert(c == 0, o)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "m.sql")) == dbtModel)
  }

  test("format is idempotent on a representative model file") {
    import graft.loader.SqlFormatter
    val src =
      """-- top comment
        |MODEL (name fmt.m, kind INCREMENTAL_BY_TIME_RANGE (time_column ds,
        |   batch_size 10), cron '@daily', audits (not_null(columns = (ds))));
        |SELECT a.ds, count(*) AS n,
        |  sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS pos
        |  FROM raw.t a LEFT JOIN raw.u b ON a.id = b.id
        |  WHERE a.ds BETWEEN @start_ds AND @end_ds AND b.v IN (SELECT v FROM raw.w)
        |  GROUP BY a.ds ORDER BY a.ds;
        |""".stripMargin
    val once = SqlFormatter.formatFile(src)
    val twice = SqlFormatter.formatFile(once)
    assert(once == twice, s"not idempotent:\n--- once ---\n$once\n--- twice ---\n$twice")
    // still a loadable model with identical semantics-relevant parts
    val m = graft.loader.ModelLoader.parse(once)
    assert(m.name == "fmt.m" && m.cron == "@daily")
    assert(m.audits.map(_._1) == Seq("not_null"))
    // formatted SQL keeps the macro tokens and clause structure
    assert(once.contains("@start_ds") && once.contains("LEFT JOIN"))
  }

  test("lint exits 2 on a blocking violation") {
    val proj = SparkTestSession.tmpDir("cli-lint")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "bad.sql"),
      """MODEL (name cli2.bad, kind FULL);
        |SELECT x FROM not.registered
        |""".stripMargin)
    val (code, txt) = cli("lint", "--project", proj)
    assert(code == 2 && txt.contains("nomissingexternalmodels"))
  }

  test("fetch / table-name / create-test / state round-trip / invalidate") {
    val proj = SparkTestSession.tmpDir("cli-proj2")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "seg.sql"),
      """MODEL (name cli3.seg, kind FULL);
        |SELECT c_mktsegment, count(*) AS n FROM raw.customer GROUP BY c_mktsegment
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.customer=$sf/customer.parquet")
    assert(cli(Seq("plan", "prod", "--auto-apply") ++ base: _*)._1 == 0)

    val (c1, fetched) = cli(Seq("fetch", "SELECT count(*) AS n FROM cli3.seg") ++ base: _*)
    assert(c1 == 0 && fetched.contains("n"))

    val (c2, tn) = cli(Seq("table-name", "cli3.seg", "dev") ++ base: _*)
    assert(c2 == 0 && tn.contains("cli3__dev"))

    // create-test emits a replayable YAML fixture from live data
    val testOut = SparkTestSession.tmpDir("cli-tests") + "/t.yaml"
    val (c3, _) = cli(Seq("create-test", "cli3.seg", "--output", testOut,
      "--limit", "50") ++ base: _*)
    assert(c3 == 0)
    val (c4, ran) = cli(Seq("test", "--tests",
      java.nio.file.Paths.get(testOut).getParent.toString) ++ base: _*)
    assert(c4 == 0 && ran.contains("PASS"), ran)

    // durable state round-trips through export/import
    val stateOut = SparkTestSession.tmpDir("cli-state") + "/state.json"
    assert(cli(Seq("state-export", stateOut) ++ base: _*)._1 == 0)
    assert(cli(Seq("state-import", stateOut) ++ base: _*)._1 == 0)
    assert(cli(Seq("environments") ++ base: _*)._2.contains("prod"))

    // dev env can be invalidated; prod refuses
    assert(cli(Seq("plan", "dev", "--auto-apply") ++ base: _*)._1 == 0)
    assert(cli(Seq("invalidate", "dev") ++ base: _*)._1 == 0)
    assert(cli(Seq("invalidate", "prod") ++ base: _*)._1 != 0)
    // --sync removes the environment record immediately (cli/main.py:830).
    // A metadata edit makes the dev2 plan a real change so the env exists.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "seg.sql"),
      """MODEL (name cli3.seg, kind FULL, owner team2);
        |SELECT c_mktsegment, count(*) AS n FROM raw.customer GROUP BY c_mktsegment
        |""".stripMargin)
    assert(cli(Seq("plan", "dev2", "--auto-apply") ++ base: _*)._1 == 0)
    assert(cli(Seq("environments") ++ base: _*)._2.contains("dev2"))
    assert(cli(Seq("invalidate", "dev2", "--sync") ++ base: _*)._2.contains("removed"))
    assert(!cli(Seq("environments") ++ base: _*)._2.contains("dev2"))
  }

  test("plan flags: empty-backfill, backfill-model, create-from, lint gate, --run") {
    val proj = SparkTestSession.tmpDir("cli-proj4")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (
        |  name cli5.daily,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate),
        |  start '1995-01-01'
        |);
        |SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "sum.sql"),
      """MODEL (name cli5.sum, kind FULL);
        |SELECT count(*) AS days FROM cli5.daily
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val window = Seq("--start", "1995-01-01", "--end", "1995-01-15")

    // --empty-backfill: tables exist empty, intervals recorded as processed
    val (e0, eOut) = cli(Seq("plan", "prod", "--empty-backfill", "--auto-apply")
      ++ window ++ base: _*)
    assert(e0 == 0 && eOut.contains("applied"), eOut)
    assert(spark.table("cli5.daily").count() == 0)
    val (g0, gaps) = cli(Seq("check-intervals", "prod") ++ window ++ base: _*)
    assert(g0 == 0 && gaps.contains("cli5.daily: complete"), gaps)
    // a later run backfills only NEW intervals — the recorded ones stay empty
    assert(cli(Seq("run", "prod", "--start", "1995-01-01", "--end", "1995-01-20")
      ++ base: _*)._1 == 0)
    assert(spark.sql("SELECT min(o_orderdate) FROM cli5.daily").head.get(0)
      .toString >= "1995-01-15")

    // --backfill restricts interval computation to matching models
    val proj2 = SparkTestSession.tmpDir("cli-proj5")
    Seq("daily.sql", "sum.sql").foreach(f => java.nio.file.Files.copy(
      java.nio.file.Paths.get(proj, f), java.nio.file.Paths.get(proj2, f)))
    val base2 = Seq("--project", proj2, "--external", s"raw.orders=$sf/orders.parquet")
    assert(cli(Seq("plan", "prod", "--backfill", "cli5.daily", "--auto-apply")
      ++ window ++ base2: _*)._1 == 0)
    assert(spark.table("cli5.daily").count() > 0)
    assert(spark.table("cli5.sum").count() == 0) // physical-only, not backfilled

    // --create-from: a NEW env baselines against the named env. Put an edit
    // in 'stage' that prod doesn't have, then diff a fresh env both ways:
    // against stage (has the edit) nothing changed; against prod (default,
    // still on the old version) the edit shows as modified.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj2, "sum.sql"),
      """MODEL (name cli5.sum, kind FULL);
        |SELECT count(*) AS days, max(n) AS peak FROM cli5.daily
        |""".stripMargin)
    assert(cli(Seq("plan", "stage", "--auto-apply") ++ window ++ base2: _*)._1 == 0)
    val (c0, cOut) = cli(Seq("diff", "feature", "--create-from", "stage")
      ++ window ++ base2: _*)
    assert(c0 == 0 && !cOut.contains("~ cli5.sum"), cOut)
    val (c1, cOut1) = cli(Seq("diff", "feature") ++ window ++ base2: _*)
    assert(c1 == 0 && cOut1.contains("~ cli5.sum"), cOut1)

    // lint gate: a blocking violation aborts the plan unless --skip-linter
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj2, "bad.sql"),
      """MODEL (name cli5.bad, kind FULL);
        |SELECT x FROM not.registered
        |""".stripMargin)
    val (l0, lOut) = cli(Seq("plan", "prod") ++ window ++ base2: _*)
    assert(l0 == 2 && lOut.contains("plan aborted: blocking linter"), lOut)
    java.nio.file.Files.delete(java.nio.file.Paths.get(proj2, "bad.sql"))
    // --run: apply + immediate backfill in one invocation
    val (l1, lOut1) = cli(Seq("plan", "prod", "--auto-apply", "--run")
      ++ window ++ base2: _*)
    assert(l1 == 0 && lOut1.contains("run 'prod' complete"), lOut1)
    assert(spark.table("cli5.sum").count() > 0)
  }

  test("plan --explain narrates every apply stage and mutates nothing") {
    val proj = SparkTestSession.tmpDir("cli-explain")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (
        |  name clix.daily,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate, batch_size 7),
        |  start '1995-01-01'
        |);
        |SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "sum.sql"),
      """MODEL (name clix.sum, kind FULL);
        |SELECT count(*) AS days FROM clix.daily
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val window = Seq("--start", "1995-01-01", "--end", "1995-01-15")

    // --explain narrates stage by stage; --auto-apply alongside is IGNORED
    val (c0, out) = cli(Seq("plan", "prod", "--explain", "--auto-apply")
      ++ window ++ base: _*)
    assert(c0 == 0, out)
    assert(out.contains("explained plan"), out)
    assert(out.contains("snapshot records: push 2 snapshot"), out)
    assert(out.contains("physical layer"), out)
    // 14 daily intervals, batch_size 7 → 2 batches for the incremental model
    assert(out.contains("clix.daily: 14 interval(s) in 2 batch(es)"), out)
    assert(out.contains("virtual layer"), out)
    assert(out.contains("environment record: promote + finalize 'prod'"), out)
    assert(out.contains("never expires"), out)
    // nothing applied: no tables, no views, env not created
    assert(!spark.catalog.tableExists("clix.daily"))
    val (e0, envs) = cli(Seq("environments") ++ base: _*)
    assert(e0 == 0 && !envs.contains("prod"), envs)

    // after a real apply, explain shows backfill up to date + existing tables
    assert(cli(Seq("plan", "prod", "--auto-apply") ++ window ++ base: _*)._1 == 0)
    val (c1, out1) = cli(Seq("plan", "prod", "--explain") ++ window ++ base: _*)
    assert(c1 == 0 && out1.contains("clix.daily: up to date"), out1)
    assert(out1.contains("(exists)"), out1)

    // restatement narration, still read-only: intervals stay complete
    val (c2, out2) = cli(Seq("plan", "prod", "--explain",
      "--restate", "clix.daily=1995-01-05:1995-01-08") ++ window ++ base: _*)
    assert(c2 == 0 && out2.contains("restatement: clear processed intervals"), out2)
    // (the ↻ glyph is charset-mangled through the CLI byte stream — assert
    // on the model + interval text instead)
    assert(out2.contains("clix.daily  [1995-01-05"), out2)
    // the backfill preview folds the would-be-cleared intervals in
    assert(out2.contains("clix.daily: 3 interval(s)"), out2)
    val (g0, gaps) = cli(Seq("check-intervals", "prod") ++ window ++ base: _*)
    assert(g0 == 0 && gaps.contains("clix.daily: complete"), gaps)
  }

  test("dbt verb facade drives a dbt-layout project (run/list/compile/test/seed/build)") {
    val proj = SparkTestSession.tmpDir("cli-dbt")
    def w(rel: String, text: String): Unit = {
      val p = java.nio.file.Paths.get(proj, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text)
    }
    w("dbt_project.yml", "name: shop\nvars:\n  cutoff: '1995-03-01'\n")
    w("seeds/channels.csv", "channel,region\nweb,EU\nstore,US\n")
    w("models/schema.yml",
      """sources:
        |  - name: raw
        |    tables:
        |      - name: orders
        |models:
        |  - name: stg_orders
        |    columns:
        |      - name: o_orderkey
        |        tests:
        |          - not_null
        |""".stripMargin)
    w("models/stg_orders.sql",
      """{{ config(materialized='view', schema='dshop') }}
        |SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        |FROM {{ source('raw', 'orders') }}
        |WHERE o_orderdate < TIMESTAMP '{{ var("cutoff") }}'
        |""".stripMargin)
    w("models/daily_rev.sql",
      """{{ config(materialized='table', schema='dshop') }}
        |SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev
        |FROM {{ ref('stg_orders') }} GROUP BY 1
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val window = Seq("--start", "1995-01-01", "--end", "1995-02-01")

    // list shows models and their schema-yml tests
    val (l0, listed) = cli(Seq("dbt", "list") ++ base: _*)
    assert(l0 == 0 && listed.contains("dshop.stg_orders") &&
      listed.contains("dshop.daily_rev"), listed)
    assert(listed.contains("test: dshop.stg_orders.not_null"), listed)

    // compile renders jinja + source/ref resolution without executing
    val (c0, compiled) = cli(Seq("dbt", "compile", "--select", "stg_orders")
      ++ window ++ base: _*)
    assert(c0 == 0 && compiled.contains("1995-03-01"), compiled)
    assert(!compiled.contains("{{"), compiled)

    // run materializes everything (plan auto-apply + backfill)
    val (r0, ran) = cli(Seq("dbt", "run") ++ window ++ base: _*)
    assert(r0 == 0 && ran.contains("Completed successfully"), ran)
    assert(spark.table("dshop.daily_rev").count() > 0)

    // seed materializes the csv seed (auto-loaded from seeds/)
    val (s0, seeded) = cli(Seq("dbt", "seed") ++ window ++ base: _*)
    assert(s0 == 0, seeded)

    // test runs the schema-yml data tests as audits
    val (t0, tested) = cli(Seq("dbt", "test") ++ window ++ base: _*)
    assert(t0 == 0 && tested.contains("PASS"), tested)

    // selection: --select with graph operator, --exclude
    val (x0, only) = cli(Seq("dbt", "list", "--select", "+daily_rev",
      "--exclude", "stg_orders") ++ base: _*)
    assert(x0 == 0 && only.contains("daily_rev") && !only.contains("stg_orders"), only)

    // build = seed + run + test
    val (b0, built) = cli(Seq("dbt", "build") ++ window ++ base: _*)
    assert(b0 == 0 && built.contains("Completed successfully") &&
      built.contains("PASS"), built)

    // snapshot materializes only the SCD2-kind models
    w("snapshots/cust_snap.sql",
      """{% snapshot cust_snapshot %}
        |{{ config(strategy='timestamp', unique_key='o_orderkey', updated_at='o_orderdate') }}
        |SELECT o_orderkey, o_totalprice, o_orderdate FROM {{ source('raw', 'orders') }}
        |WHERE o_orderdate < TIMESTAMP '1995-02-01'
        |{% endsnapshot %}
        |""".stripMargin)
    val (n0, snapped) = cli(Seq("dbt", "snapshot") ++ window ++ base: _*)
    assert(n0 == 0 && snapped.contains("snapshotted shop.cust_snapshot"), snapped)
    assert(spark.table("shop.cust_snapshot").columns.contains("valid_from"))

    // docs generates the static page
    val docsDir = SparkTestSession.tmpDir("dbt-docs")
    val (d0, docs) = cli(Seq("dbt", "docs", "--out", docsDir) ++ base: _*)
    assert(d0 == 0 && docs.contains("docs written"), docs)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(docsDir, "index.html")) > 0)
  }

  test("dbt packages + hooks: vendored macro, package model/var, pre/post hooks") {
    val proj = SparkTestSession.tmpDir("cli-dbt-pkg")
    def w(rel: String, text: String): Unit = {
      val p = java.nio.file.Paths.get(proj, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text)
    }
    w("dbt_project.yml", "name: shopk\n")
    // vendored package, dbt-deps layout: own project yml (with a
    // global-scope var), a macro, and a model the project refs two-arg
    w("dbt_packages/util_pkg/dbt_project.yml",
      "name: util_pkg\nvars:\n  fx_rate: '2'\n")
    w("dbt_packages/util_pkg/macros/money.sql",
      "{% macro money(c) %}round({{ c }} * {{ var('fx_rate') }}, 2){% endmacro %}")
    w("dbt_packages/util_pkg/models/pkg_base.sql",
      "{{ config(materialized='view') }}\nSELECT 1 AS one\n")
    // project model: BARE package-macro call (global namespace), a two-arg
    // ref into the package, and pre/post hooks — the pre-hook creates the
    // audit schema, the post-hook snapshots a rowcount off {{ this }}
    w("models/hooked_rev.sql",
      """{{ config(materialized='table', schema='dshopk',
        |   pre_hook="CREATE SCHEMA IF NOT EXISTS hookaudit",
        |   post_hook="CREATE OR REPLACE VIEW hookaudit.rev_audit AS SELECT count(*) AS n FROM {{ this }}") }}
        |SELECT o_orderkey, o_totalprice, {{ money('o_totalprice') }} AS rev2, b.one
        |FROM {{ source('raw', 'orders') }} CROSS JOIN {{ ref('util_pkg', 'pkg_base') }} b
        |WHERE o_orderdate < TIMESTAMP '1995-02-01'
        |""".stripMargin)
    w("models/schema.yml",
      "sources:\n  - name: raw\n    tables:\n      - name: orders\n")
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val window = Seq("--start", "1995-01-01", "--end", "1995-02-01")

    val (b0, built) = cli(Seq("dbt", "build") ++ window ++ base: _*)
    assert(b0 == 0 && built.contains("Completed successfully"), built)
    // macro + package var rendered: rev2 = round(o_totalprice * 2, 2)
    val rows = spark.table("dshopk.hooked_rev")
    assert(rows.count() > 0)
    val bad = rows.filter(
      org.apache.spark.sql.functions.expr("rev2 != round(o_totalprice * 2, 2) OR one != 1"))
    assert(bad.isEmpty, "package macro/var or two-arg ref rendered wrong")
    // hooks ran in order: schema from the pre-hook, view from the post-hook
    assert(spark.table("hookaudit.rev_audit").head.getLong(0) == rows.count(),
      "post-hook rowcount view disagrees with the materialized table")

    // ambiguity fails loudly with the package names
    w("dbt_packages/util_pkg2/dbt_project.yml", "name: util_pkg2\n")
    w("dbt_packages/util_pkg2/macros/money.sql",
      "{% macro money(c) %}{{ c }}{% endmacro %}")
    val (a0, ambig) = cli(Seq("dbt", "list") ++ base: _*)
    assert(a0 != 0 && ambig.contains("util_pkg") && ambig.contains("util_pkg2"),
      s"ambiguous package macro should fail loudly: $ambig")
  }

  test("dbt profiles.yml: target schema + suffixing, --target, {{ target.* }}, artifacts") {
    val proj = SparkTestSession.tmpDir("cli-dbt-prof")
    def w(rel: String, text: String): Unit = {
      val p = java.nio.file.Paths.get(proj, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text)
    }
    w("dbt_project.yml", "name: shopp\nprofile: shopp\n")
    w("profiles.yml",
      """shopp:
        |  target: dev
        |  outputs:
        |    dev:
        |      type: spark
        |      schema: "{{ env_var('GRAFT_MISSING_SCHEMA', 'dv') }}"
        |      threads: 4
        |    prod:
        |      type: spark
        |      schema: pv
        |    warehouse:
        |      type: snowflake
        |      schema: wh
        |""".stripMargin)
    w("models/schema.yml",
      "sources:\n  - name: raw\n    tables:\n      - name: orders\n")
    // no +schema → the target's base schema; {{ target.name }} renders
    w("models/stg_orders.sql",
      """{{ config(materialized='table') }}
        |SELECT o_orderkey, '{{ target.name }}' AS tgt
        |FROM {{ source('raw', 'orders') }} WHERE o_orderdate < TIMESTAMP '1995-02-01'
        |""".stripMargin)
    // +schema → dbt generate_schema_name default: <target>_<custom>
    w("models/rollup.sql",
      """{{ config(materialized='table', schema='mart') }}
        |SELECT count(*) AS n FROM {{ ref('stg_orders') }}
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val window = Seq("--start", "1995-01-01", "--end", "1995-02-01")

    val (r0, ran) = cli(Seq("dbt", "run") ++ window ++ base: _*)
    assert(r0 == 0 && ran.contains("Completed successfully"), ran)
    // base schema from the dev target (env_var default path), suffixed mart
    assert(spark.table("dv.stg_orders").head.getString(1) == "dev",
      "{{ target.name }} did not render from the profile")
    assert(spark.table("dv_mart.rollup").head.getLong(0) ==
      spark.table("dv.stg_orders").count())
    // artifacts: manifest nodes + depends_on edge, run_results timings
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(proj, "target", "manifest.json")), "UTF-8")
    assert(mf.contains("\"model.shopp.rollup\"") &&
      mf.contains("\"model.shopp.stg_orders\"") &&
      mf.contains("source.shopp.raw.orders"), mf.take(600))
    val mfNode = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mf)
    assert(mfNode.path("nodes").path("model.shopp.rollup")
      .path("depends_on").path("nodes").toString.contains("model.shopp.stg_orders"))
    val rr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(proj, "target", "run_results.json")), "UTF-8")
    assert(rr.contains("model.shopp.stg_orders") && rr.contains("\"success\""), rr.take(400))

    // --target prod switches the base schema without touching the project
    val (p0, pRan) = cli(Seq("dbt", "run", "--target", "prod") ++ window ++ base: _*)
    assert(p0 == 0, pRan)
    assert(spark.table("pv.stg_orders").head.getString(1) == "prod")
    // a non-Spark warehouse type fails loudly naming type and target
    val (w0code, wErr) = cli(Seq("dbt", "list", "--target", "warehouse") ++ base: _*)
    assert(w0code != 0 && wErr.contains("snowflake") && wErr.contains("warehouse"), wErr)
  }

  test("plan --min-intervals pulls a narrow window back to cover N intervals") {
    val proj = SparkTestSession.tmpDir("cli-mini")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (
        |  name clim.daily,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate),
        |  start '1995-01-01'
        |);
        |SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    // a 2-day window with --min-intervals 5 → 5 daily intervals backfill
    val (c0, out0) = cli(Seq("plan", "prod", "--start", "1995-01-08",
      "--end", "1995-01-10", "--min-intervals", "5", "--auto-apply") ++ base: _*)
    assert(c0 == 0, out0)
    val (g0, gaps) = cli(Seq("check-intervals", "prod", "--start", "1995-01-05",
      "--end", "1995-01-10") ++ base: _*)
    assert(g0 == 0 && gaps.contains("clim.daily: complete"), gaps)
    // the explain preview reflects the pulled-back start too
    val proj2 = SparkTestSession.tmpDir("cli-mini2")
    java.nio.file.Files.copy(java.nio.file.Paths.get(proj, "daily.sql"),
      java.nio.file.Paths.get(proj2, "daily.sql"))
    val base2 = Seq("--project", proj2, "--external", s"raw.orders=$sf/orders.parquet")
    val (c1, out1) = cli(Seq("plan", "prod", "--start", "1995-01-08",
      "--end", "1995-01-10", "--min-intervals", "5", "--explain") ++ base2: _*)
    assert(c1 == 0 && out1.contains("5 interval(s)"), out1)
  }

  test("join-path prints the entity reference chain from grains/references") {
    val proj = SparkTestSession.tmpDir("cli-jp")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "fact.sql"),
      """MODEL (name jp.fact, kind FULL, grains (o_orderkey), references (o_custkey));
        |SELECT o_orderkey, o_custkey FROM raw.orders
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "dim.sql"),
      """MODEL (name jp.dim, kind FULL, grains (o_custkey));
        |SELECT c_custkey AS o_custkey, c_mktsegment FROM raw.customer
        |""".stripMargin)
    val base = Seq("--project", proj,
      "--external", s"raw.orders=$sf/orders.parquet",
      "--external", s"raw.customer=$sf/customer.parquet")
    val (c, o) = cli(Seq("join-path", "jp.fact", "jp.dim") ++ base: _*)
    assert(c == 0 && o.contains("jp.fact") && o.contains("=> jp.dim"), o)
    assert(o.contains("o_custkey"), o)
    // unknown target → clean nonzero exit (generic error path)
    assert(cli(Seq("join-path", "jp.dim", "jp.none") ++ base: _*)._1 != 0)
  }

  test("plan prints unified diffs for changed models; --no-diff and --diff-rendered") {
    val proj = SparkTestSession.tmpDir("cli-pdiff")
    def model(expr: String) = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(proj, "m.sql"),
      s"""MODEL (name pd.daily, kind FULL);
         |SELECT count(*) AS n$expr FROM raw.orders WHERE o_orderdate < @end_dt
         |""".stripMargin)
    model("")
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    assert(cli(Seq("plan", "prod", "--start", "1995-01-01", "--end", "1995-01-05",
      "--auto-apply") ++ base: _*)._1 == 0)
    model(", 1 AS extra")
    val (c1, o1) = cli(Seq("plan", "prod", "--start", "1995-01-01",
      "--end", "1995-01-05") ++ base: _*)
    assert(c1 == 0 && o1.contains("--- pd.daily") && o1.contains("+1 AS extra")
      || o1.contains(", 1 AS extra"), o1)
    val (c2, o2) = cli(Seq("plan", "prod", "--start", "1995-01-01",
      "--end", "1995-01-05", "--no-diff") ++ base: _*)
    assert(c2 == 0 && !o2.contains("--- pd.daily"), o2)
    // rendered diff resolves the time macros before diffing
    val (c3, o3) = cli(Seq("plan", "prod", "--start", "1995-01-01",
      "--end", "1995-01-05", "--diff-rendered") ++ base: _*)
    assert(c3 == 0 && o3.contains("--- pd.daily") && !o3.contains("@end_dt"), o3)
  }

  test("optimize and vacuum verbs manage physical snapshots; dbt show previews rows") {
    val proj = SparkTestSession.tmpDir("cli-vac")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "dbt_project.yml"),
      "name: vac_proj\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(proj, "models"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "models", "summary.sql"),
      """{{ config(materialized='table') }}
        |SELECT o_custkey, count(*) AS n FROM {{ source('raw', 'orders') }} GROUP BY o_custkey
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "models", "schema.yml"),
      """sources:
        |  - name: raw
        |    tables:
        |      - name: orders
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    // two applies → two physical snapshots (FULL refresh each run)
    assert(cli(Seq("plan", "prod", "--start", "1995-01-01", "--end", "1995-01-08",
      "--auto-apply") ++ base: _*)._1 == 0)
    assert(cli(Seq("run", "prod", "--start", "1995-01-01", "--end", "1995-01-15")
      ++ base: _*)._1 == 0)
    val (co, opt) = cli(Seq("optimize", "vac_proj.summary") ++ base: _*)
    assert(co == 0 && opt.contains("files"), opt)
    val (cv, vac) = cli(Seq("vacuum", "vac_proj.summary", "--keep", "1") ++ base: _*)
    assert(cv == 0 && vac.contains("reclaimed"), vac)
    assert(spark.table("vac_proj.summary").count() > 0) // current snapshot intact
    // dbt show previews the rendered query without materializing
    val (cs, shown) = cli(Seq("dbt", "show", "--select", "summary", "--limit", "3")
      ++ base: _*)
    assert(cs == 0 && shown.contains("-- vac_proj.summary")
      && shown.contains("o_custkey"), shown)
  }

  test("table_format: a removed format is refused before plan or run; dir is accepted") {
    val proj = SparkTestSession.tmpDir("cli-tblfmt")
    val config = java.nio.file.Paths.get(proj, "config.yaml")
    java.nio.file.Files.writeString(config, "table_format: manifest\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (
        |  name tfmt.daily,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate),
        |  start '1995-01-01'
        |);
        |SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val plan = Seq("plan", "prod", "--start", "1995-01-01", "--end", "1995-01-08",
      "--auto-apply")
    val run = Seq("run", "prod", "--start", "1995-01-01", "--end", "1995-01-15")
    def refused(out: String) =
      out.contains("table_format 'manifest' is no longer supported") &&
        out.contains("manifest table format was removed") &&
        out.contains("Rebuild the workspace")
    // config key: refused before the context exists — no state, no table
    val (c1, o1) = cli(plan ++ base: _*)
    assert(c1 == 1 && refused(o1), o1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(proj, ".graft")))
    assert(!spark.catalog.tableExists("tfmt.daily"))
    // `dir` names the one format there is: accepted and ignored
    java.nio.file.Files.writeString(config, "table_format: dir\n")
    assert(cli(plan ++ base: _*)._1 == 0)
    val n1 = spark.table("tfmt.daily").count()
    assert(n1 > 0)
    // CLI flag: refused the same way, and the run does not happen
    val (c2, o2) = cli(run ++ base ++ Seq("--table-format", "manifest"): _*)
    assert(c2 == 1 && refused(o2), o2)
    assert(spark.table("tfmt.daily").count() == n1)
    assert(cli(run ++ base ++ Seq("--table-format", "dir"): _*)._1 == 0)
    assert(spark.table("tfmt.daily").count() > n1)
  }

  test("dbt source freshness classifies fresh/stale sources from loaded_at_field") {
    val proj = SparkTestSession.tmpDir("cli-fresh")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "dbt_project.yml"),
      "name: fresh_proj\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(proj, "models"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "models", "schema.yml"),
      """sources:
        |  - name: raw
        |    loaded_at_field: ts
        |    freshness:
        |      warn_after: {count: 1, period: hour}
        |      error_after: {count: 24, period: hour}
        |    tables:
        |      - name: stale_tab
        |      - name: fresh_tab
        |  - name: nometa          # no loaded_at_field: skipped, like dbt
        |    tables:
        |      - name: opaque
        |  - name: badcount        # freshness block with no count: threshold
        |    loaded_at_field: ts   # ignored, never a 0ms "always stale"
        |    freshness:
        |      warn_after: {period: hour}
        |    tables:
        |      - name: recent
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "models", "passthrough.sql"),
      "SELECT ts FROM {{ source('raw', 'fresh_tab') }}\n")
    // fresh: loaded this instant; stale: the 2023-era events testdata
    val freshDir = SparkTestSession.tmpDir("cli-fresh-data")
    spark.sql("SELECT current_timestamp() AS ts")
      .write.mode("overwrite").parquet(freshDir)
    val base = Seq("--project", proj,
      "--external", s"raw.stale_tab=$sf/events.parquet",
      "--external", s"raw.fresh_tab=$freshDir",
      "--external", s"nometa.opaque=$sf/orders.parquet",
      "--external", s"badcount.recent=$freshDir")
    val (c, o) = cli(Seq("dbt", "source", "freshness") ++ base: _*)
    assert(c == 2, o)                                  // an error-stale source fails the run
    assert(o.contains("raw.stale_tab: ERROR"), o)
    assert(o.contains("raw.fresh_tab: PASS"), o)
    assert(!o.contains("nometa"), o)                   // no loaded_at_field → skipped
    // badcount.recent is checked (it has loaded_at) but its malformed
    // threshold is dropped → PASS, not warn-on-everything
    assert(o.contains("badcount.recent: PASS"), o)
    assert(o.contains("3 checked, 0 warn, 1 error"), o)
  }

  test("export-schedule emits the DAG as JSON and an Airflow skeleton, mutating nothing") {
    val proj = SparkTestSession.tmpDir("cli-export")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (
        |  name exp.daily,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate, batch_size 7),
        |  cron '@daily',
        |  start '1995-01-01',
        |  owner 'dana'
        |);
        |SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "rollup.sql"),
      """MODEL (name exp.rollup, kind FULL);
        |SELECT count(*) AS days FROM exp.daily
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    // plan the env but backfill only part of the window: the export must
    // carry the REMAINING batches
    assert(cli(Seq("plan", "prod", "--start", "1995-01-01",
      "--end", "1995-01-08", "--auto-apply") ++ base: _*)._1 == 0)

    val (c, js) = cli(Seq("export-schedule", "prod", "--start", "1995-01-01",
      "--end", "1995-01-22") ++ base: _*)
    assert(c == 0, js)
    val golden =
      """{
        |  "environment" : "prod",
        |  "window" : {
        |    "start" : "1995-01-01T00:00:00Z",
        |    "end" : "1995-01-22T00:00:00Z"
        |  },
        |  "models" : [ {
        |    "name" : "exp.daily",
        |    "kind" : "INCREMENTAL_BY_TIME_RANGE",
        |    "cron" : "@daily",
        |    "interval_unit" : "day",
        |    "batch_size" : 7,
        |    "owner" : "dana",
        |    "depends_on" : [ ],
        |    "has_signal" : false,
        |    "batches" : [ {
        |      "start" : "1995-01-08T00:00:00Z",
        |      "end" : "1995-01-15T00:00:00Z",
        |      "command" : "graft run prod --select exp.daily --start 1995-01-08T00:00:00Z --end 1995-01-15T00:00:00Z"
        |    }, {
        |      "start" : "1995-01-15T00:00:00Z",
        |      "end" : "1995-01-22T00:00:00Z",
        |      "command" : "graft run prod --select exp.daily --start 1995-01-15T00:00:00Z --end 1995-01-22T00:00:00Z"
        |    } ]
        |  }, {
        |    "name" : "exp.rollup",
        |    "kind" : "FULL",
        |    "cron" : "@daily",
        |    "interval_unit" : "day",
        |    "depends_on" : [ "exp.daily" ],
        |    "has_signal" : false,
        |    "batches" : [ {
        |      "start" : "1995-01-08T00:00:00Z",
        |      "end" : "1995-01-22T00:00:00Z",
        |      "command" : "graft run prod --select exp.rollup --start 1995-01-08T00:00:00Z --end 1995-01-22T00:00:00Z"
        |    } ]
        |  } ],
        |  "edges" : [ [ "exp.daily", "exp.rollup" ] ]
        |}""".stripMargin
    assert(js.trim.replaceAll("\r", "") == golden, js)

    // airflow DAG file: complete and runnable — cron → schedule, one
    // BashOperator per exported batch, sequential chaining within a model,
    // upstream-last >> downstream-first across models
    val (c2, py) = cli(Seq("export-schedule", "prod", "--format", "airflow",
      "--start", "1995-01-01", "--end", "1995-01-22") ++ base: _*)
    assert(c2 == 0, py)
    assert(py.contains("""dag_id="graft_prod""""), py)
    assert(py.contains("""schedule="@hourly""""), py) // one unit finer than day
    assert(py.contains("t_exp_daily__b0 = BashOperator("), py)
    assert(py.contains("t_exp_daily__b1 = BashOperator("), py)
    assert(py.contains("t_exp_daily__b0 >> t_exp_daily__b1"), py)
    // every model ends in a windowless catch-up task so post-backfill ticks
    // keep processing new intervals; cross-model edges hang off it
    assert(py.contains("t_exp_daily__b1 >> t_exp_daily"), py)
    assert(py.contains("t_exp_daily >> t_exp_rollup__b0"), py)
    assert(py.contains("# model exp.daily - cron @daily, unit day, owner dana"), py)
    // EVERY exported batch command appears as a task command (+ --project)
    val batchCmds = """graft run prod --select [^"]+ --start [^ ]+ --end [^"]+""".r
      .findAllIn(golden).toSeq.map(_.trim.stripSuffix("\","))
    assert(batchCmds.size == 3)
    batchCmds.foreach(cmd => assert(
      py.contains(cmd + " --project $GRAFT_PROJECT"), s"missing batch task: $cmd"))
    // string-level python validity: balanced parens/quotes, every task
    // referenced by a >> edge is defined, consistent 4-space indentation
    assert(py.count(_ == '(') == py.count(_ == ')'), py)
    assert(py.count(_ == '"') % 2 == 0, py)
    val defined = """(?m)^    (t_\w+) = """.r.findAllMatchIn(py).map(_.group(1)).toSet ++
      """(?m)^    (t_\w+__signal) = """.r.findAllMatchIn(py).map(_.group(1))
    """(t_\w+) >> (t_\w+)""".r.findAllMatchIn(py).foreach { mm =>
      assert(defined(mm.group(1)) && defined(mm.group(2)),
        s"edge references undefined task: ${mm.matched}")
    }
    assert(py.linesIterator.filter(_.nonEmpty).forall(l =>
      !l.startsWith(" ") || l.startsWith("    ")), "inconsistent indentation")

    // signal-gated models get a BashSensor sequenced before the first run
    // task (signals are programmatic, so exercise the generator directly)
    val gated = graft.plans.ScheduleExport.ModelSchedule(
      name = "exp.gated", kind = "INCREMENTAL_BY_TIME_RANGE", cron = "@hourly",
      cronTz = None, intervalUnit = "hour", batchSize = None, owner = None,
      dependsOn = Seq("exp.daily"), hasSignal = true,
      batches = Seq(graft.core.Interval(0L, 3600000L)))
    val py2 = graft.plans.ScheduleExport.airflowDag("prod",
      Seq(gated, gated.copy(name = "exp.daily", cron = "@daily",
        intervalUnit = "day", dependsOn = Nil, hasSignal = false)))
    assert(py2.contains("from airflow.sensors.bash import BashSensor"), py2)
    assert(py2.contains(
      """bash_command="graft signal-ready prod --select exp.gated --project $GRAFT_PROJECT""""), py2)
    assert(py2.contains("t_exp_gated__signal >> t_exp_gated__b0"), py2)
    assert(py2.contains("t_exp_gated__b0 >> t_exp_gated"), py2)
    assert(py2.contains("t_exp_daily >> t_exp_gated__signal"), py2)
    assert(py2.contains("""schedule="*/30 * * * *""""), py2) // finer than hour

    // the sensor's poke target: signal-ready is true iff every missing
    // batch in the window passes the model's signal gate
    val day = 86400000L
    def d(s: String) = java.time.LocalDate.parse(s).toEpochDay * day
    val ws = SparkTestSession.tmpDir("ws-sigready")
    val sctx = new GraftContext(spark, ws)
    sctx.addExternal("raw.orders", s"$sf/orders.parquet")
    sctx.addModel(graft.core.Model(name = "sig.daily",
      body = graft.core.SqlBody(
        """SELECT o_orderdate, count(*) AS n FROM raw.orders
          |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY 1""".stripMargin),
      kind = graft.core.ModelKind.IncrementalByTimeRange(timeColumn = "o_orderdate"),
      cron = "@daily", start = Some(d("1995-01-01"))))
    sctx.apply(sctx.plan("prod", d("1995-01-01"), d("1995-01-05")))
    // nothing missing in the applied window → ready no matter the gate
    sctx.addSignal("sig.daily", _ => false)
    assert(sctx.signalReady("prod", "sig.daily", d("1995-01-01"), d("1995-01-05")))
    // pending batches + failing gate → waiting; passing gate → ready
    assert(!sctx.signalReady("prod", "sig.daily", d("1995-01-01"), d("1995-01-08")))
    sctx.addSignal("sig.daily", _ => true)
    assert(sctx.signalReady("prod", "sig.daily", d("1995-01-01"), d("1995-01-08")))
    intercept[IllegalArgumentException](
      sctx.signalReady("prod", "sig.nope", 0L, day))

    // the exported batch commands must round-trip through the CLI's own
    // timestamp parser (r8 review finding: ISO instants were rejected)
    assert(Main.parseTs("1995-01-08T00:00:00Z") ==
      java.time.LocalDate.parse("1995-01-08").toEpochDay * 86400000L)

    // read-only: the export recorded nothing — the same intervals are still
    // missing afterwards
    val (c3, gaps) = cli(Seq("check-intervals", "prod", "--start", "1995-01-01",
      "--end", "1995-01-22") ++ base: _*)
    assert(c3 == 0 && gaps.contains("exp.daily: [1995-01-08"), gaps)
  }

  test("lsp verb serves JSON-RPC on the provided stdio without a context") {
    def frame(json: String) = {
      val b = json.getBytes("UTF-8")
      s"Content-Length: ${b.length}\r\n\r\n".getBytes("UTF-8") ++ b
    }
    val script =
      frame("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"rootUri":null,"capabilities":{}}}""") ++
        frame("""{"jsonrpc":"2.0","id":2,"method":"shutdown","params":null}""") ++
        frame("""{"jsonrpc":"2.0","method":"exit","params":{}}""")
    val buf = new java.io.ByteArrayOutputStream()
    val code = Main.run(Seq("lsp"), spark, new java.io.PrintStream(buf, true),
      new java.io.ByteArrayInputStream(script))
    assert(code == 0)
    val out = buf.toString
    assert(out.contains("Content-Length:"), out)
    assert(out.contains(""""name":"graft-lsp""""), out)
  }

  test("repl drives successive verbs over one durable workspace") {
    val proj = SparkTestSession.tmpDir("cli-repl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (name clir.daily, kind FULL);
        |SELECT count(*) AS n FROM raw.orders
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "tagged.sql"),
      """MODEL (name clir.tagged, kind FULL);
        |SELECT @VAR('tag', 0) AS tag_v FROM raw.orders LIMIT 1
        |""".stripMargin)
    val script =
      """info
        |plan prod --start 1995-01-01 --end 1995-01-10 --auto-apply
        |fetch "SELECT n FROM clir.daily"
        |render clir.tagged --var tag=2
        |repl
        |nonsense-verb
        |exit
        |""".stripMargin
    val buf = new java.io.ByteArrayOutputStream()
    val code = Main.run(
      Seq("repl", "--project", proj, "--var", "tag=1",
        "--external", s"raw.orders=$sf/orders.parquet"),
      spark, new java.io.PrintStream(buf, true),
      new java.io.ByteArrayInputStream(script.getBytes("UTF-8")))
    val out = buf.toString
    assert(code == 0, out)
    assert(out.contains("models: 2"), out)          // info saw the project
    assert(out.contains("applied"), out)            // plan applied
    assert(spark.table("clir.daily").head.getLong(0) > 0)
    // a per-line flag overrides the same sticky flag (sticky goes first)
    assert(out.contains("2 AS tag_v"), out)
    assert(!out.contains("1 AS tag_v"), out)
    assert(out.contains("nested repl"), out)        // nested repl rejected…
    assert(out.contains("unknown verb"), out)       // bad line reported…
    assert(out.contains("[exit 1]"), out)           // …without killing the repl
  }

  test("cicd bot: PR environment, prod preview, gated deploy, PR-env retirement") {
    val proj = SparkTestSession.tmpDir("cli-cicd")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "daily.sql"),
      """MODEL (
        |  name clicd.daily,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate),
        |  start '1995-01-01'
        |);
        |SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val window = Seq("--start", "1995-01-01", "--end", "1995-01-10")

    // run-all without --deploy: checks pass, PR env exists, prod untouched
    val (c0, out0) = cli(Seq("cicd", "run-all", "--pr", "42", "--repo", "shop")
      ++ window ++ base: _*)
    assert(c0 == 0, out0)
    assert(out0.contains("| linter | :white_check_mark:"), out0)
    assert(out0.contains("| unit tests | :white_check_mark:"), out0)
    assert(out0.contains("`shop_42`"), out0)
    assert(out0.contains("prod plan preview"), out0)
    assert(out0.contains("explained plan"), out0) // stage-level preview
    val (e0, envs0) = cli(Seq("environments") ++ base: _*)
    assert(e0 == 0 && envs0.contains("shop_42") && !envs0.contains("prod"), envs0)
    assert(!spark.catalog.tableExists("clicd.daily")) // prod view absent

    // deploy-production: prod materializes + backfills, PR env retired
    val (c1, out1) = cli(Seq("cicd", "deploy-production", "--pr", "42",
      "--repo", "shop") ++ window ++ base: _*)
    assert(c1 == 0 && out1.contains("| deploy production | :white_check_mark:"), out1)
    assert(out1.contains("invalidate PR environment"), out1)
    assert(spark.table("clicd.daily").count() > 0)
    val (e1, envs1) = cli(Seq("environments") ++ base: _*)
    assert(e1 == 0 && envs1.contains("prod") && !envs1.contains("shop_42"), envs1)

    // a failing unit test blocks run-all (exit 2) before any env mutation
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(proj, "tests"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "tests/t.yaml"),
      """test_daily_wrong:
        |  model: clicd.daily
        |  inputs:
        |    raw.orders:
        |      rows:
        |        - { o_orderdate: 1995-01-02 00:00:00, o_totalprice: 1.0 }
        |  outputs:
        |    query:
        |      rows:
        |        - { o_orderdate: 1995-01-02 00:00:00, n: 999 }
        |  vars:
        |    start: 1995-01-01
        |    end: 1995-01-10
        |""".stripMargin)
    val (c2, out2) = cli(Seq("cicd", "run-all", "--pr", "43", "--repo", "shop")
      ++ window ++ base: _*)
    assert(c2 == 2 && out2.contains("| unit tests | :x:"), out2)
    val (e2, envs2) = cli(Seq("environments") ++ base: _*)
    assert(e2 == 0 && !envs2.contains("shop_43"), envs2)
  }

  test("run flags (ignore-cron, select-model) and table-diff options") {
    val proj = SparkTestSession.tmpDir("cli-proj6")
    // a cron that fires only on TOMORROW's day-of-month: its last firing is
    // ~a month ago at ANY wall-clock time, so the run always leaves the
    // window's tail pending. (The previous '30 23 * * *' fixture was
    // time-of-day flaky — between 23:30 and midnight UTC today's tick HAS
    // fired and the plain run legitimately completed the window.)
    val tomorrowDom = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      .plusDays(1).getDayOfMonth
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "late.sql"),
      s"""MODEL (
        |  name cli6.late,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate),
        |  cron '30 23 $tomorrowDom * *',
        |  start '1995-01-01',
        |  grains (o_orderdate)
        |);
        |SELECT o_orderdate, count(*) AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "other.sql"),
      """MODEL (name cli6.other, kind FULL);
        |SELECT count(*) AS n FROM raw.orders
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.orders=$sf/orders.parquet")
    val window = Seq("--start", "1995-01-10", "--end", "1995-01-12")
    assert(cli(Seq("plan", "prod", "--skip-backfill", "--auto-apply")
      ++ window ++ base: _*)._1 == 0)

    // the tomorrow-dom cron last fired ~a month ago, so a plain run leaves
    // the window's tail pending; --ignore-cron backfills it all
    val now = System.currentTimeMillis()
    val today = java.time.Instant.ofEpochMilli(now).toString.take(10)
    val wideWindow = Seq("--start", "1995-01-10", "--end", today)
    val (r0, _) = cli(Seq("run", "prod") ++ wideWindow ++ base: _*)
    assert(r0 == 0)
    val (g0, gaps0) = cli(Seq("check-intervals", "prod") ++ wideWindow ++ base: _*)
    assert(g0 == 0 && !gaps0.contains("cli6.late: complete"), gaps0)
    val (r1, _) = cli(Seq("run", "prod", "--ignore-cron") ++ wideWindow ++ base: _*)
    assert(r1 == 0)
    val (g1, gaps1) = cli(Seq("check-intervals", "prod", "--select", "cli6.late")
      ++ wideWindow ++ base: _*)
    assert(g1 == 0 && gaps1.contains("cli6.late: complete")
      && !gaps1.contains("cli6.other"), gaps1)

    // --select restricts the run to matching models
    val before = spark.table("cli6.other").count()
    assert(cli(Seq("run", "prod", "--select", "cli6.late") ++ wideWindow ++ base: _*)._1 == 0)
    assert(spark.table("cli6.other").count() == before)

    // table-diff options against a drifted dev version of the model
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "late.sql"),
      """MODEL (
        |  name cli6.late,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate),
        |  cron '30 23 * * *',
        |  start '1995-01-01',
        |  grains (o_orderdate)
        |);
        |SELECT o_orderdate, count(*) + 1 AS n FROM raw.orders
        |WHERE o_orderdate BETWEEN @start_dt AND @end_dt GROUP BY o_orderdate
        |""".stripMargin)
    assert(cli(Seq("plan", "dev", "--auto-apply", "--ignore-cron")
      ++ wideWindow ++ base: _*)._1 == 0)
    // every key matches but n drifted by +1: the summary reports the n column
    val (t0, diffAll) = cli(Seq("table-diff", "cli6.late", "prod:dev") ++ base: _*)
    assert(t0 == 0 && diffAll.contains("match_n"), diffAll)
    // --where 1=0 scopes both sides down to nothing
    val (t1, diffW) = cli(Seq("table-diff", "cli6.late", "prod:dev",
      "--where", "1=0") ++ base: _*)
    assert(t1 == 0 && diffW.contains("null"), diffW)
    // --skip-columns removes the drifted column from the comparison entirely
    val (t2, diffSkip) = cli(Seq("table-diff", "cli6.late", "prod:dev",
      "--skip-columns", "n", "--show-sample") ++ base: _*)
    assert(t2 == 0 && !diffSkip.contains("match_n"), diffSkip)
    // partitions verb: metadata-only listing of committed partition dirs,
    // of the named environment's table (dev's edit is daily-partitioned)
    val (pc, parts) = cli(Seq("partitions", "cli6.late", "dev") ++ base: _*)
    assert(pc == 0 && parts.contains("__graft_pt=1995-01-1") &&
      parts.contains("partition(s)"), parts)
    // without an env it lists prod's table, not the dev version's
    val (ppc, prodParts) = cli(Seq("partitions", "cli6.late") ++ base: _*)
    assert(ppc == 0 && prodParts.contains("partition(s)") &&
      !prodParts.contains("__graft_pt=1995-01-1"), prodParts)
    // env-pair-only invocation (reference: model optional) diffs exactly
    // the models changed between the envs — cli6.other is unchanged
    val (t3, diffEnvs) = cli(Seq("table-diff", "prod:dev") ++ base: _*)
    assert(t3 == 0 && diffEnvs.contains("1 changed model(s)") &&
      diffEnvs.contains("--- cli6.late") && !diffEnvs.contains("cli6.other"),
      diffEnvs)
    // --select narrows the changed set; a non-matching selector diffs nothing
    val (t4, diffSel) = cli(Seq("table-diff", "prod:dev",
      "--select", "cli6.other") ++ base: _*)
    assert(t4 == 0 && !diffSel.contains("--- cli6.late"), diffSel)
  }

  test("diff / rewrite / clean / migrate / rollback verbs") {
    val proj = SparkTestSession.tmpDir("cli-proj3")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "seg.sql"),
      """MODEL (name cli4.seg, kind FULL);
        |SELECT c_mktsegment, count(*) AS n FROM raw.customer GROUP BY c_mktsegment
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(proj, "metrics.sql"),
      """METRIC (name seg_count, expression SUM(n), table cli4.seg,
        |        dims (segment c_mktsegment));
        |""".stripMargin)
    val base = Seq("--project", proj, "--external", s"raw.customer=$sf/customer.parquet")

    // diff against an empty prod: the new model shows as added, nothing applied
    val (d0, diff0) = cli(Seq("diff", "prod") ++ base: _*)
    assert(d0 == 0 && diff0.contains("+ cli4.seg"))
    assert(cli(Seq("plan", "prod", "--auto-apply") ++ base: _*)._1 == 0)
    // after apply, the diff is clean
    val (d1, diff1) = cli(Seq("diff", "prod") ++ base: _*)
    assert(d1 == 0 && !diff1.contains("+ cli4.seg"))

    // rewrite expands __semantic.__table into executable SQL, unexecuted
    val (r0, rewritten) = cli(Seq("rewrite",
      "SELECT segment, seg_count FROM __semantic.__table GROUP BY segment") ++ base: _*)
    assert(r0 == 0 && rewritten.toLowerCase.contains("sum(n)")
      && rewritten.contains("`cli4`.`seg`"), rewritten)

    // clean sweeps crash-leftover staging dirs, never committed versions
    val ws = java.nio.file.Paths.get(proj, ".graft")
    val tableDir = java.nio.file.Files.list(ws.resolve("physical")).findFirst().get()
    java.nio.file.Files.createDirectories(tableDir.resolve("tmp_123"))
    val (cl, cleaned) = cli(Seq("clean") ++ base: _*)
    assert(cl == 0 && cleaned.contains("1 staging leftovers removed"))
    assert(!java.nio.file.Files.exists(tableDir.resolve("tmp_123")))
    assert(cli(Seq("fetch", "SELECT count(*) AS n FROM cli4.seg") ++ base: _*)._1 == 0)

    // migrate is a no-op at the current schema version; after a forced
    // downgrade-shaped (v1) state file it rewrites + backs up, and rollback
    // restores the pre-migration image
    val (m0, mig0) = cli(Seq("migrate") ++ base: _*)
    assert(m0 == 0 && mig0.contains("already at current"))
    val stateFile = ws.resolve("state/state.json")
    val v1 = """{"snapshots": [],
                | "environments": [{"name": "legacy", "finalized": true,
                |                   "snapshots": {"cli4.seg": "v1"}}]}""".stripMargin
    java.nio.file.Files.writeString(stateFile, v1)
    val (m1, mig1) = cli(Seq("migrate") ++ base: _*)
    assert(m1 == 0 && mig1.contains("migrated"))
    assert(java.nio.file.Files.readString(stateFile).contains("\"version\""))
    val (rb, rbOut) = cli(Seq("rollback") ++ base: _*)
    assert(rb == 0 && rbOut.contains("rolled back"))
    assert(!java.nio.file.Files.readString(stateFile).contains("\"version\""))
  }
}
