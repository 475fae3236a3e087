package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftContext
import graft.core._
import QueryUtil._

/** Materialization-kind coverage (SURVEY §2.1/§2.2): each entry drives the
  * REAL framework — GraftContext plan/apply/run with multiple waves — and
  * returns the final physical table. The oracle expresses the expected end
  * state in one SQL query, so interval accounting, merge semantics, SCD2
  * versioning, and partition overwrite are all hash-checked against DuckDB.
  */
object KindQueries {

  private val D = 86400000L
  private def dayMs(s: String): Long = java.time.LocalDate.parse(s).toEpochDay * D

  private def ctx(spark: SparkSession, dir: String,
                  suffixTarget: String = "schema",
                  catalogMapping: Seq[(String, String)] = Nil): GraftContext = {
    val c = new GraftContext(spark,
      java.nio.file.Files.createTempDirectory("graft_kind").toString, concurrency = 2,
      envSuffixTarget = suffixTarget, envCatalogMapping = catalogMapping)
    tables.foreach(t => c.addExternal(s"raw.$t", externalFor(spark, dir, t)))
    c
  }

  /** External registration for a base table: raw parquet path, except
    * `events` whose physical TIMESTAMP(NANOS) column needs a version-aware
    * normalization — registered as an inline conversion subquery, which
    * (unlike a temp view) persistent VIEW-kind models may reference. */
  private def externalFor(spark: SparkSession, dir: String, t: String): String =
    if (t == "events") QueryUtil.eventsSubquerySql(spark, s"$dir/events.parquet")
    else s"$dir/$t.parquet"

  val entries: Map[String, Entry] = Map(

    // ---------------- INCREMENTAL_BY_TIME_RANGE: batched backfill + run ----
    "mk_incremental_by_time" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.daily_rev",
        body = SqlBody(
          """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev,
            |  count(*) AS n
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin),
        kind = ModelKind.IncrementalByTimeRange(timeColumn = "d", batchSize = Some(10)),
        start = Some(dayMs("1995-01-01")),
        partitionedBy = Seq("d")))
      // initial plan covers January, a later `run` extends through March —
      // the oracle sees one contiguous backfill
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      c.run("prod", dayMs("1995-01-01"), dayMs("1995-04-01"))
      s.table("mart.daily_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev, count(*) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
        |GROUP BY 1 ORDER BY d""".stripMargin)),

    // ------------- same incremental cycle on a second context -------------
    "mk_manifest_format" -> Entry((s, dir) => {
      // named for a removed second table format; it now repeats
      // mk_incremental_by_time on a fresh workspace under another model
      // name. The name and oracle SQL stay so the oracle's entry set is
      // unchanged.
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.mf_daily_rev",
        body = SqlBody(
          """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev,
            |  count(*) AS n
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin),
        kind = ModelKind.IncrementalByTimeRange(timeColumn = "d", batchSize = Some(10)),
        start = Some(dayMs("1995-01-01")),
        partitionedBy = Seq("d")))
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      c.run("prod", dayMs("1995-01-01"), dayMs("1995-04-01"))
      s.table("mart.mf_daily_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev, count(*) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
        |GROUP BY 1 ORDER BY d""".stripMargin)),

    // ------------- INCREMENTAL_BY_UNIQUE_KEY: two-wave merge --------------
    "mk_merge_unique_key" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.cust_activity",
        body = SqlBody(
          """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY o_custkey""".stripMargin),
        kind = ModelKind.IncrementalByUniqueKey(uniqueKey = Seq("o_custkey")),
        start = Some(dayMs("1995-01-01"))))
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-07-01")))
      // second wave: H2 stats REPLACE H1 rows per key (merge = upsert)
      c.apply(c.plan("prod", dayMs("1995-07-01"), dayMs("1996-01-01")))
      s.table("mart.cust_activity").orderBy("o_custkey")
    }, Some(
      """WITH h1 AS (
        |  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-07-01' GROUP BY o_custkey
        |), h2 AS (
        |  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY o_custkey
        |)
        |SELECT COALESCE(h2.o_custkey, h1.o_custkey) AS o_custkey,
        |  COALESCE(h2.n_orders, h1.n_orders) AS n_orders,
        |  COALESCE(h2.spend, h1.spend) AS spend
        |FROM h1 FULL JOIN h2 ON h1.o_custkey = h2.o_custkey
        |ORDER BY o_custkey""".stripMargin)),

    // -------- merge with WHEN MATCHED ... THEN DELETE (tombstones) --------
    "mk_merge_delete" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.cust_active",
        body = SqlBody(
          """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY o_custkey""".stripMargin),
        // tombstone semantics: a matched key whose new spend drops under 50k
        // is DELETED from the table instead of updated
        kind = ModelKind.IncrementalByUniqueKey(uniqueKey = Seq("o_custkey"),
          whenMatchedDelete = Some("s_spend < 50000")),
        start = Some(dayMs("1995-01-01"))))
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-07-01")))
      c.apply(c.plan("prod", dayMs("1995-07-01"), dayMs("1996-01-01")))
      s.table("mart.cust_active").orderBy("o_custkey")
    }, Some(
      """WITH h1 AS (
        |  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-07-01' GROUP BY o_custkey
        |), h2 AS (
        |  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY o_custkey
        |)
        |SELECT COALESCE(h2.o_custkey, h1.o_custkey) AS o_custkey,
        |  COALESCE(h2.n_orders, h1.n_orders) AS n_orders,
        |  COALESCE(h2.spend, h1.spend) AS spend
        |FROM h1 FULL JOIN h2 ON h1.o_custkey = h2.o_custkey
        |WHERE NOT (h1.o_custkey IS NOT NULL AND h2.o_custkey IS NOT NULL
        |  AND h2.spend < 50000)
        |ORDER BY o_custkey""".stripMargin)),

    // --------------------- SCD_TYPE_2_BY_TIME: three waves ----------------
    "mk_scd2_by_time" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.cust_scd",
        body = SqlBody(
          """SELECT o_custkey AS id, max(o_orderdate) AS updated_at, count(*) AS n_orders
            |FROM raw.orders WHERE o_orderdate < @end_dt AND o_custkey < 300
            |GROUP BY o_custkey""".stripMargin),
        kind = ModelKind.ScdType2ByTime(uniqueKey = Seq("id")),
        start = Some(dayMs("1995-01-01"))))
      // three snapshot waves at growing cutoffs
      for (cut <- Seq("1995-03-01", "1995-06-01", "1995-09-01")) {
        c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs(cut)),
          executionTs = dayMs(cut))
      }
      s.table("mart.cust_scd")
        .select(col("id"), col("n_orders"), col("updated_at"), col("valid_from"), col("valid_to"))
        .orderBy(col("id"), col("valid_from"))
    }, Some(
      // reconstruct SCD2 history: snapshots at the 3 cutoffs, consecutive
      // versions per key; valid_from = epoch for first, else updated_at;
      // valid_to = next version's updated_at
      """WITH cuts AS (
        |  SELECT TIMESTAMP '1995-03-01' AS cut UNION ALL
        |  SELECT TIMESTAMP '1995-06-01' UNION ALL SELECT TIMESTAMP '1995-09-01'
        |), snaps AS (
        |  SELECT DISTINCT o_custkey AS id,
        |    max(o_orderdate) AS updated_at, count(*) AS n_orders
        |  FROM orders, cuts WHERE o_orderdate < cut AND o_custkey < 300
        |  GROUP BY o_custkey, cut
        |), versions AS (
        |  SELECT DISTINCT id, updated_at, n_orders FROM snaps
        |), hist AS (
        |  -- every key's FIRST version opens at epoch 0 (update_valid_from_start,
        |  -- base.py:1909-1919 — updated_at_as_valid_from is false here);
        |  -- subsequent versions open at their updated_at
        |  SELECT id, n_orders, updated_at,
        |    CASE WHEN row_number() OVER (PARTITION BY id ORDER BY updated_at) = 1
        |      THEN TIMESTAMP '1970-01-01' ELSE updated_at END AS valid_from,
        |    lead(updated_at) OVER (PARTITION BY id ORDER BY updated_at) AS valid_to
        |  FROM versions
        |)
        |SELECT id, n_orders, updated_at, valid_from, valid_to FROM hist
        |ORDER BY id, valid_from""".stripMargin)),

    // -------------------- SCD_TYPE_2_BY_COLUMN: three waves ---------------
    "mk_scd2_by_column" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.cust_tier",
        body = SqlBody(
          // tier flips as cumulative order count crosses thresholds
          """SELECT o_custkey AS id,
            |  CASE WHEN count(*) >= 10 THEN 'gold' WHEN count(*) >= 5 THEN 'silver'
            |       ELSE 'bronze' END AS tier
            |FROM raw.orders WHERE o_orderdate < @end_dt AND o_custkey < 300
            |GROUP BY o_custkey""".stripMargin),
        kind = ModelKind.ScdType2ByColumn(uniqueKey = Seq("id"), checkColumns = Seq("tier")),
        start = Some(dayMs("1995-01-01"))))
      for (cut <- Seq("1995-06-01", "1996-06-01", "1997-06-01")) {
        c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs(cut)),
          executionTs = dayMs(cut))
      }
      s.table("mart.cust_tier")
        .select(col("id"), col("tier"), col("valid_from"), col("valid_to"))
        .orderBy(col("id"), col("valid_from"))
    }, Some(
      """WITH cuts AS (
        |  SELECT 1 AS i, TIMESTAMP '1995-06-01' AS cut UNION ALL
        |  SELECT 2, TIMESTAMP '1996-06-01' UNION ALL SELECT 3, TIMESTAMP '1997-06-01'
        |), snaps AS (
        |  SELECT o_custkey AS id, i, cut,
        |    CASE WHEN count(*) >= 10 THEN 'gold' WHEN count(*) >= 5 THEN 'silver'
        |         ELSE 'bronze' END AS tier
        |  FROM orders, cuts WHERE o_orderdate < cut AND o_custkey < 300
        |  GROUP BY o_custkey, i, cut
        |), changes AS (
        |  SELECT id, i, cut, tier,
        |    lag(tier) OVER (PARTITION BY id ORDER BY i) AS prev_tier
        |  FROM snaps
        |), versions AS (
        |  SELECT id, i, cut, tier FROM changes
        |  WHERE prev_tier IS NULL OR tier <> prev_tier
        |), hist AS (
        |  -- epoch-0 only for keys in the first load; later-appearing keys
        |  -- open at the execution ts of the run that first saw them
        |  SELECT id, tier,
        |    CASE WHEN row_number() OVER (PARTITION BY id ORDER BY i) = 1
        |      THEN (CASE WHEN i = 1 THEN TIMESTAMP '1970-01-01' ELSE cut END)
        |      ELSE cut END AS valid_from,
        |    lead(cut) OVER (PARTITION BY id ORDER BY i) AS valid_to
        |  FROM versions
        |)
        |SELECT id, tier, valid_from, valid_to FROM hist ORDER BY id, valid_from""".stripMargin)),

    // ------------- FULL + VIEW promotion through the virtual layer --------
    "mk_full_view" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.nation_stats",
        SqlBody(
          """SELECT n_regionkey, count(*) AS n_nations
            |FROM raw.nation GROUP BY n_regionkey""".stripMargin),
        kind = ModelKind.Full))
      c.addModel(Model("mart.region_rollup",
        SqlBody(
          """SELECT r_name, n_nations FROM mart.nation_stats
            |JOIN raw.region ON n_regionkey = r_regionkey""".stripMargin),
        kind = ModelKind.View))
      c.apply(c.plan("prod", 0L, D))
      s.table("mart.region_rollup").orderBy("r_name")
    }, Some(
      """SELECT r_name, n_nations FROM (
        |  SELECT n_regionkey, count(*) AS n_nations FROM nation GROUP BY n_regionkey) ns
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY r_name""".stripMargin)),

    // cross-catalog virtual environments, CATALOG suffix target (reference
    // EnvironmentSuffixTarget.CATALOG, config/common.py:33): a dev env's
    // views keep their PROD schema+table names and land in catalog
    // `spark_catalog__<env>` — realized on vanilla Spark by the
    // graft.adapter.EnvCatalog DSv2 plugin (zero-copy handles onto the
    // physical snapshot dirs). The entry proves promote (dev read ==
    // prod read, hash-equal via the oracle), repoint-at-read-time, and
    // demote (invalidate drops the catalog entry).
    "mk_env_catalog" -> Entry((s, dir) => {
      val c = ctx(s, dir, suffixTarget = "catalog")
      c.addModel(Model("mart.nation_stats",
        SqlBody(
          """SELECT n_regionkey, count(*) AS n_nations
            |FROM raw.nation GROUP BY n_regionkey""".stripMargin),
        kind = ModelKind.Full))
      c.apply(c.plan("dev", 0L, D))
      val devName = "spark_catalog__dev.mart.nation_stats"
      val dev = s.table(devName)
      // prod under the catalog target stays in the session catalog, bare
      c.apply(c.plan("prod", 0L, D))
      val prod = s.table("mart.nation_stats")
      require(dev.exceptAll(prod).isEmpty && prod.exceptAll(dev).isEmpty,
        "dev catalog read differs from prod read of the same snapshot")
      // demote half: invalidating the env must drop the catalog entry
      c.invalidateEnvironment("dev")
      require(scala.util.Try(s.table(devName).head(1)).isFailure,
        s"invalidate left $devName resolvable")
      prod.orderBy("n_regionkey")
    }, Some(
      """SELECT n_regionkey, count(*) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    // environment_catalog_mapping (reference config/root.py:120,
    // environment.py:87): regex on the env NAME routes its virtual layer
    // into a named catalog, composing with the schema suffix — env
    // `stage_a` lands in `staging_cat.mart__stage_a.*`. Also proves the
    // REPOINT semantics: a changed model re-applies and the same catalog
    // name reads the NEW snapshot (the entry stores the physical root;
    // the current version resolves at read time).
    "mk_env_catalog_mapping" -> Entry((s, dir) => {
      val c = ctx(s, dir, catalogMapping = Seq("^stage" -> "staging_cat"))
      c.addModel(Model("mart.order_counts",
        SqlBody("SELECT o_orderstatus, count(*) AS n FROM raw.orders GROUP BY o_orderstatus"),
        kind = ModelKind.Full))
      c.apply(c.plan("stage_a", 0L, D))
      val name = "staging_cat.mart__stage_a.order_counts"
      require(s.table(name).count() > 0, s"$name is empty after promote")
      // repoint: change the model, re-plan, re-apply — same name, new data
      c.addModel(Model("mart.order_counts",
        SqlBody(
          """SELECT o_orderstatus, count(*) AS n,
            |       CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
            |FROM raw.orders GROUP BY o_orderstatus""".stripMargin),
        kind = ModelKind.Full))
      c.apply(c.plan("stage_a", 0L, D))
      s.table(name).orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // blueprint expansion: one template file → one model per mapping,
    // planned and materialized independently (reference `blueprints`,
    // definition.py:2019)
    "mk_blueprints" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      graft.loader.ModelLoader.parseAll(
        """MODEL (name mart.@{seg}_orders, kind FULL,
          |       blueprints ((seg = 'f', st = 'F'), (seg = 'o', st = 'O')));
          |SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
          |FROM raw.orders WHERE o_orderstatus = @BLUEPRINT_VAR('st')
          |""".stripMargin).foreach(c.addModel)
      c.apply(c.plan("prod", 0L, D))
      s.table("mart.f_orders").withColumn("seg", org.apache.spark.sql.functions.lit("f"))
        .unionByName(s.table("mart.o_orders")
          .withColumn("seg", org.apache.spark.sql.functions.lit("o")))
        .orderBy("seg")
    }, Some(
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total, 'f' AS seg
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total, 'o' AS seg
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY seg""".stripMargin)),

    // ---------------- MANAGED: target_lag-gated engine refresh ------------
    "mk_managed" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.order_watermark",
        SqlBody(
          """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
            |FROM raw.orders WHERE o_orderdate < @end_ts
            |GROUP BY o_orderstatus""".stripMargin),
        kind = ModelKind.Managed(targetLag = "30 days"),
        start = Some(dayMs("1995-01-01"))))
      // initial refresh materializes through Mar 1
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-03-01")))
      // 9 days later: inside the 30-day lag window → refresh SKIPPED, the
      // table keeps its Mar 1 watermark (this is what the oracle checks:
      // a kind that refreshed eagerly would pick up the Mar 1–10 orders)
      c.run("prod", dayMs("1995-01-01"), dayMs("1995-03-10"))
      // 3 months later: watermark lags past target_lag → full refresh
      c.run("prod", dayMs("1995-01-01"), dayMs("1995-06-01"))
      // 4 days after that: inside the window again → skipped
      c.run("prod", dayMs("1995-01-01"), dayMs("1995-06-05"))
      s.table("mart.order_watermark").orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderdate < TIMESTAMP '1995-06-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ------- SQL model body using the graft_* curation functions ---------
    "mk_curation_model" -> Entry((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val c = ctx(s, dir)
      c.addExternal("raw.documents", s"$dir/documents.parquet")
      c.addModel(Model("mart.curated_docs",
        SqlBody(
          """SELECT graft_content_key(text) AS k, min(doc_id) AS keep_id,
            |  count(*) AS n_dups, sum(graft_token_estimate(text)) AS toks
            |FROM raw.documents WHERE graft_quality_score(text) >= 0.3
            |GROUP BY graft_content_key(text)""".stripMargin),
        kind = ModelKind.Full))
      c.apply(c.plan("prod", 0L, D))
      s.table("mart.curated_docs").orderBy("keep_id")
    }, Some(
      // punct class enumerated (matches TextFunctions.PunctComplement) and
      // the quality gate expressed as floor(q*10000 + 0.5) >= 3000 — the
      // half-up rounding Spark's round(q, 4) >= 0.3 performs, without
      // depending on the oracle engine's round(DOUBLE) implementation
      """WITH q AS (
        |  SELECT doc_id, text,
        |    greatest(0.0, least(len(text) / 500.0, 1.0)
        |      * (1.0 - len(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) * 1.0 / len(text))
        |      * (1.0 - len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / len(text))) AS q,
        |    len(list_filter(string_split_regex(
        |      regexp_replace(text, '([a-z])([A-Z])|([A-Za-z])([0-9])|([0-9])([A-Za-z])', '\1\3\5 \2\4\6', 'g'),
        |      '[\s!-/:-@\[-`{-~]+'), w -> len(w) > 0) ) AS toks,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
        |  FROM documents
        |)
        |SELECT k, min(doc_id) AS keep_id, count(*) AS n_dups,
        |  CAST(sum(toks) AS BIGINT) AS toks
        |FROM q WHERE floor(q * 10000 + 0.5) >= 3000
        |GROUP BY k ORDER BY keep_id""".stripMargin)),

    // ---------------- VIEW (materialized true): physical refresh ----------
    "mk_materialized_view" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.cust_by_nation",
        SqlBody(
          """SELECT c_nationkey, count(*) AS n_cust,
            |  round(sum(c_acctbal), 2) AS balance
            |FROM raw.customer GROUP BY c_nationkey""".stripMargin),
        kind = ModelKind.MaterializedView))
      c.apply(c.plan("prod", 0L, D))
      // a second run refreshes the materialization (same data → same result,
      // but the physical table must be rewritten, not the view re-pointed)
      c.run("prod", 0L, 2 * D)
      s.table("mart.cust_by_nation").orderBy("c_nationkey")
    }, Some(
      """SELECT c_nationkey, count(*) AS n_cust, round(sum(c_acctbal), 2) AS balance
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ------------- INCREMENTAL_BY_PARTITION: dynamic overwrite ------------
    // Two SEPARATE contexts share a workspace + durable file state: wave 2
    // resumes from persisted snapshots/intervals and restates the model with
    // different variables — exercising FileStateStore round-trip, restatement,
    // and dynamic partition overwrite in one flow.
    "mk_by_partition" -> Entry((s, dir) => {
      val ws = java.nio.file.Files.createTempDirectory("graft_kind").toString
      val model = Model(
        name = "mart.seg_stats",
        body = SqlBody(
          """SELECT c_mktsegment, c_nationkey, count(*) AS n,
            |  round(sum(c_acctbal), 2) AS bal
            |FROM raw.customer
            |WHERE c_mktsegment IN (@VAR('segs'))
            |GROUP BY c_mktsegment, c_nationkey""".stripMargin),
        kind = ModelKind.IncrementalByPartition(partitionedBy = Seq("c_mktsegment")),
        partitionedBy = Seq("c_mktsegment"))
      // wave 1 computes two segments, wave 2 recomputes one + adds another:
      // end state = latest content per partition
      def wave(segs: String): GraftContext = {
        val cc = new GraftContext(s, ws, 2, Map("segs" -> segs), durableState = true)
        tables.foreach(t => cc.addExternal(s"raw.$t", externalFor(s, dir, t)))
        cc.addModel(model)
        cc
      }
      val c1 = wave("'BUILDING', 'MACHINERY'")
      c1.apply(c1.plan("prod", 0L, D))
      // constructed AFTER wave 1 so its FileStateStore resumes the persisted
      // state; same fingerprint ⇒ the plan sees the model unchanged with its
      // interval already processed, and the restatement forces the re-run
      val c2 = wave("'MACHINERY', 'HOUSEHOLD'")
      c2.apply(c2.plan("prod", 0L, D,
        restate = Map("mart.seg_stats" -> Interval(0L, D))))
      s.table("mart.seg_stats").orderBy("c_mktsegment", "c_nationkey")
    }, Some(
      """SELECT c_mktsegment, c_nationkey, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')
        |GROUP BY c_mktsegment, c_nationkey
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // --------------------- INCREMENTAL_UNMANAGED: append ------------------
    "mk_unmanaged_append" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.event_log",
        body = SqlBody(
          """SELECT event_id, user_id, event_type, round(value, 2) AS v
            |FROM raw.events WHERE ts BETWEEN @start_dt AND @end_dt""".stripMargin),
        kind = ModelKind.IncrementalUnmanaged(),
        cron = "@daily",
        start = Some(dayMs("2024-01-01"))))
      c.apply(c.plan("prod", dayMs("2024-01-01"), dayMs("2024-01-08")))
      c.run("prod", dayMs("2024-01-01"), dayMs("2024-01-15"))
      s.table("mart.event_log").orderBy("event_id")
    }, Some(
      """SELECT event_id, user_id, event_type, round(value, 2) AS v
        |FROM events WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
        |ORDER BY event_id""".stripMargin)),

    // -------- FORWARD_ONLY: in-place schema migration, history kept -------
    "mk_forward_only_migrate" -> Entry((s, dir) => {
      val ws = java.nio.file.Files.createTempDirectory("graft_fwd").toString
      def mk(body: String): GraftContext = {
        val cc = new GraftContext(s, ws, 2, durableState = true)
        tables.foreach(t => cc.addExternal(s"raw.$t", externalFor(s, dir, t)))
        cc.addModel(Model("mart.fwd_rev", SqlBody(body),
          kind = ModelKind.IncrementalByTimeRange(
            timeColumn = "d", timeFormat = "date", forwardOnly = true),
          start = Some(dayMs("1995-01-01"))))
        cc
      }
      // v1 backfills January with (d, rev)
      val v1 = mk(
        """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin)
      v1.apply(v1.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      // v2 adds a column; forward-only kind ⇒ version pinned, table migrated
      // in place (January keeps NULL n), only February backfills with the
      // new query
      val v2 = mk(
        """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev,
          |  count(*) AS n
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin)
      v2.apply(v2.plan("prod", dayMs("1995-01-01"), dayMs("1995-03-01")))
      s.table("mart.fwd_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev,
        |  CASE WHEN o_orderdate >= TIMESTAMP '1995-02-01' THEN count(*) END AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-03-01'
        |GROUP BY 1, o_orderdate >= TIMESTAMP '1995-02-01'
        |ORDER BY d""".stripMargin)),

    // ----------------------------- SEED --------------------------------
    "mk_seed" -> Entry((s, dir) => {
      val ws = java.nio.file.Files.createTempDirectory("graft_seed")
      val csv = ws.resolve("regions.csv")
      java.nio.file.Files.writeString(csv,
        "region_id,zone\n0,APAC\n1,EMEA\n2,AMER\n3,AMER\n4,APAC\n")
      val c = ctx(s, dir)
      c.addModel(Model("mart.region_zone", SeedBody(csv.toString),
        kind = ModelKind.Seed(csv.toString)))
      c.addModel(Model("mart.zone_nations",
        SqlBody(
          """SELECT zone, count(*) AS n FROM raw.nation
            |JOIN mart.region_zone ON n_regionkey = region_id
            |GROUP BY zone""".stripMargin),
        kind = ModelKind.Full, dependsOn = Set("mart.region_zone")))
      c.apply(c.plan("prod", 0L, D))
      s.table("mart.zone_nations").orderBy("zone")
    }, Some(
      """SELECT zone, count(*) AS n FROM nation
        |JOIN (VALUES (0, 'APAC'), (1, 'EMEA'), (2, 'AMER'), (3, 'AMER'), (4, 'APAC'))
        |  AS rz(region_id, zone) ON n_regionkey = region_id
        |GROUP BY zone ORDER BY zone""".stripMargin)),

    // -------- file-based project: MODEL-header DSL loaded from disk -------
    "mk_file_project" -> Entry((s, dir) => {
      val proj = java.nio.file.Files.createTempDirectory("graft_proj")
      // config.yaml project defaults (reference core/config/root.py Config):
      // fp.report omits `kind` — the model_defaults make it a VIEW (the
      // built-in default would be FULL); header-stated kinds still win
      java.nio.file.Files.writeString(proj.resolve("config.yaml"),
        """model_defaults:
          |  kind: VIEW
          |  owner: team_file
          |""".stripMargin)
      java.nio.file.Files.writeString(proj.resolve("daily.sql"),
        """MODEL (
          |  name fp.daily,
          |  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate, batch_size 14),
          |  cron '@daily',
          |  start '1995-01-01',
          |  audits (not_null(columns = (o_orderdate)))
          |);
          |SELECT o_orderdate, count(*) AS n, round(sum(o_totalprice), 2) AS rev
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY o_orderdate
          |""".stripMargin)
      java.nio.file.Files.writeString(proj.resolve("prio.sql"),
        """MODEL (name fp.by_prio, kind FULL);
        |SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM raw.orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-03-01'
        |GROUP BY o_orderpriority
        |""".stripMargin)
      java.nio.file.Files.writeString(proj.resolve("top.sql"),
        """MODEL (name fp.report);
        |SELECT d.o_orderdate, d.n, d.rev,
        |  round(d.rev * 100.0 / t.total, 4) AS pct
        |FROM fp.daily d
        |CROSS JOIN (SELECT sum(rev) AS total FROM fp.daily) t
        |""".stripMargin)
      val c = ctx(s, dir)
      c.loadModels(proj.toString)
      require(c.model("fp.report").kind == graft.core.ModelKind.View,
        "config.yaml model_defaults.kind did not apply")
      require(c.model("fp.report").owner.contains("team_file"),
        "config.yaml model_defaults.owner did not apply")
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-03-01")))
      s.table("fp.report").orderBy("o_orderdate")
    }, Some(
      """WITH daily AS (
        |  SELECT o_orderdate, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-03-01'
        |  GROUP BY o_orderdate
        |)
        |SELECT d.o_orderdate, d.n, d.rev,
        |  round(d.rev * 100.0 / t.total, 4) AS pct
        |FROM daily d CROSS JOIN (SELECT sum(rev) AS total FROM daily) t
        |ORDER BY o_orderdate""".stripMargin)),

    // ------------- dbt project loading (reference sqlmesh/dbt/) -----------
    "mk_dbt_project" -> Entry((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dbt")
      def w(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, text)
      }
      w("dbt_project.yml", "name: analytics\nvars:\n  cutoff: '1995-03-01'\n")
      w("models/schema.yml",
        "sources:\n  - name: raw\n    tables:\n      - name: orders\n      - name: customer\n")
      w("models/staging/stg_orders.sql",
        """{{ config(materialized='view', schema='dbtstg') }}
          |SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
          |FROM {{ source('raw', 'orders') }}
          |WHERE o_orderdate < TIMESTAMP '{{ var("cutoff") }}'
          |""".stripMargin)
      w("models/marts/seg_revenue.sql",
        """{{ config(materialized='table', schema='dbtmart') }}
          |SELECT c.c_mktsegment, count(*) AS n, round(sum(o.o_totalprice), 2) AS rev
          |FROM {{ ref('stg_orders') }} o
          |JOIN {{ source('raw', 'customer') }} c ON o.o_custkey = c.c_custkey
          |GROUP BY c.c_mktsegment
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadDbtProject(root.toString)
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-03-01")))
      s.table("dbtmart.seg_revenue").orderBy("c_mktsegment")
    }, Some(
      """SELECT c.c_mktsegment, count(*) AS n, round(sum(o.o_totalprice), 2) AS rev
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderdate < TIMESTAMP '1995-03-01'
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),

    // ---- dbt_utils tier-2 macros through a real dbt model (r6) -----------
    "mk_dbt_utils_spine_pivot" -> Entry((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dbtu")
      def w(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, text)
      }
      w("dbt_project.yml", "name: dbtu\n")
      w("models/schema.yml",
        "sources:\n  - name: raw\n    tables:\n      - name: orders\n")
      // date_spine drives the calendar; pivot fans priorities into columns;
      // whitespace-control keeps the rendered SQL tight
      w("models/daily_prio.sql",
        """{{ config(materialized='table', schema='dbtu') }}
          |WITH spine AS (
          |  {{ dbt_utils.date_spine('day', "DATE'1995-01-01'", "DATE'1995-01-08'") }}
          |)
          |SELECT d.date_day,
          |  {{- ' ' -}}
          |  {{ dbt_utils.pivot('o.o_orderpriority', ['1-URGENT', '2-HIGH'], prefix='n_') }}
          |FROM spine d
          |LEFT JOIN {{ source('raw', 'orders') }} o
          |  ON CAST(o.o_orderdate AS DATE) = CAST(d.date_day AS DATE)
          |GROUP BY d.date_day
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadDbtProject(root.toString)
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      s.table("dbtu.daily_prio").orderBy("date_day")
    }, Some(
      """WITH spine AS (
        |  SELECT unnest(range(TIMESTAMP '1995-01-01', TIMESTAMP '1995-01-08',
        |                      INTERVAL 1 DAY)) AS date_day
        |)
        |SELECT d.date_day,
        |  CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_1_URGENT,
        |  CAST(sum(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_2_HIGH
        |FROM spine d
        |LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = CAST(d.date_day AS DATE)
        |GROUP BY d.date_day ORDER BY d.date_day""".stripMargin)),

    // ---- dbt_utils.get_column_values → pivot: render-time introspection --
    "mk_dbt_utils_colvalues" -> Entry((s, dir) => {
      // the classic dbt pairing: column values read from the LIVE source at
      // render time drive the pivot projection. All 5 TPC-H priorities occur
      // at every SF, so the column SET is deterministic (the driver's
      // compare sorts columns by name — data-dependent ORDER is harmless).
      val root = java.nio.file.Files.createTempDirectory("graft_dbtcv")
      def w(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, text)
      }
      w("dbt_project.yml", "name: dbtcv\n")
      w("models/schema.yml",
        "sources:\n  - name: raw\n    tables:\n      - name: orders\n")
      w("models/prio_pivot.sql",
        """{{ config(materialized='table', schema='dbtcv') }}
          |{% set prios = dbt_utils.get_column_values(source('raw', 'orders'), 'o_orderpriority') %}
          |SELECT {{ dbt_utils.pivot('o_orderpriority', prios, prefix='n_') }}
          |FROM {{ source('raw', 'orders') }}
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadDbtProject(root.toString)
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      s.table("dbtcv.prio_pivot")
    }, Some(
      """SELECT
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_1_URGENT,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_2_HIGH,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_3_MEDIUM,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_4_NOT_SPECIFIED,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_5_LOW
        |FROM orders""".stripMargin)),

    // ---- dbt adapter.dispatch + {% call %} + generic tests (r15 task 6) --
    // the three dbt-package constructs a real project leans on hardest:
    //  - a package macro dispatching on adapter.dispatch('m', 'pkg') must
    //    resolve to the package's spark__m implementation (dbt search
    //    order: adapter-specific across namespaces beats default__);
    //  - {% call %} blocks feed the macro a rendered body via caller();
    //  - schema.yml tests naming PACKAGE-provided generic tests
    //    ({% test %} blocks) attach as audits, model- and column-level,
    //    and a violated test must BLOCK the apply.
    "mk_dbt_dispatch_tests" -> Entry((s, dir) => {
      // sfx: the two contexts share one Spark session catalog — the
      // negative-path project must not collide with the good one's
      // schema/view/physical names
      def proj(failLimit: Option[Int], sfx: String): java.nio.file.Path = {
        val root = java.nio.file.Files.createTempDirectory("graft_dbtd")
        def w(rel: String, text: String): Unit = {
          val p = root.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, text)
        }
        w("dbt_project.yml", "name: dispatchproj\n")
        // project-level generic test (model-level attachment, kw arg)
        w("macros/tests.sql",
          """{% test max_rows(model, limit) %}
            |SELECT count(*) AS n FROM {{ model }} HAVING count(*) > {{ limit }}
            |{% endtest %}
            |""".stripMargin)
        // vendored package: dispatching macro + spark__/default__ impls,
        // a call-block macro, and a package generic test
        w("dbt_packages/utilpkg/dbt_project.yml", "name: utilpkg\n")
        w("dbt_packages/utilpkg/macros/money.sql",
          """{% macro money(x) %}{{ return(adapter.dispatch('money', 'utilpkg')(x)) }}{% endmacro %}
            |{% macro default__money(x) %}round({{ x }}, 1){% endmacro %}
            |{% macro spark__money(x) %}CAST(round({{ x }}, 2) AS DOUBLE){% endmacro %}
            |{% macro labeled(tag) %}{{ caller() }} AS {{ tag }}{% endmacro %}
            |{% test non_negative(model, column_name) %}
            |SELECT * FROM {{ model }} WHERE {{ column_name }} < 0
            |{% endtest %}
            |""".stripMargin)
        w("models/schema.yml",
          s"""sources:
             |  - name: raw
             |    tables:
             |      - name: orders
             |models:
             |  - name: seg_rev$sfx
             |    tests:
             |      - max_rows:
             |          limit: ${failLimit.getOrElse(1000000)}
             |    columns:
             |      - name: rev
             |        tests:
             |          - utilpkg.non_negative
             |""".stripMargin)
        w(s"models/seg_rev$sfx.sql",
          s"""{{ config(materialized='table', schema='dbtd$sfx') }}
            |SELECT o_orderstatus,
            |{% call utilpkg.labeled('rev') %}{{ utilpkg.money('sum(o_totalprice)') }}{% endcall %}
            |FROM {{ source('raw', 'orders') }}
            |GROUP BY o_orderstatus
            |""".stripMargin)
        root
      }
      val c = ctx(s, dir)
      c.loadDbtProject(proj(None, "").toString)
      require(c.model("dbtd.seg_rev").audits.exists(_._1 == "generic_sql"),
        "package generic tests did not attach as audits")
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      // a VIOLATED generic test (row count over a 1-row limit) must block
      val c2 = ctx(s, dir)
      c2.loadDbtProject(proj(Some(1), "2").toString)
      require(scala.util.Try(
        c2.apply(c2.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))).isFailure,
        "violated max_rows generic test did not block the apply")
      s.table("dbtd.seg_rev").orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS rev
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- verbatim dbt fixture/package macros (r17: jinja expression depth)
    // two macro files copied BYTE-IDENTICAL from public upstreams:
    //  - the reference's tests/fixtures/dbt/sushi_test/macros/incremental.sql
    //    (`is defined` guard, list return with bound time vars, indexing,
    //    `~` concat) driving a real incremental model, and
    //  - dbt-labs/dbt-utils macros/sql/groupby.sql (adapter.dispatch +
    //    range() with arithmetic + `{{ ',' if not loop.last }}`),
    // plus in-model list building ({% set [] %} / {% do append %} / join).
    "mk_dbt_jinja_fixtures" -> Entry((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dbtjx")
      def w(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, text)
      }
      w("dbt_project.yml", "name: jxproj\n")
      w("models/schema.yml",
        "sources:\n  - name: raw\n    tables:\n      - name: orders\n")
      // byte-identical: reference tests/fixtures/dbt/sushi_test/macros/incremental.sql
      w("macros/incremental.sql",
        """{% macro incremental_by_time(col, time_type) %}
          |    {% if is_incremental() %}
          |    WHERE
          |        {{ col }} > (select max({{ col }}) from {{ this }})
          |    {% endif %}
          |    {% if sqlmesh_incremental is defined %}
          |    {% set dates = incremental_dates_by_time_type(time_type) %}
          |    WHERE
          |        {{ col }} BETWEEN '{{ dates[0] }}' AND '{{ dates[1] }}'
          |    {% endif %}
          |{% endmacro %}
          |
          |{% macro incremental_dates_by_time_type(time_type) %}
          |    {% if time_type == 'ds' %}
          |        {{ return([start_ds, end_ds]) }}
          |    {% elif time_type == 'ts' %}
          |        {{ return([start_ts, end_ts]) }}
          |    {% elif time_type == 'epoch' %}
          |        {{ return([start_epoch, end_epoch]) }}
          |    {% elif time_type == 'millis' %}
          |        {{ return([start_millis, end_millis]) }}
          |    {% elif time_type == 'date' %}
          |        {{ return([start_date, end_date]) }}
          |    {% else %}
          |        {{ exceptions.raise_compiler_error("Unknown time type: " ~time_type) }}
          |    {% endif %}
          |{% endmacro %}
          |""".stripMargin)
      // byte-identical: dbt-labs/dbt-utils macros/sql/groupby.sql
      w("dbt_packages/dbt_utils/dbt_project.yml", "name: dbt_utils\n")
      w("dbt_packages/dbt_utils/macros/sql/groupby.sql",
        """{%- macro group_by(n) -%}
          |    {{ return(adapter.dispatch('group_by', 'dbt_utils')(n)) }}
          |{% endmacro %}
          |
          |{%- macro default__group_by(n) -%}
          |    group by {% for i in range(1, n + 1) %}
          |    {{ i }}{{ ',' if not loop.last }} {% endfor %}
          |{%- endmacro -%}
          |""".stripMargin)
      // the sqlmesh branch of the fixture macro: interval-bound BETWEEN on
      // the time column (sqlmesh_incremental is a dbt-env global here,
      // mirroring reference dbt/builtin.py:425)
      w("models/inc_orders.sql",
        """{{ config(materialized='incremental', unique_key='o_orderkey', schema='jx') }}
          |SELECT o_orderkey, o_orderdate, o_totalprice
          |FROM {{ source('raw', 'orders') }}
          |{{ incremental_by_time('o_orderdate', 'ds') }}
          |""".stripMargin)
      w("models/status_rev.sql",
        """{{ config(materialized='table', schema='jx') }}
          |{% set statuses = [] %}
          |{% for st in ['F', 'O'] %}
          |{% do statuses.append("'" ~ st ~ "'") %}
          |{% endfor %}
          |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS rev
          |FROM {{ source('raw', 'orders') }}
          |WHERE o_orderstatus IN ({{ statuses | join(', ') }})
          |{{ dbt_utils.group_by(1) }}
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadDbtProject(root.toString)
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      // the fixture macro's interval filter must hold: January only
      val expected = s.read.parquet(s"$dir/orders.parquet")
        .where("o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'")
        .count()
      val got = s.table("jx.inc_orders").count()
      require(got == expected,
        s"verbatim incremental fixture filtered wrong: $got rows vs $expected")
      s.table("jx.status_rev").orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- adapter.get_columns_in_relation (r17: dbt schema introspection)
    // the dbt-adapters relation API packages lean on hardest after
    // dispatch: macros that LOOP OVER a relation's live columns to build
    // SQL (select-list generators, row checksums, audit helpers). Renders
    // at evaluation time against the real catalog through the same
    // schemaOf seam as @STAR; column objects are jinja dicts
    // (.name/.column/.dtype/.data_type/.quoted). The oracle hardcodes the
    // expansion the macros must produce for nation's 3-column schema.
    "mk_dbt_columns_introspection" -> Entry((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dbtix")
      def w(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, text)
      }
      w("dbt_project.yml", "name: ixproj\n")
      w("models/schema.yml",
        "sources:\n  - name: raw\n    tables:\n      - name: nation\n")
      w("macros/introspect.sql",
        """{% macro typed_select(relation) %}
          |    {%- set cols = adapter.get_columns_in_relation(relation) -%}
          |    {% for col in cols %}{{ col.quoted }} AS {{ col.name }}_{{ col.dtype }}{{ ',' if not loop.last }}
          |    {% endfor %}
          |{% endmacro %}
          |
          |{% macro checksum_columns(relation) %}
          |    {%- set cols = adapter.get_columns_in_relation(relation) -%}
          |    md5(concat_ws('|'{% for col in cols %}, coalesce(cast({{ col.column }} as string), ''){% endfor %}))
          |{% endmacro %}
          |""".stripMargin)
      w("models/nation_typed.sql",
        """{{ config(materialized='table', schema='ix') }}
          |SELECT
          |    {{ typed_select(source('raw', 'nation')) }},
          |    {{ checksum_columns(source('raw', 'nation')) }} AS row_hash
          |FROM {{ source('raw', 'nation') }}
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadDbtProject(root.toString)
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      s.table("ix.nation_typed").orderBy("n_nationkey_int")
    }, Some(
      """SELECT n_nationkey AS n_nationkey_int, n_name AS n_name_string,
        |  n_regionkey AS n_regionkey_int,
        |  md5(concat_ws('|', coalesce(cast(n_nationkey AS VARCHAR), ''),
        |    coalesce(cast(n_name AS VARCHAR), ''),
        |    coalesce(cast(n_regionkey AS VARCHAR), ''))) AS row_hash
        |FROM nation ORDER BY n_nationkey_int""".stripMargin)),

    // ---- run_query / statement / load_result (r17: dbt render-time
    // queries). The package file is BYTE-IDENTICAL to dbt-labs/dbt-utils
    // macros/sql/get_single_value.sql (dispatch wrapper + default impl,
    // exercising statement(fetch_result)/load_result('..').table.columns
    // [0].values()/print/return); the model folds the queried scalar into
    // its WHERE. The oracle computes the same scalar as a subquery.
    "mk_dbt_run_query" -> Entry((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dbtrq")
      def w(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, text)
      }
      w("dbt_project.yml", "name: rqproj\n")
      w("models/schema.yml",
        "sources:\n  - name: raw\n    tables:\n      - name: orders\n")
      w("dbt_packages/dbt_utils/dbt_project.yml", "name: dbt_utils\n")
      w("dbt_packages/dbt_utils/macros/sql/get_single_value.sql",
        """{% macro get_single_value(query, default=none) %}
          |    {{ return(adapter.dispatch('get_single_value', 'dbt_utils')(query, default)) }}
          |{% endmacro %}
          |
          |{% macro default__get_single_value(query, default) %}
          |
          |  {# This macro returns the (0, 0) record in a query, i.e. the first row of the first column #}
          |
          |    {%- call statement('get_query_result', fetch_result=True, auto_begin=false) -%}
          |
          |        {{ query }}
          |
          |    {%- endcall -%}
          |
          |    {%- if execute -%}
          |
          |        {% set r = load_result('get_query_result').table.columns[0].values() %}
          |        {% if r | length == 0 %}
          |            {% do print('No records selected from get_single_value statement.') %}
          |            {% set sql_result = default %}
          |        {% else %}
          |            {% set sql_result = r[0] %}
          |        {% endif %}
          |
          |    {%- else -%}
          |
          |        {% set sql_result = default %}
          |
          |    {%- endif -%}
          |
          |    {% do return(sql_result) %}
          |
          |{% endmacro %}
          |""".stripMargin)
      w("models/pricey_orders.sql",
        """{{ config(materialized='table', schema='rq') }}
          |{% set avg_price = dbt_utils.get_single_value('select round(avg(o_totalprice), 2) from ' ~ source('raw', 'orders')) %}
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM {{ source('raw', 'orders') }}
          |WHERE o_totalprice > {{ avg_price }}
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadDbtProject(root.toString)
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      s.table("rq.pricey_orders").orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- dbt_utils.star VERBATIM (r17: the flagship package macro end to
    // end). All four package files are byte-identical to dbt-labs/dbt-utils
    // (star.sql, get_filtered_columns_in_relation.sql, _is_relation.sql,
    // _is_ephemeral.sql): relation OBJECTS (is mapping + .metadata type
    // check), live column introspection, except-list normalization via
    // map('lower'), include_cols.append in a loop, adapter.quote, and the
    // empty-columns guard whose condition (`cols|length <= 0`) needs
    // filter-chains inside conditions. The vendored package SHADOWS the
    // native dbt_utils.star builtin (installed package wins — dbt
    // semantics).
    "mk_dbt_star" -> Entry((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dbtst")
      def w(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, text)
      }
      w("dbt_project.yml", "name: stproj\n")
      w("models/schema.yml",
        "sources:\n  - name: raw\n    tables:\n      - name: nation\n")
      w("dbt_packages/dbt_utils/dbt_project.yml", "name: dbt_utils\n")
      w("dbt_packages/dbt_utils/macros/jinja_helpers/_is_relation.sql",
        """{% macro _is_relation(obj, macro) %}
          |    {%- if not (obj is mapping and obj.get('metadata', {}).get('type', '').endswith('Relation')) -%}
          |        {%- do exceptions.raise_compiler_error("Macro " ~ macro ~ " expected a Relation but received the value: " ~ obj) -%}
          |    {%- endif -%}
          |{% endmacro %}
          |""".stripMargin)
      w("dbt_packages/dbt_utils/macros/jinja_helpers/_is_ephemeral.sql",
        """{% macro _is_ephemeral(obj, macro) %}
          |    {%- if obj.is_cte -%}
          |        {% set ephemeral_prefix = api.Relation.add_ephemeral_prefix('') %}
          |        {% if obj.identifier.startswith(ephemeral_prefix) %}
          |            {% set model_name = obj.identifier[(ephemeral_prefix|length):] %}
          |        {% else %}
          |            {% set model_name = obj.identifier %}
          |        {%- endif -%}
          |        {% set error_message %}
          |The `{{ macro }}` macro cannot be used with ephemeral models, as it relies on the information schema.
          |
          |`{{ model_name }}` is an ephemeral model. Consider making it a view or table instead.
          |        {% endset %}
          |        {%- do exceptions.raise_compiler_error(error_message) -%}
          |    {%- endif -%}
          |{% endmacro %}
          |""".stripMargin)
      w("dbt_packages/dbt_utils/macros/sql/get_filtered_columns_in_relation.sql",
        """{% macro get_filtered_columns_in_relation(from, except=[]) -%}
          |    {{ return(adapter.dispatch('get_filtered_columns_in_relation', 'dbt_utils')(from, except)) }}
          |{% endmacro %}
          |
          |{% macro default__get_filtered_columns_in_relation(from, except=[]) %}
          |    {%- do dbt_utils._is_relation(from, 'get_filtered_columns_in_relation') -%}
          |    {%- do dbt_utils._is_ephemeral(from, 'get_filtered_columns_in_relation') -%}
          |
          |    {# -- Prevent querying of db in parsing mode. This works because this macro does not create any new refs. #}
          |    {%- if not execute -%}
          |        {{ return('') }}
          |    {% endif %}
          |
          |    {%- set include_cols = [] %}
          |    {%- set cols = adapter.get_columns_in_relation(from) -%}
          |    {%- set except = except | map("lower") | list %}
          |
          |    {%- for col in cols -%}
          |        {%- if col.column | lower not in except -%}
          |            {% do include_cols.append(col.column) %}
          |        {%- endif %}
          |    {%- endfor %}
          |
          |    {{ return(include_cols) }}
          |
          |{% endmacro %}
          |""".stripMargin)
      w("dbt_packages/dbt_utils/macros/sql/star.sql",
        """{% macro star(from, relation_alias=False, except=[], prefix='', suffix='', quote_identifiers=True) -%}
          |    {{ return(adapter.dispatch('star', 'dbt_utils')(from, relation_alias, except, prefix, suffix, quote_identifiers)) }}
          |{% endmacro %}
          |
          |{% macro default__star(from, relation_alias=False, except=[], prefix='', suffix='', quote_identifiers=True) -%}
          |    {%- do dbt_utils._is_relation(from, 'star') -%}
          |    {%- do dbt_utils._is_ephemeral(from, 'star') -%}
          |
          |    {#-- Prevent querying of db in parsing mode. This works because this macro does not create any new refs. #}
          |    {%- if not execute -%}
          |        {% do return('*') %}
          |    {%- endif -%}
          |
          |    {% set cols = dbt_utils.get_filtered_columns_in_relation(from, except) %}
          |
          |    {%- if cols|length <= 0 -%}
          |        {% if flags.WHICH == 'compile' %}
          |            {% set response %}
          |*
          |/* No columns were returned. Maybe the relation doesn't exist yet
          |or all columns were excluded. This star is only output during
          |dbt compile, and exists to keep SQLFluff happy. */
          |            {% endset %}
          |            {% do return(response) %}
          |        {% else %}
          |            {% do return("/* no columns returned from star() macro */") %}
          |        {% endif %}
          |    {%- else -%}
          |        {%- for col in cols %}
          |            {%- if relation_alias %}{{ relation_alias }}.{% else %}{%- endif -%}
          |            {%- if quote_identifiers -%}
          |                {{ adapter.quote(col)|trim }} {%- if prefix!='' or suffix!='' %} as {{ adapter.quote(prefix ~ col ~ suffix)|trim }} {%- endif -%}
          |            {%- else -%}
          |                {{ col|trim }} {%- if prefix!='' or suffix!='' %} as {{ (prefix ~ col ~ suffix)|trim }} {%- endif -%}
          |            {%- endif -%}
          |            {%- if not loop.last %},{{ '\n  ' }}{%- endif -%}
          |        {%- endfor -%}
          |    {% endif %}
          |{%- endmacro %}
          |""".stripMargin)
      w("models/nation_star.sql",
        """{{ config(materialized='table', schema='st') }}
          |SELECT
          |    {{ dbt_utils.star(source('raw', 'nation'), except=['n_name']) }},
          |    {{ dbt_utils.star(source('raw', 'nation'), except=['n_name', 'n_regionkey'], prefix='p_') }}
          |FROM {{ source('raw', 'nation') }}
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadDbtProject(root.toString)
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      s.table("st.nation_star").orderBy("n_nationkey")
    }, Some(
      """SELECT n_nationkey, n_regionkey, n_nationkey AS p_n_nationkey
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ------------- Scala-bodied model (reference: Python models) ----------
    "mk_scala_model" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model(
        name = "mart.top_parts",
        body = ScalaBody { (sp, mapping, start, end) =>
          // the reference's @model Python functions get (context, start, end)
          // and return a DataFrame; ours get (spark, resolved tables, bounds)
          val part = sp.sql(s"SELECT * FROM ${mapping("raw.part")}")
          val li = sp.sql(s"SELECT * FROM ${mapping("raw.lineitem")}")
            .where(col("l_shipdate") >= new java.sql.Timestamp(start) &&
              col("l_shipdate") < new java.sql.Timestamp(end))
          li.join(part, li("l_partkey") === part("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(round(sum(col("l_extendedprice")), 2).as("rev"),
              count(lit(1)).as("n"))
        },
        kind = ModelKind.Full,
        dependsOn = Set("raw.part", "raw.lineitem"),
        start = Some(dayMs("1995-01-01"))))
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-07-01")))
      s.table("mart.top_parts").orderBy("p_brand")
    }, Some(
      """SELECT p_brand, round(sum(l_extendedprice), 2) AS rev, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-07-01'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // -------------------- CUSTOM materialization strategy -----------------
    "mk_custom" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      // custom strategy: append + keep only latest 2 versions per key
      c.registerCustomMaterialization("top2_per_nation") { (mat, tbl, df) =>
        val ranked = df.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))))
          .filter(col("rk") <= 2).drop("rk")
        mat.replaceQuery(tbl, ranked)
      }
      c.addModel(Model("mart.top_cust",
        SqlBody("SELECT c_custkey, c_nationkey, c_acctbal FROM raw.customer"),
        kind = ModelKind.Custom("top2_per_nation")))
      c.apply(c.plan("prod", 0L, D))
      s.table("mart.top_cust").orderBy("c_nationkey", "c_custkey")
    }, Some(
      """SELECT c_custkey, c_nationkey, c_acctbal FROM (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) t
        |WHERE rk <= 2 ORDER BY c_nationkey, c_custkey""".stripMargin)),

    // ------------- DDL verbs: clone (zero-copy) + rename -----------------
    "mk_clone_rename" -> Entry((s, dir) => {
      import graft.adapter.{PhysicalTable, SparkMaterializer}
      QueryUtil.registerAll(s, dir)
      val m = new SparkMaterializer(s)
      // idempotent within one SESSION: EntrySchemaSpec and the hygiene
      // sweep both replay every entry in one JVM, and the renamed view
      // survives in the shared catalog — clear our own residue so the
      // rename's no-clobber contract doesn't trip on it
      s.sql("DROP VIEW IF EXISTS `graft__ddl`.`rev_gold`")
      def pt(n: String) = PhysicalTable("graft__ddl", n,
        java.nio.file.Files.createTempDirectory(s"ddl_$n").toString)
      val src = pt("src_rev")
      m.replaceQuery(src, s.sql(
        """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS rev
          |FROM orders GROUP BY o_orderpriority""".stripMargin))
      // zero-copy clone, then mutate the SOURCE — the clone must be stable
      val clone = pt("rev_clone")
      m.cloneTable(clone, src)
      m.insertAppend(src, s.sql(
        "SELECT 'X-EXTRA' AS o_orderpriority, CAST(0 AS BIGINT) AS n, CAST(0 AS DOUBLE) AS rev"))
      // rename the clone; reads resolve through the new name
      val renamed = m.renameTable(clone, "rev_gold")
      s.table(renamed.qualified).orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ------------- DDL verbs: create_table_like + time travel ------------
    "mk_table_like_travel" -> Entry((s, dir) => {
      import graft.adapter.{PhysicalTable, SparkMaterializer}
      QueryUtil.registerAll(s, dir)
      val m = new SparkMaterializer(s)
      def pt(n: String) = PhysicalTable("graft__ddl", n,
        java.nio.file.Files.createTempDirectory(s"ddl_$n").toString)
      val src = pt("tl_src")
      m.replaceQuery(src, s.sql(
        "SELECT r_regionkey, r_name FROM region"))
      // empty structural copy, then fill it with different data
      val like = pt("tl_copy")
      m.createTableLike(like, src)
      m.insertAppend(like, s.sql(
        "SELECT n_nationkey AS r_regionkey, n_name AS r_name FROM nation WHERE n_nationkey < 10"))
      // time travel: v0 of the source (pre-replace) must still read after a
      // second replace rewrites the current version
      m.replaceQuery(src, s.sql(
        "SELECT r_regionkey + 100 AS r_regionkey, r_name FROM region"))
      val v0 = m.readVersion(src, 0).withColumnRenamed("r_name", "v0_name")
      m.read(like).join(v0, "r_regionkey")
        .select(col("r_regionkey"), col("r_name"), col("v0_name"))
        .orderBy("r_regionkey")
    }, Some(
      """SELECT n_nationkey AS r_regionkey, n_name AS r_name, r.r_name AS v0_name
        |FROM nation n JOIN region r ON n.n_nationkey = r.r_regionkey
        |WHERE n.n_nationkey < 10 ORDER BY r_regionkey""".stripMargin)),

    // ------------- DDL verbs: delete_from + update_table -----------------
    "mk_delete_update" -> Entry((s, dir) => {
      import graft.adapter.{PhysicalTable, SparkMaterializer}
      QueryUtil.registerAll(s, dir)
      val m = new SparkMaterializer(s)
      val t = PhysicalTable("graft__ddl", "cust_mut",
        java.nio.file.Files.createTempDirectory("ddl_mut").toString)
      m.replaceQuery(t, s.sql(
        "SELECT c_custkey, c_mktsegment, c_acctbal FROM customer"))
      m.deleteWhere(t, col("c_acctbal") < 0)
      m.updateWhere(t, col("c_mktsegment") === "BUILDING",
        Map("c_acctbal" -> round(col("c_acctbal") * 1.1, 2)))
      m.read(t).groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("bal"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(CASE WHEN c_mktsegment = 'BUILDING'
        |    THEN round(c_acctbal * 1.1, 2) ELSE c_acctbal END), 2) AS bal
        |FROM customer WHERE NOT (c_acctbal < 0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- write-audit-publish: failed blocking audit rolls the table back --
    "mk_wap_rollback" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      def model(where: String) = Model("mart.wap_nations",
        SqlBody(s"SELECT n_nationkey, n_name FROM raw.nation $where"),
        kind = ModelKind.Full,
        audits = Seq("number_of_rows" -> Map("threshold" -> "10")))
      c.addModel(model(""))                       // 25 rows → audit passes
      c.apply(c.plan("prod", 0L, D))
      // the bad edit yields 5 rows < threshold → blocking audit fails and
      // the physical table ROLLS BACK to the published version
      c.addModel(model("WHERE n_nationkey < 5"))
      try c.apply(c.plan("prod", 0L, 2 * D))
      catch { case _: IllegalStateException => () }
      s.table("mart.wap_nations").orderBy("n_nationkey")
    }, Some(
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")),

    // ------------- EMBEDDED kind: inline expansion, no physical object ----
    "mk_embedded" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.big_orders",
        SqlBody("SELECT * FROM raw.orders WHERE o_totalprice > 200000"),
        kind = ModelKind.Embedded))
      c.addModel(Model("mart.big_by_prio",
        SqlBody(
          """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS rev
            |FROM mart.big_orders GROUP BY o_orderpriority""".stripMargin),
        kind = ModelKind.Full))
      c.apply(c.plan("prod", 0L, D))
      // no physical table/view for the embedded model itself
      require(!s.catalog.tableExists("mart.big_orders"),
        "EMBEDDED must not materialize")
      s.table("mart.big_by_prio").orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE o_totalprice > 200000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ------------- SEED csv_settings through the kind pipeline -----------
    "mk_seed_csv" -> Entry((s, dir) => {
      val proj = java.nio.file.Files.createTempDirectory("graft_seedcsv")
      java.nio.file.Files.writeString(proj.resolve("regions.csv"),
        "rid;label;pop\n1;|north;east|;10\n2;NA;20\n3;south;30\n")
      java.nio.file.Files.writeString(proj.resolve("regions.sql"),
        s"""MODEL (
           |  name mart.seed_regions,
           |  kind SEED (
           |    path '${proj.resolve("regions.csv")}',
           |    csv_settings (delimiter ';', quotechar '|', na_values 'NA')
           |  )
           |);
           |""".stripMargin)
      val c = ctx(s, dir)
      c.loadModels(proj.toString)
      c.apply(c.plan("prod", 0L, D))
      s.table("mart.seed_regions").orderBy("rid")
    }, Some(
      """SELECT * FROM (VALUES (1, 'north;east', 10), (2, CAST(NULL AS VARCHAR), 20),
        |  (3, 'south', 30)) AS t(rid, label, pop)
        |ORDER BY rid""".stripMargin)),

    // ---- cron-tick gating: a daily model can't run past its last tick ----
    "mk_cron_gate" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.cron_rev",
        SqlBody(
          """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
            |  round(sum(o_totalprice), 2) AS rev
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin),
        kind = ModelKind.IncrementalByTimeRange(timeColumn = "d"),
        cron = "@daily",
        start = Some(dayMs("1995-01-01"))))
      // plan window reaches Jan 10, but execution happens at NOON Jan 8 —
      // the cron gate caps the backfill at the last @daily tick (Jan 8),
      // so Jan 8-9 stay unprocessed (reference croniter gating)
      val noonJan8 = dayMs("1995-01-08") + 12 * 3600 * 1000
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")),
        executionTs = noonJan8)
      s.table("mart.cron_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-01-08'
        |GROUP BY CAST(o_orderdate AS DATE) ORDER BY d""".stripMargin)),

    // ---- effective_from: forward-only logic applies FROM a date ----------
    "mk_effective_from" -> Entry((s, dir) => {
      val ws = java.nio.file.Files.createTempDirectory("graft_ef").toString
      def mk(body: String): GraftContext = {
        val cc = new GraftContext(s, ws, 2, durableState = true)
        tables.foreach(t => cc.addExternal(s"raw.$t", externalFor(s, dir, t)))
        cc.addModel(Model("mart.ef_rev", SqlBody(body),
          kind = ModelKind.IncrementalByTimeRange(
            timeColumn = "d", timeFormat = "date", forwardOnly = true),
          start = Some(dayMs("1995-01-01"))))
        cc
      }
      val v1 = mk(
        """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 2) AS rev
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin)
      v1.apply(v1.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01")))
      // v2 DOUBLES rev; --effective-from Jan 15 drops only the inherited
      // intervals at/after that date, so history before it keeps the OLD
      // logic and everything from it re-runs with the new one (the
      // forward-only "apply new logic from here" contract)
      val v2 = mk(
        """SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice) * 2, 2) AS rev
          |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
          |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin)
      v2.apply(v2.plan("prod", dayMs("1995-01-01"), dayMs("1995-02-01"),
        forwardOnly = true, effectiveFrom = Some(dayMs("1995-01-15"))))
      s.table("mart.ef_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d,
        |  CASE WHEN o_orderdate >= TIMESTAMP '1995-01-15'
        |    THEN round(sum(o_totalprice) * 2, 2)
        |    ELSE round(sum(o_totalprice), 2) END AS rev
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'
        |GROUP BY CAST(o_orderdate AS DATE), o_orderdate >= TIMESTAMP '1995-01-15'
        |ORDER BY d""".stripMargin)),

    // ---- allow_partials: the partial trailing interval DOES run ----------
    "mk_allow_partials" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.partial_rev",
        SqlBody(
          """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
            |  round(sum(o_totalprice), 2) AS rev
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin),
        kind = ModelKind.IncrementalByTimeRange(timeColumn = "d"),
        cron = "@daily",
        start = Some(dayMs("1995-01-01")),
        allowPartials = true))
      // same mid-day execution as mk_cron_gate — but allow_partials opts out
      // of the cron-tick cap, so the FULL plan window backfills
      val noonJan8 = dayMs("1995-01-08") + 12 * 3600 * 1000
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-10")),
        executionTs = noonJan8)
      s.table("mart.partial_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-01-10'
        |GROUP BY CAST(o_orderdate AS DATE) ORDER BY d""".stripMargin)),

    // ---- batch_concurrency: parallel staged batches publish serially -----
    "mk_batch_concurrent" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.conc_rev",
        SqlBody(
          """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
            |  round(sum(o_totalprice), 2) AS rev
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin),
        kind = ModelKind.IncrementalByTimeRange(timeColumn = "d",
          batchSize = Some(7), batchConcurrency = Some(3)),
        start = Some(dayMs("1995-01-01")),
        partitionedBy = Seq("d")))
      // 2 months / 7-day batches → 9 batches: first runs alone (creates the
      // table), the rest COMPUTE concurrently into private staging dirs and
      // publish serially — the oracle proves no batch was lost or doubled
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-03-01")))
      s.table("mart.conc_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-03-01'
        |GROUP BY CAST(o_orderdate AS DATE) ORDER BY d""".stripMargin)),

    // ---- signal gating: an interval runs only when its signal fires ------
    "mk_signal_gate" -> Entry((s, dir) => {
      val c = ctx(s, dir)
      c.addModel(Model("mart.signal_rev",
        SqlBody(
          """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
            |  round(sum(o_totalprice), 2) AS rev
            |FROM raw.orders WHERE o_orderdate BETWEEN @start_dt AND @end_dt
            |GROUP BY CAST(o_orderdate AS DATE)""".stripMargin),
        kind = ModelKind.IncrementalByTimeRange(timeColumn = "d", batchSize = Some(2)),
        start = Some(dayMs("1995-01-01"))))
      // upstream-readiness signal (reference signals.py): only batches
      // ending by Jan 7 are ready — later ones stay unprocessed until the
      // signal fires on a future run
      c.addSignal("mart.signal_rev", iv => iv.end <= dayMs("1995-01-07"))
      c.apply(c.plan("prod", dayMs("1995-01-01"), dayMs("1995-01-11")))
      s.table("mart.signal_rev").orderBy("d")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-01-07'
        |GROUP BY CAST(o_orderdate AS DATE) ORDER BY d""".stripMargin)),

    // ------------- METRIC file DDL + semantic-layer query ----------------
    "sm_metric_file" -> Entry((s, dir) => {
      val proj = java.nio.file.Files.createTempDirectory("graft_metrics")
      java.nio.file.Files.writeString(proj.resolve("metrics.sql"),
        """METRIC (
          |  name file_rev,
          |  expression round(SUM(o_totalprice), 2),
          |  table raw.orders,
          |  dims (prio o_orderpriority)
          |);
          |METRIC (
          |  name file_orders,
          |  expression COUNT(*),
          |  table raw.orders,
          |  dims (prio o_orderpriority)
          |);
          |METRIC (
          |  name file_avg,
          |  expression round(file_rev / NULLIF(file_orders, 0), 2)
          |);
          |""".stripMargin)
      val c = ctx(s, dir)
      c.loadModels(proj.toString)
      c.semanticQuery(
        """SELECT prio, file_rev, file_avg FROM __semantic.__table
          |GROUP BY prio ORDER BY prio""".stripMargin)
    }, Some(
      """SELECT o_orderpriority AS prio, round(SUM(o_totalprice), 2) AS file_rev,
        |  round(round(SUM(o_totalprice), 2) / NULLIF(COUNT(*), 0), 2) AS file_avg
        |FROM orders GROUP BY o_orderpriority ORDER BY prio""".stripMargin)),
  )
}
