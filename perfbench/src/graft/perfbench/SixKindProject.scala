package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftContext
import graft.core.Interval

/** The six-kind project of `daily_catchup`: SEED, INCREMENTAL_BY_TIME_RANGE,
  * INCREMENTAL_BY_UNIQUE_KEY, SCD_TYPE_2_BY_TIME, FULL ×2 and VIEW over
  * `orders`/`lineitem`/`events`/`documents`, with built-in audits
  * (`not_null`, `unique_values` and the row audit `accepted_range`). The
  * FULL model `mart.doc_quality` scores documents with graft's SQL
  * functions (the `functions` operator library) on every tick. Money is
  * summed as DECIMAL so model tables and the direct reference queries agree
  * exactly. The seed picks the seed CSV, the SCD customer slice and the
  * priority weights; none of them changes how much work a model does.
  *
  * The sf0.1 `events` stream spans 30 days, the orders years apart from
  * it, so `mart.user_latest` reads the events shifted by `eventsShiftDays`
  * onto the orders' time line. */
final class SixKindProject(val dir: Path, seed: Long, val start: String,
                           eventsShiftDays: Long, batchSize: Int) {
  private val rnd = new scala.util.Random(seed)
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val weights: Seq[Int] = priorities.map(_ => 1 + rnd.nextInt(9))
  /** SCD2 tracks customers [scdLo, scdLo + 500) */
  val scdLo: Int = rnd.nextInt(14000)

  val incremental: Seq[String] = Seq("mart.daily_rev", "mart.user_latest", "mart.cust_scd")

  def write(): this.type = {
    val m = Files.createDirectories(dir.resolve("models"))
    def put(name: String, text: String): Unit =
      Files.write(m.resolve(name), text.stripMargin.getBytes("UTF-8"))
    put("priority.csv", ("priority,weight" +: priorities.zip(weights).map { case (p, w) =>
      s"$p,$w" }).mkString("", "\n", "\n"))
    put("ref_priority.sql",
      """MODEL (name ref.priority, kind SEED (path 'priority.csv'),
        |  columns (priority STRING, weight INT), grains (priority));
        |""")
    put("daily_rev.sql",
      s"""MODEL (name mart.daily_rev,
        |  kind INCREMENTAL_BY_TIME_RANGE (time_column d, batch_size $batchSize),
        |  cron '@daily', start '$start', partitioned_by (d), grains (d, o_orderpriority),
        |  audits (not_null(columns = (d, o_orderpriority)), accepted_range(column = n, min_v = 1)));
        |${dailyRevSql("raw.orders", "raw.lineitem", "o.o_orderdate BETWEEN @start_dt AND @end_dt")}
        |""")
    put("user_latest.sql",
      s"""MODEL (name mart.user_latest,
        |  kind INCREMENTAL_BY_UNIQUE_KEY (unique_key user_id),
        |  cron '@daily', start '$start', grains (user_id),
        |  audits (unique_values(columns = (user_id))));
        |SELECT user_id, count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(18, 2))) AS value, max(ts) AS last_ts
        |FROM ${events("raw.events")} WHERE ts BETWEEN @start_ts AND @end_ts
        |GROUP BY user_id
        |""")
    put("cust_scd.sql",
      s"""MODEL (name mart.cust_scd,
        |  kind SCD_TYPE_2_BY_TIME (unique_key id),
        |  cron '@daily', start '$start', grains (id, valid_from));
        |SELECT o_custkey AS id, max(o_orderdate) AS updated_at, count(*) AS n_orders
        |FROM raw.orders
        |WHERE o_orderdate < @end_dt AND o_custkey >= $scdLo AND o_custkey < ${scdLo + 500}
        |GROUP BY o_custkey
        |""")
    put("rev_summary.sql",
      """MODEL (name mart.rev_summary, kind FULL, cron '@daily', grains (o_orderpriority));
        |SELECT r.o_orderpriority, p.weight, count(*) AS day_rows,
        |  sum(r.revenue) AS revenue, sum(r.revenue) * p.weight AS weighted
        |FROM mart.daily_rev r JOIN ref.priority p ON r.o_orderpriority = p.priority
        |GROUP BY r.o_orderpriority, p.weight
        |""")
    put("doc_quality.sql",
      s"""MODEL (name mart.doc_quality, kind FULL, cron '@daily', grains (doc_id));
        |$docQuality raw.documents
        |""")
    put("rev_view.sql",
      """MODEL (name mart.rev_view, kind VIEW, grains (d));
        |SELECT d, sum(revenue) AS revenue, sum(n) AS n FROM mart.daily_rev GROUP BY d
        |""")
    this
  }

  /** The events of `src` with `ts` moved onto the orders' time line. */
  private def events(src: String): String =
    s"(SELECT user_id, value, timestamp_micros(unix_micros(CAST(ts AS TIMESTAMP)) + " +
      s"${eventsShiftDays * 86400000000L}L) AS ts FROM $src) e"

  /** Line-item revenue per order day and priority, over the given tables. */
  private def dailyRevSql(orders: String, lineitem: String, window: String): String =
    s"""SELECT CAST(o.o_orderdate AS DATE) AS d, o.o_orderpriority,
       |  sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18, 4))) AS revenue,
       |  count(*) AS n
       |FROM $orders o JOIN $lineitem l ON l.l_orderkey = o.o_orderkey
       |WHERE $window
       |GROUP BY CAST(o.o_orderdate AS DATE), o.o_orderpriority""".stripMargin

  private val docQuality =
    """SELECT doc_id, graft_lang_id(text) AS lang, graft_quality_score(text) AS quality,
      |  graft_token_estimate(text) AS tokens, graft_content_key(text) AS content_key
      |FROM""".stripMargin

  def register(ctx: GraftContext, data: Path): GraftContext = {
    graft.functions.GraftFunctions.register(ctx.spark)
    Seq("orders", "lineitem", "events", "documents").foreach(t =>
      ctx.addExternal(s"raw.$t", data.resolve(s"$t.parquet").toString))
    ctx.loadModels(dir.resolve("models").toString)
  }

  // ------------------------------------------------------------ checks

  /** Direct reference queries over the raw tables for the window [s, e). */
  def expected(spark: SparkSession, data: Path, s: String, e: String): Map[String, DataFrame] = {
    def raw(t: String) = s"parquet.`${data.resolve(s"$t.parquet")}`"
    val win = (col: String) => s"$col >= TIMESTAMP '$s' AND $col < TIMESTAMP '$e'"
    val dailyRev = dailyRevSql(raw("orders"), raw("lineitem"), win("o.o_orderdate"))
    val seedRows = priorities.zip(weights).map { case (p, w) => s"('$p', $w)" }.mkString(", ")
    Map(
      "mart.daily_rev" -> spark.sql(dailyRev),
      "mart.cust_scd" -> spark.sql(
        s"""SELECT o_custkey AS id, max(o_orderdate) AS updated_at, count(*) AS n_orders
           |FROM ${raw("orders")}
           |WHERE o_orderdate < TIMESTAMP '$e' AND o_custkey >= $scdLo AND o_custkey < ${scdLo + 500}
           |GROUP BY o_custkey""".stripMargin),
      "mart.rev_summary" -> spark.sql(
        s"""SELECT r.o_orderpriority, p.weight, count(*) AS day_rows,
           |  sum(r.revenue) AS revenue, sum(r.revenue) * p.weight AS weighted
           |FROM ($dailyRev) r JOIN (VALUES $seedRows) AS p(priority, weight)
           |  ON r.o_orderpriority = p.priority
           |GROUP BY r.o_orderpriority, p.weight""".stripMargin),
      "mart.doc_quality" -> spark.sql(s"$docQuality ${raw("documents")}"),
      "mart.rev_view" -> spark.sql(
        s"SELECT d, sum(revenue) AS revenue, sum(n) AS n FROM ($dailyRev) GROUP BY d"))
  }

  /** `mart.user_latest` after upserting the given batches in order: each
    * user's row is its aggregate over the LAST batch it appears in. */
  def expectedUserLatest(spark: SparkSession, data: Path, batches: Seq[(String, String)]): DataFrame = {
    val cases = batches.zipWithIndex.map { case ((s, e), i) =>
      s"WHEN ts >= TIMESTAMP '$s' AND ts < TIMESTAMP '$e' THEN $i" }.mkString(" ")
    spark.sql(
      s"""SELECT user_id, n_events, value, last_ts FROM (
         |  SELECT user_id, b, count(*) AS n_events,
         |    sum(CAST(value AS DECIMAL(18, 2))) AS value, max(ts) AS last_ts,
         |    max(b) OVER (PARTITION BY user_id) AS last_b
         |  FROM (SELECT *, CASE $cases END AS b
         |    FROM ${events(s"parquet.`${data.resolve("events.parquet")}`")})
         |  WHERE b IS NOT NULL GROUP BY user_id, b)
         |WHERE b = last_b""".stripMargin)
  }

  /** True when both frames hold the same multiset of rows: equal row
    * counts and equal order-independent sums of a 64-bit row hash. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted
    def digest(df: DataFrame) = df.selectExpr("count(*)",
      s"sum(CAST(xxhash64(${cols.map(c => s"`$c`").mkString(", ")}) AS DECIMAL(20, 0)))").head()
    (cols sameElements b.columns.sorted) && digest(a) == digest(b)
  }

  /** Processed intervals of each incremental model in `env`, merged. */
  def intervals(ctx: GraftContext, env: String): Map[String, Seq[Interval]] = {
    val rec = ctx.state.getEnvironment(env).get
    incremental.map { n =>
      n -> rec.identifiers.get(n).flatMap(id => ctx.state.getSnapshotById(n, id))
        .map(_.intervals.toSeq).getOrElse(Nil)
    }.toMap
  }
}
