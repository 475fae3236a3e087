package graft.audits

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 29 built-in data-quality audits (reference: sqlmesh/core/audit/builtin.py
  * :17-660), plus the privacy triad (k_anonymity / l_diversity / t_closeness)
  * as first-class builtins beyond the reference registry. Each renders to a
  * SELECT that must return 0 rows; a non-empty result fails the audit
  * (snapshot/evaluator.py:1363 `_audit`). Templates are Spark SQL over a
  * table (or view) name; incremental models additionally get the interval
  * predicate injected via `condition`.
  *
  * Scale note: every audit is a single declarative query — Catalyst pushes the
  * predicates to the scan, and `number_of_rows`-style audits use LIMIT-k tricks
  * so no audit ever materializes more than a bounded violation sample.
  */
object Audits {

  type Args = Map[String, String]

  /** Audit args scoped to an interval: the interval predicate ANDed with (never
    * replacing) a user `condition`. */
  def withIntervalCondition(args: Args, timeCond: Option[String]): Args =
    timeCond.fold(args)(tc =>
      args + ("condition" -> args.get("condition").fold(tc)(u => s"($u) AND ($tc)")))

  /** The row-predicate audit family: a violation IS a row satisfying this
    * predicate. Shared by the query templates below AND by
    * [[ObservedAudits]], which folds these checks into the write pass as
    * `sum(case when pred …)` observed metrics (one scan, not two). */
  val rowPredicates: Map[String, Args => String] = Map(
    "not_null" -> (a => list(a("columns")).map(c => s"$c IS NULL").mkString(" OR ")),
    "accepted_values" -> (a => s"${a("column")} NOT IN (${a("is_in")})"),
    "not_accepted_values" -> (a => s"${a("column")} IN (${a("is_in")})"),
    "forall" -> (a => list(a("criteria")).map(c => s"NOT ($c)").mkString(" OR ")),
    "accepted_range" -> { a =>
      val c = a("column")
      val inclusive = a.getOrElse("inclusive", "true").toBoolean
      val lo = a.get("min_v").map(v => if (inclusive) s"$c < $v" else s"$c <= $v")
      val hi = a.get("max_v").map(v => if (inclusive) s"$c > $v" else s"$c >= $v")
      (lo ++ hi).mkString(" OR ")
    },
    "not_empty_string" -> (a => s"${a("column")} = ''"),
    "string_length_between" -> { a =>
      val c = a("column")
      val inclusive = a.getOrElse("inclusive", "true").toBoolean
      val lo = a.get("min_v").map(v => if (inclusive) s"LENGTH($c) < $v" else s"LENGTH($c) <= $v")
      val hi = a.get("max_v").map(v => if (inclusive) s"LENGTH($c) > $v" else s"LENGTH($c) >= $v")
      (lo ++ hi).mkString(" OR ")
    },
    "string_length_equal" -> (a => s"LENGTH(${a("column")}) != ${a("v")}"),
    "valid_http_method" -> (a =>
      s"${a("column")} NOT IN ('GET','POST','PUT','DELETE','PATCH','HEAD','OPTIONS','TRACE','CONNECT')"),
    "valid_uuid" -> regexPredicate("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
    "valid_email" -> regexPredicate("^[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\\.[a-zA-Z0-9-.]+$"),
    "valid_url" -> regexPredicate("^(https?|ftp)://[^\\s/$.?#].[^\\s]*$"),
    "match_regex_pattern_list" -> { a =>
      val c = a("column")
      s"NOT (${list(a("patterns")).map(p => s"$c RLIKE $p").mkString(" OR ")})"
    },
    "not_match_regex_pattern_list" -> { a =>
      val c = a("column")
      list(a("patterns")).map(p => s"$c RLIKE $p").mkString(" OR ")
    },
    "match_like_pattern_list" -> { a =>
      val c = a("column")
      s"NOT (${list(a("patterns")).map(p => s"$c LIKE $p").mkString(" OR ")})"
    },
    "not_match_like_pattern_list" -> { a =>
      val c = a("column")
      list(a("patterns")).map(p => s"$c LIKE $p").mkString(" OR ")
    })

  private def regexPredicate(pattern: String): Args => String =
    a => s"${a("column")} IS NOT NULL AND NOT (${a("column")} RLIKE '$pattern')"

  private def rowPredicateSql(name: String): (String, Args) => String = { (t, a) =>
    // predicate parenthesized so a `condition` ANDs over the WHOLE check,
    // not just the last OR-disjunct
    s"SELECT * FROM $t WHERE (${rowPredicates(name)(a)}) ${andCond(a)}"
  }

  /** name -> (table, args) -> spark SQL returning violations */
  val all: Map[String, (String, Args) => String] = Map(
    "not_null" -> rowPredicateSql("not_null"),
    "unique_values" -> { (t, a) =>
      val cols = list(a("columns"))
      val ranks = cols.map(c => s"row_number() OVER (PARTITION BY $c ORDER BY 1) AS ${c}_rank")
      val checks = cols.map(c => s"${c}_rank > 1").mkString(" OR ")
      s"SELECT * FROM (SELECT ${cols.mkString(", ")}, ${ranks.mkString(", ")} FROM $t WHERE ${cond(a)}) WHERE $checks"
    },
    "accepted_values" -> rowPredicateSql("accepted_values"),
    // referential integrity (the dbt `relationships` test): child values
    // must exist in the parent relation. NOT IN over the non-null parent
    // keys — null-guarded on both sides so a NULL child value never trips
    "relationships" -> { (t, a) =>
      s"SELECT * FROM $t WHERE ${a("column")} IS NOT NULL AND ${a("column")} NOT IN " +
        s"(SELECT ${a("field")} FROM ${a("to")} WHERE ${a("field")} IS NOT NULL) ${andCond(a)}"
    },
    "not_accepted_values" -> rowPredicateSql("not_accepted_values"),
    "number_of_rows" -> { (t, a) =>
      // LIMIT threshold+1 trick (builtin.py:73): never scans beyond threshold+1 rows
      val thr = a("threshold").toLong
      s"SELECT COUNT(*) AS cnt FROM (SELECT 1 FROM $t WHERE ${cond(a)} LIMIT ${thr + 1}) HAVING COUNT(*) <= $thr"
    },
    "forall" -> rowPredicateSql("forall"),
    // arbitrary violation query — the bridge for dbt PACKAGE-provided
    // generic tests (DbtLoader renders the test macro at load time and
    // attaches the SQL here) and a first-class escape hatch for audits the
    // builtin registry can't express. `__GRAFT_THIS__` in the SQL stands
    // for the audited table and substitutes at evaluation, after the
    // physical snapshot name is known. Rows returned = violations.
    "generic_sql" -> { (t, a) => a("sql").replace("__GRAFT_THIS__", t) },
    "accepted_range" -> rowPredicateSql("accepted_range"),
    "at_least_one" -> { (t, a) =>
      s"SELECT COUNT(${a("column")}) AS cnt FROM $t WHERE ${cond(a)} HAVING COUNT(${a("column")}) = 0"
    },
    "not_constant" -> { (t, a) =>
      s"SELECT COUNT(DISTINCT ${a("column")}) AS cnt FROM $t WHERE ${cond(a)} HAVING COUNT(DISTINCT ${a("column")}) <= 1"
    },
    "not_empty_string" -> rowPredicateSql("not_empty_string"),
    "not_null_proportion" -> { (t, a) =>
      val c = a("column")
      s"""SELECT cnt, not_null_cnt, not_null_proportion FROM (
         |  SELECT COUNT(*) AS cnt, COUNT($c) AS not_null_cnt,
         |         COUNT($c) / COUNT(*) AS not_null_proportion
         |  FROM $t WHERE ${cond(a)}
         |) WHERE not_null_proportion < ${a("threshold")}""".stripMargin
    },
    "sequential_values" -> { (t, a) =>
      val c = a("column"); val interval = a.getOrElse("interval", "1")
      s"""WITH windowed AS (
         |  SELECT $c, LAG($c) OVER (ORDER BY $c) AS prv FROM $t WHERE ${cond(a)}
         |)
         |SELECT * FROM windowed WHERE NOT ($c = prv + $interval)""".stripMargin
    },
    "unique_combination_of_columns" -> { (t, a) =>
      val cols = list(a("columns")).mkString(", ")
      s"SELECT $cols FROM $t WHERE ${cond(a)} GROUP BY $cols HAVING COUNT(*) > 1"
    },
    "mutually_exclusive_ranges" -> { (t, a) =>
      val lo = a("lower_bound_column"); val hi = a("upper_bound_column")
      val part = a.get("partition_clause").map(p => s"PARTITION BY $p").getOrElse("")
      s"""WITH window_functions AS (
         |  SELECT $lo AS lower_bound, $hi AS upper_bound,
         |    LEAD($lo) OVER ($part ORDER BY $lo, $hi) AS next_lower_bound,
         |    row_number() OVER ($part ORDER BY $lo DESC, $hi DESC) = 1 AS is_last_record
         |  FROM $t WHERE ${cond(a)}
         |), calc AS (
         |  SELECT *,
         |    COALESCE(lower_bound <= upper_bound, FALSE) AS lower_bound_lte_upper_bound,
         |    COALESCE(upper_bound <= next_lower_bound, is_last_record, FALSE) AS upper_bound_lte_next_lower_bound
         |  FROM window_functions
         |)
         |SELECT lower_bound, upper_bound, next_lower_bound
         |FROM calc
         |WHERE NOT (lower_bound_lte_upper_bound AND upper_bound_lte_next_lower_bound)""".stripMargin
    },
    "valid_uuid" -> rowPredicateSql("valid_uuid"),
    "valid_email" -> rowPredicateSql("valid_email"),
    "valid_url" -> rowPredicateSql("valid_url"),
    "valid_http_method" -> rowPredicateSql("valid_http_method"),
    "match_regex_pattern_list" -> rowPredicateSql("match_regex_pattern_list"),
    "not_match_regex_pattern_list" -> rowPredicateSql("not_match_regex_pattern_list"),
    "match_like_pattern_list" -> rowPredicateSql("match_like_pattern_list"),
    "not_match_like_pattern_list" -> rowPredicateSql("not_match_like_pattern_list"),
    "z_score" -> { (t, a) =>
      val c = a("column")
      s"""WITH stats AS (
         |  SELECT AVG($c) AS mean_$c, STDDEV($c) AS stddev_$c FROM $t WHERE ${cond(a)}
         |)
         |SELECT $c, ($c - mean_$c) / NULLIF(stddev_$c, 0) AS z_score
         |FROM $t, stats
         |WHERE ABS(($c - mean_$c) / NULLIF(stddev_$c, 0)) > ${a("threshold")}""".stripMargin
    },
    "string_length_between" -> rowPredicateSql("string_length_between"),
    "string_length_equal" -> rowPredicateSql("string_length_equal"),
    "stddev_in_range" -> statInRange("STDDEV", "stddev"),
    "mean_in_range" -> statInRange("AVG", "mean"),
    "kl_divergence" -> { (t, a) =>
      val sc = a("source_column"); val tc = a("target_column")
      s"""WITH
         |  table_a AS (SELECT $sc AS x, COUNT(*) AS num_rows FROM $t WHERE ${cond(a)} GROUP BY $sc),
         |  table_b AS (SELECT $tc AS x, COUNT(*) AS num_rows FROM $t WHERE ${cond(a)} GROUP BY $tc),
         |  a_p AS (SELECT x, num_rows, num_rows / SUM(num_rows) OVER () AS p FROM table_a),
         |  b_q AS (SELECT x, num_rows, num_rows / SUM(num_rows) OVER () AS q FROM table_b),
         |  a_q AS (SELECT a_p.x, p, COALESCE(q, 0) AS q FROM a_p LEFT JOIN b_q ON a_p.x = b_q.x),
         |  b_p AS (SELECT b_q.x, q, COALESCE(p, 0) AS p FROM b_q LEFT JOIN a_p ON b_q.x = a_p.x),
         |  unioned AS (
         |    SELECT p * LOG(p / NULLIF(q, 0)) AS kl FROM a_q
         |    UNION ALL
         |    SELECT q * LOG(q / NULLIF(p, 0)) AS kl FROM b_p
         |  )
         |SELECT SUM(kl) AS kl_divergence FROM unioned HAVING SUM(kl) > ${a("threshold")}""".stripMargin
    },
    "chi_square" -> { (t, a) =>
      val ca = a("column_a"); val cb = a("column_b")
      val dependent = a.getOrElse("dependent", "true").toBoolean
      val check = if (dependent) s"chi_square > ${a("critical_value")}"
                  else s"chi_square <= ${a("critical_value")}"
      s"""WITH samples AS (
         |  SELECT $ca AS x_a, $cb AS x_b FROM $t
         |  WHERE $ca IS NOT NULL AND $cb IS NOT NULL AND (${cond(a)})
         |), contingency_table AS (
         |  SELECT x_a, x_b, COUNT(*) AS observed,
         |    SUM(COUNT(*)) OVER (PARTITION BY x_a) AS tot_a,
         |    SUM(COUNT(*)) OVER (PARTITION BY x_b) AS tot_b,
         |    SUM(COUNT(*)) OVER () AS g_t
         |  FROM samples GROUP BY x_a, x_b
         |), stats AS (
         |  SELECT
         |    (COUNT(DISTINCT x_a) - 1) * (COUNT(DISTINCT x_b) - 1) AS degrees_of_freedom,
         |    SUM((observed - tot_a * tot_b / g_t) * (observed - tot_a * tot_b / g_t)
         |        / (tot_a * tot_b / g_t)) AS chi_square
         |  FROM contingency_table
         |)
         |SELECT degrees_of_freedom, chi_square FROM stats WHERE NOT ($check)""".stripMargin
    },
    // ---- privacy triad (beyond the reference registry): the release gates
    // a training-data pipeline runs after PII scrubbing, declared on a model
    // exactly like any builtin — `audits (k_anonymity(quasi_identifiers :=
    // (a, b), k := 5))`. All three are one groupBy on the QI tuple (map-side
    // combined), t_closeness adds a tiny broadcast of the global sensitive
    // distribution — no self-joins, no unpartitioned windows.
    // k-anonymity (Sweeney 2002): a QI combination shared by fewer than k
    // rows re-identifies its members. NULL QIs group together (GROUP BY
    // semantics) — an all-null combination is still a combination.
    "k_anonymity" -> { (t, a) =>
      val qis = list(a("quasi_identifiers")).mkString(", ")
      s"""SELECT $qis, COUNT(*) AS group_size FROM $t WHERE ${cond(a)}
         |GROUP BY $qis HAVING COUNT(*) < ${a("k")}""".stripMargin
    },
    // l-diversity (Machanavajjhala et al. 2007): a large QI group whose rows
    // all share one sensitive value still leaks it (homogeneity attack) —
    // flag groups with fewer than l distinct sensitive values. NULL
    // sensitive values don't count toward diversity.
    "l_diversity" -> { (t, a) =>
      val qis = list(a("quasi_identifiers")).mkString(", ")
      val c = a("column")
      s"""SELECT $qis, COUNT(*) AS group_size,
         |  COUNT(DISTINCT $c) AS distinct_sensitive
         |FROM $t WHERE ${cond(a)}
         |GROUP BY $qis HAVING COUNT(DISTINCT $c) < ${a("l")}""".stripMargin
    },
    // t-closeness (Li et al. 2007): even a diverse group leaks when its
    // sensitive-value DISTRIBUTION differs sharply from the global one —
    // flag groups whose total-variation distance exceeds t. Values absent
    // from a group contribute their global mass, so
    // TVD = ½(Σ_{v∈G}|p_g−p_G| + 1 − Σ_{v∈G} p_G) needs only the group's
    // own values joined to the (tiny, broadcastable) global distribution.
    // NULL sensitive values are out of scope, like l_diversity.
    "t_closeness" -> { (t, a) =>
      val qis = list(a("quasi_identifiers")).mkString(", ")
      val c = a("column")
      s"""WITH scoped AS (
         |  SELECT $qis, $c AS sv FROM $t WHERE $c IS NOT NULL AND (${cond(a)})
         |), global_p AS (
         |  SELECT sv, COUNT(*) / SUM(COUNT(*)) OVER () AS p_global
         |  FROM scoped GROUP BY sv
         |), grp AS (
         |  SELECT $qis, sv, COUNT(*) AS n FROM scoped GROUP BY $qis, sv
         |), gtot AS (
         |  SELECT *, SUM(n) OVER (PARTITION BY $qis) AS g_n FROM grp
         |)
         |SELECT $qis,
         |  ROUND(0.5 * (SUM(ABS(n / g_n - p_global)) + 1 - SUM(p_global)), 6) AS tvd
         |FROM gtot JOIN global_p USING (sv)
         |GROUP BY $qis
         |HAVING ROUND(0.5 * (SUM(ABS(n / g_n - p_global)) + 1 - SUM(p_global)), 6) > ${a("t")}""".stripMargin
    },
  )

  /** Render + run one audit; result rows are the violations. */
  def run(spark: SparkSession, name: String, table: String, args: Args): DataFrame =
    spark.sql(render(name, table, args))

  def render(name: String, table: String, args: Args): String =
    all.getOrElse(name, throw new IllegalArgumentException(s"unknown audit: $name"))(table, args)

  /** Pass/fail evaluation — LIMIT 1 so a failing audit never scans past the
    * first violation (evaluator semantics, snapshot/evaluator.py:547). */
  def passes(spark: SparkSession, name: String, table: String, args: Args): Boolean =
    run(spark, name, table, args).limit(1).isEmpty

  // ------------------------------------------------------------- helpers

  private[audits] def list(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def cond(a: Args): String = a.getOrElse("condition", "TRUE")
  private def andCond(a: Args): String =
    a.get("condition").map(c => s"AND ($c)").getOrElse("")

  private def statInRange(fn: String, alias: String): (String, Args) => String = { (t, a) =>
    val c = a("column")
    val inclusive = a.getOrElse("inclusive", "true").toBoolean
    val v = s"${alias}_$c"
    val lo = a.get("min_v").map(x => if (inclusive) s"$v < $x" else s"$v <= $x")
    val hi = a.get("max_v").map(x => if (inclusive) s"$v > $x" else s"$v >= $x")
    s"SELECT * FROM (SELECT $fn($c) AS $v FROM $t WHERE ${cond(a)}) WHERE ${(lo ++ hi).mkString(" OR ")}"
  }
}
