package graft.plans

/** Rendered-query cache (reference: sqlmesh/core/snapshot/cache.py:1-111
  * SnapshotCache and renderer.py:111-116 `self._cache`): rendered SQL text
  * keyed by snapshot fingerprint plus every render input that can alter the
  * output. At hundreds of models a plan/run cycle re-renders each body —
  * macro expansion, jinja, table resolution — once per evaluation; repeated
  * cycles in one context (plan → apply → run → run) redo all of it. The
  * cache collapses identical renders to one.
  *
  * Correctness rules:
  *  - the key starts from the snapshot fingerprint, which already folds in
  *    the body text, kind data, and parent hashes — any model edit misses;
  *  - interval and execution timestamps join the key ONLY when the body can
  *    observe them (any `start_*`/`end_*`/`execution_*`/`latest_*` time-var
  *    substring, conservatively matched) — so a FULL model re-rendered each
  *    run with a fresh executionTs still hits;
  *  - variables (including the per-call `is_incremental` flag), the table
  *    mapping, `@this`, the custom-macro names and the registry's version
  *    counter (names alone miss a redefinition) are always in the key;
  *  - bodies that introspect live catalog state at render time (`@STAR`,
  *    `@UNION`, dbt `star`, `get_column_values`) BYPASS the cache — their
  *    output can change without any key input changing.
  */
final class RenderCache(max: Int = 4096) {
  private val lru = new java.util.LinkedHashMap[String, String](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
      size() > max
  }
  private val hitsN = new java.util.concurrent.atomic.AtomicLong
  private val missesN = new java.util.concurrent.atomic.AtomicLong
  def hits: Long = hitsN.get
  def misses: Long = missesN.get

  def getOrElseUpdate(key: String)(compute: => String): String = {
    val cached = lru.synchronized(Option(lru.get(key)))
    cached match {
      case Some(v) => hitsN.incrementAndGet(); v
      case None =>
        val v = compute // outside the lock: renders may nest (embedded models)
        missesN.incrementAndGet()
        lru.synchronized(lru.put(key, v))
        v
    }
  }
}

object RenderCache {
  /** Render-time catalog introspection: output may change with no key change.
    * Matched as invocations — a bare `@star` substring would false-positive
    * on every `@start_*` time variable. */
  private val introspective = Seq(
    "(?i)@(star|union)\\s*\\(".r,
    "(?i)\\b(star|get_column_values)\\s*\\(".r,
    // live-engine jinja: schema introspection and render-time queries
    // read state no cache key sees (a migration or upstream backfill
    // changes the output under the same fingerprint)
    "(?i)\\b(get_columns_in_relation|run_query|statement|load_result)\\s*\\(".r)
  /** Conservative substring match: false positives only weaken sharing. */
  private val timeSuffixes = "(ds|ts|tstz|date|dt|dtntz|epoch|millis|hour)"
  private val intervalRe = s"(?i)(start|end)_$timeSuffixes".r
  private val execRe = s"(?i)(execution|latest)_$timeSuffixes".r

  def cacheable(body: String): Boolean =
    !introspective.exists(_.findFirstIn(body).isDefined)

  /** The cache key of one render of a SQL `body`, or None when the body
    * must render fresh (catalog introspection) — the rules above. */
  def key(fingerprint: String, body: String, start: Long, end: Long, execution: Long,
          tableMapping: Map[String, String], variables: Map[String, String],
          thisModel: Option[String], macroNames: Iterable[String],
          macrosVersion: Long): Option[String] =
    if (!cacheable(body)) None
    else Some(Seq(
      fingerprint,
      if (intervalRe.findFirstIn(body).isDefined) s"$start,$end" else "-",
      if (execRe.findFirstIn(body).isDefined) execution.toString else "-",
      tableMapping.toSeq.sorted.mkString(";"),
      variables.toSeq.sorted.mkString(";"),
      thisModel.getOrElse("-"),
      macroNames.toSeq.sorted.mkString(","),
      macrosVersion.toString).mkString("\u0001"))
}
