package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Cache-lifecycle helpers for the iterative / multi-consumer operators.
  *
  * Two block-manager residency mechanisms exist and they age differently:
  *
  *  - `Dataset.persist()` registers the plan in the session's CacheManager,
  *    which holds a STRONG reference until an explicit `unpersist` — the
  *    ContextCleaner never reclaims it, no matter when the caller drops the
  *    frame. Any `persist()` whose unpersist isn't guaranteed on every path
  *    is a permanent leak in a long-lived driver (the steady-state ingest
  *    loop this engine targets). CacheHygieneSpec pins this class for every
  *    SparkEntry entry; [[releaseOnDrop]] is the release for these.
  *  - A checkpoint ([[iterCheckpoint]]) caches at the RDD level (no
  *    CacheManager entry): the ContextCleaner reclaims the blocks once the
  *    RDD itself becomes unreachable. Correct for RETURNED results — but
  *    inside an iteration loop, waiting for GC leaves every superseded
  *    round's vector in the block manager until a collection happens to
  *    run (the memory cliff in a long-lived session). [[release]] drops a
  *    superseded checkpoint's blocks deterministically instead.
  */
object Barrier {

  /** Deterministically drop the cached blocks of a checkpointed frame (its
    * plan is a [[LogicalRDD]] over the checkpointed RDD): a local
    * checkpoint's only copy, a reliable checkpoint's in-memory copy (its
    * files stay and later reads go to them). Call ONLY on frames this code
    * created and no longer needs — typically the superseded iterate after
    * the next round's eager checkpoint materializes. No-op on any other
    * plan shape. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }

  /** Iteration checkpoint for the rank/label-propagation loops: truncates
    * lineage per round (else plan size and recovery cost grow with the
    * iteration count).
    *
    * ONE MODE RULE: the checkpoint is RELIABLE exactly when the session has
    * a checkpoint dir (`sc.setCheckpointDir(...)`), local otherwise; there
    * is nothing else to set.
    *  - local (no dir): blocks live in executor block managers, no DFS
    *    round-trip. The right call on a healthy cluster and in local mode,
    *    but NOT fault-tolerant: the lineage is truncated, so losing an
    *    executor mid-loop loses blocks that can no longer be recomputed and
    *    fails the job (Spark's own documented caveat).
    *  - reliable (dir set): each round's vector is also written to the
    *    checkpoint dir, so executor loss costs a re-read, not the job — the
    *    mode an hours-long 1000-executor ranking run wants. Iteration
    *    vectors are |V|-sized (the node set, not the edges), so the
    *    per-round DFS write is cheap insurance. Superseded checkpoint FILES
    *    are reclaimed by the ContextCleaner when `spark.cleaner
    *    .referenceTracking.cleanCheckpoints=true` (set it in production).
    *
    * Both modes go through [[org.apache.spark.sql.graft.PlanCheckpoint]]:
    * the frame is computed ONCE, [[release]] frees its cached blocks, and
    * the resulting LogicalRDD DECLARES the final plan's hash partitioning
    * and ordering, so the next round's join on the same key reuses the
    * layout instead of re-shuffling the vector every round (r18). `eager =
    * false` defers only the final stage: under AQE the call itself runs
    * every upstream query stage, even if the result is never acted on —
    * exactly as stock `Dataset.checkpoint(false)` does. */
  def iterCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    org.apache.spark.sql.graft.PlanCheckpoint.checkpoint(df, eager,
      reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  private val cleaner = java.lang.ref.Cleaner.create()

  /** Tie persisted HELPER frames' release to the lifetime of the lazy
    * RESULT plan they back — the missing half of the multi-consumer
    * persist idiom (`sig`/`paras`/`tf`-style barriers that stop each
    * consumer branch re-running a corpus scan).
    *
    * Such an operator cannot unpersist before returning (the caller's
    * action is what reads the cache) and must not checkpoint eagerly (the
    * barrier would stop pipelining with its first consumer and the plan
    * would go opaque), so historically these persists were simply leaked
    * to the session CacheManager — which holds them FOREVER (see the class
    * doc; CacheHygieneSpec caught every one of them at once).
    *
    * The fix: register a [[java.lang.ref.Cleaner]] action on the result's
    * resolved plan object. Every frame DERIVED from the result embeds that
    * plan tree by reference, so the action cannot fire while any
    * downstream consumer — a derived Dataset, a temp view, a running
    * action — can still reach the cache; once the caller drops the last
    * reference, the next GC cycle releases the helpers. Returns `result`
    * for chaining.
    *
    * ONE RELEASE RULE: this releases CacheManager persists only. A
    * checkpointed helper is never passed here: its blocks are left to the
    * ContextCleaner, which follows the checkpointed RDD's own reachability,
    * so a consumer that kept only a physical plan or RDD still finds them.
    *
    * RETENTION CONTRACT for callers (the two edges of tying release to
    * reachability):
    *  - Keep a reference to the RESULT (or any frame derived from it) for
    *    as long as you want the helper caches warm. A caller that extracts
    *    and retains only `result.queryExecution.executedPlan` or the
    *    underlying RDD has dropped the logical tree — the helpers may
    *    release early, and later actions then recompute them
    *    (corpus-priced, still correct). Hold the Dataset, not its internals.
    *  - Conversely, parking the result in a long-lived reference (a REPL
    *    val, a registered temp view, a driver-side registry) pins the
    *    helper caches for that lifetime BY DESIGN — that is what keeps a
    *    live consumer fast. A long-lived driver that is done with a hot
    *    result but keeps the name around should either drop/replace the
    *    reference or eagerly call `unpersist()` on the frames it got from
    *    the operator; the Cleaner is a safety net for the common drop
    *    pattern, not a substitute for ending a result's lifetime.
    * CacheHygieneSpec enforces the net effect (zero residue once entries'
    * results are dropped) over every driver-contract entry. */
  def releaseOnDrop(result: DataFrame, cached: DataFrame*): DataFrame = {
    val helpers = cached.toArray
    cleaner.register(result.queryExecution.commandExecuted, () =>
      helpers.foreach(df =>
        try df.unpersist(blocking = false) catch { case _: Throwable => () }))
    result
  }
}
