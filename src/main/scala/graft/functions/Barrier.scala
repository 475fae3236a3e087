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
  *    SparkEntry entry.
  *  - `Dataset.localCheckpoint(true)` caches at the RDD level (no
  *    CacheManager entry): the ContextCleaner reclaims the blocks once the
  *    frame becomes unreachable. Correct for RETURNED results — but inside
  *    an iteration loop, waiting for GC leaves every superseded round's
  *    vector in the block manager until a collection happens to run
  *    (the memory cliff in a long-lived session). [[release]] drops a
  *    superseded checkpoint's blocks deterministically instead.
  */
object Barrier {

  /** Deterministically drop the cached blocks of a `localCheckpoint`ed
    * frame (its plan is a [[LogicalRDD]] over the checkpointed RDD). Call
    * ONLY on frames this code created and no longer needs — typically the
    * superseded iterate after the next round's eager checkpoint
    * materializes. No-op on any other plan shape. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }

  /** Iteration checkpoint for the rank/label-propagation loops: truncates
    * lineage per round (else plan size and recovery cost grow with the
    * iteration count). Two modes, same semantics:
    *
    *  - DEFAULT: `localCheckpoint` — blocks live in executor block
    *    managers, no DFS round-trip. The right call on a healthy cluster
    *    and in local mode, but NOT fault-tolerant: localCheckpoint
    *    truncates the lineage, so losing an executor mid-loop loses blocks
    *    that can no longer be recomputed and fails the job (Spark's own
    *    documented caveat).
    *  - `spark.graft.reliableCheckpoints=true` (+
    *    `sc.setCheckpointDir(...)`): a RELIABLE `checkpoint` — each round's
    *    vector is written to the checkpoint dir, so executor loss costs a
    *    re-read, not the job. This is the mode a 1000-executor, hours-long
    *    ranking run wants: iteration vectors are |V|-sized (the SMALL side
    *    — node set, not edges), so the per-round DFS write is cheap
    *    insurance. Superseded checkpoint FILES are reclaimed by the
    *    ContextCleaner when `spark.cleaner.referenceTracking
    *    .cleanCheckpoints=true` (set it in production); [[release]] on a
    *    reliable checkpoint is a harmless no-op.
    *
    * MODE PRECEDENCE (r17 verdict #5): an explicit
    * `spark.graft.reliableCheckpoints` wins (true forces reliable — and
    * fails fast without a checkpoint dir; false forces local even when a
    * checkpoint dir exists — the explicit local-mode fast path). UNSET,
    * reliable mode auto-enables exactly when `sc.setCheckpointDir(...)` has
    * been called: a production session that configured durable checkpoint
    * storage gets fault-tolerant iteration vectors without also having to
    * know about a graft conf flag, while local/bench sessions (no
    * checkpoint dir) keep the localCheckpoint fast path. The conf is read
    * per call, so a long-lived driver can flip modes between runs.
    *
    * Both modes go through [[org.apache.spark.sql.graft.PlanCheckpoint]]
    * (r18): same materialization as `Dataset.checkpoint`/`localCheckpoint`,
    * but the resulting LogicalRDD DECLARES the final plan's hash
    * partitioning and ordering instead of `UnknownPartitioning(0)` (what
    * the stock checkpoint records under AQE). The iterated vectors
    * (PageRank ranks, label-propagation labels) come out of each round
    * partitioned by the very key the next round joins on — declaring it
    * lets EnsureRequirements reuse the layout, cutting the per-iteration
    * Exchange(+Sort) that re-shuffled the vector every round. `eager =
    * false` defers only the final write: under AQE the call still runs
    * every upstream query stage, even if the result is never acted on. */
  def iterCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption("spark.graft.reliableCheckpoints")
      .map(_.toBoolean)
      .getOrElse(spark.sparkContext.getCheckpointDir.isDefined)
    if (reliable)
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "spark.graft.reliableCheckpoints=true needs sc.setCheckpointDir(...)")
    org.apache.spark.sql.graft.PlanCheckpoint.checkpoint(df, eager, reliable)
  }

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
    * reference, the next GC cycle releases the helpers. On a false-early
    * drop (a caller holding only a physical plan or RDD) the outcome
    * depends on the helper's kind: a PERSISTED helper's consumer
    * recomputes it (slow, still correct), but a CHECKPOINTED helper's
    * blocks are the only copy of its data — the truncated lineage cannot
    * rebuild them — so that surviving consumer FAILS with missing
    * checkpoint blocks. Returns `result` for chaining.
    *
    * RETENTION CONTRACT for callers (the two edges of tying release to
    * reachability):
    *  - Keep a reference to the RESULT (or any frame derived from it) for
    *    as long as you want the helper caches warm. A caller that extracts
    *    and retains only `result.queryExecution.executedPlan` or the
    *    underlying RDD has dropped the logical tree — the helpers may
    *    release early, and later actions then recompute persisted helpers
    *    (corpus-priced) or fail on checkpointed ones. Hold the Dataset,
    *    not its internals.
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
      helpers.foreach { df =>
        // persisted helper → CacheManager unpersist; checkpointed helper
        // (LogicalRDD) → drop its RDD blocks; both no-op on the other kind.
        // Separate trys: a failed unpersist must not skip the block release.
        try df.unpersist(blocking = false) catch { case _: Throwable => () }
        try release(df) catch { case _: Throwable => () }
      })
    result
  }
}
