package graft.plans

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.core._
import graft.state.StateStore

/** Interval-aware scheduling (reference: sqlmesh/core/scheduler.py —
  * missing_intervals :1022, batch_intervals :334, DAG run :520-640 with
  * `concurrent_apply_to_dag` utils/concurrency.py:178).
  *
  * The control plane is driver-side: batches become sequential-per-model,
  * parallel-across-models Spark jobs. On a 1000-executor cluster the thread
  * pool below submits independent model backfills concurrently and Spark's
  * scheduler interleaves their stages.
  */
class Scheduler(
    evaluator: SnapshotEvaluator,
    state: StateStore,
    concurrency: Int = 4) {

  /** One backfilled batch: (model, interval, wall millis). Reset at every
    * [[run]]; read via [[lastRunReport]] after it returns — the
    * observability surface for "what did this run actually do, and what
    * was slow" (the reference prints the same per-batch progress). */
  private val report = new java.util.concurrent.ConcurrentLinkedQueue[(String, Interval, Long)]

  def lastRunReport: Seq[(String, Interval, Long)] = {
    val b = Seq.newBuilder[(String, Interval, Long)]
    report.forEach(e => b += e)
    b.result()
  }

  private def timed(model: String, interval: Interval)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    report.add((model, interval, (System.nanoTime() - t0) / 1000000L)); ()
  }

  /** Topological levels of the snapshot DAG (Kahn). */
  private def topoLevels(snapshots: Seq[Snapshot]): Seq[Seq[Snapshot]] = {
    val byName = snapshots.map(s => s.model.name -> s).toMap
    var indeg = snapshots.map(s =>
      s.model.name -> s.model.references.count(byName.contains)).toMap
    val out = Seq.newBuilder[Seq[Snapshot]]
    var remaining = snapshots.map(_.model.name).toSet
    while (remaining.nonEmpty) {
      val ready = remaining.filter(n => indeg(n) == 0).toSeq.sorted
      require(ready.nonEmpty, s"cycle among models: $remaining")
      out += ready.map(byName)
      remaining --= ready
      for (n <- remaining) {
        val deps = byName(n).model.references
        indeg += n -> deps.count(d => remaining.contains(d) && byName.contains(d))
      }
    }
    out.result()
  }

  /** Backfill all missing intervals in [start, end) for the given snapshots,
    * honoring per-model batch_size and cross-model DAG order. `tableMapping`
    * resolves upstream references (model name -> physical/external table). */
  def run(
      snapshots: Seq[Snapshot],
      start: Long,
      end: Long,
      executionTs: Long,
      tableMapping: String => Map[String, String],
      signals: Map[String, Interval => Boolean] = Map.empty,
      devFlags: Map[String, Boolean] = Map.empty,
      /** `--empty-backfill` (plan/builder.py:76): record every interval this
        * run WOULD have processed — same cron capping, batching, and signal
        * gating — without evaluating any of them. Tables must already exist
        * (the plan's physical-layer stage creates them empty). */
      recordOnly: Boolean = false,
      /** `--ignore-cron` (cli/main.py run): process every missing interval
        * up to `end`, ignoring per-model cron-tick readiness. */
      ignoreCron: Boolean = false,
      /** `--min-intervals` (reference context.py:1345): per model, pull the
        * effective start back so at least this many intervals are covered
        * (model.start still floors it, via missingIntervals). */
      minIntervals: Int = 0): Unit = {

    report.clear()
    val pool = Executors.newFixedThreadPool(concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // one durable state write per DAG wave, not per batch: a 181-day
      // backfill of B batches otherwise rewrites the whole state image B
      // times (quadratic at 1000-model scale). Crash mid-wave loses only
      // bookkeeping — the batches themselves are idempotent overwrites/
      // merges, so the re-run redoes at most one wave.
      topoLevels(snapshots).foreach { level => state.deferPersist {
        val fs = level.filter(_.model.kind.isMaterialized).map { snap =>
          Future {
            // a due auto-restatement drops its window so the batches below
            // recompute it; what to run is BatchPlanner's decision alone
            val name = snap.model.name
            val current = state.getSnapshot(name, snap.version).getOrElse(snap)
            val fresh = BatchPlanner.autoRestatement(current, executionTs,
                state.lastAutoRestatement(name)) match {
              case Some(r) =>
                r.window.foreach(state.removeInterval(name, snap.version, _))
                state.setAutoRestatement(name, r.firedAt)
                state.getSnapshot(name, snap.version).getOrElse(snap)
              case None => current
            }
            val dev = devFlags.getOrElse(name, false)
            val batches = BatchPlanner.pending(
              snap.copy(intervals = fresh.intervals, devIntervals = fresh.devIntervals),
              start, end, executionTs, dev, ignoreCron, minIntervals).batches
            // batch_concurrency (kind.py:517, scheduler.py:334): batches of
            // one model may run concurrently when the kind allows it. Safe
            // only for time-partitioned INCREMENTAL_BY_TIME_RANGE, where
            // parallel batches dynamic-overwrite DISJOINT partitions;
            // unique-key models force 1 (every batch rewrites shared keys),
            // as does any unpartitioned table (whole-table rewrite path).
            // models with pre-statements also stay sequential: the parallel
            // stage phase would race on session-global temp views/functions
            val batchConc = snap.model.kind match {
              case k: ModelKind.IncrementalByTimeRange
                if snap.model.partitionedBy.nonEmpty &&
                  snap.model.preStatements.isEmpty => k.batchConcurrency.getOrElse(1)
              case _ => 1
            }
            var first = (if (dev) fresh.devIntervals else fresh.intervals).isEmpty
            val ready = batches.filter(b => signals.get(name).forall(sig => sig(b)))
            lazy val mapping = tableMapping(name)
            if (recordOnly) {
              ready.foreach(b => state.addInterval(name, snap.version, b, dev))
            } else if (batchConc <= 1 || ready.size <= 1) {
              ready.foreach { b =>
                timed(name, b)(evaluator.evaluate(fresh, b, executionTs, mapping, first, dev))
                state.addInterval(name, snap.version, b, dev)
                first = false
              }
            } else {
              // the first batch may create the table — run it alone; then the
              // remaining batches COMPUTE in parallel into private staging
              // dirs (phase 1) and publish serially (phase 2): concurrent
              // writers never share a destination path
              val (head, rest) = (ready.head, ready.tail)
              timed(name, head)(evaluator.evaluate(fresh, head, executionTs, mapping, first, dev))
              state.addInterval(name, snap.version, head, dev)
              val pool2 = Executors.newFixedThreadPool(batchConc)
              try {
                val staged = rest.map(b => b -> pool2.submit(
                  new java.util.concurrent.Callable[String] {
                    def call(): String = evaluator.stageBatch(fresh, b, executionTs, mapping, dev)
                  }))
                staged.foreach { case (b, f) =>
                  timed(name, b)(evaluator.ingestStaged(fresh, b, executionTs, mapping, f.get(), dev))
                  state.addInterval(name, snap.version, b, dev)
                }
              } finally pool2.shutdown()
            }
          }
        }
        Await.result(Future.sequence(fs), Duration.Inf)
      } }
    } finally pool.shutdown()
  }
}
