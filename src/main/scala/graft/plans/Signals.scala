package graft.plans

import graft.core.{Interval, IntervalAlgebra, Snapshot}
import graft.state.StateStore

/** Built-in signals (reference: sqlmesh/core/signal.py:14 `signal` registry;
  * `freshness` :46). A signal is a per-model predicate the scheduler consults
  * before evaluating a batch — returning false defers the batch to a later
  * run instead of computing on incomplete inputs.
  */
object Signals {

  /** `freshness` (signal.py:46): a batch is ready only when every named
    * upstream has already processed data covering it. The reference compares
    * the engine's `last_altered_ts` for the upstream table; our state-store
    * analog — upstream processed intervals cover the batch — is the same
    * readiness statement with exact interval granularity. `snapshotOf` names
    * the upstream snapshot the gated run reads (its environment's); its
    * intervals are read from `state` at each check, so an upstream processed
    * earlier in the same run counts. Pure driver-side metadata, no data scan. */
  def freshness(state: StateStore, snapshotOf: String => Option[Snapshot],
                upstreams: Seq[String]): Interval => Boolean = batch =>
    upstreams.forall(u => snapshotOf(u).flatMap(s => state.getSnapshot(u, s.version)).exists(up =>
      // dev-preview upstreams record progress in devIntervals; either
      // representation covering the batch means the data exists to read
      IntervalAlgebra.missing(batch.start, batch.end,
        up.intervals ++ up.devIntervals).isEmpty))
}
