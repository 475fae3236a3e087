package graft.plans

import graft.core._

/** Which batches a run would process — the one place graft answers it
  * (reference sqlmesh/core/scheduler.py `merged_missing_intervals` :138,
  * `batch_intervals` :334). Pure: the scheduler executes what [[pending]]
  * returns; `plan --explain`, `check-intervals`, `export-schedule` and
  * `signal-ready` report it. */
object BatchPlanner {

  /** Missing unit intervals, the batches they run in, and the window end
    * after cron capping. */
  final case class Pending(missing: Vector[Interval], batches: Vector[Interval],
                           cappedEnd: Long) {
    def gaps: Vector[Interval] = IntervalAlgebra.merge(missing)
  }

  /** The work `snap` (with its current intervals) has over [start, end) at
    * `executionTs`:
    *  - cron readiness caps INCREMENTAL kinds: an interval runs only once a
    *    cron fire at/after its end has passed ("30 3 * * *": yesterday is
    *    NOT ready at 01:00); `allow_partials`/`ignoreCron` opt out, and
    *    FULL/VIEW/SCD2 refresh wholesale on every run;
    *  - MANAGED inside its `target_lag` has no work;
    *  - `min_intervals` pulls the start back (model start still floors it);
    *  - missing intervals (lookback, unit completeness) merge and slice into
    *    `batch_size` batches. */
  def pending(snap: Snapshot, start: Long, end: Long, executionTs: Long,
              dev: Boolean = false, ignoreCron: Boolean = false,
              minIntervals: Int = 0): Pending = {
    val m = snap.model
    val unit = m.intervalUnit
    val cappedEnd =
      if (ignoreCron || m.allowPartials || !m.kind.isIncremental) end
      else math.min(end, unit.floor(CronSchedule.lastTickAtOrBefore(m.cron, executionTs,
        m.cronTz.getOrElse("UTC"))))
    val covered = if (dev) snap.devIntervals else snap.intervals
    val withinTargetLag = m.kind match {
      case k: ModelKind.Managed =>
        covered.nonEmpty && end - covered.map(_.end).max < ModelKind.Managed.lagMs(k.targetLag)
      case _ => false
    }
    val effStart =
      if (minIntervals <= 0) start else math.min(start, unit.add(cappedEnd, -minIntervals))
    val missing =
      if (withinTargetLag) Vector.empty[Interval]
      else snap.missingIntervals(effStart, cappedEnd, dev)
    val batchSize = m.kind match {
      case k: ModelKind.IncrementalByTimeRange => k.batchSize.getOrElse(0)
      case _ => 0
    }
    val batches = IntervalAlgebra.merge(missing).flatMap(c =>
      if (batchSize > 0) IntervalAlgebra.batch(c, unit, batchSize, m.allowPartials)
      else Vector(c))
    Pending(missing, batches, cappedEnd)
  }

  /** A due auto-restatement: drop `window` (None: nothing processed yet)
    * and record `firedAt` as the latest application. */
  final case class AutoRestatement(window: Option[Interval], firedAt: Long)

  /** The auto-restatement due at `executionTs` (kind.py:388/:470, state
    * table `_auto_restatements`): None without a restatement cron or when it
    * has not fired since `lastApplied`. Time-range kinds drop their trailing
    * N unit-intervals; unique-key and custom kinds drop all of history. */
  def autoRestatement(snap: Snapshot, executionTs: Long,
                      lastApplied: Option[Long]): Option[AutoRestatement] = {
    val due: Option[(String, Interval => Interval)] = snap.model.kind match {
      case k: ModelKind.IncrementalByTimeRange if k.autoRestatementCron.nonEmpty =>
        val n = k.autoRestatementIntervals.getOrElse(1)
        Some((k.autoRestatementCron.get,
          last => Interval(snap.model.intervalUnit.add(last.end, -n), last.end)))
      case k => ModelKind.fullAutoRestatementCron(k).map(c =>
        (c, (last: Interval) => Interval(0L, last.end)))
    }
    due.flatMap { case (cron, window) =>
      val firedAt = IntervalUnit.fromCron(cron).floor(executionTs)
      if (lastApplied.exists(_ >= firedAt)) None
      else Some(AutoRestatement(snap.intervals.lastOption.map(window), firedAt))
    }
  }
}
