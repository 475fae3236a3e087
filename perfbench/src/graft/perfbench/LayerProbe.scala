package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.GraftContext

/** Per-layer accounting of a traced run, around the benchmark's own calls
  * into one GraftContext with a durable state store in `stateDir`. A traced
  * run alternates its repeated ops between traced and untraced; only traced
  * ops open a window here. Every counter and time is accumulated over the
  * windows and reported as a mean per window (per tick, per cycle), so runs
  * that fit a different number of ops into their seconds stay comparable.
  * The untraced ops give the tracing overhead: median traced op − median
  * untraced op. */
final class LayerProbe(run: Run, ctx: GraftContext, stateDir: Path) {
  private var windows = 0
  private var wallS = 0.0
  private var batches = 0L
  private var batchMs = 0L
  private val kindMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private val modelMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var writes = 0L
  private var bytes = 0L
  private var cacheHits = 0L
  private var cacheMisses = 0L
  private val traced = new Samples("traced_op_s")
  private val untraced = new Samples("untraced_op_s")

  private val store = ctx.state.asInstanceOf[graft.state.FileStateStore]
  private val cache = ctx.evaluator.renderCache
  private def files: Map[String, (Long, Long)] = {
    val listing = Files.list(stateDir)
    try listing.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .map(p => p.getFileName.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally listing.close()
  }

  /** Bytes the state store wrote between two listings: an appended log
    * counts its growth, any other changed file its full size. */
  private def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.map { case (name, (size, mtime)) =>
      before.get(name) match {
        case Some((s0, m0)) if s0 == size && m0 == mtime => 0L
        case Some((s0, _)) if name.endsWith(".jsonl") && size >= s0 => size - s0
        case _ => size
      }
    }.sum

  /** Run one op; when `trace` is set it is a traced window. */
  def op[A](trace: Boolean)(f: => A): (A, Double) =
    if (!run.traced || !trace) {
      val r = Stats.time(f)
      if (run.traced) untraced.add(r._2)
      r
    } else {
      val w0 = store.durableWrites
      val f0 = files
      val h0 = cache.hits
      val m0 = cache.misses
      run.jobs.enabled = true
      run.tracer.enabled = true
      val r = try Stats.time(f) finally { run.jobs.enabled = false; run.tracer.enabled = false }
      windows += 1
      wallS += r._2
      traced.add(r._2)
      writes += store.durableWrites - w0
      bytes += written(f0, files)
      cacheHits += cache.hits - h0
      cacheMisses += cache.misses - m0
      val kinds = ctx.allModels.map { case (n, m) => n -> m.kind.name }
      ctx.lastRunReport.foreach { case (model, _, ms) =>
        batches += 1; batchMs += ms
        val k = kinds.getOrElse(model, "OTHER")
        kindMs(k) += ms; modelMs(model) += ms
      }
      r
    }

  /** One-off layer timings, taken after the loop in a traced run by calling
    * each layer directly: fingerprinting every model (`core`), rendering
    * every SQL model once with graft's renderer (`plans`), and reading the
    * durable state back cold (`state`). */
  def sideCalls(start: Long, end: Long): Unit = if (run.traced) {
    run.layers("core.fingerprint_s") = Stats.time(ctx.snapshotsOf(ctx.allModels.keys.toSeq))._2
    run.layers("plans.render_s") = Stats.time(ctx.allModels.values.foreach { m =>
      if (m.body.isInstanceOf[graft.core.SqlBody])
        graft.plans.Renderer.render(m, start, end, end, Map.empty, ctx.allVariables)
    })._2
    run.layers("state.reload_s") = Stats.time(new graft.state.FileStateStore(stateDir.toString))._2
  }

  /** Alternate traced and untraced ops: even op indices are traced. */
  def alternate(i: Int): Boolean = i % 2 == 0

  /** Fold the windows into `run.layers`. `functionsModel` names the model
    * whose batches time the `functions` layer. */
  def finish(functionsModel: Option[String]): Unit = if (run.traced) {
    val n = math.max(1, windows).toDouble
    val L = run.layers
    L("trace.windows") = windows
    L("trace.overhead_s") =
      if (traced.xs.nonEmpty && untraced.xs.nonEmpty) traced.median - untraced.median else 0.0
    L("plans.render_cache_hit_ratio") =
      if (cacheHits + cacheMisses == 0) 0.0 else cacheHits.toDouble / (cacheHits + cacheMisses)
    L("state.durable_writes") = writes / n
    L("state.bytes_written") = bytes / n
    L("scheduler.batches") = batches / n
    L("scheduler.overhead_s") = (run.tracer.total("context.run") - batchMs / 1e3) / n
    LayerProbe.Kinds.foreach { k =>
      L(s"evaluator.batch_s.$k") = kindMs(k) / 1e3 / n
    }
    val a = run.jobs.layer("adapter")
    L("adapter.jobs") = a.jobs / n
    L("adapter.tasks") = a.tasks / n
    L("adapter.job_s") = a.jobNs / 1e9 / n
    L("adapter.tasks_per_batch") = if (batches == 0) 0.0 else a.tasks.toDouble / batches
    val au = run.jobs.layer("audits")
    L("audits.jobs") = au.jobs / n
    L("audits.s") = au.jobNs / 1e9 / n
    L("functions.model_batch_s") = functionsModel.map(modelMs(_) / 1e3 / n).getOrElse(0.0)
    val t = run.jobs.total
    L("spark.jobs") = t.jobs / n
    L("spark.job_covered_s") = run.jobs.coveredSeconds / n
    L("spark.driver_gap_s") = (wallS - run.jobs.coveredSeconds) / n
    L("spark.executor_cpu_s") = t.cpuNs / 1e9 / n
    L("spark.shuffle_write_bytes") = t.shuffleWrite / n
    Seq("context.plan", "context.run").foreach { s =>
      L(s"${s}_s") = run.tracer.total(s) / n
    }
  }
}

object LayerProbe {
  val Kinds = Seq("FULL", "VIEW", "SEED", "INCREMENTAL_BY_TIME_RANGE",
    "INCREMENTAL_BY_UNIQUE_KEY", "SCD_TYPE_2_BY_TIME")

  /** Every per-layer metric a traced run prints, with its unit; a layer a
    * workload never enters reads 0. */
  val metrics: Seq[(String, String)] = Seq(
    "trace.overhead_s" -> "s", "trace.windows" -> "count",
    "loader.load_s" -> "s", "core.fingerprint_s" -> "s",
    "plans.render_s" -> "s", "plans.render_cache_hit_ratio" -> "ratio",
    "context.cold_s" -> "s", "context.plan_s" -> "s", "context.run_s" -> "s",
    "virtual.promote_s" -> "s",
    "state.durable_writes" -> "count", "state.bytes_written" -> "bytes",
    "state.reload_s" -> "s",
    "scheduler.batches" -> "count", "scheduler.overhead_s" -> "s") ++
    Kinds.map(k => s"evaluator.batch_s.$k" -> "s") ++ Seq(
    "adapter.jobs" -> "count", "adapter.tasks" -> "count", "adapter.job_s" -> "s",
    "adapter.tasks_per_batch" -> "count", "audits.jobs" -> "count", "audits.s" -> "s",
    "functions.model_batch_s" -> "s") ++ QueryEntries.metrics ++ Seq(
    "spark.jobs" -> "count", "spark.job_covered_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.shuffle_write_bytes" -> "bytes")
}
