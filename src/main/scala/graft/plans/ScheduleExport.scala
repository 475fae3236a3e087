package graft.plans

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.Interval

/** External-orchestrator export (reference `sqlmesh/schedulers/` — the
  * worker shims that let Airflow-style platforms drive backfills instead of
  * the built-in scheduler): a read-only snapshot of the schedule — models,
  * crons, interval batches, dependency edges — as JSON, or as an Airflow
  * DAG-file skeleton. No state is read for update and none is mutated; the
  * orchestrator runs each batch through the normal `graft run` CLI, which
  * re-checks intervals itself, so a stale export is safe (idempotent runs).
  */
object ScheduleExport {

  /** One model's schedulable surface. `batches` are the batches a `run`
    * over the export window executed at export time would process — the
    * scheduler's own [[BatchPlanner]] answer, cron-capped and target-lag
    * gated. */
  final case class ModelSchedule(
      name: String,
      kind: String,
      cron: String,
      cronTz: Option[String],
      intervalUnit: String,
      batchSize: Option[Int],
      owner: Option[String],
      dependsOn: Seq[String],
      hasSignal: Boolean,
      batches: Seq[Interval])

  private val mapper = new ObjectMapper()

  private def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  def json(env: String, start: Long, end: Long,
           models: Seq[ModelSchedule]): String = {
    val root = mapper.createObjectNode()
    root.put("environment", env)
    val w = root.putObject("window")
    w.put("start", iso(start)); w.put("end", iso(end))
    val ms = root.putArray("models")
    models.sortBy(_.name).foreach { m =>
      val n = ms.addObject()
      n.put("name", m.name)
      n.put("kind", m.kind)
      n.put("cron", m.cron)
      m.cronTz.foreach(n.put("cron_tz", _))
      n.put("interval_unit", m.intervalUnit)
      m.batchSize.foreach(n.put("batch_size", _))
      m.owner.foreach(n.put("owner", _))
      val deps = n.putArray("depends_on")
      m.dependsOn.sorted.foreach(deps.add)
      n.put("has_signal", m.hasSignal)
      val bs = n.putArray("batches")
      m.batches.foreach { iv =>
        val b = bs.addObject()
        b.put("start", iso(iv.start)); b.put("end", iso(iv.end))
        b.put("command",
          s"graft run $env --select ${m.name} --start ${iso(iv.start)} --end ${iso(iv.end)}")
      }
    }
    val edges = root.putArray("edges")
    for {
      m <- models.sortBy(_.name)
      up <- m.dependsOn.sorted
    } { val e = edges.addArray(); e.add(up); e.add(m.name) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Complete, runnable Airflow DAG file (reference `sqlmesh/schedulers/
    * airflow` semantics, re-expressed over the graft CLI):
    *
    *  - cron → schedule: the DAG ticks ONE unit finer than the finest model
    *    cadence (hourly for day-unit projects, etc.), so models whose crons
    *    fire at different offsets within the unit are all picked up within
    *    a finer-unit period; each task shells into `graft run`, which
    *    re-checks per-model cron readiness and missing intervals itself, so
    *    the finer tick is a cheap no-op, never a duplicate run (idempotent
    *    by construction).
    *  - batches → one BashOperator per exported batch, chained sequentially
    *    within a model (a backfill's batch order), plus one catch-up task
    *    per model with no pending batches so future ticks keep it current.
    *  - dependency edges → upstream's LAST task >> downstream's FIRST (the
    *    built-in scheduler's wave barrier).
    *  - signals → a BashSensor per gated model polling `graft signal-ready`
    *    (exit 0 = ready), sequenced before the model's first run task.
    *
    * The project path is the `GRAFT_PROJECT` env var on purpose: the file
    * must be portable across deployments. */
  def airflowDag(env: String, models: Seq[ModelSchedule]): String = {
    def pyId(name: String): String = "t_" + name.replaceAll("[^A-Za-z0-9]", "_")
    val sorted = models.sortBy(_.name)
    val names = sorted.map(_.name).toSet
    val unitRank = Map("five_minute" -> 1, "quarter_hour" -> 2, "half_hour" -> 3,
      "hour" -> 4, "day" -> 5, "month" -> 6, "year" -> 7)
    // tick ONE unit finer than the finest model cadence, not some model's own
    // cron: two day-unit models with crons 01:00 and 06:00 would otherwise
    // ride a DAG that only ticks at one of them — with catchup=False the
    // other runs up to a full day late. graft run re-checks per-model cron
    // readiness, so the finer tick costs a cheap no-op, never a double run;
    // staleness is bounded by the finer unit, not by cron-tie arbitration.
    // minOption: an empty export (no selected models) still emits a valid
    // DAG skeleton rather than crashing on empty.min
    val finest = sorted.map(m => unitRank.getOrElse(m.intervalUnit, 9))
      .minOption.getOrElse(5)
    val schedule = finest match {
      case 1 | 2 => "*/5 * * * *"   // five_minute/quarter_hour → 5-min tick
      case 3     => "*/15 * * * *"  // half_hour → quarter-hour tick
      case 4     => "*/30 * * * *"  // hour → half-hour tick
      case 5     => "@hourly"       // day → hourly tick
      case 6     => "@daily"        // month → daily tick
      case _     => "@daily"        // year/unknown → daily tick
    }
    val proj = " --project $GRAFT_PROJECT"
    val anySignal = sorted.exists(_.hasSignal)
    val b = new StringBuilder
    b ++= "# Generated by `graft export-schedule --format airflow` - regenerate, don't hand-edit.\n"
    b ++= "# Each task re-derives its missing intervals via `graft run`, so reruns are idempotent.\n"
    b ++= "from airflow import DAG\n"
    b ++= "from airflow.operators.bash import BashOperator\n"
    if (anySignal) b ++= "from airflow.sensors.bash import BashSensor\n"
    b ++= "from datetime import datetime\n\n"
    b ++= "with DAG(\n"
    b ++= s"""    dag_id="graft_$env",\n"""
    b ++= "    start_date=datetime(2020, 1, 1),\n"
    b ++= s"""    schedule="$schedule",  # one unit finer than the finest model cadence; per-model crons gate inside graft run\n"""
    b ++= "    catchup=False,\n"
    b ++= "    max_active_runs=1,\n"
    b ++= ") as dag:\n"
    // (model name → first task id, last task id) for the dependency wiring
    val bounds = sorted.map { m =>
      val base = pyId(m.name)
      b ++= s"    # model ${m.name} - cron ${m.cron}, unit ${m.intervalUnit}" +
        m.owner.map(o => s", owner $o").getOrElse("") + "\n"
      val sensor = if (m.hasSignal) {
        b ++= s"""    ${base}__signal = BashSensor(\n"""
        b ++= s"""        task_id="${base.stripPrefix("t_")}__signal",\n"""
        b ++= s"""        bash_command="graft signal-ready $env --select ${m.name}$proj",\n"""
        b ++= "        mode=\"reschedule\",\n"
        b ++= "        poke_interval=300,\n"
        b ++= "    )\n"
        Some(s"${base}__signal")
      } else None
      val batchTasks = m.batches.zipWithIndex.map { case (iv, i) =>
        val id = s"${base}__b$i"
        b ++= s"""    $id = BashOperator(\n"""
        b ++= s"""        task_id="${id.stripPrefix("t_")}",\n"""
        b ++= s"""        bash_command="graft run $env --select ${m.name} --start ${iso(iv.start)} --end ${iso(iv.end)}$proj",\n"""
        b ++= "    )\n"
        id
      }
      // EVERY model ends in a windowless catch-up task: once the exported
      // backlog is done, future scheduled ticks still process new intervals
      // (graft run re-derives the window) — without it, a batched model
      // would go silently stale the day after its backfill completes
      b ++= s"""    $base = BashOperator(\n"""
      b ++= s"""        task_id="${base.stripPrefix("t_")}",\n"""
      b ++= s"""        bash_command="graft run $env --select ${m.name}$proj",\n"""
      b ++= "    )\n"
      val runTasks = batchTasks :+ base
      val chain = sensor.toSeq ++ runTasks
      chain.sliding(2).foreach {
        case Seq(a2, b2) => b ++= s"    $a2 >> $b2\n"
        case _ => ()
      }
      m.name -> ((chain.head, chain.last))
    }.toMap
    b ++= "\n    # cross-model ordering: upstream completes before downstream starts\n"
    sorted.foreach { m =>
      m.dependsOn.sorted.filter(names.contains).foreach { up =>
        b ++= s"    ${bounds(up)._2} >> ${bounds(m.name)._1}\n"
      }
    }
    b.toString
  }
}
