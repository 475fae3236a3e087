package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One workload of the lifecycle benchmark. `prepare` generates the
  * workload's seeded inputs (project files, seed CSV, DAG); `setup` is the
  * program's set-up (context construction, project registration, warm-up)
  * and is repeated; `measure` runs the timed closed loop and the output
  * checks. */
trait Workload {
  type State
  def name: String
  def prepare(run: Run): Unit
  def setup(run: Run, rep: Int): State
  def measure(run: Run, st: State): Unit
}

/** Entry point:
  * `Main <workload> <seed> <seconds> <trace 0|1> <run dir> <sf0.1 data dir>`.
  * Prints the human report, then writes `result.json` into the run dir. */
object Main {
  val workloads: Seq[Workload] = Seq(DailyCatchup, WideDagPlan)

  /** set-ups per run; the median is `setup_s`. The first runs JIT-cold and
    * is the slowest, so the median falls among the warm ones. */
  val SetupReps = 5

  def session(run: Run): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${run.cpus}]")
      .appName(s"graft-bench-${run.workload}")
      .config("spark.sql.shuffle.partitions", run.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", run.root.resolve("warehouse").toString)
      .config("spark.local.dir", run.root.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", run.root.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(run.jobs)
    s
  }

  def stopSession(run: Run): Unit = {
    run.spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, dir, data) = args
    val w = workloads.find(_.name == wname).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $wname"))
    val run = new Run(wname, seedS.toLong, secondsS.toDouble, traceS == "1", Paths.get(dir),
      Paths.get(data))

    val mainS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    run.spark = session(run)
    val prepS = Stats.time(w.prepare(run))._2
    val setups = new Samples("setup_s")
    val engine = run.spark
    var st: w.State = null.asInstanceOf[w.State]
    (0 until SetupReps).foreach { rep =>
      val (s, secs) = Stats.time {
        // a fresh SQL session (own catalog and conf) on the running engine
        run.spark = engine.newSession()
        SparkSession.setActiveSession(run.spark); SparkSession.setDefaultSession(run.spark)
        w.setup(run, rep)
      }
      setups.add(secs); st = s
    }

    // the load sentinel brackets the measured window, on the warm engine
    val sentinelBefore = Sentinel.sample(run.cpus)
    val t1 = System.nanoTime()
    run.jobs.reset()
    w.measure(run, st)
    val t2 = System.nanoTime()
    val sentinelAfter = Sentinel.sample(run.cpus)
    stopSession(run)

    run.e2e("setup_s") = (setups.median, "s")
    val out = Seq.newBuilder[String]
    out += s"workload $wname  seed ${run.seed}  trace ${if (run.traced) 1 else 0}  " +
      s"cpus ${run.cpus}  concurrency ${run.concurrency}  data ${run.data.getFileName}"
    out += f"inputs generated in ${prepS}%.2f s (untimed)"
    out += f"timeline               JVM start to main ${mainS}%.1f s, inputs + set-ups " +
      f"${(t1 - t0) / 1e9}%.1f s, measure + checks ${(t2 - t1) / 1e9}%.1f s, " +
      f"stop ${(System.nanoTime() - t2) / 1e9}%.1f s"
    out += setups.describe("s")
    run.report.foreach(out += _)
    out += f"failed_ops_ratio       ${if (run.attempted == 0) 0.0 else run.failed.toDouble / run.attempted}%.4f  " +
      s"(${run.failed} failed / ${run.attempted} attempted)"
    out += f"load sentinel          before ${sentinelBefore}%.4f s  after ${sentinelAfter}%.4f s"
    run.failures.foreach(f => out += s"FAILED $f")
    out.result().foreach(println)

    if (run.traced) run.tracer.writeJsonl(run.root.resolve("spans.jsonl"))
    val metrics = (if (run.traced) LayerProbe.metrics.map { case (k, u) =>
        k -> (run.layers.getOrElse(k, 0.0), u) }
      else run.e2e).map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val result = s"""{"seed": ${run.seed}, "attempted": ${run.attempted}, "failed": ${run.failed}, """ +
      s""""sentinel_before_s": ${Json.num(sentinelBefore)}, "sentinel_after_s": ${Json.num(sentinelAfter)}, """ +
      s""""failures": ${run.failures.map(Json.str).mkString("[", ", ", "]")}, "metrics": $metrics}"""
    Files.write(run.root.resolve("result.json"), result.getBytes("UTF-8"))
  }
}

/** Fixed-work CPU sample beside the metrics, so a loaded window is visible:
  * one thread per core runs the same integer hash loop, and a pass takes
  * as long as the slowest thread. It runs in the JVM, not as a Spark job,
  * so it costs no engine start on a workload that launches no jobs. One
  * untimed pass lets the JIT compile the loop; the faster of two timed
  * passes is the sample. */
object Sentinel {
  @volatile private var sink = 0L

  private def loop(seed: Long): Long = {
    var h = seed; var i = 0
    while (i < 100000000) { h = h * 6364136223846793005L + 1442695040888963407L; h ^= h >>> 29; i += 1 }
    h
  }

  def sample(threads: Int): Double = {
    def pass(): Double = Stats.time {
      val ts = (0 until threads).map(t => new Thread(() => sink += loop(t)))
      ts.foreach(_.start()); ts.foreach(_.join())
    }._2
    pass()
    math.min(pass(), pass())
  }
}
