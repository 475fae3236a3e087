package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the clock, op accounting, the
  * tracer and the metrics it will print. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val root: Path,
                /** the read-only sf0.1 parquet tables */
                val data: Path) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
  val jobs = new JobStats
  var spark: SparkSession = _

  /** graft's scheduler concurrency: its default, capped by the cores */
  val concurrency: Int = math.min(4, cpus)

  private var deadline = Long.MaxValue
  def startClock(): Unit = deadline = System.nanoTime() + (seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadline

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** One op (plan, apply, tick, load, push/promote, wave, reload, output
    * check). A throw counts as a failed op and is reported, never rethrown. */
  def op[A](what: String)(f: => A): Option[A] = {
    synchronized(attempted += 1)
    try Some(f)
    catch { case e: Throwable =>
      synchronized {
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .take(400)
      }
      None
    }
  }

  /** Run independent untimed tasks (output checks)
    * concurrently, as Spark jobs on a pool of `cpus` driver threads. */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** An output check: one op that fails when `ok` is false. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(if (!ok) throw new AssertionError("output differs from expectation"))

  /** every metric of the workload, printed as the human report */
  val report = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, Double]()

  def newDir(name: String): Path = Files.createDirectories(root.resolve("ws").resolve(name))
}
