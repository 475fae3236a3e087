package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._

/** One closed span: a call the benchmark made into one graft layer. */
final case class Span(name: String, id: Long, parent: Long, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are only kept while `enabled`; they are
  * written out once, when the run ends ([[Tracer.writeJsonl]]). Timing of
  * the end-to-end metrics never goes through here, so a run with tracing
  * off does no span bookkeeping at all. */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(name, id, parent, runId, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = { val b = Seq.newBuilder[Span]; spans.forEach(s => b += s); b.result() }

  /** Total seconds of the spans named `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"name":${Json.str(s.name)},"id":${s.id},"parent":${s.parent},""" +
        s""""run_id":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-layer Spark job accounting, installed by the benchmark (graft itself
  * tags no jobs). A job belongs to the layer the benchmark labelled it with
  * ([[JobStats.LayerProperty]]), else to the graft layer of the innermost
  * graft frame in its call site; executor CPU and shuffle bytes are rolled up per
  * layer from the stage metrics. */
final class JobStats extends SparkListener {
  @volatile var enabled = false

  final class Acc {
    var jobs = 0L; var tasks = 0L; var jobNs = 0L
    var cpuNs = 0L; var shuffleWrite = 0L
  }
  private val byLayer = mutable.Map[String, Acc]()
  private val stageLayer = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (Long, String)]()
  /** layer of each SQL execution, from its call site: the AQE stage jobs an
    * execution submits from pool threads carry no graft frame of their own */
  private val execLayer = mutable.Map[Long, String]()
  /** closed job intervals (wall ms), for covered-time accounting */
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  private def acc(layer: String): Acc = byLayer.getOrElseUpdate(layer, new Acc)

  private def layerOf(info: StageInfo): String = JobStats.layerOfCallSite(info.details)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if enabled =>
      synchronized { execLayer(x.executionId) = JobStats.layerOfCallSite(x.details) }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
    val layer = props.flatMap(p => Option(p.getProperty(JobStats.LayerProperty)))
      .orElse(exec.flatMap(execLayer.get).filter(_ != "other"))
      .orElse(e.stageInfos.map(layerOf).find(_ != "other")).getOrElse("other")
    e.stageInfos.foreach(s => stageLayer(s.stageId) = layer)
    jobStart(e.jobId) = (e.time, layer)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, layer) =>
      val a = acc(layer); a.jobs += 1; a.jobNs += (e.time - t0) * 1000000L
      intervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val info = e.stageInfo
    val a = acc(stageLayer.getOrElse(info.stageId, layerOf(info)))
    a.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def reset(): Unit = synchronized {
    byLayer.clear(); stageLayer.clear(); jobStart.clear(); intervals.clear(); execLayer.clear()
  }

  def layer(name: String): Acc = synchronized(byLayer.getOrElse(name, new Acc))
  def total: Acc = synchronized {
    val t = new Acc
    byLayer.values.foreach { a =>
      t.jobs += a.jobs; t.tasks += a.tasks; t.jobNs += a.jobNs
      t.cpuNs += a.cpuNs; t.shuffleWrite += a.shuffleWrite
    }
    t
  }

  /** Wall seconds during which at least one Spark job was running. */
  def coveredSeconds: Double = synchronized {
    var covered = 0L; var curS = -1L; var curE = -1L
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }
}

object JobStats {
  /** Spark local property naming the layer of the jobs the benchmark starts
    * itself, where no graft frame is on the call site */
  val LayerProperty = "graft.perfbench.layer"

  /** Layer of a call site (a stack, innermost frame first): the innermost
    * graft frame decides — except the evaluator's `collect`, which is the
    * audit violation sample (the evaluator collects nothing else). */
  def layerOfCallSite(stack: String): String =
    stack.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => l
    } match {
      case Some(l) if l.startsWith("graft.plans.SnapshotEvaluator") &&
        stack.linesIterator.take(2).exists(_.contains(".collect(")) => "audits"
      case Some(l) => layerOfFrame(l)
      case None => "other"
    }

  /** Layer of one stack frame (`graft.pkg.Class.method(File.scala:N)`). */
  def layerOfFrame(frame: String): String = {
    val cls = frame.takeWhile(_ != '(')
    if (cls.startsWith("graft.perfbench.")) "bench"
    else if (cls.startsWith("graft.adapter.")) "adapter"
    else if (cls.startsWith("graft.audits.")) "audits"
    else if (cls.startsWith("graft.plans.")) "plans"
    else if (cls.startsWith("graft.GraftContext")) "context"
    else if (cls.startsWith("graft.queries.") || cls.startsWith("graft.functions.")) "functions"
    else "other"
  }
}
