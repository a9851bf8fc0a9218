package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** A timed call at a layer boundary. `parent` is -1 for an iteration's root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans of the current iteration, kept in memory. Recording is on only in
  * traced iterations; otherwise [[apply]] just runs the body.
  */
final class Spans {
  private val buf = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var next = 0
  var enabled = false

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        buf += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def take(): Vector[Span] = { val out = buf.toVector; buf.clear(); out }
}

object Spans {
  /** Length of the union of `[start, end)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      s.id -> (s.endNs - s.startNs - covered(c)) / 1e6
    }.toMap
  }
}

/** Everything Spark reported for one traced iteration. */
final case class SparkTrace(
    jobs: Int,
    tasks: Int,
    planMs: Double,
    jobIntervalsMs: Seq[(Long, Long)],
    taskMs: Double,
    taskCpuMs: Double,
    gcMs: Double,
    scanBytes: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    shuffleWaitMs: Double,
    spillBytes: Long,
    stageSkew: Double,
    moduleJobs: Map[String, Int],
    moduleTaskMs: Map[String, Double])

/** Listens to the scheduler and to query executions from outside the
  * program, and attributes each job and its task time to the graft module
  * whose file is the job's call site (`<action> at <File>.scala:<line>`).
  */
final class SparkTracer(spark: SparkSession, moduleOfFile: Map[String, String]) {

  private final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      durMs: Long, launch: Long, scan: Long, shW: Long, shR: Long, waitMs: Long, spill: Long)

  private val lock = new Object
  private val jobStart = collection.mutable.Map[Int, (Long, String)]()
  private val jobEnd = collection.mutable.Map[Int, Long]()
  private val stageModule = collection.mutable.Map[Int, String]()
  private val tasks = ArrayBuffer[Task]()
  private var planMs = 0.0

  private val Frame = """([A-Za-z0-9_$]+\.scala):\d+""".r

  /** Module of the first frame of a call site that lies in a known file.
    * `sites` are tried in order: the short form first, then the stack.
    */
  def moduleOf(sites: String*): String =
    sites.iterator.filter(_ != null).flatMap(s => Frame.findAllMatchIn(s))
      .map(_.group(1)).collectFirst { case f if moduleOfFile.contains(f) => moduleOfFile(f) }
      .getOrElse("other")

  // SQL executions often submit their jobs from a pool thread, whose own
  // call site is Spark's; the execution keeps the caller's.
  private val executionModule = collection.mutable.Map[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => lock.synchronized {
        executionModule(x.executionId) = moduleOf(x.description, x.details)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val last = e.stageInfos.sortBy(-_.stageId).headOption
      val module = execution.flatMap(executionModule.get).getOrElse(
        moduleOf(last.map(_.name).orNull, last.map(_.details).orNull))
      jobStart(e.jobId) = (e.time, module)
      e.stageInfos.foreach(s => stageModule.getOrElseUpdate(s.stageId, module))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          e.taskInfo.duration, e.taskInfo.launchTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      lock.synchronized(planMs += ms)
    }
  }

  private def sc: SparkContext = spark.sparkContext

  /** Blocks until every event posted so far has reached the listeners. The
    * bus is `private[spark]`, so it is reached by reflection.
    */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def attach(): Unit = {
    drain()
    lock.synchronized {
      jobStart.clear(); jobEnd.clear(); stageModule.clear(); tasks.clear(); planMs = 0.0
      executionModule.clear()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Detaches and returns what was recorded since [[attach]]. */
  def detach(): SparkTrace = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    lock.synchronized {
      val intervals = jobStart.toSeq.map { case (id, (t0, _)) => (t0, jobEnd.getOrElse(id, t0)) }
      val byStage = tasks.groupBy(_.stage)
      val longest = if (byStage.isEmpty) Seq.empty[Task] else byStage.values.maxBy { ts =>
        ts.map(t => t.launch + t.durMs).max - ts.map(_.launch).min
      }
      val skew = if (longest.isEmpty) 1.0 else {
        val d = longest.map(_.durMs.toDouble).toVector.sorted
        d.last / math.max(Stats.quantile(d, 0.5), 1.0)
      }
      SparkTrace(
        jobs = jobStart.size,
        tasks = tasks.size,
        planMs = planMs,
        jobIntervalsMs = intervals,
        taskMs = tasks.map(_.runMs).sum.toDouble,
        taskCpuMs = tasks.map(_.cpuNs).sum / 1e6,
        gcMs = tasks.map(_.gcMs).sum.toDouble,
        scanBytes = tasks.map(_.scan).sum,
        shuffleWriteBytes = tasks.map(_.shW).sum,
        shuffleReadBytes = tasks.map(_.shR).sum,
        shuffleWaitMs = tasks.map(_.waitMs).sum.toDouble,
        spillBytes = tasks.map(_.spill).sum,
        stageSkew = skew,
        moduleJobs = jobStart.values.groupBy(_._2).map { case (k, v) => k -> v.size },
        moduleTaskMs = tasks.groupBy(t => stageModule.getOrElse(t.stage, "other"))
          .map { case (k, v) => k -> v.map(_.runMs).sum.toDouble })
    }
  }
}

object SparkTracer {
  /** graft module of each source file: the package directory under `graft`
    * (`graft/io/Http.scala` -> io); the benchmark's own files map to bench.
    * Files directly in `graft` are not mapped, so a job whose call site has
    * no mapped file counts as other.
    */
  def moduleMap(graftRoot: File, benchRoot: File): Map[String, String] = {
    def files(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val graft = Option(graftRoot.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => files(d).map(f => f.getName -> d.getName))
    val bench = files(benchRoot).map(_.getName -> "bench")
    (graft ++ bench).filter(_._1.endsWith(".scala")).toMap
  }
}

object Stats {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = p * (sorted.length - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** The highest percentile with at least ten samples above it: the
    * (n-10)-th smallest value, as `(percentile, value)`; None below eleven
    * samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else Some(100.0 * (xs.size - 10) / xs.size -> xs.sorted.apply(xs.size - 11))
}
