package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced operation: its wall split into Spark's layers.
  *
  *  - catalyst: `planningS`, the union of the analysis / optimization /
  *    planning phase intervals of every query that finished in the
  *    span, clipped to the span;
  *  - codegen: compiles counted by CodegenMetrics, and their time;
  *  - scheduler: jobs, stages, tasks and `jobS`, the union of job
  *    intervals;
  *  - task: run, CPU and GC seconds summed over tasks, shuffle and
  *    spill;
  *  - driver: `driverOutsideS` = wall − jobS − planningS, the named
  *    residual (commits, listings, codegen, collect, driver loops).
  *
  * `siteJobS` splits job seconds by the engine object whose frame
  * is innermost in each job's call site (`ops.Validate`, …): the call
  * site of the SQL execution the job belongs to, captured on the
  * calling thread, else the job's own. */
final case class Span(module: String, op: String, wall: Double,
                      jobs: Int, stages: Int, tasks: Int,
                      jobS: Double, planningS: Double,
                      codegenCompiles: Long, codegenS: Double,
                      taskRunS: Double, taskCpuS: Double, taskGcS: Double,
                      shuffleMb: Double, spillMb: Double,
                      siteJobS: Map[String, Double]) {
  def name: String = s"$module.$op"
  def driverOutsideS: Double = wall - jobS - planningS
}

/** The benchmark's own listener pair. [[span]] drains the listener
  * bus before it starts and again before it reads, so no event of one
  * operation is ever counted in the next. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private type Interval = (Long, Long)
  private val jobStarts = mutable.HashMap[Int, (Long, String)]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long, String)]()
  private val executionSites = mutable.HashMap[String, String]()
  private val phaseIntervals = mutable.ArrayBuffer[Interval]()
  private var stages = 0
  private var tasks = 0
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  private def reset(): Unit = synchronized {
    jobStarts.clear(); jobIntervals.clear(); phaseIntervals.clear()
    executionSites.clear()
    stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleBytes = 0; spillBytes = 0
  }

  /** Innermost engine frame of a long call site, as `pkg.Object`. */
  private def siteOf(details: String): String =
    details.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") =>
        val parts = l.takeWhile(_ != '(').split('.').map(_.takeWhile(_ != '$'))
        if (parts.length >= 4) s"${parts(1)}.${parts(2)}" else parts(1)
    }.getOrElse("other")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionSites(x.executionId.toString) = siteOf(x.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(executionSites.get)
      .orElse(e.stageInfos.headOption.map(s => siteOf(s.details)))
      .getOrElse("other")
    jobStarts(e.jobId) = (e.time, site)
    stages += e.stageInfos.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, site) =>
      jobIntervals += ((t0, e.time, site))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p =>
      phaseIntervals += ((p.startTimeMs, p.endTimeMs)))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  /** Total length of the union of intervals clipped to [lo, hi]. */
  private def unionMs(xs: Seq[Interval], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[Interval] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, cb max b))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }

  def span[T](module: String, op: String)(body: => T): (T, Span) = {
    drain()
    reset()
    val (c0, cms0) = codegen
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = body
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    drain()
    val (c1, cms1) = codegen
    val span = synchronized {
      // the histogram keeps every sample until its 1028-sample
      // reservoir fills; past that, estimate from the mean
      val compiles = c1 - c0
      val cgMs = if (c1 <= 1028) cms1 - cms0
        else compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      val jobsMs = unionMs(jobIntervals.map(j => (j._1, j._2)).toSeq, ms0, ms1)
      val sites = jobIntervals.groupBy(_._3).map { case (s, js) =>
        s -> unionMs(js.map(j => (j._1, j._2)).toSeq, ms0, ms1) / 1e3
      }
      Span(module, op, wall, jobIntervals.size, stages, tasks,
        jobsMs / 1e3, unionMs(phaseIntervals.toSeq, ms0, ms1) / 1e3,
        compiles, cgMs / 1e3, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
        shuffleBytes / 1048576.0, spillBytes / 1048576.0, sites)
    }
    (result, span)
  }
}
