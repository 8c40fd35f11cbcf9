package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A workload as the run loop sees it. */
trait Workload {
  /** Generate inputs and build the starting state under `dir`. */
  def prepare(dir: Path): Unit
  /** One pass of the workload's operations. */
  def pass(rec: Recorder, dir: Path): Unit
  /** Passes every run measures: a fixed amount of work, so each
    * metric means the same on a fast host and a slow one. */
  def passes: Int = 1
  /** Operations timed only in traced runs, after the passes; each
    * starts only before `deadlineMs` (epoch ms), so a traced run ends
    * in time on a loaded host. */
  def tracedOnly(rec: Recorder, deadlineMs: Long): Unit = ()
  /** A cheap read, repeated with and without the tracer to measure
    * the tracer's own overhead. */
  def probe(rec: Recorder): Unit
  /** The workload's own figures for the run summary. */
  def summary(rec: Recorder): Seq[(String, Any)] = Nil
  /** Per-layer figures only the workload knows (traced runs), out of
    * [[Layers.WorkloadFigures]]; the others print as 0. */
  def layerExtra(): Map[String, Double] = Map.empty
}

/** One benchmark run: one workload, one seed, one client, `local[4]`.
  *
  *   perfbench.Main --workload W --seed N --trace 0|1 --work DIR
  *
  * Set-up is session start plus the median of three fresh `prepare`s
  * (input generation and starting state, same seed). The measured
  * phase then runs the workload's fixed number of passes; the first
  * pass is the JVM's first run of each operation.
  * The gated figures are the program's CPU seconds ([[Cpu]]) and
  * retained heap; wall times go to the summary, since on a shared
  * host they follow the neighbours' load more than the engine's.
  * A traced run splits every operation into layers, adds the
  * operations only traced runs time, and measures the tracer's
  * overhead on a repeated probe.
  *
  * Prints `perfbench.ops`, `perfbench.summary`, with --trace 1
  * `perfbench.layers` and `perfbench.report` ([[Layers.report]]), and
  * last `perfbench.result`, each one JSON object; run.py turns them
  * into the benchmark's result line. */
object Main {

  /** Traced-only operations start within this long of JVM start:
    * run.py stops a run at 175 s. */
  private val TracedOnlyBeforeMs = 120000L

  final case class Args(workload: String, seed: Long, trace: Boolean, work: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")))
  }

  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.tune(SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "nightly_pipeline" => new PipelineRunner(spark, seed, 15000)
    case "store_dml" => new StoreDmlWorkload(spark, seed, 150000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Median; NaN (printed as null) when nothing was measured. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Layers.median(xs)

  /** The highest percentile with at least 10 samples beyond it, as
    * (percentile, value); None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else Some((100.0 * (xs.size - 10) / xs.size, xs.sorted.apply(xs.size - 11)))

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** (wall, program CPU) seconds of `body`. */
  private def timed(body: => Unit): (Double, Double) = {
    val (t0, c0) = (System.nanoTime(), Cpu.now())
    body
    ((System.nanoTime() - t0) / 1e9, Cpu.now() - c0)
  }

  /** Run `body`, reporting a failed check on stderr instead of
    * throwing; the recorder has already counted it. */
  private def guarded(body: => Unit): Unit =
    try body catch { case e: CheckFailed => System.err.println(s"perfbench: ${e.getMessage}") }

  /** The measured phase: the workload's passes, each under its own
    * directory of `work`, as (wall, CPU) per finished pass (the sums
    * of its operations). A failed check stops the phase. */
  def measure(wl: Workload, rec: Recorder, work: Path): Seq[(Double, Double)] = {
    val passes = mutable.ArrayBuffer[(Double, Double)]()
    guarded {
      for (i <- 0 until wl.passes) {
        val before = rec.samples.size
        val dir = work.resolve(s"pass$i")
        wl.pass(rec, dir)
        val ops = rec.samples.drop(before)
        passes += ((ops.map(_.wall).sum, ops.map(_.cpu).sum))
        deleteTree(dir)
      }
    }
    passes.toSeq
  }

  /** A run is correct when no operation failed and every pass ran. */
  def correct(failed: Long, passesRun: Int, wl: Workload): Boolean =
    failed == 0 && passesRun == wl.passes

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    val spark = session(args.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sessionCpu = Cpu.now()
    val wl = workload(args.workload, spark, args.seed)

    // set-up: three fresh prepares with the same seed; the last is kept
    val prepares = (0 until 3).map(i => timed(wl.prepare(args.work.resolve(s"prepare$i"))))
    val setupS = sessionS + median(prepares.map(_._1))
    val setupCpu = sessionCpu + median(prepares.map(_._2))

    // measured phase: whole passes, each pass's ops summed
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(tracer)
    val host0 = Host.sample()
    val gc0 = gcSeconds()
    val jit0 = Cpu.compilerS()
    val t0 = System.nanoTime()
    tracer.foreach(_.install())
    val passes = measure(wl, rec, args.work)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val measured = rec.samples.toList
    val traced = new Recorder(tracer)
    val probed = new Recorder(tracer)
    val plain = new Recorder(None)
    val warmProbe = new Recorder(None)
    if (args.trace && rec.failed == 0) guarded {
      wl.tracedOnly(traced, deadlineMs = jvmStart + TracedOnlyBeforeMs)
      // the probe runs once to warm, then alternates without and with
      // the listeners
      wl.probe(warmProbe)
      for (_ <- 0 until 3) {
        tracer.foreach(_.uninstall())
        wl.probe(plain)
        tracer.foreach(_.install())
        wl.probe(probed)
      }
    }
    tracer.foreach(_.uninstall())
    val gc = gcSeconds() - gc0
    val host = Host.sample().since(host0)
    // the second collection frees what Spark's cleaner released after
    // the first (broadcast and shuffle blocks of collected plans)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val recorders = Seq(rec, traced, probed, plain, warmProbe)
    val attempted = recorders.map(_.attempted).sum
    val failed = recorders.map(_.failed).sum
    def of(kind: Kind) = measured.filter(_.kind == kind)
    def cpuPerPass(kind: Kind) = of(kind).map(_.cpu).sum / passes.size
    val metrics = Seq(
      "setup_s" -> setupCpu,
      "pass_cpu_s" -> median(passes.map(_._2)),
      "write_cpu_s" -> cpuPerPass(Kind.Write),
      "read_cpu_s" -> cpuPerPass(Kind.Read),
      "retained_heap_mb" -> heapMb)

    val byOp = (measured ++ traced.samples).groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => n -> RawJson(Json.obj(Seq("n" -> ss.size,
        "p50_s" -> median(ss.map(_.wall)), "cpu_p50_s" -> median(ss.map(_.cpu)))))
    }
    println("perfbench.ops " + Json.obj(byOp))
    def tailOf(kind: Kind) = tail(of(kind).map(_.wall)).map { case (p, v) =>
      Map("percentile" -> p, "value_s" -> v, "samples" -> of(kind).size)
    }
    val writes = of(Kind.Write)
    val summary = Seq(
      "workload" -> args.workload, "seed" -> args.seed,
      "passes" -> passes.size, "measured_s" -> measuredS,
      "setup_wall_s" -> setupS, "session_s" -> sessionS, "prepare_s" -> prepares.map(_._1),
      "wall_s" -> median(passes.map(_._1)),
      "pass_walls_s" -> passes.map(_._1), "pass_cpus_s" -> passes.map(_._2),
      "write_p50_s" -> median(writes.map(_.wall)),
      "read_p50_s" -> median(of(Kind.Read).map(_.wall)),
      "rows_per_s" -> writes.map(_.rows).sum / writes.map(_.wall).sum,
      "error_rate" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "write_tail_s" -> tailOf(Kind.Write), "read_tail_s" -> tailOf(Kind.Read),
      "jvm_gc_s" -> gc, "jit_cpu_s" -> (Cpu.compilerS() - jit0), "host" -> host.toMap,
      "errors" -> recorders.flatMap(_.errors)) ++
      wl.summary(rec)
    println("perfbench.summary " + Json.obj(summary))

    if (args.trace) {
      val spans = (rec.spans ++ traced.spans).toSeq
      val overhead = median(probed.samples.map(_.wall).toSeq) /
        median(plain.samples.map(_.wall).toSeq) - 1
      val extra = wl.layerExtra()
      val layers = Layers.perLayer(spans) ++
        Layers.WorkloadFigures.map(n => n -> extra.getOrElse(n, 0.0)) ++ Seq(
        "task.gc_s" -> spans.map(_.taskGcS).sum,
        "task.shuffle_mb" -> spans.map(_.shuffleMb).sum,
        "task.spill_mb" -> spans.map(_.spillMb).sum,
        "jvm.gc_s" -> gc,
        "host.steal_pct" -> host.stealPct,
        "host.iowait_pct" -> host.iowaitPct,
        "trace.overhead_frac" -> overhead)
      println("perfbench.layers " + Json.obj(layers))
      println("perfbench.report " + Json.obj(Layers.report(spans, overhead)))
    }
    println("perfbench.result " + Json.obj(Seq(
      "correct" -> correct(failed, passes.size, wl),
      "attempted" -> math.max(attempted, 1L), "failed" -> failed,
      "metrics" -> metrics.toMap)))
    spark.stop()
  }
}

/** Pre-rendered JSON, embedded as is by [[Json]]. */
final case class RawJson(text: String)
