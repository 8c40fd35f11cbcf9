package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What a timed operation is: a write, a read, or store upkeep. */
sealed trait Kind
object Kind {
  case object Write extends Kind
  case object Read extends Kind
  /** Store upkeep (compaction, vacuum): in the pass, in neither kind. */
  case object Upkeep extends Kind
}

/** One timed operation: wall seconds, and CPU seconds of the program
  * ([[Cpu]]) over the same interval. */
final case class Sample(name: String, kind: Kind, wall: Double, cpu: Double, rows: Long)

/** The program's CPU: the process's CPU seconds (every thread: driver,
  * tasks, GC) less those of the JIT compiler threads, which compile in
  * the background and take whatever CPU the host leaves them. The JVM
  * runs with `-XX:-UseDynamicNumberOfCompilerThreads`, so its compiler
  * threads all start with it and live as long as it does. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(p: Path): Option[String] =
    try Some(new String(Files.readAllBytes(p)).trim) catch { case _: java.io.IOException => None }

  /** `schedstat` of each compiler thread: its first field is the
    * thread's CPU nanoseconds. */
  private lazy val compilerThreads: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Nil
    else Files.list(tasks).iterator().asScala.toSeq
      .filter(t => read(t.resolve("comm")).exists(_.contains("CompilerThre")))
      .map(_.resolve("schedstat"))
  }

  /** CPU seconds of the JIT compiler threads so far. */
  def compilerS(): Double =
    compilerThreads.flatMap(read).map(_.split(' ')(0).toLong).sum / 1e9

  /** Program CPU seconds so far. */
  def now(): Double = os.getProcessCpuTime / 1e9 - compilerS()
}

/** Raised by a check; the pass that raised it stops. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Times operations and counts attempts and failures. With a
  * [[Tracer]], each operation is also split into layers. An operation
  * fails when it throws or when a check of its output does not hold;
  * either way it counts once in `failed`. */
final class Recorder(tracer: Option[Tracer]) {
  val samples = mutable.ArrayBuffer[Sample]()
  val spans = mutable.ArrayBuffer[Span]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  /** Run `body` as one timed operation; `check` then validates its
    * result outside the timer. `rows` is how many rows it wrote. */
  def op[T](module: String, name: String, kind: Kind, rows: Long = 0L)(
      body: => T)(check: T => Unit): T = {
    attempted += 1
    try {
      val cpu0 = Cpu.now()
      val (result, wall) = tracer match {
        case Some(t) =>
          val (r, s) = t.span(module, name)(body)
          spans += s
          (r, s.wall)
        case None =>
          val t0 = System.nanoTime()
          val r = body
          (r, (System.nanoTime() - t0) / 1e9)
      }
      samples += Sample(s"$module.$name", kind, wall, Cpu.now() - cpu0, rows)
      check(result)
      result
    } catch {
      case NonFatal(e) => throw failure(s"$module.$name", e)
    }
  }

  /** An untimed check of state no single operation returns (a store's
    * totals after a block); it counts as one operation. */
  def check(name: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch { case NonFatal(e) => throw failure(name, e) }
  }

  /** An operation that had to run and did not: counts as failed. */
  def missed(name: String, why: String): Unit = {
    attempted += 1
    errors += s"$name: not run: $why"
    failed += 1
  }

  private def failure(name: String, e: Throwable): CheckFailed = {
    failed += 1
    errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    new CheckFailed(errors.last)
  }
}

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}
