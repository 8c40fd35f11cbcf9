package perfbench

import java.nio.file.{Files, Paths}

/** Interference from outside the benchmark: CPU time stolen by the
  * hypervisor and spent waiting on IO, from `/proc/stat` deltas, plus
  * the load average. A run whose steal or iowait share is high says
  * so in its own output (`disturbed`). */
final case class Host(ticks: Array[Long], load1: Double) {
  def since(before: Host): Host.Delta = {
    val d = ticks.zip(before.ticks).map { case (a, b) => a - b }
    val total = d.sum.toDouble
    def pct(i: Int) = if (total <= 0 || i >= d.length) 0.0 else 100.0 * d(i) / total
    // /proc/stat cpu columns: user nice system idle iowait irq softirq steal
    Host.Delta(pct(7), pct(4), load1)
  }
}

object Host {
  final case class Delta(stealPct: Double, iowaitPct: Double, load1: Double) {
    def disturbed: Boolean = stealPct > 2.0 || iowaitPct > 5.0
    def toMap: Map[String, Any] = Map("steal_pct" -> stealPct,
      "iowait_pct" -> iowaitPct, "loadavg_1m" -> load1,
      "disturbed" -> disturbed)
  }

  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)))) catch { case _: Exception => None }

  def sample(): Host = {
    val cpu = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val load = read("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(0.0)
    Host(cpu, load)
  }
}
