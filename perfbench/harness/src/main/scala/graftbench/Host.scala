package graftbench

import scala.io.Source
import scala.util.Try

/** Host annotations recorded at the start and end of a run. None of them
  * alters what is measured. */
object Host {
  private def read(path: String): String =
    Try { val s = Source.fromFile(path); try s.mkString finally s.close() }.getOrElse("")

  private def statusKb(file: String, key: String): Double =
    read(file).linesIterator.collectFirst {
      case l if l.startsWith(key + ":") => l.drop(key.length + 1).trim.split("\\s+")(0).toDouble
    }.getOrElse(-1.0)

  /** Peak resident set size of this JVM, in kB. */
  def vmHwmKb(): Double = statusKb("/proc/self/status", "VmHWM")

  /** Wall seconds of a fixed single-thread integer loop: moves with any loss
    * of effective CPU (steal, frequency capping, contention). */
  def canary(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    dt
  }

  def snapshot(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "mem_total_kb" -> statusKb("/proc/meminfo", "MemTotal"),
    "loadavg" -> read("/proc/loadavg").trim,
    "canary_s" -> canary())
}
