package dpbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Try

/** Facts about the machine the run shares. They are recorded in the output
  * only: no retry or gate depends on them. */
object Env {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def nproc: Int = Runtime.getRuntime.availableProcessors

  def processCpuNs: Long = os.getProcessCpuTime

  def loadavg: Seq[Double] =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3)
      .map(_.toDouble).toSeq).getOrElse(Nil)

  /** Busy and total jiffies of the whole machine, from /proc/stat. */
  private def systemJiffies: Option[(Long, Long)] = Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    (f.sum - idle, f.sum)
  }.toOption

  /** CPU use of one interval: the process's own CPU seconds and the share of
    * all cores that other processes kept busy meanwhile. */
  final class CpuWindow {
    private val cpu0 = processCpuNs
    private val sys0 = systemJiffies
    private val wall0 = System.nanoTime()

    def close(): (Double, Option[Double]) = {
      val cpuS = (processCpuNs - cpu0) / 1e9
      val external = for ((b0, t0) <- sys0; (b1, t1) <- systemJiffies if t1 > t0) yield {
        val busyShare = (b1 - b0).toDouble / (t1 - t0)
        val ownShare = cpuS / ((System.nanoTime() - wall0) / 1e9 * nproc)
        math.max(0.0, busyShare - ownShare)
      }
      (cpuS, external)
    }
  }

  def jvm: String = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
}
