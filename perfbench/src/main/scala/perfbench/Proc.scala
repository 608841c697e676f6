package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process-level readings: JVM CPU, GC time, peak RSS, host load. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Time the JIT compiler threads have spent compiling. */
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Peak resident set size (VmHWM) in MiB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  def loadavg: String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim finally src.close()
  }

  /** Wall, CPU, GC and JIT-compile seconds spent in `body`. */
  final case class Cost(wallS: Double, cpuS: Double, gcS: Double, jitS: Double) {
    def toMap: Map[String, Any] =
      Map("wall_s" -> wallS, "cpu_s" -> cpuS, "gc_s" -> gcS, "jit_s" -> jitS)
  }

  def measure[A](body: => A): (A, Cost) = {
    val (c0, g0, j0, t0) = (cpuSeconds, gcSeconds, jitSeconds, System.nanoTime())
    val a = body
    (a, Cost((System.nanoTime() - t0) / 1e9, cpuSeconds - c0, gcSeconds - g0,
      jitSeconds - j0))
  }
}
