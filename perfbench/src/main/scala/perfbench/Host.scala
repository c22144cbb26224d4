package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host fingerprint attached to every run record. */
object Host {
  private def procLines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq catch { case _: Exception => Nil }

  private def kb(path: String, key: String): Long =
    procLines(path).find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def load1: Double =
    procLines("/proc/loadavg").headOption.map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set size of this process (VmHWM), in kB. */
  def peakRssKb: Long = kb("/proc/self/status", "VmHWM")

  def fingerprint(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "mem_total_kb" -> kb("/proc/meminfo", "MemTotal"),
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "load1" -> load1)
}
