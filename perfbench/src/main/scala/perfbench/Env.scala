package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What a run ran on, so an outlier can be explained instead of re-run. */
object Env {

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Accumulated GC time of every collector, ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still live after full collections, MB. Collects until the
    * figure settles: Spark frees broadcast blocks only after a collection
    * has let its cleaner thread see them unreachable.
    */
  def retainedHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.perfbench.Bus.drain(sc)
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var i = 0
    while (i < 8 && math.abs(prev - cur) > 0.005 * prev) {
      prev = cur
      cur = used()
      i += 1
    }
    cur
  }

  /** Filesystem type of the mount holding `dir` (longest mount prefix). */
  def fsType(dir: String): String =
    try {
      val abs = Paths.get(dir).toAbsolutePath.normalize.toString
      Files.readAllLines(Paths.get("/proc/mounts")).asScala
        .map(_.split(" ")).filter(_.length > 2)
        .filter(m => abs == m(1) || abs.startsWith(m(1).stripSuffix("/") + "/"))
        .maxByOption(_(1).length).map(_(2)).getOrElse("unknown")
    } catch { case _: Exception => "unknown" }

  /** A sample window over the timed sequence. */
  final class Window {
    private val (steal0, total0) = cpuTicks()
    private val gc0 = gcMs()
    def stealPct: Double = {
      val (s, t) = cpuTicks()
      if (t > total0) 100.0 * (s - steal0) / (t - total0) else 0.0
    }
    def gcPauseMs: Long = gcMs() - gc0
  }

  def record(master: String, dataDir: String, w: Window): Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_master" -> master,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "data_fs" -> fsType(dataDir),
    "cpu_steal_pct" -> w.stealPct,
    "gc_pause_ms" -> w.gcPauseMs)
}
