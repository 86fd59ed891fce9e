package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  /** Peak resident set (VmHWM) of this JVM in MB, from /proc. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private val MB = 1048576.0

  /** The JVM's peak resident set (VmHWM) less its committed heap, in MB.
    * run.py gives the JVM a fixed, pre-touched heap, so the resident set
    * always holds all of it; what is left is the memory outside the heap. */
  def outsideHeapMb(): Double = {
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    peakRssMb() - heap / MB
  }

  /** The heap that survives a full collection, in MB: what the program
    * keeps alive at this point. The first collection lets Spark's
    * ContextCleaner release the broadcasts and shuffles nothing refers to
    * any more; the second, once it has had time to, counts what is left. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
}
