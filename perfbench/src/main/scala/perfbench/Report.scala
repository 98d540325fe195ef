package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Percentiles under the reporting rule: every timing prints its median,
  * its named percentile, the sample count and the number of samples
  * beyond the percentile; a percentile with fewer than ten samples beyond
  * it is unsupported and prints as such, never as a number. */
object Stats {
  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = quantile(xs.toArray.sorted, 0.5)

  final case class Summary(n: Int, p50: Double, q: Double, pq: Double,
                           beyond: Int) {
    def supported: Boolean = beyond >= 10
    def line(name: String, unit: String): String = {
      val tag = s"p${fmtQ(q)}"
      val tail = if (supported) f"$tag=$pq%.6g $unit" else s"$tag=unsupported"
      f"$name: p50=$p50%.6g $unit $tail (n=$n, beyond_$tag=$beyond)"
    }
  }

  private def fmtQ(q: Double): String =
    BigDecimal(q * 100).bigDecimal.stripTrailingZeros.toPlainString

  def summary(xs: Array[Double], q: Double): Summary = {
    val s = xs.sorted
    val pq = quantile(s, q)
    Summary(s.length, quantile(s, 0.5), q, pq, s.count(_ > pq))
  }
}

/** JSON text for the harness's result line (flat values only). */
object Out {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  /** A layer that did no work has no samples to average; it reports 0. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Host and JVM facts printed next to every run's metrics, so a noisy run
  * can be told apart from the artifact alone: steal share and loadavg
  * mark co-tenant pressure, driver GC ms marks heap pressure. */
object HostInfo {
  /** (steal, total) jiffies from /proc/stat's aggregate cpu line. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (-1L, -1L) }

  def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Steal share of host CPU between two `cpuTicks` samples. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (a._1 < 0 || b._1 < 0 || b._2 <= a._2) -1.0
    else (b._1 - a._1).toDouble / (b._2 - a._2)
}

/** Largest post-collection heap occupancy of each timed op: every GC
  * notification carries the pool usage after that collection; the sum over
  * heap pools is the live heap the collector could not free. The baseline
  * is the live heap once the benchmark's inputs are in memory and before
  * the program starts: the peak above it is the program's. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var active = false
  @volatile private var peakBytes = 0L
  /** Each finished op's peak, in MiB. */
  val opPeaksMb = mutable.ArrayBuffer.empty[Double]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  @volatile private var baselineBytes = 0L
  /** Call right after `System.gc()`. */
  def markBaseline(): Unit = baselineBytes = used
  /** Call right after `System.gc()` inside an op: GC notifications arrive
    * on another thread, possibly after the op has ended. */
  def sample(): Unit = synchronized { if (active && used > peakBytes) peakBytes = used }

  def startOp(): Unit = synchronized { peakBytes = 0L; active = true }
  /** An op that saw no collection has no peak to report. */
  def endOp(): Unit = synchronized { active = false; if (peakBytes > 0) opPeaksMb += peakBytes / 1048576.0 }
  def baselineMb: Double = baselineBytes / 1048576.0
  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

/** Named counters and samples of one run, printed as the report and the
  * result line. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    values(name) = (value, unit)
  def json(names: Seq[String]): String =
    Out.obj(names.map { n =>
      val (v, u) = values(n)
      n -> Out.obj(Seq("value" -> Out.num(v), "unit" -> Out.str(u)))
    })
}
