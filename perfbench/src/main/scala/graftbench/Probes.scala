package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Engine counters from a SparkListener, split by the `graftbench.role`
  * local property the benchmark sets on its client threads, so reads
  * and stream batches that run at the same time are told apart. */
final class EngineListener extends SparkListener {
  private val stageRole = new ConcurrentHashMap[Int, String]
  private val counters = new ConcurrentHashMap[String, AtomicLong]

  private def add(role: String, what: String, n: Long): Unit =
    counters.computeIfAbsent(s"$role.$what", _ => new AtomicLong).addAndGet(n)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val role = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.RoleKey)))
      .getOrElse("stream")
    e.stageIds.foreach(stageRole.put(_, role))
    add(role, "jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val role = stageRole.getOrDefault(e.stageId, "stream")
    add(role, "tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add(role, "input_bytes", m.inputMetrics.bytesRead)
      add(role, "shuffle_bytes",
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      add(role, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def get(role: String, what: String): Long =
    Option(counters.get(s"$role.$what")).map(_.get).getOrElse(0L)

  def total(what: String): Long =
    counters.asScala.collect { case (k, v) if k.endsWith("." + what) => v.get }.sum
}

object EngineListener {
  val RoleKey = "graftbench.role"
}

/** JVM and host readings from JMX and /proc. */
object Host {

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** A resident-set figure of this JVM from /proc/self/status, in MB:
    * `VmRSS` now or `VmHWM` at its peak. */
  def rssMb(key: String): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Heap and non-heap memory in use, in MB. */
  def retainedMb(): Double = {
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** (steal ticks, all ticks) summed over CPUs, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  def stealShare(before: (Long, Long), after: (Long, Long)): Double = {
    val all = after._2 - before._2
    if (all <= 0) 0.0 else (after._1 - before._1).toDouble / all
  }
}

object Stats {

  /** Quantile of `xs` at `q` in [0, 1], interpolated between the two
    * nearest ranks (as numpy's default); 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = q * (s.size - 1)
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The p95 when there are at least 200 samples; otherwise the highest
    * quantile with ten samples beyond it (the median when there are
    * fewer than 20). Returns (value, quantile used). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q =
      if (xs.size >= 200) 0.95
      else if (xs.size >= 20) math.floor(100.0 * (xs.size - 10) / xs.size) / 100.0
      else 0.5
    (quantile(xs, q), q)
  }
}
