package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Process-level and engine-level measurements. */
object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU of this JVM, all threads, user plus system, in nanoseconds. */
  def cpuNanos(): Long = os.getProcessCpuTime

  /** CPU of the JIT compiler threads so far, in nanoseconds. The launcher
    * turns off dynamic compiler threads, so these threads live as long as
    * the JVM and /proc keeps their whole count.
    */
  def jitNanos(): Long = {
    val s = Files.list(Paths.get("/proc/self/task"))
    try s.iterator().asScala.map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.resolve("stat")), "UTF-8")
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.contains("CompilerThre")) 0L
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L // 100 clock ticks per second
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
    finally s.close()
  }

  /** Process CPU without JIT compilation: the work the program does. */
  def workNanos(): Long = cpuNanos() - jitNanos()

  /** Milliseconds since the JVM started. */
  def uptimeMs(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  private def statusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Peak resident set of this JVM so far, in MB. */
  def rssPeakMb(): Double = statusKb("VmHWM") / 1024.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Start a new peak for every heap pool. */
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Peak used MB, since the last reset, of the heap pools that hold what
    * outlives a young collection: G1's old and survivor spaces, humongous
    * objects included. Eden is left out: it fills to its size between
    * collections whatever the program keeps, and with the fixed heap that
    * size sits at G1's cap.
    */
  def heapPeakMb(): Double =
    heapPools.filterNot(_.getName.contains("Eden")).map(_.getPeakUsage.getUsed).sum / 1024.0 / 1024.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest of p90, p95, p99, p99.9 with at least ten samples beyond
    * it (p50 when there are too few samples for any of them).
    */
  def tailQuantile(n: Int): Double =
    Seq(0.999, 0.99, 0.95, 0.9).find(q => n * (1 - q) >= 10 - 1e-9).getOrElse(0.5)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dirFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toLong
      finally s.close()
    }

  /** Progress of batches that read data, in batch order. */
  def dataProgress(q: StreamingQuery): Vector[StreamingQueryProgress] =
    q.recentProgress.toVector.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.last).toVector.sortBy(_.batchId)

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Wall-clock time the batch was committed: trigger start plus the whole
    * trigger's duration.
    */
  def commitMs(p: StreamingQueryProgress): Long = startMs(p) + phase(p, "triggerExecution").toLong
}

/** Task-level totals from the Spark listener bus. */
final class TaskTotals extends SparkListener {
  val cpuNanos = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNanos.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }
  def snapshot(): Vector[Long] =
    Vector(cpuNanos.get, shuffleWriteBytes.get, spillBytes.get, gcMs.get)
}
