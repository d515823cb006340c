package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}

/** Contention witnesses read from the OS, never from the engine. */
object Witness {
  /** (total, steal) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val dt = to._1 - from._1
    if (dt > 0) 100.0 * (to._2 - from._2) / dt else 0.0
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val kb = try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally src.close()
      kb / 1024.0
    } catch { case _: Throwable => 0.0 }
}

/** Heap occupancy, from the JVM's own collector notifications. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong

  /** Track the heap in use after every collection from now on. */
  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, math.max(_, _))
        }, null, null)
    case _ =>
  }

  def reset(): Unit = peakAfterGc.set(0L)

  /** Most heap in use after a collection since [[reset]], in MB. */
  def peakAfterGcMb: Double = peakAfterGc.get / 1048576.0

  /** Heap still reachable, in MB: full collections until two readings
    * agree within 1 MB. One is not enough: reference processing on other
    * threads (Spark's ContextCleaner among them) frees more once a
    * collection has found its referents unreachable, and on
    * curation_ngrams the first reading held 40-50 MB that the second did
    * not.
    */
  def liveMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    Thread.sleep(300)
    var cur = collect()
    var rounds = 2
    while (math.abs(cur - prev) >= 1.0 && rounds < 6) {
      prev = cur
      Thread.sleep(300)
      cur = collect()
      rounds += 1
    }
    cur
  }
}

/** Single-thread kernel loops over a fixed sample: µs per item, the median
  * of [[Rounds]] rounds of at least [[RoundNs]] each, after [[WarmNs]] of
  * warm-up (enough for the JIT to compile a kernel the workload itself
  * never ran).
  */
object Kernels {
  val Rounds = 3
  val RoundNs = 150000000L
  val WarmNs = 400000000L
  @volatile private var sink = 0L

  def usPerItem[T](items: IndexedSeq[T])(f: T => Any): Double = {
    require(items.nonEmpty, "empty kernel sample")
    def pass(): Unit = {
      var h = 0L
      var i = 0
      while (i < items.length) { if (f(items(i)) != null) h += 1; i += 1 }
      sink += h
    }
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < WarmNs) pass()
    val rounds = (0 until Rounds).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < RoundNs) { pass(); n += items.length }
      (System.nanoTime() - t0) / 1e3 / n
    }
    Stats.median(rounds)
  }
}
