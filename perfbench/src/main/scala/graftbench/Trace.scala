package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark task counters summed over the jobs of one job group. */
final class Counters {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var jobs = 0
  var failedTasks = 0

  def add(o: Counters): Counters = {
    cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; bytesWritten += o.bytesWritten
    jobs += o.jobs; failedTasks += o.failedTasks
    this
  }
}

/** Attributes every Spark job to the job group it ran under (the empty
 *  group when none is set), and sums its tasks' counters per group. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()

  private def of(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = of(g)
    c.synchronized(c.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageId, ""))
    c.synchronized {
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Counters per group since the last reset, once every event posted so
   *  far has been delivered. */
  def drain(spark: SparkSession): Map[String, Counters] = {
    BenchBus.drain(spark.sparkContext)
    groups.asScala.map { case (g, c) => g -> c.synchronized(new Counters().add(c)) }.toMap
  }

  def reset(spark: SparkSession): Unit = {
    BenchBus.drain(spark.sparkContext)
    groups.clear()
    stageGroup.clear()
  }
}

/** Old-generation occupancy after GC, peak since the last reset. */
final class HeapWatch {
  private val peak = new AtomicLong(0L)
  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Collects garbage, then restarts the peak at the old generation's
   *  occupancy, so every op is measured from the same live set. */
  def reset(): Unit = {
    System.gc()
    peak.set(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).map(_.getUsage.getUsed).sum)
  }

  def peakMb: Double = peak.get / 1048576.0
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** One layer call inside a traced op. */
final case class Span(layer: String, fn: String, wallS: Double, gcS: Double, rows: Long)

/**
 * Times the benchmark's calls into the library's layers. Each call runs
 * under its own job group, `layer/function`, so the listener can charge
 * the Spark work it causes to it; the call materializes its output and
 * returns the row count, so work never leaks into the next span.
 */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def span(layer: String, fn: String)(body: => Long): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$layer/$fn", s"$layer: $fn", interruptOnCancel = false)
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    try {
      val rows = body
      spans += Span(layer, fn, (System.nanoTime() - t0) / 1e9, Jvm.gcSeconds - gc0, rows)
    } finally sc.clearJobGroup()
  }
}
