package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span task-side counters, filled by [[SpanListener]]. */
final class SpanCounters {
  var stages = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** (launch, finish) of every task, epoch ms. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** stageId → task durations (ms) and stage wall (ms). */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWall = mutable.Map.empty[Int, Long]
}

/** Attributes jobs, stages and tasks to the job group the benchmark sets
  * around each public call. Work outside any benchmark group is ignored.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, SpanCounters]()

  def take(group: String): SpanCounters = Option(counters.remove(group)).getOrElse(new SpanCounters)

  private def acc(g: String): SpanCounters = counters.computeIfAbsent(g, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    val c = acc(g)
    c.synchronized {
      val info = e.taskInfo
      c.taskIntervals += ((info.launchTime, info.finishTime))
      c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val g = stageGroup.get(s.stageId)
    if (g == null) return
    val c = acc(g)
    c.synchronized {
      c.stages += 1
      c.stageWall(s.stageId) = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a).getOrElse(0L)
    }
  }
}

/** One finished span with its layer counters. */
final case class Span(
    name: String,
    parent: String,
    startMs: Long,
    endMs: Long,
    wallS: Double,
    driverS: Double,
    taskS: Double,
    stages: Int,
    shuffleMb: Double,
    spillMb: Double,
    gcS: Double,
    skew: Double)

/** Times each public call. With `traced`, also sets a job group around the
  * call, attributes its Spark work through [[SpanListener]], and keeps the
  * span for the JSON-lines trace; untraced, it only reads the wall clock.
  * After every call, outside its wall time, a full collection samples the
  * live old generation ([[OldGenPeak]]), so each call starts on a clean heap.
  */
final class Tracer(sc: SparkContext, traced: Boolean, val root: String) {
  private val listener: SpanListener =
    if (traced) { val l = new SpanListener; sc.addSparkListener(l); l } else null
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Summed wall seconds per span name. */
  val wall = mutable.LinkedHashMap.empty[String, Double]
  /** Seconds spent sampling the heap between calls (not part of any call). */
  var samplingS = 0.0
  /** Wall seconds of the last call. */
  var lastWallS = 0.0

  def apply[T](name: String, sampleHeap: Boolean = true)(body: => T): T = {
    if (traced) sc.setJobGroup(name, name, interruptOnCancel = false)
    val gc0 = Tracer.gcSeconds()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wallS = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      val gcS = Tracer.gcSeconds() - gc0
      wall(name) = wall.getOrElse(name, 0.0) + wallS
      lastWallS = wallS
      if (sampleHeap) {
        val s0 = System.nanoTime()
        OldGenPeak.sample()
        samplingS += (System.nanoTime() - s0) / 1e9
      }
      if (traced) {
        sc.clearJobGroup()
        org.apache.spark.BenchListenerBus.drain(sc)
        spans += Tracer.span(name, root, start, end, wallS, gcS, listener.take(name))
      }
    }
  }
}

object Tracer {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Length of the union of [lo, hi) intervals clipped to [from, to). */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    intervals.map { case (a, b) => (a.max(from), b.min(to)) }.filter(t => t._2 > t._1).sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curHi) { total += curHi - curLo; curLo = a; curHi = b }
        else curHi = curHi.max(b)
    }
    total + (curHi - curLo)
  }

  def span(name: String, parent: String, start: Long, end: Long, wallS: Double, gcS: Double, c: SpanCounters): Span = {
    val busyMs = covered(c.taskIntervals.toSeq, start, end)
    val skew =
      if (c.stageWall.isEmpty) 0.0
      else {
        val longest = c.stageWall.maxBy(_._2)._1
        val ds = c.stageTasks.getOrElse(longest, mutable.ArrayBuffer.empty[Long]).sorted
        if (ds.isEmpty) 0.0
        else {
          val med = if (ds.size % 2 == 1) ds(ds.size / 2).toDouble else (ds(ds.size / 2 - 1) + ds(ds.size / 2)) / 2.0
          ds.last / math.max(med, 1.0)
        }
      }
    Span(name, parent, start, end, wallS, math.max(0.0, wallS - busyMs / 1000.0), c.taskMs / 1000.0,
      c.stages, c.shuffleBytes / 1e6, c.spillBytes / 1e6, gcS, skew)
  }
}

/** Old-generation occupancy after each full collection; the high-water mark
  * is what the workload kept live, not how big the pre-touched heap is.
  * Minor collections are ignored: their "after" figure includes promoted
  * garbage and moves with collection timing.
  */
object OldGenPeak {
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (info.getGcAction.contains("major"))
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
                if (pool.contains("Old Gen") || pool.contains("Tenured")) record(u.getUsed)
              }
          }
        }, null, null)
      case _ =>
    }

  private def record(used: Long): Unit = { peak.accumulateAndGet(used, math.max(_, _)); () }

  /** Full collection, then record the old generation's live bytes. */
  def sample(): Unit = {
    System.gc()
    oldPools.foreach(p => Option(p.getCollectionUsage).foreach(u => record(u.getUsed)))
  }

  def peakMb(): Double = peak.get / 1e6
}
