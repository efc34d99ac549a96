package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call into a layer, named after the layer. Times
  * are `System.nanoTime` readings; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Task metrics summed over the jobs of one job group (one span). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var gcMs = 0L
  val runMs = ArrayBuffer[Long]()
}

/** Attributes Spark task metrics to the job group that was set when each
  * job started (the tracer sets one group per span), records every job's
  * interval and tracks the bytes held by cached RDD blocks. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val groups = new ConcurrentHashMap[String, GroupStats]()
  /** (start, end) of every finished job, epoch milliseconds. */
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private var cachedBytes = 0L
  @volatile var cachedBytesPeak = 0L

  private def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, e.time)
    val s = stats(g)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    jobIntervals.synchronized { jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(Option(stageGroup.get(e.stageId)).getOrElse(""))
      s.synchronized {
        s.tasks += 1
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.peakExecBytes = math.max(s.peakExecBytes, m.peakExecutionMemory)
        s.gcMs += m.jvmGCTime
        s.runMs += m.executorRunTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = Option(blockBytes.put(info.blockId.name, now)).map(_.longValue).getOrElse(0L)
      cachedBytes += now - before
      cachedBytesPeak = math.max(cachedBytesPeak, cachedBytes)
    }
  }
}

/** In-memory span recorder. Each span sets its own Spark job group, so
  * the [[GroupListener]] attributes every job to the innermost open span;
  * when the span closes, the enclosing span's group is restored. With
  * `enabled = false` a span is a plain call. Spans are kept in memory and
  * written once, at the end of the run. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0

  private def groupOf(id: Int) = s"span-$id"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setJobGroup(groupOf(id), name)
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack.headOption match {
          case Some((p, pname, _)) => sc.setJobGroup(groupOf(p), pname)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Finished spans, ordered by id, and each span's task metrics. */
  def finish(): (Seq[Span], Map[Int, GroupStats]) = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    val byId = spans.sortBy(_.id).toSeq
    val stats = byId.flatMap(s => Option(listener.groups.get(groupOf(s.id))).map(s.id -> _)).toMap
    (byId, stats)
  }

  /** Job intervals converted to this tracer's nanoTime clock. */
  def jobIntervalsNs: Seq[(Long, Long)] = listener.jobIntervals.synchronized {
    listener.jobIntervals.toSeq.map { case (a, b) =>
      (nano0 + (a - epochMs0) * 1000000L, nano0 + (b - epochMs0) * 1000000L)
    }
  }
}
