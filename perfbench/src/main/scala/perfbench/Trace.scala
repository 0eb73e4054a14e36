package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code: a call into a graft
  * module, or a pass / wave around several of them. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
                      runId: Int)

/** In-memory span buffer. Spans are recorded only while `enabled`; the
  * benchmark writes them out when it ends. */
final class Spans(runId: Int) {
  @volatile var enabled = false
  private val next = new AtomicLong(1)
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val done: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  /** The innermost open span of this thread (0 when none). */
  def current: Long = open.get.headOption.getOrElse(0L)

  /** Runs `body` as span `name`, a child of `under` when given (for work
    * another thread runs on this span's behalf), else of `current`. */
  def apply[T](name: String, under: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val id = next.getAndIncrement()
    val parent = if (under >= 0) under else current
    open.set(id :: open.get)
    val start = System.currentTimeMillis()
    try body
    finally {
      open.set(open.get.tail)
      val s = Span(id, parent, name, start, System.currentTimeMillis(), runId)
      done.synchronized(done += s)
    }
  }

  def all: Seq[Span] = done.synchronized(done.toList)
}

/** Peak live heap, from GC notifications: the sum of every heap pool's
  * usage right after each full collection, maximised while `armed`. Young
  * collections are skipped — what they leave includes old-generation
  * garbage not yet marked, so it tracks allocation, not live data. */
final class HeapWatch {
  @volatile var armed = false
  @volatile private var peak = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1048576.0
}

/** Per-stage aggregate of the task metrics Spark reports. */
final class StageAgg(val stageId: Int, val attempt: Int) {
  var submitMs = 0L
  var completeMs = 0L
  var numTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleWriteNs = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillDisk = 0L
  var peakExec = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** Spark's public listener APIs, registered only in a traced run:
  * jobs, stages and task metrics (SparkListener), planning phases
  * (QueryExecutionListener) and micro-batch durations
  * (StreamingQueryListener). */
final class SparkTrace(spark: SparkSession) {
  val stages: mutable.Map[(Int, Int), StageAgg] = mutable.Map.empty
  @volatile var jobs = 0L
  val planMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  val batchDurations: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submitMs = i.submissionTime.getOrElse(0L)
      s.completeMs = i.completionTime.getOrElse(0L)
      s.numTasks = i.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId, e.stageAttemptId)
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillDisk += m.diskBytesSpilled
        s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.taskMs += e.taskInfo.duration
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      planMs.synchronized(planMs += ms)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (e.progress.numInputRows > 0 && d.containsKey("addBatch"))
        batchDurations.synchronized(
          batchDurations += ((d.get("triggerExecution").longValue, d.get("addBatch").longValue)))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Removes the listeners once the events already posted are delivered. */
  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until the counts settle. */
  private def drain(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.currentTimeMillis() + 3000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      val n = synchronized(stages.values.map(_.taskMs.size.toLong).sum + jobs)
      if (n == last) stable += 1 else { stable = 0; last = n }
      Thread.sleep(50)
    }
  }
}
