package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._

/** One finished task, as the listener saw it. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, shuffleWriteBytes: Long, outputBytes: Long,
    failed: Boolean) {
  def durationMs: Long = finishMs - launchMs
}

/** One finished job. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])

/** Records tasks and jobs between `mark()` and `take()`. Register once per
  * session with `sparkContext.addSparkListener`.
  */
final class TaskListener extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stages) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, Nil))
    jobs.add(JobRec(e.jobId, start, e.time, stages))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks.add(TaskRec(e.stageId, info.launchTime, info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      info.failed || info.killed))
  }

  /** Forgets everything recorded so far. */
  def mark(sc: SparkContext): Unit = {
    ListenerBusDrain(sc)
    tasks.clear()
    jobs.clear()
  }

  /** Everything recorded since `mark`, once the bus has delivered it. */
  def take(sc: SparkContext): (Seq[TaskRec], Seq[JobRec]) = {
    ListenerBusDrain(sc)
    (tasks.asScala.toSeq, jobs.asScala.toSeq.sortBy(_.id))
  }
}

/** Highest heap occupancy right after a garbage collection, from the JVM's
  * GC notifications, while armed.
  */
object HeapSampler {
  @volatile private var armed = false
  @volatile private var peakBytes = 0L
  private var installed = false

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (after > peakBytes) peakBytes = after
      }
  }

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = synchronized {
    if (!installed) {
      heapPools
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ => ()
      }
      installed = true
    }
  }

  def arm(): Unit = armed = true
  def disarm(): Unit = armed = false
  def peakMb: Double = peakBytes / 1048576.0

  /** Total collection time of all collectors so far. */
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
