package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run records about one query, gathered from
  * Spark's public listener interfaces only. Event times are wall-clock
  * milliseconds, the clock the scheduler stamps its events with.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  // bytes of each cached RDD block; a query's share is the blocks that
  // appeared after its reset, so late removals of earlier queries' blocks
  // cannot leak into it
  private val rddBlocks = new java.util.HashMap[String, Long]()
  private var baseline = Set.empty[String]
  private var cachedBytes = 0L
  private var peakCachedBytes = 0L

  def reset(): Unit = {
    jobs.clear(); tasks.clear(); stages.clear(); execs.clear()
    synchronized {
      baseline = rddBlocks.keySet.asScala.toSet
      cachedBytes = 0L
      peakCachedBytes = 0L
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val name = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val old = Option(rddBlocks.put(name, size)).getOrElse(0L)
      if (size == 0L) rddBlocks.remove(name)
      if (!baseline(name)) {
        cachedBytes += size - old
        peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    execs.add(Exec(qe.logical.nodeName, durationNs, phases))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def taskList: Seq[SparkListenerTaskEnd] = tasks.asScala.toSeq
  def stageList: Seq[StageInfo] = stages.asScala.toSeq
  def execList: Seq[Exec] = execs.asScala.toSeq
  def peakCachedMb: Double = synchronized { peakCachedBytes.toDouble / 1048576.0 }
}

object Trace {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  /** A finished SQL execution: its command, duration and planning phases. */
  final case class Exec(command: String, durationNs: Long, phases: Map[String, (Long, Long)])
}
