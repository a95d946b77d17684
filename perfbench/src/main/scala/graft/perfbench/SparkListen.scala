package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task-level facts from Spark's public listener API, keyed by the job
  * group the benchmark sets around each timed action.
  */
final class TaskLog extends SparkListener {
  final case class Task(group: String, durationMs: Long, runMs: Long, gcMs: Long,
                        shuffleWriteB: Long, spillB: Long, inputB: Long)

  private val stageGroup = mutable.HashMap[Int, String]()
  private val ended = mutable.HashSet[Int]()
  val tasks = mutable.ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g.isDefined && m != null)
      tasks += Task(g.get, e.taskInfo.duration, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead)
  }

  /** Block until the listener has seen every job of `group` end (events
    * arrive asynchronously, after the action returns).
    */
  def await(sc: SparkContext, group: String): Unit = {
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30000000000L
    while (synchronized(!ids.forall(ended.contains)) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  def of(groupPrefix: String): Seq[Task] = synchronized(tasks.filter(_.group.startsWith(groupPrefix)).toSeq)
}
