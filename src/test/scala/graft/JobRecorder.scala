package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.{GraftTestBridge, SparkContext}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

/** Records the batch jobs a context starts while installed: each job's
  * group ("" for none), start time, and whether it succeeded.
  * Streaming micro-batches are left out: they belong to no caller.
  */
final class JobRecorder(sc: SparkContext) extends SparkListener {
  import JobRecorder.Job

  private val started = new ConcurrentHashMap[Int, Job]()
  private val succeeded = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    if (!p.exists(_.getProperty("sql.streaming.queryId") != null))
      started.put(e.jobId, Job(e.jobId,
        p.flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
          .getOrElse(""), e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobResult == JobSucceeded) succeeded.add(e.jobId)

  /** The jobs started so far, once every posted event has arrived. */
  def jobs(): Seq[Job] = {
    GraftTestBridge.drainListeners(sc)
    started.values.asScala.toSeq.sortBy(_.id)
  }

  def seenAny: Boolean = !started.isEmpty

  def succeededJob(id: Int): Boolean = succeeded.contains(id)
}

object JobRecorder {
  final case class Job(id: Int, group: String, startMs: Long)

  def during[T](sc: SparkContext)(f: JobRecorder => T): T = {
    val r = new JobRecorder(sc)
    sc.addSparkListener(r)
    try f(r) finally sc.removeSparkListener(r)
  }
}
