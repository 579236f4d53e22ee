package graft.tools

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ColumnBridge
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs, completed stages, shuffle bytes and task run
  * time that driver code launches, overall or per job group — the one
  * job listener behind [[ProfileQuery]], [[graft.BpeBench]] and the
  * specs' job budgets and job-group windows.
  *
  * Reads are exact, not timed: [[jobs]] and [[counts]] first drain the
  * listener bus, and Spark posts a job's end before the action that ran
  * it returns, so every job the caller has finished is counted.
  *
  * {{{
  * val jc = JobCounter(spark)
  * try work() finally jc.close()
  * jc.counts().jobs
  * }}}
  */
final class JobCounter private (spark: SparkSession) extends SparkListener with AutoCloseable {
  import JobCounter._

  private val byId = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.job.description").getOrElse(
      e.stageInfos.lastOption.map(_.name.takeWhile(_ != '+').trim).getOrElse("?"))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    byId.put(e.jobId, Job(e.jobId, prop("spark.jobGroup.id"), site, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byId.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { id =>
      val m = e.stageInfo.taskMetrics
      byId.computeIfPresent(id, (_, j) => j.copy(
        stages = j.stages + 1,
        shuffleBytes = j.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        taskRunMs = j.taskRunMs + m.executorRunTime))
    }

  /** Every job seen since attach (or [[reset]]), by id. */
  def jobs: Seq[Job] = {
    ColumnBridge.waitForListeners(spark.sparkContext, DrainTimeoutMs)
    byId.values.asScala.toSeq.sortBy(_.id)
  }

  /** Totals over every job seen. */
  def counts(): Counts = total(jobs)

  /** Totals over the jobs of one job group. */
  def counts(group: String): Counts = total(jobs.filter(_.group.contains(group)))

  /** Forget every job seen so far. */
  def reset(): Unit = {
    ColumnBridge.waitForListeners(spark.sparkContext, DrainTimeoutMs)
    byId.clear()
    stageJob.clear()
  }

  /** Stop counting; what was counted stays readable. */
  def close(): Unit = {
    ColumnBridge.waitForListeners(spark.sparkContext, DrainTimeoutMs)
    spark.sparkContext.removeSparkListener(this)
  }

  private def total(js: Seq[Job]): Counts =
    Counts(js.size, js.map(_.stages).sum, js.map(_.shuffleBytes).sum, js.map(_.taskRunMs).sum)
}

object JobCounter {
  private val DrainTimeoutMs = 60000L

  /** One job: its group, its description (or the call site of its last
    * stage), start and end event times in ms (`endMs` is -1 while it
    * runs) and what its completed stages did. */
  final case class Job(id: Int, group: Option[String], site: String, startMs: Long,
      endMs: Long = -1L, stages: Int = 0, shuffleBytes: Long = 0L, taskRunMs: Long = 0L)

  final case class Counts(jobs: Int, stages: Int, shuffleBytes: Long, taskRunMs: Long)

  /** Attach a counter to `spark`'s context; [[JobCounter.close]] detaches it. */
  def apply(spark: SparkSession): JobCounter = {
    val jc = new JobCounter(spark)
    spark.sparkContext.addSparkListener(jc)
    jc
  }
}
