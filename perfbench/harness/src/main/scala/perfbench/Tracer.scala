package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Everything the traced run learns from Spark, seen from outside the
  * program: each job's interval and SQL execution id, each task's counters,
  * and each SQL execution's physical plan (used only to name the job's
  * sink, then dropped). Kept in memory and written out once at the end. */
final class Tracer extends SparkListener {
  private final class JobRec(val id: Int, val start: Long, val execId: Long) {
    var end: Long = -1L
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private val plans = mutable.HashMap[Long, String]()
  private val tasks = mutable.ArrayBuffer[Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, exec)
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m == null || i == null) return
    val duration = i.finishTime - i.launchTime
    val gettingResult =
      if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
    val schedDelay = math.max(0L, duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    synchronized {
      tasks += Array(stageToJob.getOrElse(e.stageId, -1).toLong,
        i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, schedDelay, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.outputMetrics.recordsWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(plans(s.executionId) = s.physicalPlanDescription)
    case _ =>
  }

  /** Jobs as `[id, start, end, executionId, label]`; `label` comes from
    * `classify(plan)` for SQL jobs and is "rdd" for jobs outside any SQL
    * execution. */
  def jobRows(classify: String => String): Seq[Seq[Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      val label =
        if (j.execId < 0) "rdd" else plans.get(j.execId).map(classify).getOrElse("other")
      Seq(j.id, j.start, j.end, j.execId, label)
    }
  }

  /** Tasks as `[job, launch, finish, run_ms, cpu_ns, gc_ms, sched_ms,
    * shuffle_read_b, shuffle_write_b, input_b, spill_b, records_written]`. */
  def taskRows: Seq[Array[Long]] = synchronized(tasks.toSeq)
}
