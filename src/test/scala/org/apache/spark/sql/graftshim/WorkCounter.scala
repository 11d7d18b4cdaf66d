package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** The deterministic work one unit of Spark execution costs: jobs,
  * completed stages, shuffle records written, input records read. */
final case class Work(jobs: Long, stages: Long, shuffleRecords: Long,
                      inputRecords: Long) {
  def columns: Seq[Long] = Seq(jobs, stages, shuffleRecords, inputRecords)
}

object Work {
  val ColumnNames: Seq[String] =
    Seq("jobs", "stages", "shuffle_records", "input_records")
}

/** Test-side [[Work]] counter over everything a context runs between
  * [[reset]] and [[read]], streaming micro-batch threads included. It
  * lives under `org.apache.spark` for one call: both ends drain the
  * asynchronous listener bus, so no event of the measured work is still in
  * flight when it is read (or leaks into the next measurement). */
final class WorkCounter(sc: SparkContext) extends SparkListener {
  @volatile private var jobs, stages, shuffleRecords, inputRecords = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (info.failureReason.isEmpty) {
      stages += 1
      Option(info.taskMetrics).foreach { m =>
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def reset(): Unit = {
    sc.listenerBus.waitUntilEmpty()
    jobs = 0; stages = 0; shuffleRecords = 0; inputRecords = 0
  }

  def read(): Work = {
    sc.listenerBus.waitUntilEmpty()
    Work(jobs, stages, shuffleRecords, inputRecords)
  }
}
