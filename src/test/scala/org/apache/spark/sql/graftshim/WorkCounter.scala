package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The deterministic work one unit of Spark execution costs: jobs,
  * completed stages, shuffle records written, rows read from sources. */
final case class Work(jobs: Long, stages: Long, shuffleRecords: Long,
                      inputRecords: Long) {
  def columns: Seq[Long] = Seq(jobs, stages, shuffleRecords, inputRecords)
}

object Work {
  val ColumnNames: Seq[String] =
    Seq("jobs", "stages", "shuffle_records", "input_records")
}

/** Test-side [[Work]] counter over everything a session runs between
  * [[reset]] and [[read]], streaming micro-batch threads included. Both
  * ends drain the asynchronous listener bus ([[ListenerBus.drain]]), so no
  * event of the measured work is still in flight when it is read (or leaks
  * into the next measurement).
  *
  * Input records are the "number of output rows" of the source scans
  * (files and DataSource V2 tables) of the SQL executions started in the
  * window, read from the session's SQL status store (final plan graph, AQE
  * updates included), which the classic session's shared state holds. A
  * task's `inputMetrics.recordsRead` would also count every read of a
  * cached or checkpointed block, so a frame checkpointed once and read each
  * round would be charged each round. */
final class WorkCounter(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  @volatile private var jobs, stages, shuffleRecords = 0L
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (info.failureReason.isEmpty) {
      stages += 1
      Option(info.taskMetrics).foreach { m =>
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.add(s.executionId)
    case _ =>
  }

  /** Rows the source scans of one execution produced. A file scan is the
    * node that reports "number of files read" (`Scan parquet …`), a
    * DataSource V2 scan is named after its exec node; an RDD scan of a
    * checkpoint or an in-memory scan of a cached frame is neither. Sum
    * metrics are rendered with grouping commas. */
  private def scannedRows(executionId: Long): Long = {
    val store = spark.asInstanceOf[ClassicSession].sharedState.statusStore
    val values = store.executionMetrics(executionId)
    store.planGraph(executionId).allNodes
      .filter(n => n.metrics.exists(_.name == "number of files read") ||
        Seq("BatchScan", "MicroBatchScan", "ContinuousScan").exists(n.name.startsWith))
      .flatMap(_.metrics.filter(_.name == "number of output rows"))
      .map(_.accumulatorId).distinct
      .flatMap(values.get).map(_.filter(_.isDigit).toLong).sum
  }

  def reset(): Unit = {
    ListenerBus.drain(sc)
    jobs = 0; stages = 0; shuffleRecords = 0; executions.clear()
  }

  def read(): Work = {
    ListenerBus.drain(sc)
    Work(jobs, stages, shuffleRecords,
      executions.asScala.toSeq.distinct.map(scannedRows).sum)
  }
}

/** Blocks until the listener bus has delivered every event posted so far,
  * so a test listener has seen every job of an action that returned. It
  * lives under `org.apache.spark` for this one call: the context's
  * listener bus is package-private. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
