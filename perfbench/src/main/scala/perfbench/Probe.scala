package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark counters accumulated for one span label. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var nonEmptyTasks = 0L
  var deserMs = 0L
  var runMs = 0L
  var taskGcMs = 0L
  var shuffleWriteBytes = 0L

  def +=(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    nonEmptyTasks += o.nonEmptyTasks; deserMs += o.deserMs; runMs += o.runMs
    taskGcMs += o.taskGcMs; shuffleWriteBytes += o.shuffleWriteBytes
    this
  }
}

object Counters {
  def sum(cs: Iterable[Counters]): Counters = cs.foldLeft(new Counters)(_ += _)
}

/** The one SparkListener a traced run registers. The harness tags every job
  * it causes with the `perfbench.span` local property (the thread-inherited
  * job property, so jobs of helper threads such as a streaming query's carry
  * it too); the listener charges each job's stages and tasks to that label.
  * Untagged jobs land under [[Probe.Untagged]]. Listener events arrive
  * asynchronously: call [[drain]] before reading. */
final class Probe extends SparkListener {
  private val byLabel = mutable.HashMap.empty[String, Counters]
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val openJobs = mutable.HashSet.empty[Int]

  private def at(label: String): Counters = byLabel.getOrElseUpdate(label, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.Key)))
      .getOrElse(Probe.Untagged)
    openJobs += e.jobId
    e.stageIds.foreach(stageLabel(_) = label)
    at(label).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageLabel.getOrElse(e.stageInfo.stageId, Probe.Untagged)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageLabel.getOrElse(e.stageId, Probe.Untagged))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.deserMs += m.executorDeserializeTime
      c.runMs += m.executorRunTime
      c.taskGcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0)
        c.nonEmptyTasks += 1
    }
  }

  /** Waits (at most `timeoutMs`) until every started job's end event has been
    * processed — task events of a job precede its end event on the bus. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(openJobs.nonEmpty) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
  }

  /** Counters per label, as accumulated so far. */
  def snapshot: Map[String, Counters] = synchronized {
    byLabel.map { case (k, v) => k -> (new Counters += v) }.toMap
  }
}

object Probe {
  val Key = "perfbench.span"
  val Untagged = "untagged"
}
