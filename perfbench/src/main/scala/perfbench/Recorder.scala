package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One finished operation. `wallMs`, `cpuMs` ([[Recorder.cpuNanos]]) and
  * `jitMs` ([[Recorder.jitNanos]]) run from the operation's start to the end
  * of its last timed phase; the untimed output check is in none of them. */
final case class OpRecord(index: Int, kind: String, ok: Boolean,
                          error: Option[String], wallMs: Double,
                          phasesMs: Map[String, Double], gcMs: Double,
                          timed: Boolean = true, cpuMs: Double = Double.NaN,
                          jitMs: Double = Double.NaN) {
  /** Span time not covered by a phase: the harness's own share. */
  def selfMs: Double = wallMs - phasesMs.values.sum
}

/** Runs and records the operations of one workload. A traced recorder tags
  * the jobs of each phase with `label(op, phase)` (see [[Probe]]) through
  * `tag`, which the untraced recorder never calls. */
final class Recorder(tag: Option[String => Unit] = None) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]

  final class Op private[Recorder] (val index: Int) {
    private[Recorder] val phases = mutable.LinkedHashMap.empty[String, Long]
    private[Recorder] var lastEnd = 0L
    private[Recorder] var lastCpu = 0L
    private[Recorder] var lastJit = 0L

    /** Times `body` as phase `name` of this operation. */
    def phase[A](name: String)(body: => A): A = {
      tag.foreach(_(Recorder.label(index, name)))
      val t0 = System.nanoTime()
      try body
      finally {
        lastEnd = System.nanoTime()
        lastJit = Recorder.jitNanos
        lastCpu = Recorder.processCpuNanos - lastJit
        phases(name) = phases.getOrElse(name, 0L) + (lastEnd - t0)
        tag.foreach(_(null))
      }
    }
  }

  /** Runs one operation. `body` times its work through [[Op.phase]], then
    * checks the output (untimed) and returns whether it is correct. A throw
    * or a failed check marks the operation failed, and a failed operation
    * is never a latency sample. */
  def op(kind: String)(body: Op => Boolean): OpRecord = {
    val o = new Op(ops.size)
    val gc0 = Recorder.gcMillis
    val jit0 = Recorder.jitNanos
    val cpu0 = Recorder.processCpuNanos - jit0
    val t0 = System.nanoTime()
    val (ok, err) =
      try {
        if (body(o)) (true, None) else (false, Some("output check failed"))
      } catch { case NonFatal(e) => (false, Some(e.toString)) }
    val (end, cpuEnd, jitEnd) =
      if (o.lastEnd > 0) (o.lastEnd, o.lastCpu, o.lastJit)
      else (System.nanoTime(), Recorder.cpuNanos, Recorder.jitNanos)
    if (err.nonEmpty) System.err.println(s"[perfbench] op ${o.index} $kind failed: ${err.get}")
    val rec = OpRecord(o.index, kind, ok, err, (end - t0) / 1e6,
      o.phases.map { case (k, v) => k -> v / 1e6 }.toMap,
      (Recorder.gcMillis - gc0).toDouble, cpuMs = (cpuEnd - cpu0) / 1e6,
      jitMs = (jitEnd - jit0) / 1e6)
    ops += rec
    rec
  }

  /** Records an untimed operation: a setup step whose output is checked but
    * which is not a latency sample. */
  def check(kind: String)(body: => Boolean): Boolean = {
    val err =
      try { if (body) None else Some("output check failed") }
      catch { case NonFatal(e) => Some(e.toString) }
    err.foreach(e => System.err.println(s"[perfbench] $kind failed: $e"))
    ops += OpRecord(ops.size, kind, err.isEmpty, err, Double.NaN, Map.empty, 0.0, timed = false)
    err.isEmpty
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def good: Seq[OpRecord] = ops.filter(r => r.ok && r.timed).toSeq
  def walls(kind: String => Boolean = _ => true): Seq[Double] =
    good.filter(r => kind(r.kind)).map(_.wallMs)
}

object Recorder {
  def label(op: Int, phase: String): String = s"$op/$phase"

  /** CPU time of the process less its JIT compiler threads: task threads,
    * planning and GC included. Spark generates classes for every query, so
    * the compiler never goes idle. It runs beside the work, and its share,
    * about half the process's CPU, moves with timing from run to run. */
  def cpuNanos: Long = processCpuNanos - jitNanos

  def processCpuNanos: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads, read from HotSpot's internal
    * thread MBean. That needs `--add-exports
    * java.management/sun.management=ALL-UNNAMED`, and compiler threads that
    * live as long as the JVM (`-XX:-UseDynamicNumberOfCompilerThreads`);
    * perfbench/run.py sets both. Without the export it reads 0. */
  def jitNanos: Long = internalThreadCpu.fold(0L)(_().collect {
    case (name, ns) if name.contains("CompilerThread") => ns
  }.sum)

  private val internalThreadCpu: Option[() => Map[String, Long]] =
    try {
      val bean = Class.forName("sun.management.ManagementFactoryHelper")
        .getMethod("getHotspotThreadMBean").invoke(null)
      val times = Class.forName("sun.management.HotspotThreadMBean")
        .getMethod("getInternalThreadCpuTimes")
      val read = () => times.invoke(bean).asInstanceOf[java.util.Map[String, java.lang.Long]]
        .asScala.map { case (k, v) => k -> v.longValue }.toMap
      read()
      Some(read)
    } catch { case NonFatal(_) => None }

  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
