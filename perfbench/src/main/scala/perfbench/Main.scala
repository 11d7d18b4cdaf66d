package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (perfbench/run.py drives it).
  *
  *  - `run --workload W --seed N --seconds S --trace 0|1 --fixtures DIR
  *    --work DIR --store-fingerprints FILE --fingerprints FILE`:
  *    one workload run; prints one `PERFBENCH {json}` line with the outcome,
  *    the benchmark metrics (end-to-end untraced, per-layer traced), the
  *    workload's report and the environment.
  *  - `store-fingerprints --fixtures DIR --work DIR --out FILE`: publishes
  *    the market store under DIR and writes its per-table fingerprints.
  *  - `oracle-sql --out FILE`: dumps the suite's DuckDB oracle SQL as JSON.
  */
object Main {
  val WorkloadNames: Seq[String] = Seq("api_mix", "operator_suite")

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def readFingerprints(path: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split("\t")
        name -> Fingerprint(rows.toLong, hash)
      }.toMap

  def writeFingerprints(path: String, fps: Map[String, Fingerprint]): Unit =
    Files.write(Paths.get(path), fps.toSeq.sortBy(_._1)
      .map { case (k, f) => s"$k\t${f.rows}\t${f.hash}" }.asJava, StandardCharsets.UTF_8)

  private def session(): SparkSession =
    graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString, "perfbench")

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(opts(args.toSeq.tail))
    case Some("store-fingerprints") =>
      val o = opts(args.toSeq.tail)
      val spark = session()
      val store = graft.domain.MarketStore.materialize(
        graft.domain.MarketViews(spark, o("fixtures"), materializeHeavy = true), s"${o("work")}/store")
      writeFingerprints(o("out"), Workloads.storeFingerprint(spark, store.root))
      spark.stop()
    case Some("oracle-sql") =>
      val o = opts(args.toSeq.tail)
      Files.write(Paths.get(o("out")), Json(Workloads.SuiteQueries
        .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap).getBytes(StandardCharsets.UTF_8))
    case _ =>
      System.err.println("usage: perfbench.Main run|store-fingerprints|oracle-sql --key value ...")
      sys.exit(2)
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    require(WorkloadNames.contains(workload), s"unknown workload $workload")
    val trace = o.getOrElse("trace", "0") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val probe = if (trace) Some(new Probe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val rec = new Recorder(probe.map(_ =>
      (label: String) => spark.sparkContext.setLocalProperty(Probe.Key, label)))
    val setting = Setting(spark, o("seed").toLong, o("seconds").toDouble,
      o("fixtures"),
      readFingerprints(o("store-fingerprints")), readFingerprints(o("fingerprints")),
      o("work"), probe)
    var setupS = Double.NaN
    val setupDone = () => setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val extra =
      if (workload == "api_mix") Workloads.apiMix(setting, rec, setupDone)
      else Workloads.operatorSuite(setting, rec, setupDone)
    probe.foreach(_.drain())
    val snap = probe.map(_.snapshot).getOrElse(Map.empty)
    val e2e = Metrics.endToEnd(rec, setupS)
    val layers: Metrics.Named = if (trace) Metrics.layers(rec, snap, setting.cores) else Map.empty
    val report = Metrics.report(workload, rec, e2e, extra, snap, setting.cores, trace)
    val out = Map(
      "correct" -> (rec.failed == 0 && rec.attempted > 0),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> Metrics.asJson(if (trace) layers else e2e),
      "end_to_end" -> Metrics.asJson(e2e),
      "report" -> Metrics.asJson(report + ("setup.session_s" -> (sessionS, "s"))),
      "ops" -> rec.ops.map(r => Map("kind" -> r.kind, "ok" -> r.ok, "wall_ms" -> r.wallMs,
        "cpu_ms" -> r.cpuMs, "jit_ms" -> r.jitMs,
        "phases_ms" -> r.phasesMs, "error" -> r.error, "timed" -> r.timed)),
      "notes" -> extra.notes,
      "env" -> environment(spark, o, workload, trace))
    println("PERFBENCH " + Json(out))
    spark.stop()
  }

  private def environment(spark: SparkSession, o: Map[String, String], workload: String,
                          trace: Boolean): Map[String, Any] = {
    val confKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.ansi.enabled")
    Map(
      "workload" -> workload, "seed" -> o("seed"), "seconds" -> o("seconds"), "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "SPARK_GRAFT_CPUS" -> sys.env.get("SPARK_GRAFT_CPUS"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java_version" -> sys.props("java.version"),
      "java_vm" -> sys.props("java.vm.name"),
      "spark_version" -> spark.version,
      "fixtures" -> o("fixtures"),
      "spark_conf" -> confKeys.map(k => k -> spark.conf.getOption(k)).toMap,
      "graft_env" -> sys.env.filter(_._1.startsWith("GRAFT_")))
  }
}
