package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.SparkEntry
import graft.api.{PTradeApi, PointServe}
import graft.domain.{MarketStore, MarketViews}

/** What one workload run produced besides its operation records: its own
  * report metrics (name → (value, unit)) and free-form notes. */
final case class Extra(metrics: Map[String, (Double, String)] = Map.empty,
                       notes: Map[String, Any] = Map.empty)

/** Inputs of a run. `fixtures` holds the input tables, `work` is the run's
  * scratch directory; the fingerprints are the committed expected outputs. */
final case class Setting(spark: SparkSession, seed: Long, seconds: Double,
                         fixtures: String,
                         storeFingerprints: Map[String, Fingerprint],
                         suiteFingerprints: Map[String, Fingerprint],
                         work: String, probe: Option[Probe]) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

object Workloads {
  val StoreTables: Seq[String] = Seq("bars", "valuation", "calendar",
    "exrights_events", "exrights_ab", "adj_factors", "fundamentals",
    "fundamentals_all", "index_constituents", "stock_metadata", "industry")

  /** The operator suite: iterative and corpus lanes with many eager jobs
    * per query — bounded shortest paths (68 jobs), BPE training and encoding,
    * the dedup recall evaluation — plus `mm_h264_px`, a compute-bound
    * control with two jobs. */
  val SuiteQueries: Seq[String] = Seq("graph_sssp", "tok_bpe_encode",
    "dedup_recall_eval", "mm_h264_px")

  /** Per-table (rows, wrapping sum of xxhash64 over all columns) of a
    * published store: order-independent, computed inside Spark in one job.
    * The check lists the partition directories in the calling JVM, so it adds no
    * listing jobs of its own. */
  def storeFingerprint(spark: SparkSession, root: String): Map[String, Fingerprint] = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toLong)
    try StoreTables.map { t =>
      val df = spark.read.parquet(s"$root/$t")
      df.agg(lit(t), count(lit(1)), sum(xxhash64(df.columns.map(col): _*)))
    }.reduce(_ union _).collect().map { r =>
      r.getString(0) -> Fingerprint(r.getLong(1), if (r.isNullAt(2)) "0" else f"${r.getLong(2)}%016x")
    }.toMap
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def files(root: String): Seq[Path] =
    Files.walk(new File(root).toPath).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Render a collected row for comparison (same canonical text as the
    * fingerprint). */
  private def line(values: Any*): String = values.map {
    case o: Option[_] => Fingerprint.render(o.orNull)
    case v => Fingerprint.render(v)
  }.mkString("|")
  private def lines(rows: Seq[Row]): Seq[String] = rows.map(r => line(r.toSeq: _*)).sorted

  private def runLabelled[A](s: Setting, label: String)(body: => A): A = {
    s.probe.foreach(_ => s.spark.sparkContext.setLocalProperty(Probe.Key, label))
    try body finally s.spark.sparkContext.setLocalProperty(Probe.Key, null)
  }

  // --------------------------------------------------------------- api_mix

  private def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Publish the store the way the batch ETL does: fixtures →
    * `MarketViews` (bars derived once: the domain layer) →
    * `MarketStore.materialize` into `root` (the sources layer). Returns the
    * store and its report metrics. */
  def publish(s: Setting, root: String): (MarketStore, Map[String, (Double, String)]) = {
    val (views, deriveS) = timedS(runLabelled(s, "ingest.derive_bars") {
      val v = MarketViews(s.spark, s.fixtures, materializeHeavy = true)
      v.bars
      v
    })
    val (store, materializeS) = timedS(
      runLabelled(s, "ingest.materialize")(MarketStore.materialize(views, root)))
    (store, Map("build_s" -> (deriveS + materializeS, "s"),
      "domain.derive_bars_s" -> (deriveS, "s"), "sources.materialize_s" -> (materializeS, "s")))
  }

  /** Setup publishes the store from the fixtures (the batch ETL: domain and
    * sources), loads the PointServe index, derives the getHistory reference
    * answers and issues one untimed round of calls.
    *
    * The timed phase is a seeded mix of four PTrade shapes over the store,
    * one call at a time, in rounds that hold each shape once — as many rounds
    * as fill the run's seconds on the reference box. Every answer is checked,
    * untimed: price, fundamentals and status against PointServe for the same
    * arguments, history against the MarketViews (derive-per-call) answer.
    * Then comes the PointServe control stream, which no Spark change should
    * move, and last the check of every store table against the committed
    * fingerprints. */
  def apiMix(s: Setting, rec: Recorder, setupDone: () => Unit): Extra = {
    val spark = s.spark
    val (store, built) = publish(s, s"${s.work}/store")
    val fs = files(store.root)
    val storeMb = fs.map(Files.size(_)).sum / 1e6
    val storeFiles = fs.count(_.toString.endsWith(".parquet")).toDouble

    val symbols = store.stockMetadata.select("symbol").collect().map(_.getString(0)).sorted.toIndexedSeq
    val calendar = store.calendar.collect().map(r => Fingerprint.render(r.get(0))).sorted.toIndexedSeq
    // A round count fixed by the run's seconds (a round takes about
    // RoundSeconds on the reference box), not by a clock: the JIT work still
    // going on in the first rounds must weigh the same in every run. Round 0
    // is the untimed warm-up.
    val rounds = math.max(1, math.round(s.seconds / RoundSeconds).toInt)
    val calls = Calls.api(s.seed, symbols, calendar, rounds = 1 + rounds)

    val heap0 = usedHeapAfterGc()
    val (serve, loadS) = timedS(runLabelled(s, "serve.load")(PointServe.load(store)))
    val residentMb = (usedHeapAfterGc() - heap0) / 1e6

    // getHistory reference answers: one MarketViews answer at the stream's
    // end date, over every symbol the stream asks about
    val live = PTradeApi(MarketViews(spark, s.fixtures))
    val historyCalls = calls.flatten.collect { case h: HistoryCall => h }
    val historyEnd = historyCalls.head.end
    val (history, refS) = timedS(runLabelled(s, "setup.history_reference")(
      live.getHistory(Calls.HistoryCount, historyCalls.map(_.symbol).distinct, historyEnd).collect())
      .groupBy(_.getString(0)).map { case (sym, rs) => sym -> lines(rs.toSeq) })
    val api = PTradeApi(store)
    def issue(r: Recorder, c: ApiCall): Unit = r.op(c.shape) { o =>
      val df: DataFrame = o.phase("construct")(c match {
        case PriceCall(sym, a, b) => api.getPrice(Seq(sym), a, b)
        case HistoryCall(sym, end) => api.getHistory(Calls.HistoryCount, Seq(sym), end)
        case FundamentalsCall(sym, d) =>
          api.getFundamentalsAsOf(Seq(sym), spark.sql(s"SELECT DATE '$d' AS qdate"))
        case StatusCall(d) => api.getStockStatus(d)
      })
      o.phase("plan")(df.queryExecution.executedPlan)
      val rows = o.phase("exec")(df.collect()).toSeq
      val expected: Seq[String] = c match {
        case PriceCall(sym, a, b) => serve.price(Seq(sym), a, b).map(p =>
          line(p.symbol, p.date, p.open, p.high, p.low, p.close, p.volume, p.money))
        case HistoryCall(sym, _) => history.getOrElse(sym, Seq.empty)
        case FundamentalsCall(sym, d) => serve.fundamentalsAsOf(Seq(sym), d).map(f =>
          line(f.symbol, f.qdate, f.endDate, f.revenue, f.roe, f.version))
        case StatusCall(d) => serve.stockStatus(d).map(st =>
          line(st.symbol, st.isHalt, st.isDelisted))
      }
      lines(rows) == expected.sorted
    }
    runLabelled(s, "setup.warm")(calls.head.foreach(issue(new Recorder(), _)))
    setupDone()

    calls.tail.foreach(_.foreach(issue(rec, _)))
    val control = serveControl(s, serve, symbols, calendar)
    rec.check("ingest") {
      val got = storeFingerprint(spark, store.root)
      StoreTables.map(t => Fingerprint.matches(t, got(t), s.storeFingerprints)).forall(identity)
    }
    Extra(control ++ built ++ Map(
      "store_mb" -> (storeMb, "MB"), "sources.store_files" -> (storeFiles, "count"),
      "serve_load_s" -> (loadS, "s"), "serve_resident_mb" -> (residentMb, "MB"),
      "setup.history_reference_s" -> (refS, "s")),
      Map("history_end_date" -> historyEnd))
  }

  /** Wall seconds of one round of the four shapes on a 4-vCPU box. */
  val RoundSeconds = 3.5

  private def usedHeapAfterGc(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()).toDouble
  }

  /** The pure-JVM control: a seeded PointServe call stream, first on one
    * thread (latency), then on one thread per core (throughput). */
  private def serveControl(s: Setting, serve: PointServe, symbols: IndexedSeq[String],
                           calendar: IndexedSeq[String]): Map[String, (Double, String)] = {
    val calls = Calls.serve(s.seed, symbols, calendar, n = 4096)
    def call(c: ApiCall): Int = c match {
      case PriceCall(sym, a, b) => serve.price(Seq(sym), a, b).size
      case FundamentalsCall(sym, d) => serve.fundamentalsAsOf(Seq(sym), d).size
      case StatusCall(d) => serve.haltedOn(d).size
      case other => sys.error(s"not a serving call: $other")
    }
    val budgetNs = 1000000000L
    calls.take(256).foreach(call) // warm the call paths
    val gc0 = Recorder.gcMillis
    val lat = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Int)]
    val t0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - t0 < budgetNs) {
      val c = calls(i % calls.size)
      val c0 = System.nanoTime()
      val n = call(c)
      lat += ((c.shape, (System.nanoTime() - c0) / 1e3, n))
      i += 1
    }
    val cores = s.cores
    val counts = new java.util.concurrent.atomic.AtomicLong()
    val t1 = System.nanoTime()
    val threads = (0 until cores).map { k =>
      new Thread(() => {
        var j = k * 97
        var n = 0L
        while (System.nanoTime() - t1 < budgetNs) { call(calls(j % calls.size)); j += 1; n += 1 }
        counts.addAndGet(n)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val qps = counts.get() / ((System.nanoTime() - t1) / 1e9)
    val all = lat.map(_._2).toSeq
    val (tail, tailPct) = Stats.tail(all)
    Map("serve_p50_us" -> (Stats.median(all), "us"), "serve_tail_us" -> (tail, "us"),
      "serve_tail_pct" -> (tailPct, "pct"), "serve_calls_per_s" -> (qps, "1/s"),
      "serve.gc_s" -> ((Recorder.gcMillis - gc0) / 1e3, "s")) ++
      Calls.ServeShapes.flatMap { sh =>
        val xs = lat.filter(_._1 == sh)
        Seq(s"serve.${sh}_p50_us" -> (Stats.median(xs.map(_._2).toSeq), "us"),
          s"serve.$sh.rows_per_call" -> (Stats.mean(xs.map(_._3.toDouble).toSeq), "count"))
      }
  }

  // -------------------------------------------------------- operator_suite

  /** A warm pass over the suite (setup), then the timed pass, both in the
    * suite's fixed order — the seed does not change this workload. Warm,
    * the walls are the per-job and per-task floor the lanes pay, not the
    * JVM's warm-up. Phase `construct` builds the DataFrame (its eager jobs
    * included), phase `exec` collects the result, which is then
    * fingerprinted (untimed) against the DuckDB-oracle fingerprint committed
    * with the benchmark. A warm-pass failure shows as the timed query's. */
  def operatorSuite(s: Setting, rec: Recorder, setupDone: () => Unit): Extra = {
    SuiteQueries.foreach { q =>
      try runLabelled(s, "setup.warm")(SparkEntry.queries(q)(s.spark, s.fixtures).collect())
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm $q failed: $e") }
    }
    setupDone()
    SuiteQueries.foreach { q =>
      rec.op(q) { o =>
        val df = o.phase("construct")(SparkEntry.queries(q)(s.spark, s.fixtures))
        val rows = o.phase("exec")(df.collect())
        Fingerprint.matches(q, Fingerprint.of(df.columns.toSeq, rows), s.suiteFingerprints)
      }
    }
    Extra()
  }
}
