package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wall-clock bench: one JSON line with the total, per-family and top-10
  * query seconds plus the one-off build and serving lanes.
  *
  * It measures and reports; it does not judge. Per-query regressions are
  * caught deterministically by the work budget (`docs/WORK_BUDGET.tsv`,
  * pinned by EntryAnalysisSpec), and wall-clock regressions by the
  * repository benchmark's matched parent/change A/B (`perfbench/`).
  */
object Bench {
  /** Cumulative GC milliseconds across all collectors (for charging GC to
    * the run that incurred it in the stderr diagnostics). */
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def millis(f: () => Unit): Double = {
    val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
  }

  /** Run a one-off lane; a throw prints the exception and yields
    * `fallback` (the lane's -1 sentinels) instead of vanishing. */
  private def lane[A](name: String, fallback: => A)(body: => A): A =
    try body
    catch { case t: Throwable =>
      System.err.println(s"[bench] $name lane failed: $t")
      fallback
    }

  /** (avg, p99) of latency samples; (-1, -1) when the lane produced none. */
  private def avgP99(samples: Seq[Double]): (Double, Double) =
    if (samples.isEmpty) (-1.0, -1.0)
    else {
      val sorted = samples.sorted
      (samples.sum / samples.size,
        sorted(math.min(sorted.size - 1, (sorted.size * 99) / 100)))
    }

  /** Closed-loop throughput: 16 threads issue `call(i)` round-robin for a
    * 2 s window; completed calls per second. A throw inside a worker kills
    * only that thread and would silently DEFLATE the figure, so any dead
    * thread makes the result -1 instead. */
  private def qps16(lane: String)(call: Int => Unit): Long = {
    val calls = new java.util.concurrent.atomic.AtomicLong(0L)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.nanoTime()
    val deadline = t0 + 2000000000L
    val threads = (0 until 16).map { tid =>
      new Thread(() => {
        try {
          var i = tid
          while (System.nanoTime() < deadline && !failed.get()) {
            call(i); calls.incrementAndGet(); i += 1
          }
        } catch { case t: Throwable =>
          failed.set(true)
          System.err.println(s"[bench] $lane qps16 hammer thread died: $t")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    if (failed.get()) -1L else (calls.get() / seconds(t0)).round
  }

  /** One query's measurement: an untimed warm pass that also counts the
    * rows, then two timed noop writes; the wall is the faster run (the
    * second has warm code caches). The timed action is a noop-sink write,
    * NOT count(): count() lets Catalyst prune every projected column, the
    * noop sink materializes every output row with all its columns.
    *
    * A throw in ANY pass makes the query failed (`None`): it counts in
    * `failed`, adds no wall to any total, and its exception is named on
    * stderr. */
  private[graft] def measure(spark: SparkSession, name: String,
                             query: () => DataFrame): Option[(Double, Long)] =
    try {
      val w0 = System.nanoTime()
      val rows = query().count()
      val warmSec = seconds(w0)
      val runs = (0 until 2).map { _ =>
        val g0 = gcMillis
        val t0 = System.nanoTime()
        try {
          query().write.format("noop").mode("overwrite").save()
          (seconds(t0), gcMillis - g0)
        } finally {
          spark.catalog.clearCache() // drop per-query persisted intermediates
          System.gc() // reap dead broadcasts/shuffles outside timed windows
        }
      }
      // stderr (never the stdout tail): warm-pass cost, both raw runs, and
      // the GC time each timed window absorbed
      System.err.println(f"[bench] $name%-24s warm=$warmSec%7.2fs " +
        runs.map { case (dt, gc) => f"run=$dt%7.2fs(gc=${gc}ms)" }.mkString(" "))
      Some((runs.map(_._1).min, rows))
    } catch { case t: Throwable =>
      System.err.println(s"[bench] $name failed: $t")
      None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // warm the JVM / codegen / file listing so the first timed query isn't
    // charged for session startup
    lane("warm-up", ()) { spark.read.parquet(s"$sfDir/lineitem.parquet").count(); () }
    // Charge MarketStore materialization to its OWN line instead of the warm
    // pass of whichever api_*/dq_* query happens to iterate first: the store
    // build is a real one-off ingest cost (every later read is parquet), and
    // keeping it out of the per-query numbers is what makes them comparable
    // to standalone PlanAudit runs.
    val storeSec = lane("store_build", -1.0) {
      val t0 = System.nanoTime()
      graft.domain.MarketStore.cached(spark, sfDir)
      seconds(t0)
    }
    // Same one-off treatment for the served-ANN indexes: build + persist
    // once here so the *_served queries' timed runs measure SERVING (the
    // 100 TB steady state), with the build cost on its own line.
    val idxSec = lane("index_build", -1.0) {
      val t0 = System.nanoTime()
      val e = graft.sources.TestData(spark, sfDir).embeddings
      graft.ann.Pq.cachedIndex(e, "vec_id", "embedding", sfDir,
        nLists = 16, m = 8, dsub = 8, ksub = 16, lloydIters = 0)
      graft.ann.Pq.cachedIndex(e, "vec_id", "embedding", sfDir,
        nLists = 16, m = 8, dsub = 8, ksub = 16, lloydIters = 0,
        residual = true)
      // the graph rung's served artifacts too (ann_graph_served)
      graft.ann.GraphAnn.cachedIndex(e, "vec_id", "embedding", sfDir,
        nLists = 16, degree = 12)
      seconds(t0)
    }
    // Streaming HARNESS overhead, isolated: an identity readStream →
    // file-sink replay over each streaming fixture (projected to one column
    // so sink bytes stay negligible) pays exactly the per-gate machinery —
    // query start/stop, micro-batch planning, source listing, checkpoint,
    // sink commit — with a ~zero-cost operator. The stream family's seconds
    // minus ~6× this per-fixture figure is attributable operator cost.
    val streamHarnessSec = lane("stream_harness", -1.0) {
      val t0 = System.nanoTime()
      Seq("documents.parquet" -> "doc_id", "events.parquet" -> "event_id")
        .foreach { case (f, idCol) =>
          val p = s"$sfDir/$f"
          val sch = spark.read.parquet(p).schema
          graft.streaming.Replay.toBatch(
            spark.readStream.schema(sch)
              .parquet(graft.streaming.Replay.stagedDir(p))
              .select(idCol),
            s"harness_${f.takeWhile(_ != '.')}")
            .write.format("noop").mode("overwrite").save()
        }
      seconds(t0)
    }
    // Planner floor: BASELINE.md's only query-engine numbers are the
    // prior-gen SQLite POINT-QUERY latencies (30 ms avg / 85 ms p99 /
    // 1500+ QPS). Warm per-call wall over the MATERIALIZED store on the
    // three point-query shapes a backtester issues per bar: one-symbol
    // price range, one-date fundamentals as-of, one-date status. Each call
    // is a full plan→schedule→collect round trip — the floor a user pays
    // only if they skip PointServe (serving_ms is the real serving number).
    val latencySamples: Seq[Double] = lane("planner_floor", Seq.empty[Double]) {
      import org.apache.spark.sql.functions.col
      val api = graft.api.PTradeApi(graft.domain.MarketStore.cached(spark, sfDir))
      val sym = Seq("000001.SZ")
      val oneDate = spark.sql("SELECT DATE '1996-06-03' AS qdate")
      val shapes: Seq[() => Unit] = Seq(
        () => { api.getPrice(sym, "1996-03-01", "1996-03-31").collect(); () },
        () => { api.getFundamentalsAsOf(sym, oneDate).collect(); () },
        () => { api.getStockStatus("1997-03-03").filter(col("is_halt")).collect(); () })
      shapes.foreach { f => f(); f() } // warm code/plan caches per shape
      (0 until 40).flatMap(_ => shapes.map(millis))
    }
    // Warm serving lane: the SAME three shapes answered by
    // graft.api.PointServe — the in-process index over the published store
    // artifacts that SCALE.md's "publish artifacts, serve elsewhere"
    // prescribes. Loader cost on build_sec; per-call ms on serving_ms; the
    // prior-gen baseline's 1,500+ QPS claim is graded by qps16 (PointServe
    // is immutable primitive arrays, so throughput should scale).
    val (servingSamples, servingBuildSec, servingQps) =
      lane("serving", (Seq.empty[Double], -1.0, -1L)) {
        val t0 = System.nanoTime()
        val ps = graft.api.PointServe.load(
          graft.domain.MarketStore.cached(spark, sfDir))
        val buildSec = seconds(t0)
        val sym = Seq("000001.SZ")
        val shapes: Array[() => Unit] = Array(
          () => { ps.price(sym, "1996-03-01", "1996-03-31"); () },
          () => { ps.fundamentalsAsOf(sym, "1996-06-03"); () },
          () => { ps.haltedOn("1997-03-03"); () })
        shapes.foreach { f => f(); f() } // warm
        val samples = (0 until 40).flatMap(_ => shapes.toSeq.map(millis))
        (samples, buildSec, qps16("serving")(i => shapes(i % shapes.length)()))
      }
    // Warm ANN serving lane: the PointServe discipline applied to the
    // served IVF-PQ artifacts — graft.ann.AnnServe loads them once into
    // primitive arrays; each call is a pure JVM probe + ADC scan,
    // bit-identical to Pq.topKFromIndex (PqSpec pins it). Target: ≪ the
    // planner floor a Spark-plan top-k pays per query.
    val (annSamples, annFiltered, annBuildSec, annQps) =
      lane("ann_serving", (Seq.empty[Double], Seq.empty[Double], -1.0, -1L)) {
        import org.apache.spark.sql.functions.col
        val t0 = System.nanoTime()
        val e = graft.sources.TestData(spark, sfDir).embeddings
        val idx = graft.ann.Pq.cachedIndex(e, "vec_id", "embedding", sfDir,
          nLists = 16, m = 8, dsub = 8, ksub = 16, lloydIters = 0)
        val serve = graft.ann.AnnServe.load(idx)
        val buildSec = seconds(t0)
        val qvecs = e.filter(col("vec_id") < 32)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        def call(i: Int, allowed: Option[java.util.function.LongPredicate] = None): Unit = {
          val (qid, qv) = qvecs(i % qvecs.length)
          allowed match {
            case None => serve.topK(qid, qv, 5, 4)
            case Some(p) => serve.topK(qid, qv, 5, 4, p)
          }
        }
        (0 until 4).foreach(call(_)) // warm
        val samples = (0 until 120).map(i => millis(() => call(i)))
        // the FILTERED serving shape: attribute pre-filter during the cell
        // scan — the most common production retrieval query
        val allowed = Some[java.util.function.LongPredicate]((cid: Long) => cid % 3 == 0)
        call(0, allowed) // warm
        val filtered = (0 until 40).map(i => millis(() => call(i, allowed)))
        (samples, filtered, buildSec, qps16("ann")(call(_)))
      }
    val (latAvg, latP99) = avgP99(latencySamples)
    val (servAvg, servP99) = avgP99(servingSamples)
    val (annAvg, annP99) = avgP99(annSamples)
    val annFilteredAvg = avgP99(annFiltered)._1
    // optional comma-separated filter for fast single-query iteration
    // (mirrors graft.Verify's 3rd arg)
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.filter { case (k, _) => f(k) })
    val results = selected.toSeq.map { case (name, fn) =>
      name -> measure(spark, name, () => fn(spark, sfDir))
    }
    val ok = results.collect { case (k, Some(r)) => k -> r }
    val failed = results.count(_._2.isEmpty)
    // The bench harness that parses this line keeps only the LAST 2000
    // chars of stdout, so the line stays short: 3-decimal total, 2-decimal maps (run-to-run variance is
    // far above the third decimal), EVERY family's summed seconds (no
    // family is ever silently dropped) and only the top-10 slowest queries
    // — both O(1)-sized as the query count grows. Locale.ROOT: under a
    // comma-decimal default locale "%.3f" would emit "1,234" and corrupt
    // the JSON line.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def family(name: String): String =
      if (name.startsWith("api")) "api"
      else if (name.startsWith("ann") || name.startsWith("emb")) "ann"
      else if (name.startsWith("dedup") || name.startsWith("semdedup")) "dedup"
      else if (name.startsWith("mm")) "mm"
      else if (name.startsWith("dq")) "dq"
      else if (name.startsWith("stream")) "stream"
      else if (Seq("text", "lm", "corpus", "blocklist", "pii", "decontam",
        "pack", "sample", "quantiles", "cms", "tok", "hll",
        "jsonl").exists(name.startsWith)) "corpus"
      else "core"
    val fams = ok.groupBy { case (k, _) => family(k) }
      .map { case (f, rs) => f -> rs.map(_._2._1).sum }
      .toSeq.sortBy(-_._2)
      .map { case (f, v) => "\"" + f + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val qs = ok.sortBy { case (_, (v, _)) => -v }.take(10)
      .map { case (k, (v, _)) => "\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    // failed queries contribute neither rows nor time: a failure deflates
    // nothing silently — it is surfaced via "failed" instead
    val total = ok.map(_._2._1).sum
    val okRows = ok.map(_._2._2).sum
    val rps = if (total > 0) (okRows / total).round else -1L
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","families":$fams,"queries":$qs,"store_build":${f2(storeSec)},"index_build":${f2(idxSec)},"stream_harness":${f2(streamHarnessSec)},"planner_floor_ms":{"avg":${f2(latAvg)},"p99":${f2(latP99)},"n":${latencySamples.size}},"serving_ms":{"avg":${f3(servAvg)},"p99":${f3(servP99)},"n":${servingSamples.size},"build_sec":${f2(servingBuildSec)},"qps16":$servingQps},"ann_serving_ms":{"avg":${f3(annAvg)},"p99":${f3(annP99)},"n":${annSamples.size},"filtered_avg":${f3(annFilteredAvg)},"build_sec":${f2(annBuildSec)},"qps16":$annQps},"rows_per_sec":$rps,"failed":$failed,"n_queries":${results.size},"sf":"$sfDir"}"""
    // warn on stderr (so it can't displace the metric line) before the
    // 2000-char tail could truncate it
    if (line.length > 1900)
      System.err.println(s"WARNING: bench metric line is ${line.length} chars; the parsed tail is 2000 — trim the query map")
    println(line)
    spark.stop()
  }
}
