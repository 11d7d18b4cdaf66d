package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.BarBuilder

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class Tick(symbol: String, ts: Timestamp, px: Double, qty: Double)

  private def t(s: String) = Timestamp.valueOf(s)

  test("BarBuilder folds a tick stream into OHLCV bars with watermark state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val query = BarBuilder.bars(input.toDF(), windowLen = "1 hour", lateness = "0 seconds")
      .writeStream.format("memory").queryName("bars_out")
      .outputMode("append").start()
    try {
      input.addData(
        Tick("A", t("2024-01-01 09:00:01"), 10.0, 1.0),
        Tick("A", t("2024-01-01 09:10:00"), 12.0, 2.0),
        Tick("A", t("2024-01-01 09:50:00"), 8.0, 1.0),
        Tick("B", t("2024-01-01 09:30:00"), 100.0, 5.0))
      query.processAllAvailable()
      // advance the watermark past the 09:00 window so it closes
      input.addData(Tick("A", t("2024-01-01 11:00:00"), 9.0, 1.0))
      query.processAllAvailable()
      val out = spark.table("bars_out")
        .select("symbol", "open", "high", "low", "close", "volume", "n_ticks")
        .as[(String, Double, Double, Double, Double, Double, Long)]
        .collect().toSet
      assert(out.contains(("A", 10.0, 12.0, 8.0, 8.0, 4.0, 3L)))
      assert(out.contains(("B", 100.0, 100.0, 100.0, 100.0, 5.0, 1L)))
    } finally query.stop()
  }

  test("minute-grain batch/stream parity: BarBuilder('5 minutes') ≡ resampleBars at the same bucket") {
    // the intraday-frequency contract (PTrade 1m/5m): the SAME fixture
    // ticks through (a) the streaming bar builder at a 5-minute window and
    // (b) the batch resampler bucketed by ts DIV 5min must agree exactly
    // on every EMITTED window (append mode withholds bars the final
    // watermark hasn't passed — the production semantics, filtered here)
    val p = s"$sf0001/events.parquet"
    val sch = spark.read.parquet(p).schema
    val ev = graft.sources.TestData.normalizeEventTs(
      spark.readStream.schema(sch).parquet(graft.streaming.Replay.stagedDir(p)))
    val ticks = ev.select(
      concat(lit("S"), col("user_id") % 20).as("symbol"),
      col("ts"),
      ((col("event_id") * 37) % 10000).cast("double").as("px"),
      ((col("event_id") % 100) + 1).cast("double").as("qty"),
      col("event_id").as("seq"))
    val streamed = graft.streaming.Replay.toBatchMemory(
        BarBuilder.bars(ticks, "5 minutes", "601 seconds", seqCol = Some("seq")),
        "bars5m_parity")
      .select(col("symbol"), unix_micros(col("bar_start")).as("bus"),
        col("open"), col("close"), col("volume"), col("n_ticks"))
    val batchEv = graft.sources.TestData(spark, sf0001).events
    val batch = graft.ops.Aggregates.resampleBars(
        batchEv.select(
          concat(lit("S"), col("user_id") % 20).as("symbol"),
          expr("ts_ns DIV 1000").as("tus"),
          ((col("event_id") * 37) % 10000).cast("double").as("px"),
          ((col("event_id") % 100) + 1).cast("double").as("qty"),
          col("event_id").as("seq")),
        Seq(col("symbol")), (expr("tus DIV 300000000") * lit(300000000L)).as("bus"),
        Seq(col("tus"), col("seq")), col("px"), col("qty"), col("px") * col("qty"))
      .withColumnRenamed("period", "bus")
      .select(col("symbol"), col("bus"), col("open"), col("close"),
        col("volume"), col("n_rows").as("n_ticks"))
    val cutoffUs = (batchEv.agg(max(expr("ts_ns DIV 1000000"))).head.getLong(0)
      - 601000L) * 1000L
    val emitted = batch.filter(col("bus") + 300000000L <= cutoffUs)
    assert(streamed.count() > 500, "parity needs a real emitted surface")
    assert(streamed.exceptAll(emitted).isEmpty && emitted.exceptAll(streamed).isEmpty,
      "stream 5m bars must equal batch resample on emitted windows")
  }

  case class SeqTick(symbol: String, ts: Timestamp, px: Double, qty: Double, seq: Long)

  test("BarBuilder same-timestamp ticks: seqCol breaks the open/close tie deterministically") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SeqTick]
    val query = BarBuilder.bars(input.toDF(), windowLen = "1 hour",
        lateness = "0 seconds", seqCol = Some("seq"))
      .writeStream.format("memory").queryName("bars_seq_out")
      .outputMode("append").start()
    try {
      // three ticks at the SAME timestamp - order must follow seq, not luck
      input.addData(
        SeqTick("A", t("2024-01-01 09:00:00"), 50.0, 1.0, 2L),
        SeqTick("A", t("2024-01-01 09:00:00"), 10.0, 1.0, 1L),
        SeqTick("A", t("2024-01-01 09:00:00"), 30.0, 1.0, 3L))
      query.processAllAvailable()
      input.addData(SeqTick("A", t("2024-01-01 11:00:00"), 9.0, 1.0, 4L))
      query.processAllAvailable()
      val out = spark.table("bars_seq_out")
        .select("open", "close").as[(Double, Double)].collect()
      assert(out.contains((10.0, 30.0)), s"open=first-seq, close=last-seq; got ${out.toSeq}")
    } finally query.stop()
  }

  test("streaming sessionizer (custom state) matches batch sessionize on a replayed stream") {
    import graft.streaming.StreamSessionizer
    import graft.streaming.StreamSessionizer.Event
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    // batch split keeps every event at or above the watermark of its batch
    // (a row behind the watermark is dropped as late by the stateful op)
    val events = Seq(
      Event(1L, t("2024-01-01 09:00:00"), 1.0),
      Event(1L, t("2024-01-01 09:10:00"), 2.0),
      Event(2L, t("2024-01-01 09:05:00"), 5.0),
      Event(1L, t("2024-01-01 11:00:00"), 3.0), // > gap: new session
      Event(1L, t("2024-01-01 11:20:00"), 4.0),
      Event(2L, t("2024-01-01 12:00:00"), 6.0))
    val input = MemoryStream[Event]
    val query = StreamSessionizer.sessions(
        input.toDS().withWatermark("ts", "0 seconds"), gapMs)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      input.addData(events.take(4))
      query.processAllAvailable()
      input.addData(events.drop(4))
      query.processAllAvailable()
      // advance the watermark far past every open session so all close
      input.addData(Event(99L, t("2024-01-02 09:00:00"), 0.0))
      query.processAllAvailable()
      input.addData(Event(99L, t("2024-01-03 09:00:00"), 0.0))
      query.processAllAvailable()
      val streamed = spark.table("sess_out")
        .filter(col("user_id") < 99L)
        .select("user_id", "start_ms", "end_ms", "n_events", "session_value")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      // batch reference over the same rows
      val batchDf = events.toDF()
        .select(col("user_id"), (col("ts").cast("double") * 1000).cast("long").as("tms"),
          col("value"))
      val batch = graft.ops.Windows.sessionize(
          batchDf, Seq(col("user_id")), col("tms"), gapMs, Seq(col("value")))
        .groupBy("user_id", "session_id")
        .agg(min(col("tms")).as("start_ms"), max(col("tms")).as("end_ms"),
          count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
        .select("user_id", "start_ms", "end_ms", "n_events", "session_value")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    } finally query.stop()
  }

  test("incrementalRefresh upserts fresh bars over existing (last-wins)") {
    val existing = Seq(("A", t("2024-01-01 09:00:00"), 1.0), ("B", t("2024-01-01 09:00:00"), 2.0))
      .toDF("symbol", "bar_start", "close")
    val fresh = Seq(("B", t("2024-01-01 09:00:00"), 9.0))
      .toDF("symbol", "bar_start", "close")
    val out = BarBuilder.incrementalRefresh(existing, fresh)
      .select("symbol", "close").as[(String, Double)].collect().toSet
    assert(out == Set(("A", 1.0), ("B", 9.0)))
  }

  case class Doc(doc_id: Long, text: String, ts: Timestamp)

  test("file-sink replay ≡ memory-sink replay on a watermarked gate stream") {
    // The r8 default replay path writes a real parquet file sink (commit
    // log, no driver retention); this pins its equivalence to the r6-r7
    // driver-memory harness on an actual gate-shaped stream (watermark +
    // dropDuplicatesWithinWatermark), so a sink-path bug can't silently
    // shift the 6 streaming CORRECTNESS rows.
    def stream() = {
      val p = s"$sf0001/documents.parquet"
      val sch = spark.read.parquet(p).schema
      val docs = spark.readStream.schema(sch)
        .parquet(graft.streaming.Replay.stagedDir(p))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      graft.streaming.StreamDedup.dropRedelivered(docs, "text", "ts")
        .select("content_hash", "content_len")
    }
    val file = graft.streaming.Replay.toBatch(stream(), "sinkcheck_f")
      .as[(String, Long)].collect().toSeq.sorted
    val mem = graft.streaming.Replay.toBatchMemory(stream(), "sinkcheck_m")
      .as[(String, Long)].collect().toSeq.sorted
    assert(file.nonEmpty && file == mem,
      s"file-sink replay diverged: ${file.size} vs ${mem.size} rows")
  }

  test("streaming dedup drops re-delivered payloads within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = graft.streaming.StreamDedup
      .dropRedelivered(input.toDF(), "text", "ts", lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(1L, "alpha beta", t("2024-01-01 09:00:00")),
        Doc(2L, "gamma delta", t("2024-01-01 09:00:05")))
      query.processAllAvailable()
      // re-delivery of doc 1's payload (different id, same content) within
      // the watermark window: dropped
      input.addData(Doc(3L, "alpha beta", t("2024-01-01 09:01:00")))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L), s"got $ids")
      // distinct content always passes
      input.addData(Doc(4L, "epsilon zeta", t("2024-01-01 09:02:00")))
      query.processAllAvailable()
      assert(spark.table("dedup_out").count() == 3)
    } finally query.stop()
  }

  case class Ev(event_id: Long, user_id: Long, value: Double)

  test("stream-static enrichment joins the dim per batch, defaults the unmatched") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_id", "tier")
    val enriched = graft.streaming.StreamEnrich.enrich(
      input.toDF(), dim, Seq("user_id"), Map("tier" -> lit("UNKNOWN")))
    val query = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData(Ev(10L, 1L, 5.0), Ev(11L, 3L, 7.0))
      query.processAllAvailable()
      input.addData(Ev(12L, 2L, 9.0))
      query.processAllAvailable()
      val out = spark.table("enrich_out")
        .select("event_id", "tier").as[(Long, String)].collect().toSet
      // user 1 and 2 match the dim; user 3 takes the unknown-member default
      assert(out == Set((10L, "GOLD"), (11L, "UNKNOWN"), (12L, "SILVER")))
      // stateless: a stream-static join must not allocate state stores
      assert(query.lastProgress.stateOperators.isEmpty,
        s"stream-static join must be stateless: ${query.lastProgress}")
    } finally query.stop()
  }

  case class Imp(ad_id: Long, its: Timestamp, slot: String)
  case class Click(ad_id: Long, cts: Timestamp, cost: Double)

  test("stream-stream interval join: click attributes within the window only") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clicks = MemoryStream[Click]
    val joined = graft.streaming.StreamJoin.intervalJoin(
      imps.toDF(), clicks.toDF(), "ad_id", "its", "cts",
      window = "10 minutes", lateness = "5 minutes")
    val query = joined
      .select("ad_id", "slot", "cost")
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      imps.addData(
        Imp(1L, t("2024-01-01 09:00:00"), "top"),
        Imp(2L, t("2024-01-01 09:00:00"), "side"))
      clicks.addData(
        Click(1L, t("2024-01-01 09:05:00"), 0.5),  // in window → joins
        Click(2L, t("2024-01-01 09:20:00"), 0.9),  // 20 min late → no
        Click(3L, t("2024-01-01 09:01:00"), 0.7))  // no impression → no
      query.processAllAvailable()
      val rows = spark.table("attrib_out")
        .as[(Long, String, Double)].collect().toSet
      assert(rows == Set((1L, "top", 0.5)), s"got $rows")
      // a second impression for ad 2 puts the late click in ITS window
      imps.addData(Imp(2L, t("2024-01-01 09:15:00"), "footer"))
      query.processAllAvailable()
      val rows2 = spark.table("attrib_out")
        .as[(Long, String, Double)].collect().toSet
      assert(rows2 == Set((1L, "top", 0.5), (2L, "footer", 0.9)), s"got $rows2")
    } finally query.stop()
  }

  test("LEFT OUTER interval join: unmatched row emits nulls on watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clicks = MemoryStream[Click]
    val joined = graft.streaming.StreamJoin.intervalJoinLeftOuter(
      imps.toDF(), clicks.toDF(), "ad_id", "its", "cts",
      window = "10 minutes", lateness = "5 minutes")
    val query = joined
      .select("ad_id", "slot", "cost")
      .writeStream.format("memory").queryName("outer_out")
      .outputMode("append").start()
    try {
      imps.addData(
        Imp(1L, t("2024-01-01 09:00:00"), "top"),
        Imp(2L, t("2024-01-01 09:00:00"), "side"))
      clicks.addData(Click(1L, t("2024-01-01 09:05:00"), 0.5))
      query.processAllAvailable()
      // inner match emits immediately; ad 2 is unmatched but its window
      // [09:00, 09:10] is NOT yet behind the watermark → still in state
      val r1 = spark.table("outer_out")
        .as[(Long, String, Option[Double])].collect().toSet
      assert(r1 == Set((1L, "top", Some(0.5))), s"got $r1")
      // advance BOTH watermarks (global = min of the two) past 09:10 + the
      // 5-minute lateness; the no-data batch then evicts ad 2's row and
      // emits its null-extended form
      imps.addData(Imp(98L, t("2024-01-01 10:00:00"), "late"))
      clicks.addData(Click(99L, t("2024-01-01 10:00:00"), 9.9))
      query.processAllAvailable()
      val r2 = spark.table("outer_out")
        .as[(Long, String, Option[Double])].collect().toSet
      // ad 98's own window end (10:10) is AHEAD of the watermark (09:55):
      // it must still be buffered, not null-emitted
      assert(r2 == Set((1L, "top", Some(0.5)), (2L, "side", None)), s"got $r2")
    } finally query.stop()
  }

  test("FULL OUTER interval join: both expiry theorems, with their asymmetric cutoffs") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clicks = MemoryStream[Click]
    val joined = graft.streaming.StreamJoin.intervalJoinFullOuter(
      imps.toDF(), clicks.toDF(), "ad_id", "its", "cts",
      window = "10 minutes", lateness = "5 minutes")
    val query = joined
      .select("ad_id", "slot", "cost")
      .writeStream.format("memory").queryName("full_out")
      .outputMode("append").start()
    try {
      imps.addData(
        Imp(1L, t("2024-01-01 09:00:00"), "top"),   // will match
        Imp(2L, t("2024-01-01 09:00:00"), "side"))  // never matched
      clicks.addData(
        Click(1L, t("2024-01-01 09:05:00"), 0.5),   // matches imp 1
        Click(3L, t("2024-01-01 09:01:00"), 7.0))   // never matched
      query.processAllAvailable()
      val r1 = spark.table("full_out")
        .as[(Option[Long], Option[String], Option[Double])].collect().toSet
      assert(r1 == Set((Some(1L), Some("top"), Some(0.5))), s"got $r1")
      // push the watermark far past everything: imp 2 null-extends (its
      // window end 09:10 behind the watermark) AND click 3 null-extends
      // (its own ts behind the watermark — the asymmetric cutoff)
      imps.addData(Imp(98L, t("2024-01-01 10:00:00"), "late"))
      clicks.addData(Click(99L, t("2024-01-01 10:00:00"), 9.9))
      query.processAllAvailable()
      val r2 = spark.table("full_out")
        .as[(Option[Long], Option[String], Option[Double])].collect().toSet
      assert(r2 == Set(
        (Some(1L), Some("top"), Some(0.5)),
        (Some(2L), Some("side"), None),
        (Some(3L), None, Some(7.0))), s"got $r2")
    } finally query.stop()
  }

  test("streaming corpus gate: dedup + row-local signals + keep verdict") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = graft.streaming.StreamCorpusGate
      .gate(input.toDF(), "text", "ts", minTokens = 4, maxDupWordFrac = 0.5)
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(1L, "the quick brown fox jumps over the dog", t("2024-01-01 09:00:00")),
        Doc(2L, "too short", t("2024-01-01 09:00:01")),               // token floor
        Doc(3L, "spam spam spam spam spam spam", t("2024-01-01 09:00:02")), // repetition
        Doc(4L, "the quick brown fox jumps over the dog", t("2024-01-01 09:00:03"))) // dup
      query.processAllAvailable()
      val rows = spark.table("gate_out")
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      // doc 4 (re-delivered payload) never surfaces; 2 and 3 surface with
      // keep=false so a sink can route rejects; 1 is kept
      assert(rows.keySet == Set(1L, 2L, 3L), s"got $rows")
      assert(rows(1L) && !rows(2L) && !rows(3L))
      val sig = spark.table("gate_out").filter(col("doc_id") === 1L)
        .select("n_tokens", "lang_guess", "dup_word_frac")
        .as[(Long, String, Double)].head()
      assert(sig._1 == 8L && sig._2 == "en" && sig._3 == 0.125)
    } finally query.stop()
  }

  test("complete-mode running totals CONVERGE across batches (update, not append)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("k", "v")
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .writeStream.format("memory").queryName("totals_out")
      .outputMode("complete").start()
    try {
      input.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
      q.processAllAvailable()
      input.addData(("a", 4.0))
      q.processAllAvailable()
      val rows = spark.table("totals_out")
        .as[(String, Long, Double)].collect().sortBy(_._1)
      // complete mode REPLACES the table: 'a' appears once with the
      // merged running state, never as two epoch rows
      assert(rows.toSeq == Seq(("a", 3L, 7.0), ("b", 1L, 5.0)), rows.toSeq.toString)
    } finally q.stop()
  }

  test("streaming anomaly: frames carry across micro-batches, alerts hand-exact") {
    import graft.streaming.StreamAnomaly
    import graft.streaming.StreamAnomaly.Event
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = StreamAnomaly.zscores(
        input.toDS().withWatermark("ts", "0 seconds"), n = 4, k = 1.5)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    try {
      // batch 1: three flat values — no variance, null z, no alert
      input.addData(
        Event(1L, 10L, t("2024-01-01 09:00:00"), 1.0),
        Event(1L, 11L, t("2024-01-01 09:01:00"), 1.0),
        Event(1L, 12L, t("2024-01-01 09:02:00"), 1.0))
      query.processAllAvailable()
      // batch 2: the spike — its frame must include batch 1's tail
      // ([1,1,1,9]: z = 24/sqrt(192) = sqrt(3) ≈ 1.732 > 1.5 → alert)
      input.addData(Event(1L, 13L, t("2024-01-01 09:03:00"), 9.0))
      query.processAllAvailable()
      val rows = spark.table("anom_out")
        .select("event_id", "n_frame", "z", "outlier")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getBoolean(3)))
        .sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(10L, 11L, 12L, 13L))
      assert(rows.take(3).forall(r => r._3.isNaN && !r._4),
        "flat frames: null z, no alert")
      assert(rows(3)._2 == 4L, "spike frame spans both batches")
      assert(math.abs(rows(3)._3 - math.sqrt(3.0)) < 1e-12)
      assert(rows(3)._4, "z=1.73 exceeds k=1.5")
      // bounded state: a long run never grows the frame past n
      input.addData((14L to 30L).map(i =>
        Event(1L, i, t(f"2024-01-01 09:${i - 4}%02d:00"), i.toDouble)): _*)
      query.processAllAvailable()
      val frames = spark.table("anom_out").filter(col("event_id") >= 14L)
        .select("n_frame").as[Long].collect()
      assert(frames.forall(_ == 4L), "frame capped at n")
    } finally query.stop()
  }

  test("StreamCdc: tombstone resets state ACROSS micro-batches; in-batch disorder is sorted") {
    import graft.streaming.StreamCdc
    import graft.streaming.StreamCdc.Change
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val query = StreamCdc.applyCdc(input.toDS())
      .toDF().writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").start()
    try {
      // batch 1, deliberately OUT of ts order: key 1 upserts 2.0 then 1.0
      // (sorted: 1.0 first); key 2 upserts then is tombstoned
      input.addData(
        Change(1L, 20L, 2L, "upsert", 2.0),
        Change(1L, 10L, 1L, "upsert", 1.0),
        Change(2L, 10L, 3L, "upsert", 9.0),
        Change(2L, 20L, 4L, "delete", 0.0))
      query.processAllAvailable()
      val b1 = spark.table("cdc_out")
        .select("user_id", "n_ops", "n_since", "sum_since", "live")
        .as[(Long, Long, Long, Double, Boolean)].collect().toSet
      assert(b1.contains((1L, 2L, 2L, 3.0, true)))
      assert(b1.contains((2L, 2L, 0L, 0.0, false)), "tombstoned key is dead")
      // batch 2: key 1 is tombstoned then re-upserted (state must RESET
      // mid-batch, carrying n_ops across batches); key 2 resurrects
      input.addData(
        Change(1L, 30L, 5L, "delete", 0.0),
        Change(1L, 40L, 6L, "upsert", 5.0),
        Change(2L, 30L, 7L, "upsert", 7.0))
      query.processAllAvailable()
      // update-mode memory sink accumulates rows; the FINAL state per key
      // is the row with the highest n_ops
      val fin = spark.table("cdc_out")
        .select("user_id", "n_ops", "n_since", "sum_since", "last_ts_ns", "live")
        .as[(Long, Long, Long, Double, Long, Boolean)].collect()
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(fin(1L) == ((1L, 4L, 1L, 5.0, 40L, true)))
      assert(fin(2L) == ((2L, 3L, 1L, 7.0, 30L, true)), "delete is not a permanent ban")
    } finally query.stop()
  }

  test("foreachBatch upsert sink: last-wins merge across batches; batch replay converges (exactly-once)") {
    import graft.streaming.ForeachSink
    implicit val sqlCtx = spark.sqlContext
    case class Row2(symbol: String, date: java.sql.Date, px: Double)
    def d(s: String) = java.sql.Date.valueOf(s)
    val root = java.nio.file.Files.createTempDirectory("graft_feb").toString
    val path = s"$root/table"
    val input = MemoryStream[(String, java.sql.Date, Double)]
    val query = ForeachSink.upsertStream(
      input.toDF().toDF("symbol", "date", "px"), path, s"$root/chk",
      Seq("symbol", "date"), "date")
    try {
      input.addData(("A", d("2024-01-02"), 10.0), ("B", d("2024-01-02"), 20.0))
      query.processAllAvailable()
      // batch 2: corrects A's row, adds one in ANOTHER month
      input.addData(("A", d("2024-01-02"), 11.0), ("A", d("2024-02-05"), 12.0))
      query.processAllAvailable()
      def table() = spark.read.parquet(path)
        .select("symbol", "date", "px")
        .as[(String, java.sql.Date, Double)].collect().toSet
      val want = Set(("A", d("2024-01-02"), 11.0), ("B", d("2024-01-02"), 20.0),
        ("A", d("2024-02-05"), 12.0))
      assert(table() == want, table().toString)
      // at-least-once replay of batch 2 (the crash-recovery path): the
      // idempotent merge must leave the table unchanged
      ForeachSink.applyBatch(
        Seq(("A", d("2024-01-02"), 11.0), ("A", d("2024-02-05"), 12.0))
          .toDF("symbol", "date", "px"), path, Seq("symbol", "date"), "date")
      assert(table() == want, "replayed batch must converge, not duplicate")
    } finally query.stop()
  }

  test("transformWithState: ValueState carries across batches; per-batch emissions accumulate") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    graft.streaming.TwState.withRocksDb(spark) {
      val query = graft.streaming.TwState.runningCounts(
          input.toDF().toDF("user_id", "event_id"))
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      try {
        input.addData((1L, 3L), (1L, 7L), (2L, 105L))
        query.processAllAvailable()
        input.addData((1L, 200L)) // +0 checksum (200 % 100), count → 3
        query.processAllAvailable()
        val rows = spark.table("tws_out")
          .as[(Long, Long, Long)].collect().toSet
        // batch-1 emissions + batch-2 emission with CARRIED state
        assert(rows == Set((1L, 2L, 10L), (2L, 1L, 5L), (1L, 3L, 10L)), rows.toString)
      } finally query.stop()
    }
  }

  test("kill-and-resume: checkpoint restart converges to the uninterrupted run") {
    import graft.streaming.Replay
    import graft.sources.TestData
    val path = s"$sf0001/events.parquet"
    val raw = spark.read.parquet(path)
    val nsExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    }
    val mm = TestData.normalizeEventTs(raw)
      .agg(min(col("ts_ns")), max(col("ts_ns"))).head()
    val splitNs = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 3 * 2
    def transform(src: org.apache.spark.sql.DataFrame) = {
      val ev = TestData.normalizeEventTs(src)
      val ticks = ev.select(
        concat(lit("S"), col("user_id") % 20).as("symbol"),
        col("ts"),
        ((col("event_id") * 37) % 10000).cast("double").as("px"),
        ((col("event_id") % 100) + 1).cast("double").as("qty"),
        col("event_id").as("seq"))
      BarBuilder.bars(ticks, "1 hour", "601 seconds", seqCol = Some("seq"))
    }
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("symbol"), unix_micros(col("bar_start")).as("us"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("money"), col("n_ticks"))
        .collect().map(_.mkString("|")).toSet

    // uninterrupted single-run replay over the whole fixture
    val sch = raw.schema
    val oneShot = canon(Replay.toBatch(
      transform(spark.readStream.schema(sch).parquet(Replay.stagedDir(path))),
      "resume_oneshot"))

    // killed-and-resumed run over the same fixture
    val resumedDf = Replay.toBatchResumed(
      spark, path, nsExpr < lit(splitNs), transform, "resume_spec")
    val resumed = canon(resumedDf)
    assert(resumed == oneShot, "resumed run diverged from uninterrupted run")
    assert(oneShot.nonEmpty)

    // the staged chunks and the run's source/sink dirs share ONE scratch
    // root, so landing a chunk by hardlink never crosses a device
    def rootOf(p: java.nio.file.Path, depth: Int): java.nio.file.Path =
      (1 to depth).foldLeft(p)((q, _) => q.getParent).toRealPath()
    val sinkRoot = rootOf(java.nio.file.Paths.get(
      new java.net.URI(resumedDf.inputFiles.head)), 3) // <root>/<run>/out/part
    val stageRoots = Replay.stagedChunks.collect {
      case (k, (a, b)) if k.contains("#resume_spec#") => Seq(a, b)
    }.flatten.map(d => rootOf(java.nio.file.Paths.get(d), 2)) // <root>/<stage>/a
    assert(stageRoots.nonEmpty && stageRoots.forall(_ == sinkRoot),
      s"stage roots $stageRoots vs run root $sinkRoot")

    // and the kill genuinely happened mid-stream: chunk A alone emits a
    // strict non-empty subset (its watermark stops at maxA - delay)
    val aOnly = canon(Replay.toBatchResumed(
      spark, path, nsExpr < lit(splitNs),
      src => transform(src.filter(nsExpr < lit(splitNs))), "resume_aonly"))
    assert(aOnly.nonEmpty && aOnly.subsetOf(oneShot) && aOnly != oneShot,
      s"split not mid-stream: |A|=${aOnly.size} |all|=${oneShot.size}")
  }

  test("stream LSH index append: crashed attempts invisible, replays converge, ≡ monolithic build") {
    // judge r15 item 4's convergence contract, driven directly through the
    // epoch protocol: (a) a crashed append attempt (staged files, no
    // _COMMITTED marker) is invisible to every index read; (b) replaying
    // that epoch overwrites the junk and commits; (c) replaying a COMMITTED
    // epoch is a no-op (this is what makes foreachBatch's at-least-once
    // delivery exactly-once index state); (d) the epoch-built index serves
    // identically to a monolithic batch build over the same docs; (e)
    // compaction folds the epochs into the base tables, verdicts unchanged.
    import graft.dedup.Dedup
    val docs = graft.sources.TestData(spark, sf0001).documents
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_epoch").toString
    Dedup.buildLshIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", dir)
    val appendDocs = docs.filter(col("doc_id") % 3 === 1).localCheckpoint()
    val probe = docs.filter(col("doc_id") % 3 === 2).localCheckpoint()
    def verdicts(d: String): Set[String] =
      Dedup.dedupAgainstIndex(spark, d, probe, "doc_id", "text")
        .collect().map(_.mkString("|")).toSet
    val before = verdicts(dir)
    // (a) crash simulation: staged epoch files, no marker → invisible
    // (never even opened: any schema would do)
    appendDocs.limit(3).write.mode("overwrite").parquet(s"$dir/epochs/7/buckets")
    assert(verdicts(dir) == before, "uncommitted epoch junk leaked into a read")
    // (b) the replay of the crashed attempt commits
    assert(Dedup.appendEpochToLshIndex(appendDocs, "doc_id", "text", dir, 7L))
    val after = verdicts(dir)
    assert(after != before, "epoch append changed no verdict — vacuous fixture split")
    // (c) a replayed COMMITTED epoch is a no-op
    assert(!Dedup.appendEpochToLshIndex(appendDocs, "doc_id", "text", dir, 7L))
    assert(verdicts(dir) == after, "committed-epoch replay changed the index")
    // (d) ≡ monolithic build over base ∪ appended
    val refDir = java.nio.file.Files.createTempDirectory("graft_lsh_ref").toString
    Dedup.buildLshIndex(docs.filter(col("doc_id") % 3 =!= 2), "doc_id", "text", refDir)
    assert(verdicts(refDir) == after, "epoch-built index diverged from monolithic build")
    // (e) compaction folds epochs in, drops the epoch dirs, verdicts hold
    Dedup.compactLshIndex(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/epochs")))
    assert(verdicts(dir) == after, "compaction changed verdicts")
  }

  test("stream GRAPH index append: 1 epoch ≡ batch insert; epochs ≡ sequential inserts; replay no-op; compaction folds") {
    // r17 — the THIRD index family on the shared epoch protocol. Unlike
    // the PQ twin (encode is row-local, so epoch splits can't change
    // content), a graph epoch's edges depend on the index AS OF that epoch
    // — real NSW insertion-order semantics. The contracts pinned here:
    // (a) a single-epoch stream append is content-identical to the batch
    //     appendToSavedIndex (this is what lets stream_graph_append share
    //     ann_graph_append's oracle);
    // (b) multi-epoch appends equal SEQUENTIAL batch appends of the same
    //     splits; (c) committed epochs replay as no-ops; (d) compaction
    //     folds epochs into the base tables, content unchanged.
    import graft.ann.GraphAnn
    val e = graft.sources.TestData(spark, sf0001).embeddings.localCheckpoint()
    val old = e.filter(col("vec_id") % 5 =!= 4)
    val fresh = e.filter(col("vec_id") % 5 === 4)
    def frames(d: String): (Set[String], Set[String]) = {
      val idx = GraphAnn.loadIndex(spark, d)
      // edges compare as MULTISETS (src|dst|count) — duplicate edges
      // legitimately repeat across epochs, and a double-folded epoch (the
      // crash bug class EpochFuzzSpec hunts) only shows up in the counts
      (idx.edges.select("src", "dst").groupBy("src", "dst").count()
        .collect().map(_.mkString("|")).toSet,
        idx.vectors.select("cid").collect().map(_.mkString("|")).toSet)
    }
    def mkBase(): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_gr_epoch").toString
      GraphAnn.saveIndex(GraphAnn.buildIndex(old, "vec_id", "embedding",
        nLists = 16, degree = 12), d)
      d
    }
    // (a) one streamed epoch ≡ one batch insert
    val streamDir = mkBase()
    graft.streaming.StreamIndexAppend.runGraphFileStream(spark, fresh,
      "vec_id", "embedding", streamDir, nFiles = 1)
    val batchDir = mkBase()
    GraphAnn.appendToSavedIndex(batchDir, fresh, "vec_id", "embedding")
    assert(frames(streamDir) == frames(batchDir),
      "single-epoch stream append diverged from the batch insert")
    // (b) two epochs ≡ two sequential batch inserts of the same splits
    val f1 = fresh.filter(col("vec_id") % 2 === 0)
    val f2 = fresh.filter(col("vec_id") % 2 === 1)
    val epochDir = mkBase()
    assert(GraphAnn.appendEpochToSavedIndex(spark, epochDir, f1,
      "vec_id", "embedding", 1L))
    assert(GraphAnn.appendEpochToSavedIndex(spark, epochDir, f2,
      "vec_id", "embedding", 2L))
    val seqDir = mkBase()
    GraphAnn.appendToSavedIndex(seqDir, f1, "vec_id", "embedding")
    GraphAnn.appendToSavedIndex(seqDir, f2, "vec_id", "embedding")
    assert(frames(epochDir) == frames(seqDir),
      "two-epoch append diverged from sequential batch inserts")
    // insertion order genuinely matters (the contract is real, not vacuous):
    // one shot over ALL fresh differs from the two-step sequence
    assert(frames(epochDir) != frames(streamDir),
      "split vs one-shot inserts agreed — insertion-order pin is vacuous")
    // (c) a committed epoch replays as a no-op
    assert(!GraphAnn.appendEpochToSavedIndex(spark, epochDir, f2,
      "vec_id", "embedding", 2L))
    assert(frames(epochDir) == frames(seqDir), "replay changed the index")
    // (d) compaction folds the epochs, content unchanged
    GraphAnn.compactIndex(spark, epochDir)
    val fs2 = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(s"$epochDir/epochs")))
    assert(frames(epochDir) == frames(seqDir), "compaction changed content")
  }
}
