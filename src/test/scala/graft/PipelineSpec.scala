package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sources.TestData

/** LLM-pipeline operators: dedup recall, ANN sanity, multimodal plumbing —
  * exercised on the sf0.001 fixtures. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = TestData(spark, sf0001).documents
  private lazy val embs = TestData(spark, sf0001).embeddings

  test("exact dedup groups identical texts and planted dups survive minhash") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5, 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, "doc_id", "text", 3, 4, 4, 0.5, 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH pairs must be verified-exact pairs")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall $recall too low (${lsh.size}/${exact.size})")
    }
  }

  test("md5KernelSignatures ≡ expression-formulation signatures, kernel runs once per row") {
    // Edge shapes: separator runs (empty words filtered), duplicate
    // shingles (multiset min ≡ set min), exactly-n words, non-ASCII
    // multi-byte text, and the fixture corpus itself.
    val edge = Seq(
      (1L, "a b c d e a b c"),
      (2L, "a  b   c"), // empty words from the separator run are filtered
      (3L, "x y z"),    // exactly n words → one shingle
      (4L, "héllo wörld ünïcode δοκιμή παράδειγμα"),
      (5L, "t t t t t t t t t")) // one distinct shingle, many duplicates
      .toDF("doc_id", "text")
    for (frame <- Seq(edge, docs.select(col("doc_id"), col("text")))) {
      val viaExpr = Dedup.minHashSignatures(
        Dedup.wordShingles(frame, "doc_id", "text", 3), 16, Dedup.Md5Hash)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val viaKernel = Dedup.md5KernelSignatures(frame, "doc_id", "text", 3, 16)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(viaKernel == viaExpr,
        s"kernel signatures diverge from the expression formulation")
    }
    // the _sigs alias is referenced 16 times — CollapseProject must NOT
    // inline the kernel into every element_at consumer (16× the md5 work).
    // Plan inspected over the parquet-backed fixture: a local Seq constant-
    // folds to a LocalTableScan and the Project never materializes.
    val plan = Dedup.md5KernelSignatures(docs, "doc_id", "text", 3, 16)
      .queryExecution.executedPlan.toString
    val evals = "(?i)minhashmd5".r.findAllIn(plan).size
    assert(evals == 1, s"kernel must appear exactly once in the plan, found $evals:\n$plan")
  }

  test("ngramJoin kernel ≡ HOF transform+concat_ws, byte-for-byte") {
    // optimization r19: the kernel replaces the dedup family's hottest
    // interpreted expression. Edge shapes: separator runs, exactly-n,
    // multi-byte text, duplicates; n = 3 and 8 (the span width).
    import graft.functions.CorpusKernels
    val frames = Seq(
      Seq((1L, "a b c d e a b c"), (2L, "a  b   c"), (3L, "x y z"),
        (4L, "héllo wörld ünïcode δοκιμή παράδειγμα x y z"),
        (5L, "t t t t t t t t t")).toDF("doc_id", "text"),
      docs.select(col("doc_id"), col("text")))
    for (frame <- frames; n <- Seq(3, 8)) {
      val withWords = frame.select(col("doc_id"),
        graft.functions.TextFns.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= n)
      val ws = col("ws")
      val viaHof = withWords.select(col("doc_id"),
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*))
          .as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val viaKernel = withWords.select(col("doc_id"),
        CorpusKernels.ngramJoin(ws, n).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(viaKernel == viaHof, s"ngramJoin diverges from the HOF at n=$n")
    }
  }

  test("sortedPairs kernel ≡ flatten-transform pairExpr over array_sort") {
    import graft.functions.CorpusKernels
    // the HOF form the kernel replaces, verbatim from Dedup.pairExpr
    def pairExpr(sortedIds: org.apache.spark.sql.Column) =
      flatten(transform(sortedIds, (x, i) =>
        transform(slice(sortedIds, i + 2, size(sortedIds)),
          y => struct(x.as("doc_a"), y.as("doc_b")))))
    // unsorted input (kernel sorts), minimal pair, duplicate ids
    val df = Seq((1L, Seq(5L, 1L, 9L, 3L)), (2L, Seq(2L, 7L)),
      (3L, Seq(4L, 4L, 4L))).toDF("b", "ds")
    val viaHof = df.select(col("b"), pairExpr(array_sort(col("ds"))).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toSeq).toMap
    val viaKernel = df.select(col("b"), CorpusKernels.sortedPairs(col("ds")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toSeq).toMap
    assert(viaKernel == viaHof, "sortedPairs diverges from pairExpr(array_sort)")
    // and on the corpus-derived shingle buckets (string keys group them)
    val sh = Dedup.wordShingles(docs, "doc_id", "text", 3)
      .groupBy("shingle").agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    val hofPairs = sh.select(explode(pairExpr(array_sort(col("ds")))).as("p"))
      .select("p.doc_a", "p.doc_b").as[(Long, Long)].collect().sorted.toSeq
    val kerPairs = sh.select(explode(CorpusKernels.sortedPairs(col("ds"))).as("p"))
      .select("p.doc_a", "p.doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(kerPairs == hofPairs)
  }

  test("sortedPairs kernel: past 46341 ids a named bound, not an Int overflow") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.LongType
    val ids = new GenericArrayData(Array.tabulate[Any](46342)(_.toLong))
    val e = intercept[IllegalArgumentException](
      new graft.functions.SortedPairsKernel(LongType).apply(ids))
    assert(e.getMessage.contains("46342 ids"), e.getMessage)
  }

  test("wordShingles: per-doc duplicate shingles collapse, cross-doc copies stay") {
    // (An array_distinct row-local reformulation was MEASURED SLOWER than
    // the distinct() exchange at sf0.1 — ArrayDistinct on string arrays is
    // interpreted per row — and rejected; OPTIMIZATION_r18.md. This pins
    // the semantics either formulation must satisfy.)
    val d = Seq((1L, "a b c a b c a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.wordShingles(d, "doc_id", "text", 3)
      .as[(Long, String)].collect().toSeq
    assert(got.size == got.toSet.size, "shingle rows must be distinct")
    assert(got.toSet == Set((1L, "a b c"), (1L, "b c a"), (1L, "c a b"),
      (2L, "a b c"), (2L, "b c d")))
  }

  test("ngramContainment: catches the asymmetric embedding Jaccard misses") {
    // doc 2 (3 shingles) sits wholly inside doc 1 (18 shingles):
    // jaccard = 3/18 ≈ 0.17 — invisible at the 0.5 gate — while
    // containment = 3/min(18,3) = 1.0
    val tiny = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "a b c d e"),
      (3L, "z0 z1 z2 z3 z4 z5 z6 z7")).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccard(tiny, "doc_id", "text", 3, 0.5, 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val con = Dedup.ngramContainment(tiny, "doc_id", "text", 3, 0.9, 100)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
    assert(!jac.contains((1L, 2L)), "size-skewed pair must be sub-Jaccard")
    assert(con.toSeq === Seq((1L, 2L, 1.0)),
      s"containment must flag the embedded doc: ${con.toSeq}")
  }

  test("editDistancePairs: hand-checked distances, blocking, and the block cap") {
    val tiny = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delto"),   // same block, dist 1 (a→o)
      (3L, "alpha beta entirely different words here"), // same block, far head
      (4L, "omega psi chi")).toDF("doc_id", "text")     // different block
    val got = Dedup.editDistancePairs(tiny, "doc_id", "text",
        headWords = 4, blockWords = 2, maxDist = 3, maxBlock = 50)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 1L)), s"got $got")
    // cap: a block of maxBlock+1 docs generates NO pairs
    val flood = (0 until 4).map(i => (10L + i, s"same same tail$i")).toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(flood, "doc_id", "text",
      headWords = 3, blockWords = 2, maxDist = 99, maxBlock = 3).count() === 0L)
  }

  test("incremental LSH dedup ≡ monolithic pairs restricted to the batch; index appends") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_inc").toString
    val old = docs.filter(col("doc_id") % 5 =!= 4)
    val nw = docs.filter(col("doc_id") % 5 === 4)
    Dedup.buildLshIndex(old, "doc_id", "text", dir)
    val got = Dedup.dedupAgainstIndex(spark, dir, nw, "doc_id", "text")
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    // monolithic reference: full-corpus Md5 LSH pairs, drop rule applied
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", 3, 4, 4, 0.5, 100,
        Dedup.Md5Hash)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val isNew = (d: Long) => d % 5 == 4
    val want = got.keySet.map { d =>
      d -> pairs.exists { case (a, b) =>
        (b == d) || (a == d && !isNew(b))
      }
    }.toMap
    assert(got == want, s"diff: ${got.toSet.diff(want.toSet)}")
    assert(got.values.exists(identity), "some batch dup must exist in the fixture")
    // append the kept docs, then an exact copy of a kept doc must drop
    val kept = nw.join(got.filter(!_._2).keys.toSeq.toDF("doc_id"), "doc_id")
    Dedup.appendToLshIndex(kept, "doc_id", "text", dir)
    val keptId = got.collectFirst { case (d, false) => d }.get
    val copy = docs.filter(col("doc_id") === keptId)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val v2 = Dedup.dedupAgainstIndex(spark, dir, copy, "doc_id", "text")
      .select("is_dup").as[Boolean].head()
    assert(v2, "an exact copy of an appended doc must flag as dup")
  }

  test("dupSpans: shared span caught at ANY alignment, counts exact, short docs keep") {
    // A and B share the same 4-token span at DIFFERENT positions (the
    // alignment case dedupSegments' disjoint chunks would miss); C is
    // clean; D is too short for any span.
    val d = Seq(
      (1L, "the quick brown fox runs far away today"),     // span at pos 0
      (2L, "yesterday morning the quick brown fox slept"), // span at pos 2
      (3L, "completely different words in this one here"),
      (4L, "too short")
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpans(d, "doc_id", "text", w = 4, minDocs = 2, maxDupPct = 20)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // doc1: 8 words -> 5 spans; only "the quick brown fox" is shared
    assert(r(0) == (1L, 5L, 1L, false))  // 1/5 = 20% not < 20% -> drops
    assert(r(1) == (2L, 4L, 1L, false))  // 1/4 = 25% -> drops
    assert(r(2) == (3L, 4L, 0L, true))
    assert(r(3) == (4L, 0L, 0L, true))   // span-less doc always keeps
  }

  test("stripDupSpans: excises the shared span at any alignment, keeps unique content") {
    val d = Seq(
      (1L, "UNIQUE1 the quick brown fox UNIQUE2"),      // span at pos 1
      (2L, "the quick brown fox TAIL1 TAIL2 TAIL3"),    // span at pos 0
      (3L, "totally different words here")               // untouched
    ).toDF("doc_id", "text")
    val r = Dedup.stripDupSpans(d, "doc_id", "text", w = 4, minDocs = 2)
      .as[(Long, Long, Long, String)].collect().map(x => x._1 -> x).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // doc1: tokens 1..4 covered -> keeps UNIQUE1 UNIQUE2
    assert(r(1L) == ((1L, 6L, 2L, h("UNIQUE1 UNIQUE2"))), r(1L).toString)
    // doc2: tokens 0..3 covered -> keeps the tail
    assert(r(2L) == ((2L, 7L, 3L, h("TAIL1 TAIL2 TAIL3"))))
    // doc3: nothing duplicated -> byte-identical
    assert(r(3L) == ((3L, 4L, 4L, h("totally different words here"))))
    // a doc that IS the shared span excises to empty (md5(""))
    val full = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val fr = Dedup.stripDupSpans(full, "doc_id", "text", w = 4, minDocs = 2)
      .select("n_kept", "cleaned_hash").as[(Long, String)].collect()
    assert(fr.forall(_ == ((0L, h("")))), fr.toSeq.toString)
  }

  test("dupSpans: within-doc repetition alone is NOT duplication (minDocs is doc frequency)") {
    val d = Seq(
      (1L, "a b c d a b c d a b c d"), // the span repeats, but only here
      (2L, "e f g h i j k l")
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpans(d, "doc_id", "text", w = 4, minDocs = 2, maxDupPct = 20)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(r.forall(_._3 == 0L), s"no span occurs in 2 distinct docs: ${r.toSeq}")
    assert(r.forall(_._4), "both docs keep")
  }

  test("simhash distance 0 for identical docs, small for near-dups") {
    val two = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
                  (3L, "totally different words here now")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(two, "doc_id", "text", maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("Md5Hash family: same dedup semantics as XxHash, just replayable lanes") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5, 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, "doc_id", "text", 3, 4, 4, 0.5, 100,
        family = Dedup.Md5Hash)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "md5-lane LSH pairs must be verified-exact pairs")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.5, s"md5-lane recall ${lsh.size}/${exact.size}")
    val two = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val pair = Dedup.simHashPairs(two, "doc_id", "text", maxHamming = 0,
        family = Dedup.Md5Hash)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pair == Set((1L, 2L)))
  }

  test("simHashPairs plan has no join at all (grouped pair generation)") {
    val plan = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 6)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"simhash candidate generation must not self-join the corpus:\n$plan")
  }

  test("resolveClusters propagates the min label across a chain; keepCanonical drops the rest") {
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (100L, 200L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels(10L) == 10L && labels(20L) == 10L && labels(30L) == 10L && labels(40L) == 10L)
    assert(labels(100L) == 100L && labels(200L) == 100L)
    val docs = Seq(10L, 20L, 30L, 40L, 100L, 200L, 999L).toDF("doc_id")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs).as[Long].collect().toSet
    assert(kept == Set(10L, 100L, 999L))
  }

  test("resolveClusters fails loudly when the iteration cap cuts propagation short") {
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.resolveClusters(chain, maxIterations = 2).collect()
    }
    // pointer-halving converges a diameter-299 chain in O(log d) rounds,
    // comfortably under the default cap of 20
    val labels = Dedup.resolveClusters(chain).as[(Long, Long)].collect()
    assert(labels.length == 300 && labels.forall(_._2 == 1L))
  }

  test("cosine of a vector with itself is 1; ANN ranks are 1..k") {
    val self = embs.limit(1).select(round(Ann.cosine(col("embedding"), col("embedding")), 9))
      .as[Double].head()
    assert(self == 1.0)
    val topk = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    val ranks = topk.groupBy("query_id").agg(collect_set("rank")).collect()
    assert(ranks.forall(_.getSeq[Int](1).toSet == Set(1, 2, 3, 4, 5)))
  }

  test("native VecDotFloat is bit-identical to the higher-order-function fold") {
    val pairs = embs.as("a").crossJoin(embs.as("b").limit(5))
      .select(Ann.dot(col("a.embedding"), col("b.embedding")).as("fast"),
        Ann.dotFold(col("a.embedding"), col("b.embedding")).as("fold"))
    assert(pairs.filter(col("fast") =!= col("fold")).count() == 0)
  }

  test("ivfTopK recall vs brute force is high on the probed cells") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(embs, queries, "vec_id", "embedding", 5,
        nLists = 8, nProbe = 4, lloydIters = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall too low (nProbe=4 of 8 lists)")
    // and it is deterministic
    val again = Ann.ivfTopK(embs, queries, "vec_id", "embedding", 5,
        nLists = 8, nProbe = 4, lloydIters = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == again)
  }

  test("lshNearDupPairs emits only verified exact pairs (subset of brute force)") {
    val exact = Ann.nearDupPairs(embs.withColumn("one", lit(1)),
        "vec_id", "embedding", "one", 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshNearDupPairs(embs, "vec_id", "embedding",
        dims = 64, bits = 4, threshold = 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty, "low-bits LSH must find some near-dups on this fixture")
    assert(lsh.subsetOf(exact), "LSH-blocked pairs must be exact-cosine verified")
  }

  test("semanticDedup: scaled copies drop, originals survive, cap disarms") {
    // one-hot originals (pairwise cosine 0) + scaled copies (cosine exactly
    // 1 with their original, and identical cell assignment — cosine to
    // every centroid is scale-invariant)
    val base = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i) 1.0f else 0.0f)) }
    val copies = (0 until 3).map { i =>
      (10L + i, Array.tabulate(8)(d => if (d == i) 2.0f else 0.0f)) }
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val r = Ann.semanticDedup(df, "vec_id", "embedding", nLists = 2,
        threshold = 0.99)
      .as[(Long, Boolean)].collect().toMap
    assert(r.size == 9)
    assert((0 until 6).forall(i => r(i.toLong)), "originals must survive")
    assert((0 until 3).forall(i => !r(10L + i)), "scaled copies must drop")
    // stop-cell cap: cells above maxCell are kept whole, not deduped
    val capped = Ann.semanticDedup(df, "vec_id", "embedding", nLists = 2,
      threshold = 0.99, maxCell = 1)
    assert(capped.as[(Long, Boolean)].collect().forall(_._2),
      "over-cap cells must pass through undeduped")
  }

  test("lshTopK returns verified-cosine neighbors from the query's bucket") {
    val out = Ann.lshTopK(embs, embs.limit(20), "vec_id", "embedding", 3, dims = 64, bits = 6)
    // bucketed search may miss, but whatever it returns must be well-formed
    val rows = out.collect()
    assert(rows.forall(r => r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 3))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.000001))
  }

  test("aHash: brightness-shift invariant, constant image all-zero, copies collide") {
    def ppm(id: Long, w: Int, h: Int, px: (Int, Int) => Int): Multimodal.PpmImage = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + w * h * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      var p = header.length
      for (y <- 0 until h; x <- 0 until w; _ <- 0 until 3) {
        out(p) = px(x, y).toByte; p += 1
      }
      Multimodal.PpmImage(id, out)
    }
    val base = (x: Int, y: Int) => (x * 13 + y * 29) % 200
    val imgs = Seq(
      ppm(1L, 16, 16, base),
      ppm(2L, 16, 16, (x, y) => base(x, y) + 40), // +40 brightness
      ppm(3L, 16, 16, (_, _) => 77),              // constant
      ppm(4L, 16, 16, base)                       // exact copy of 1
    ).toDS()
    val h = Multimodal.aHashPpm(imgs).collect().map(a => a.id -> a).toMap
    // mean shifts with the pixels, so the bit pattern is unchanged
    assert(h(1L).hash_lo == h(2L).hash_lo && h(1L).hash_hi == h(2L).hash_hi,
      "aHash must be invariant to a uniform brightness shift")
    assert(h(3L).n_set == 0L && h(3L).hash_lo == 0L && h(3L).hash_hi == 0L,
      "no cell of a constant image strictly outshines the mean")
    assert(h(1L) == h(4L).copy(id = 1L), "identical images collide")
    assert(h(1L).n_set > 0L && h(1L).n_set < 64L, "non-trivial bit pattern")
  }

  test("dHash: invariant under NON-LINEAR monotone contrast where aHash flips") {
    def ppm(id: Long, w: Int, h: Int, px: (Int, Int) => Int): Multimodal.PpmImage = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + w * h * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      var p = header.length
      for (y <- 0 until h; x <- 0 until w; _ <- 0 until 3) {
        out(p) = px(x, y).toByte; p += 1
      }
      Multimodal.PpmImage(id, out)
    }
    // values in 0..15 so squaring stays in-byte and strictly monotone;
    // mid-values near the mean are where aHash's global threshold flips
    val base = (x: Int, y: Int) => (x * 3 + y * 5) % 16
    val imgs = Seq(
      ppm(1L, 16, 16, base),
      ppm(2L, 16, 16, (x, y) => { val v = base(x, y); v * v })).toDS()
    val dh = Multimodal.dHashPpm(imgs).collect().map(a => a.id -> a).toMap
    assert(dh(1L).hash_lo == dh(2L).hash_lo && dh(1L).hash_hi == dh(2L).hash_hi,
      "adjacent-cell ORDER survives any strictly monotone tone map")
    val ah = Multimodal.aHashPpm(imgs).collect().map(a => a.id -> a).toMap
    assert(ah(1L).hash_lo != ah(2L).hash_lo || ah(1L).hash_hi != ah(2L).hash_hi,
      "the global-mean threshold should flip under squaring (else the test image is degenerate)")
  }

  test("multimodal decode plumbing: schema, determinism, per-byte features") {
    val media = Multimodal.attachBinary(docs.limit(10), "doc_id", "text")
    assert(media.schema("media").dataType.typeName == "binary")
    val rows = media.select(col("id"), col("media"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.decodeFeatures(rows)(spark).collect()
    assert(feats.length == 10)
    assert(feats.forall(f => f.n_bytes > 0 && f.brightness > 0))
    val again = Multimodal.decodeFeatures(rows)(spark).collect()
    assert(feats.map(f => (f.id, f.fingerprint)).toSet == again.map(f => (f.id, f.fingerprint)).toSet)
  }

  test("PPM decoder round-trips the synthetic encoder and parses real headers") {
    val ids = spark.range(1, 21).as[Long]
    val feats = Multimodal.decodePpm(Multimodal.syntheticPpm(ids)).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.width == (4 + f.id % 5).toInt && f.height == (3 + f.id % 4).toInt)
      assert(f.n_pixels == f.width.toLong * f.height)
      // spot-check mean_b against the generation formula: mean over y of (id + y) % 256
      val expB = (0 until f.height).map(y => (f.id + y) % 256).sum.toDouble / f.height
      assert(math.abs(f.mean_b - expB) < 1e-12, s"id=${f.id} mean_b")
    }
    // a header with comments and multi-whitespace still parses
    val withComment = "P6\n# a comment\n2 1\n# another\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
      Array[Byte](1, 2, 3, 2, 3, 4)
    val one = Multimodal.decodePpm(
      Seq(Multimodal.PpmImage(99L, withComment)).toDS()).collect()
    assert(one.length == 1 && one.head.width == 2 && one.head.height == 1)
    assert(one.head.mean_r == 1.5 && one.head.mean_g == 2.5 && one.head.mean_b == 3.5)
    // malformed payloads (bad magic, truncated body) are dropped, not crashed
    val bad = Seq(
      Multimodal.PpmImage(1L, "P5\n2 1\n255\nxxxxxx".getBytes),
      Multimodal.PpmImage(2L, "P6\n2 1\n255\nxy".getBytes),
      Multimodal.PpmImage(3L, "P6\nnot a number\n255\n".getBytes)).toDS()
    assert(Multimodal.decodePpm(bad).collect().isEmpty)
  }

  test("BMP codec: BGR padded rows, both orientations, forged headers drop") {
    import graft.multimodal.Bmp
    val ids = spark.range(1, 22).as[Long]
    val feats = Bmp.decodeBmp(Bmp.syntheticBmp(ids)).collect()
    assert(feats.length == 21)
    feats.foreach { f =>
      assert(f.width == (6 + f.id % 7).toInt && f.height == (3 + f.id % 6).toInt)
      assert(f.top_down == (f.id % 3 == 0), s"id=${f.id} orientation flag")
      assert(f.n_pixels == f.width.toLong * f.height)
      // the mean must NOT depend on storage orientation: replay the
      // generation formula (logical coordinates) for mean_b
      val expB = (0 until f.height).map(y => (f.id + y) % 256).sum.toDouble / f.height
      assert(math.abs(f.mean_b - expB) < 1e-12, s"id=${f.id} mean_b")
    }
    // hand-built 1×1 white BMP, bottom-up: row is 3 bytes + 1 pad byte
    val tiny = new Array[Byte](54 + 4)
    tiny(0) = 'B'; tiny(1) = 'M'
    tiny(10) = 54; tiny(14) = 40; tiny(18) = 1; tiny(22) = 1
    tiny(26) = 1; tiny(28) = 24
    tiny(54) = 0xff.toByte; tiny(55) = 0xff.toByte; tiny(56) = 0xff.toByte
    val one = Bmp.decodeBmp(Seq(Bmp.BmpImage(7L, tiny)).toDS()).collect()
    assert(one.length == 1 && one.head.mean_r == 255.0 && !one.head.top_down)
    // adversarial rows all DROP: claimed dims past the payload, 8-bpp,
    // RLE compression, pixel offset past the buffer, truncation
    def forge(mut: Array[Byte] => Unit): Bmp.BmpImage = {
      val b = tiny.clone(); mut(b); Bmp.BmpImage(1L, b)
    }
    val bad = Seq(
      forge(b => b(18) = 100), // width 100, payload 4 bytes
      forge(b => b(28) = 8), // 8-bpp
      forge(b => b(30) = 1), // BI_RLE8
      forge(b => b(10) = 0x7f), // pixel offset past buffer
      Bmp.BmpImage(5L, tiny.take(20)), // truncated header
      forge { b => b(18) = 0xff.toByte; b(19) = 0xff.toByte
        b(20) = 0x7f; b(22) = 0x7f } // dimension bomb
    ).toDS()
    assert(Bmp.decodeBmp(bad).collect().isEmpty)
  }

  test("TIFF codec: both endians, multi-strip, PackBits round trip, forgeries drop") {
    import graft.multimodal.Tiff
    val ids = spark.range(1, 22).as[Long]
    val feats = Tiff.decodeTiff(Tiff.syntheticTiff(ids)).collect()
    assert(feats.length == 21)
    feats.foreach { f =>
      assert(f.width == (5 + f.id % 8).toInt && f.height == (4 + f.id % 5).toInt)
      assert(f.big_endian == (f.id % 2 == 0) && f.packbits == (f.id % 3 == 0))
      assert(f.n_strips == (f.height + 2) / 3)
      // endianness/compression must not leak into pixel values: replay
      // the generation formula for mean_b
      val expB = (0 until f.height).map(y => (f.id + y) % 256).sum.toDouble / f.height
      assert(math.abs(f.mean_b - expB) < 1e-12, s"id=${f.id} mean_b")
    }

    // PackBits round trip on arbitrary byte runs (real mixed run/literal
    // streams) + the expansion cap refuses an over-claiming stream
    val probe = Array.tabulate[Byte](300)(i =>
      if (i % 17 < 9) (i % 5).toByte else 42.toByte)
    val packed = Tiff.packBits(probe)
    assert(Tiff.unpackBits(packed, 0, packed.length, 300).exists(_.sameElements(probe)))
    assert(Tiff.unpackBits(packed, 0, packed.length, 100).isEmpty) // cap bites
    // repeat-run bomb: 0x81 0xAA claims 128 output bytes, expect only 4
    assert(Tiff.unpackBits(Array(0x81.toByte, 0xAA.toByte), 0, 2, 4).isEmpty)

    // adversarial rows all DROP
    // id=1: little-endian AND uncompressed (id%3 != 0), so the compression
    // forge below really flips 1 -> 5 (id=3 would already have 0x05 as the
    // PackBits low byte and the forge would be a no-op)
    val good = Tiff.encodeOne(1L)
    def forge(mut: Array[Byte] => Unit): Tiff.TiffImage = {
      val b = good.clone(); mut(b); Tiff.TiffImage(1L, b)
    }
    val ifd = ((good(4) & 0xff) | ((good(5) & 0xff) << 8) |
      ((good(6) & 0xff) << 16) | ((good(7) & 0xff) << 24))
    val bad = Seq(
      forge(b => b(2) = 43), // wrong version magic
      forge(b => b(4) = 0x7f), // IFD offset past the buffer
      Tiff.TiffImage(5L, good.take(6)), // truncated header
      // width entry (tag 256 = first) value -> dimension bomb
      forge { b => b(ifd + 2 + 8) = 0xff.toByte; b(ifd + 2 + 9) = 0xff.toByte
        b(ifd + 2 + 10) = 0x7f },
      // compression entry (tag 259 = 4th) -> LZW (unsupported baseline ext)
      forge(b => b(ifd + 2 + 3 * 12 + 8) = 5)
    ).toDS()
    assert(Tiff.decodeTiff(bad).collect().isEmpty)
  }

  test("H264 metadata: emulation-prevention round trip, SPS crop math, forgeries drop") {
    import graft.multimodal.H264Meta
    // property: strip(add(x)) == x on 00-heavy payloads, and the encoded
    // form never contains a start-code-emulating 00 00 0x (x ≤ 2) pattern
    (0 until 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val raw = Array.fill(200)((rnd.nextInt(5) - 1).toByte)
      val enc = H264Meta.addEmulationPrevention(raw)
      assert(H264Meta.stripEmulationPrevention(enc).sameElements(raw), s"seed $seed")
      (0 until enc.length - 2).foreach { i =>
        assert(!(enc(i) == 0 && enc(i + 1) == 0 && (enc(i + 2) & 0xff) <= 2),
          s"seed $seed: emulation pattern survived at $i")
      }
    }
    val ids = spark.range(1, 22).as[Long]
    val feats = H264Meta.decodeH264(H264Meta.syntheticH264(ids)).collect()
    assert(feats.length == 21)
    feats.foreach { f =>
      assert(f.profile_idc == 66 && f.level_idc == 30)
      assert(f.width == (1 + f.id % 4).toInt * 16 - 2 * (f.id % 3).toInt,
        s"id=${f.id} crop math")
      assert(f.height == (1 + f.id % 3).toInt * 16 - 2 * (f.id % 2).toInt)
      assert(f.n_idr == 1 + f.id % 3 && f.n_nonidr == f.id % 5)
      assert(f.n_nal == 2 + f.n_idr + f.n_nonidr)
    }
    // forgeries drop: truncation, PPS-first stream, exp-Golomb garbage SPS
    val good = H264Meta.encodeOne(5L)
    val notSps = good.clone(); notSps(4) = ((3 << 5) | 8).toByte
    val garbage = good.clone() // poison the exp-Golomb region with zeros
    (5 until 12).foreach(i => garbage(i) = 0)
    val bad = Seq(
      H264Meta.H264Clip(1L, good.take(6)),
      H264Meta.H264Clip(2L, notSps),
      H264Meta.H264Clip(3L, Array[Byte](1, 2, 3, 4)),
      H264Meta.H264Clip(4L, garbage.take(13))).toDS()
    assert(H264Meta.decodeH264(bad).collect().isEmpty)
  }

  test("MP4 metadata: box walk, largesize, fixed-point dims, forgeries drop") {
    import graft.multimodal.Mp4Meta
    val ids = spark.range(1, 22).as[Long]
    val feats = Mp4Meta.decodeMp4(Mp4Meta.syntheticMp4(ids)).collect()
    assert(feats.length == 21)
    feats.foreach { f =>
      assert(f.n_tracks == (1 + f.id % 2).toInt)
      assert(f.width == 16 * (1 + f.id % 4).toInt, s"id=${f.id} 16.16 width")
      assert(f.height == 16 * (1 + f.id % 3).toInt)
      assert(f.timescale == 1000L * (1 + f.id % 3))
      assert(f.duration_ms ==
        500L * (1 + f.id % 7) * 1000L / (1000L * (1 + f.id % 3)))
      assert(f.n_boxes == 5L + f.n_tracks)
    }
    // both mvhd versions and the largesize escape are really exercised
    assert(feats.exists(_.id % 2 == 0) && feats.exists(_.id % 2 == 1))
    assert(feats.exists(_.id % 3 == 0))

    val good = Mp4Meta.encodeOne(6L) // v1 mvhd + largesize mdat
    def forge(mut: Array[Byte] => Unit): Mp4Meta.Mp4Clip = {
      val b = good.clone(); mut(b); Mp4Meta.Mp4Clip(1L, b)
    }
    val bad = Seq(
      Mp4Meta.Mp4Clip(1L, good.take(10)), // truncated mid-header
      forge(b => { b(0) = 0; b(1) = 0; b(2) = 0; b(3) = 4 }), // size < header
      forge(b => { b(0) = 0x7f.toByte }), // size past the payload
      Mp4Meta.Mp4Clip(2L, good.take(16)) // valid ftyp only — no moov
    ).toDS()
    assert(Mp4Meta.decodeMp4(bad).collect().isEmpty)
  }

  test("TAR shard listing: checksum verified, pairing verdict, forgeries drop") {
    import graft.multimodal.TarShard
    val ids = spark.range(1, 22).as[Long]
    val feats = TarShard.listTar(TarShard.syntheticTar(ids)).collect()
    assert(feats.length == 21)
    feats.foreach { f =>
      val ns = 2 + f.id % 4
      assert(f.n_samples == ns && f.all_paired, s"id=${f.id}")
      assert(f.n_members == 2 * ns + (ns + 1) / 2)
    }
    // an unpaired shard (a lone .jpg with no .txt) is REPORTED, not dropped
    val lone = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(TarShard.headerFor("only.jpg", 4)); o.write("data".getBytes)
      o.write(new Array[Byte](512 - 4)); o.write(new Array[Byte](1024))
      TarShard.TarFile(9L, o.toByteArray)
    }
    val loneF = TarShard.listTar(Seq(lone).toDS()).collect()
    assert(loneF.length == 1 && !loneF.head.all_paired
      && loneF.head.n_members == 1L && loneF.head.total_bytes == 4L)
    // forgeries drop: corrupted checksum, forged size, truncation
    val good = TarShard.encodeOne(3L)
    def forge(mut: Array[Byte] => Unit): TarShard.TarFile = {
      val b = good.clone(); mut(b); TarShard.TarFile(1L, b)
    }
    val bad = Seq(
      forge(b => b(0) = 'X'), // name byte changed → checksum mismatch
      forge(b => System.arraycopy("77777777777".getBytes, 0, b, 124, 11)), // size bomb
      TarShard.TarFile(2L, good.take(700)) // truncated mid-member
    ).toDS()
    assert(TarShard.listTar(bad).collect().isEmpty)
  }

  test("NPY: both header versions, fortran-order indexing, forgeries drop") {
    import graft.multimodal.Npy
    val ids = spark.range(1, 21).as[Long]
    val feats = Npy.decodeNpy(Npy.syntheticNpy(ids)).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.version == (if (f.id % 2 == 0) 2 else 1))
      assert(f.rows == 2 + f.id % 5 && f.cols == 3 + f.id % 4)
      assert(f.fortran == (f.id % 5 == 0))
      assert(f.v_0_1 == (f.id + 1) % 100,
        s"id=${f.id}: layout-aware (0,1) read broken")
      val want = (for (i <- 0L until f.rows; j <- 0L until f.cols)
        yield (f.id + 3 * i + j) % 100).sum
      assert(f.sum_vals == want)
    }
    // the fixture genuinely distinguishes layouts: on a fortran shard the
    // byte at row-major index 1 is element (1,0) — an order-ignoring
    // reader would emit (id+3)%100 instead of (id+1)%100
    assert((5L + 3) % 100 != (5L + 1) % 100)
    // forgeries drop: big-endian dtype, bomb shape, lying header length,
    // truncated data
    val good = Npy.syntheticNpy(Seq(7L).toDS()).collect().head.media
    def forge(mut: Array[Byte] => Unit): Npy.NpyFile = {
      val b = good.clone(); mut(b); Npy.NpyFile(1L, b)
    }
    val hdr = new String(good, 10, ((good(8) & 0xff) | ((good(9) & 0xff) << 8)), "US-ASCII")
    val shapeAt = 10 + hdr.indexOf("'shape'")
    // a WELL-FORMED 10-billion-element shape claim with 4 bytes of data:
    // the element cap must fire before any allocation
    val bomb = {
      val dict = "{'descr': '<f4', 'fortran_order': False, 'shape': (99999, 99999), }"
      val pad = (64 - (10 + dict.length + 1) % 64) % 64
      val header = dict + (" " * pad) + "\n"
      val o = java.nio.ByteBuffer.allocate(10 + header.length + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      o.put(0x93.toByte).put("NUMPY".getBytes("US-ASCII"))
        .put(1.toByte).put(0.toByte).putShort(header.length.toShort)
        .put(header.getBytes("US-ASCII")).putInt(0)
      Npy.NpyFile(3L, o.array())
    }
    val bad = Seq(
      forge(b => b(10 + hdr.indexOf("<f4")) = '>'), // big-endian dtype
      forge { b => // mangled shape: unparseable dims drop
        val i = shapeAt + "'shape': (".length
        b(i) = 'x'
      },
      forge { b => b(8) = -1; b(9) = -1 }, // header length past the file
      Npy.NpyFile(2L, good.dropRight(6)), // truncated data vs declared shape
      bomb,
      { // Long-overflow shape: (2³², 2³²) wraps r*c to 0 — the per-dim cap
        // must reject BEFORE the product test can be fooled
        val dict = "{'descr': '<f4', 'fortran_order': False, 'shape': (4294967296, 4294967296), }"
        val pad = (64 - (10 + dict.length + 1) % 64) % 64
        val header = dict + (" " * pad) + "\n"
        val o = java.nio.ByteBuffer.allocate(10 + header.length + 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        o.put(0x93.toByte).put("NUMPY".getBytes("US-ASCII"))
          .put(1.toByte).put(0.toByte).putShort(header.length.toShort)
          .put(header.getBytes("US-ASCII")).putInt(0)
        Npy.NpyFile(4L, o.array())
      }
    ).toDS()
    assert(Npy.decodeNpy(bad).collect().isEmpty)
  }

  test("EXIF: both endians, inline vs at-offset values, forged pointers drop") {
    import graft.multimodal.{Exif, Jpeg}
    val ids = spark.range(1, 20).as[Long]
    val feats = Exif.decodeExif(Exif.syntheticExifJpeg(ids)).collect()
    assert(feats.length == 19)
    feats.foreach { f =>
      assert(f.big_endian == (f.id % 2 == 1), s"id=${f.id}")
      assert(f.orientation == 1 + f.id % 8)
      assert(f.exif_w == 100 + f.id % 50 && f.exif_h == 80 + f.id % 40)
      if (f.id % 3 == 0)
        assert(f.datetime.contains(f"1997:01:${1 + f.id % 28}%02d 12:00:00"))
      else assert(f.datetime.isEmpty)
    }
    // the EXIF wrapper still decodes as a plain JPEG (APP1 is skippable)
    val asJpeg = Jpeg.decodeJpeg(
      Seq(Jpeg.JpegImage(7L, Exif.encodeOne(7L))).toDS()).collect()
    assert(asJpeg.length == 1 && asJpeg.head.width == 5 + 7 % 9)
    // forgeries drop, never crash: IFD pointer past the segment, truncated
    // APP1 length, bad TIFF magic
    val good = Exif.encodeOne(6L)
    def forge(mut: Array[Byte] => Unit): Exif.ExifImage = {
      val b = good.clone(); mut(b); Exif.ExifImage(1L, b)
    }
    // APP1 payload starts at 4 (after SOI+marker); TIFF header at 4+2+6=12
    val bad = Seq(
      forge { b => b(12 + 4) = 0x7f; b(12 + 5) = -1 }, // IFD0 offset forged huge
      forge { b => b(12) = 'X' }, // endian magic broken
      forge { b => b(4) = 0; b(5) = 8 } // APP1 length lies short (truncates TIFF)
    ).toDS()
    assert(Exif.decodeExif(bad).collect().isEmpty)
  }

  test("ZIP shard listing: EOCD comment scan, real inflate + CRC, forgeries drop") {
    import graft.multimodal.Zip
    val ids = spark.range(1, 22).as[Long]
    val feats = Zip.listZip(Zip.syntheticZip(ids)).collect()
    assert(feats.length == 21)
    feats.foreach { f =>
      val n = 2 + f.id % 3
      assert(f.n_members == n, s"id=${f.id}")
      assert(f.n_deflated == (n + 1) / 2 && f.n_stored == n / 2)
      val want = (0 until n.toInt).map(s => 50L + (f.id + s) % 40).sum
      assert(f.total_bytes == want, s"id=${f.id}: ${f.total_bytes} != $want")
    }
    // ids ≥ 1 with id % 20 != 0 carry a non-empty EOCD comment, so the
    // passing sweep above already proves the backward EOCD scan works
    val raw = Zip.encodeOne(6L)
    // forgeries drop: corrupted member byte (CRC mismatch after inflate),
    // truncated central directory, and a declared-size bomb
    def forge(mut: Array[Byte] => Unit): Zip.ZipFile = {
      val b = raw.clone(); mut(b); Zip.ZipFile(1L, b)
    }
    val goodRow = Zip.listZip(Seq(Zip.ZipFile(6L, raw)).toDS()).collect()
    assert(goodRow.length == 1)
    val bad = Seq(
      forge(b => b(40) = (b(40) ^ 0x5a).toByte), // payload bit flip → CRC fail
      Zip.ZipFile(2L, raw.dropRight(30)), // EOCD/comment-length no longer lands on the end
      forge { b => // central-dir usize forged to a bomb (4 GB claim)
        val cdStart = {
          // find first central header signature
          (0 until b.length - 4).find(i =>
            b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 1 && b(i + 3) == 2).get
        }
        b(cdStart + 24) = -1; b(cdStart + 25) = -1
        b(cdStart + 26) = -1; b(cdStart + 27) = 0x7f
      }
    ).toDS()
    assert(Zip.listZip(bad).collect().isEmpty,
      "corrupted/truncated/bomb shards must drop, not crash")
    // stored member content really round-trips: decode a 1-member stored zip
    // by hand through the public lane (odd member indexes store)
    val one = Zip.listZip(Seq(Zip.ZipFile(1L, Zip.encodeOne(1L))).toDS()).collect().head
    assert(one.n_stored >= 1L)
  }

  test("resizePpm: hand-checked nearest-neighbor map, identity resize, bad rows drop") {
    // 2×2 source, pixels laid row-major: (0,0)=[10,11,12] (1,0)=[20,21,22]
    //                                    (0,1)=[30,31,32] (1,1)=[40,41,42]
    val src = "P6\n2 2\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      Array[Byte](10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42)
    // upscale 2×2 → 4×2: sx = x·2 DIV 4 = {0,0,1,1} — each source pixel doubles
    val up = Multimodal.resizePpm(
      Seq(Multimodal.PpmImage(7L, src)).toDS(), 4, 2).collect()
    assert(up.length == 1)
    val expUp = "P6\n4 2\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      Array[Byte](10, 11, 12, 10, 11, 12, 20, 21, 22, 20, 21, 22,
        30, 31, 32, 30, 31, 32, 40, 41, 42, 40, 41, 42)
    assert(java.util.Arrays.equals(up.head.media, expUp),
      "4x2 upscale must duplicate each source column")
    // downscale 2×2 → 1×1: sx = sy = 0 — top-left pixel survives
    val down = Multimodal.resizePpm(
      Seq(Multimodal.PpmImage(8L, src)).toDS(), 1, 1).collect()
    val expDown = "P6\n1 1\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ Array[Byte](10, 11, 12)
    assert(java.util.Arrays.equals(down.head.media, expDown))
    // identity resize reproduces the source bytes exactly
    val same = Multimodal.resizePpm(
      Seq(Multimodal.PpmImage(9L, src)).toDS(), 2, 2).collect()
    assert(java.util.Arrays.equals(same.head.media, src))
    // undecodable input drops (coerce rule), and the output re-decodes
    val bad = Seq(Multimodal.PpmImage(1L, "P6\n2 1\n255\nxy".getBytes)).toDS()
    assert(Multimodal.resizePpm(bad, 4, 4).collect().isEmpty)
    val redec = Multimodal.decodePpm(
      Multimodal.resizePpm(Multimodal.syntheticPpm(spark.range(1, 11).as[Long]), 8, 6))
      .collect()
    assert(redec.length == 10 && redec.forall(f => f.width == 8 && f.height == 6))
  }

  test("sampleFrames keeps every stride-th frame index, frame 0 always") {
    import graft.multimodal.Video
    val frames = (0 until 5).map(t =>
      Video.VideoFrame(1L, t, 5, 4, 3, 0.0, 0.0, 0.0)).toDS()
    val kept = Video.sampleFrames(frames, 2).collect().map(_.frame).sorted
    assert(kept.toSeq == Seq(0, 2, 4))
    assert(Video.sampleFrames(frames, 1).count() == 5)
  }

  test("PNG property: decode∘encode reproduces arbitrary pixel data") {
    import graft.multimodal.Png
    // seeded-random images: dims 1..12 (heights ≥5 cycle all 5 filters;
    // the small ones cover the no-left/no-up defilter edges)
    val rnd = new scala.util.Random(42)
    val images = (0 until 25).map { i =>
      val w = 1 + rnd.nextInt(12); val h = 1 + rnd.nextInt(12)
      val rgb = new Array[Byte](w * h * 3); rnd.nextBytes(rgb)
      (i.toLong, w, h, rgb)
    }
    val ds = images.map { case (id, w, h, rgb) =>
      Png.PngImage(id, Png.encodeRgb(w, h, rgb)) }.toDS()
    val out = Png.decodePng(ds).collect().map(f => f.id -> f).toMap
    assert(out.size == images.size)
    images.foreach { case (id, w, h, rgb) =>
      val f = out(id)
      assert(f.width == w && f.height == h && f.n_pixels == w.toLong * h)
      def mean(ch: Int) = (0 until w * h).map(p => rgb(p * 3 + ch) & 0xff)
        .sum.toDouble / (w * h)
      assert(f.mean_r == mean(0) && f.mean_g == mean(1) && f.mean_b == mean(2),
        s"id=$id ${w}x$h channel means diverged")
    }
  }

  test("resize property: arbitrary images resize to exactly the sampled pixels") {
    // seeded-random source images and target dims (up, down, and equal);
    // for every (dest x, y) the kernel must emit the source pixel at
    // (x·sw DIV dw, y·sh DIV dh) — checked byte-for-byte via re-decode
    val rnd = new scala.util.Random(7)
    val cases = (0 until 25).map { i =>
      val sw = 1 + rnd.nextInt(10); val sh = 1 + rnd.nextInt(10)
      val dw = 1 + rnd.nextInt(10); val dh = 1 + rnd.nextInt(10)
      val rgb = new Array[Byte](sw * sh * 3); rnd.nextBytes(rgb)
      (i.toLong, sw, sh, dw, dh, rgb)
    }
    cases.foreach { case (id, sw, sh, dw, dh, rgb) =>
      val header = s"P6\n$sw $sh\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val src = header ++ rgb
      val out = Multimodal.resizePpm(
        Seq(Multimodal.PpmImage(id, src)).toDS(), dw, dh).collect()
      assert(out.length == 1, s"case $id dropped")
      val got = out.head.media
      val gotHeader = s"P6\n$dw $dh\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      assert(got.take(gotHeader.length).sameElements(gotHeader), s"case $id header")
      for (y <- 0 until dh; x <- 0 until dw; ch <- 0 until 3) {
        val sx = (x.toLong * sw / dw).toInt
        val sy = (y.toLong * sh / dh).toInt
        val expect = rgb((sy * sw + sx) * 3 + ch)
        val actual = got(gotHeader.length + (y * dw + x) * 3 + ch)
        assert(actual == expect,
          s"case $id ${sw}x$sh→${dw}x$dh pixel ($x,$y) ch$ch: $actual != $expect")
      }
    }
  }

  test("FLAC property: decode∘encode reproduces arbitrary PCM bit-exactly") {
    import graft.multimodal.Flac
    val rnd = new scala.util.Random(1234)
    // lengths spanning 1 frame, exact multiples of the 48-sample block, and
    // ragged tails; full 16-bit sample range (worst-case rice residuals)
    val clips = (0 until 20).map { i =>
      val n = 1 + rnd.nextInt(300)
      (i.toLong, Array.fill(n)(rnd.nextInt(65536) - 32768))
    }
    for (escape <- Seq(false, true)) {
      val ds = clips.map { case (id, s) =>
        Flac.FlacAudio(id, Flac.encode(s, 16000, blockSize = 48, escape)) }.toDS()
      val out = Flac.decodeFlac(ds).collect().map(f => f.id -> f).toMap
      assert(out.size == clips.size, s"escape=$escape dropped rows")
      clips.foreach { case (id, s) =>
        val f = out(id)
        assert(f.n_samples == s.length && f.sample_rate == 16000)
        assert(f.peak_amp == s.map(v => math.abs(v.toLong)).max, s"id=$id peak")
        assert(f.mean_amp == s.map(_.toLong).sum.toDouble / s.length,
          s"id=$id mean (escape=$escape)")
      }
    }
  }

  test("FLAC codec: real container, CRC validation, malformed dropped") {
    import graft.multimodal.Flac
    val ids = spark.range(1, 21).as[Long]
    val feats = Flac.decodeFlac(Flac.syntheticFlac(ids)).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      val n = (64 + f.id % 57).toInt
      val samples = (0 until n).map(j => ((f.id * 31 + j * 17) % 4096) - 2048)
      assert(f.sample_rate == (8000 + (f.id % 4) * 4000).toInt && f.n_samples == n)
      assert(f.mean_amp == samples.sum.toDouble / n && f.peak_amp == samples.map(math.abs).max,
        s"id=${f.id} decoded features diverge from the generation formula")
    }
    val one = Flac.syntheticFlac(spark.range(7, 8).as[Long]).collect().head
    assert(new String(one.media, 0, 4, java.nio.charset.StandardCharsets.US_ASCII) == "fLaC")
    // frame CRC protection: flipping one payload byte must drop the row,
    // not return wrong samples
    val corrupt = one.media.clone()
    corrupt(corrupt.length - 20) = (corrupt(corrupt.length - 20) ^ 0x40).toByte
    // forged 24-bit metadata length pointing past the buffer
    val forged = one.media.clone()
    forged(5) = 0x7f.toByte; forged(6) = 0xff.toByte
    val bad = Seq(
      Flac.FlacAudio(1L, corrupt),
      Flac.FlacAudio(2L, "definitely not flac".getBytes),
      Flac.FlacAudio(3L, one.media.take(40)),   // truncated mid-STREAMINFO
      Flac.FlacAudio(4L, forged),
      Flac.FlacAudio(5L, one.media.dropRight(3)) // truncated mid-frame
    ).toDS()
    assert(Flac.decodeFlac(bad).collect().isEmpty)
  }

  test("gzip lane: RFC-1952 container, byte-exact inflate, junk dropped") {
    val ids = spark.range(1, 21).as[Long]
    val plain = Multimodal.syntheticPpm(ids).collect().map(p => p.id -> p.media).toMap
    val packed = Multimodal.gzip(Multimodal.syntheticPpm(ids)).collect()
    packed.foreach { p =>
      // real gzip container: magic 1f 8b, deflate method 08
      assert((p.media(0) & 0xff) == 0x1f && (p.media(1) & 0xff) == 0x8b
        && p.media(2) == 8, s"id=${p.id} not a gzip stream")
      assert(!java.util.Arrays.equals(p.media, plain(p.id)))
    }
    val back = Multimodal.gunzip(Multimodal.gzip(Multimodal.syntheticPpm(ids))).collect()
    assert(back.length == 20)
    back.foreach(p => assert(java.util.Arrays.equals(p.media, plain(p.id)),
      s"id=${p.id} round trip not byte-exact"))
    // non-gzip bytes are dropped (coerce-to-null stance), not crashed
    val junk = Seq(Multimodal.PpmImage(1L, "not gzip".getBytes),
      Multimodal.PpmImage(2L, Array[Byte](0x1f, 0x8b.toByte, 8, 0))).toDS()
    assert(Multimodal.gunzip(junk).collect().isEmpty)
    // decompression bomb: 1 MB of zeros gzips to ~1 KB; with the output
    // cap below the expansion, the row drops instead of allocating
    val bombSrc = new Array[Byte](1 << 20)
    val packedBomb = Multimodal.gzip(
      Seq(Multimodal.PpmImage(9L, bombSrc)).toDS()).collect().head
    assert(packedBomb.media.length < 16384, "gzip of zeros should be tiny")
    assert(Multimodal.gunzip(Seq(packedBomb).toDS(), maxBytes = 1 << 16)
      .collect().isEmpty, "over-cap payload must drop")
    // and with an adequate cap the same payload round-trips
    assert(Multimodal.gunzip(Seq(packedBomb).toDS(), maxBytes = 1 << 21)
      .collect().head.media.length == (1 << 20))
  }

  test("GIF property: LZW round trip on random, constant, and reset-sized images") {
    import graft.multimodal.Gif
    val rnd = new scala.util.Random(77)
    val imgs = Seq(
      // 5600 random px: ~1 dict add/px → code width walks 9→12 AND the
      // 4096-entry clear/reset fires mid-stream
      (1L, 80, 70, Array.fill(80 * 70)(rnd.nextInt(256))),
      (2L, 9, 5, Array.fill(45)(7)), // constant: pure KwKwK chain growth
      (3L, 1, 1, Array(200)),
      (4L, 13, 11, Array.tabulate(143)(i => i % 256)))
    val ds = imgs.map { case (id, w, h, px) =>
      Gif.GifImage(id, Gif.encode(w, h, px)) }.toDS()
    val out = Gif.decodeGif(ds).collect().map(f => f.id -> f).toMap
    assert(out.size == imgs.size, "no image may drop")
    imgs.foreach { case (id, w, h, px) =>
      val f = out(id)
      assert(f.width == w && f.height == h && f.n_pixels == w.toLong * h)
      def m(g: Int => Int) = px.map(g).sum.toDouble / px.length
      assert(f.mean_r == m(i => i & 0xff), s"id=$id mean_r")
      assert(f.mean_g == m(i => (2 * i) % 256), s"id=$id mean_g")
      assert(f.mean_b == m(i => 255 - (i & 0xff)), s"id=$id mean_b")
    }
  }

  test("GIF codec: fixture decode matches formula; malformed dropped") {
    import graft.multimodal.Gif
    val ids = spark.range(1, 21).as[Long]
    val feats = Gif.decodeGif(Gif.syntheticGif(ids)).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      val w = (5 + f.id % 7).toInt; val h = (4 + f.id % 6).toInt
      val cis = for { y <- 0 until h; x <- 0 until w }
        yield ((f.id + 3 * x + 7 * y) % 256).toInt
      assert(f.width == w && f.height == h)
      assert(f.mean_r == cis.sum.toDouble / cis.size, s"id=${f.id} mean_r")
      assert(f.mean_g == cis.map(c => (2 * c) % 256).sum.toDouble / cis.size)
      assert(f.mean_b == cis.map(c => 255 - c).sum.toDouble / cis.size)
    }
    val one = Gif.syntheticGif(spark.range(7, 8).as[Long]).collect().head
    assert(new String(one.media, 0, 6,
      java.nio.charset.StandardCharsets.US_ASCII) == "GIF89a")
    // layout: 6 header + 7 LSD + 768 GCT = 781 → GCE (8) → descriptor at
    // 789, its packed byte at 798, LZW min-code 799, first sub-block 800
    val interlaced = one.media.clone()
    interlaced(798) = (interlaced(798) | 0x40).toByte // out of subset → drop
    val forged = one.media.clone()
    forged(800) = 0xff.toByte // sub-block length past the buffer
    // dimension bomb: u16 descriptor dims forged to 40000×50000 (≈2e9 px)
    // must drop BEFORE the pixel-array allocation, not OOM the task
    val bomb = one.media.clone()
    bomb(794) = 0x40.toByte; bomb(795) = 0x9c.toByte // w = 40000 LE
    bomb(796) = 0x50.toByte; bomb(797) = 0xc3.toByte // h = 50000 LE
    val bad = Seq(
      Gif.GifImage(1L, "NOTAGIF".getBytes),
      Gif.GifImage(2L, one.media.take(100)), // truncated mid-GCT
      Gif.GifImage(3L, interlaced),
      Gif.GifImage(4L, forged),
      Gif.GifImage(5L, bomb)).toDS()
    assert(Gif.decodeGif(bad).collect().isEmpty)
  }

  test("zstd lane: byte-exact round trip, junk dropped, declared-size bomb guard") {
    val ids = spark.range(1, 21).as[Long]
    val plain = Multimodal.syntheticPpm(ids).collect().map(p => p.id -> p.media).toMap
    val packed = Multimodal.zstd(Multimodal.syntheticPpm(ids)).collect()
    packed.foreach { p =>
      // real zstd frame: magic 28 B5 2F FD little-endian
      assert((p.media(0) & 0xff) == 0x28 && (p.media(1) & 0xff) == 0xb5 &&
        (p.media(2) & 0xff) == 0x2f && (p.media(3) & 0xff) == 0xfd,
        s"id=${p.id} not a zstd frame")
    }
    val back = Multimodal.unzstd(Multimodal.zstd(Multimodal.syntheticPpm(ids))).collect()
    assert(back.length == 20)
    back.foreach(p => assert(java.util.Arrays.equals(p.media, plain(p.id)),
      s"id=${p.id} round trip not byte-exact"))
    val junk = Seq(Multimodal.PpmImage(1L, "not zstd".getBytes),
      Multimodal.PpmImage(2L, Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte))).toDS()
    assert(Multimodal.unzstd(junk).collect().isEmpty)
    // declared-size guard: a 1 MB-of-zeros payload compresses tiny but
    // DECLARES its size — under a smaller cap the row drops pre-allocation
    val bomb = Multimodal.zstd(
      Seq(Multimodal.PpmImage(9L, new Array[Byte](1 << 20))).toDS()).collect().head
    assert(bomb.media.length < 4096, "zstd of zeros should be tiny")
    assert(Multimodal.unzstd(Seq(bomb).toDS(), maxBytes = 1 << 16).collect().isEmpty)
    assert(Multimodal.unzstd(Seq(bomb).toDS(), maxBytes = 1 << 21)
      .collect().head.media.length == (1 << 20))
  }

  test("PNG codec: deflate+filters round-trip, CRC validation, junk dropped") {
    import graft.multimodal.Png
    val ids = spark.range(1, 21).as[Long]
    // fixture heights reach 5+ → every image cycles all 5 filter types at
    // least once; a wrong Sub/Up/Average/Paeth reconstruction breaks means
    val feats = Png.decodePng(Png.syntheticPng(ids)).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.width == (5 + f.id % 6).toInt && f.height == (4 + f.id % 5).toInt)
      val expB = (0 until f.height).map(y => (f.id + y) % 256).sum.toDouble / f.height
      assert(math.abs(f.mean_b - expB) < 1e-12, s"id=${f.id} mean_b")
      val expG = (0 until f.width).map(x => (2 * f.id + x) % 256).sum.toDouble / f.width
      assert(math.abs(f.mean_g - expG) < 1e-12, s"id=${f.id} mean_g")
    }
    // the container is real PNG: signature + IHDR/IDAT/IEND chunk layout
    val one = Png.syntheticPng(spark.range(7, 8).as[Long]).collect().head
    assert((one.media(0) & 0xff) == 0x89 &&
      new String(one.media, 1, 3, java.nio.charset.StandardCharsets.US_ASCII) == "PNG")
    assert(new String(one.media, 12, 4) == "IHDR")
    // flip one IDAT payload byte → CRC mismatch → row dropped, not wrong
    val corrupt = one.media.clone()
    corrupt(45) = (corrupt(45) ^ 0x55).toByte // inside the IDAT payload
    // decompression-bomb header: a CRC-VALID chunk sequence whose IHDR
    // claims 2^24 x 2^24 pixels — must drop at header validation, not
    // overflow h*(1+3w) and crash the scanline allocator
    val bomb = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Array[Byte] = Array(
        ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        out.write(be32(data.length.toLong))
        val tb = typ.getBytes("US-ASCII")
        out.write(tb); out.write(data)
        val crc = new java.util.zip.CRC32
        crc.update(tb); crc.update(data)
        out.write(be32(crc.getValue))
      }
      out.write(one.media, 0, 8) // real signature
      chunk("IHDR", be32(1L << 24) ++ be32(1L << 24) ++
        Array[Byte](8, 2, 0, 0, 0))
      chunk("IDAT", Array[Byte](1, 2, 3))
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    val decoded = Png.decodePng(Seq(
      Png.PngImage(1L, corrupt),
      Png.PngImage(2L, "not a png at all".getBytes),
      Png.PngImage(3L, one.media.take(30)),
      Png.PngImage(4L, bomb)).toDS()).collect()
    assert(decoded.isEmpty, "corrupt/truncated/junk/bomb PNGs must drop, got " +
      decoded.mkString(","))
  }

  test("PNG adversarial: 2^31 chunk length and FDICT stream drop, not hang/crash") {
    import graft.multimodal.Png
    val sig = Png.syntheticPng(spark.range(7, 8).as[Long]).collect().head.media.take(8)
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(data)
      be32(data.length.toLong) ++ tb ++ data ++ be32(crc.getValue)
    }
    // (a) forged chunk length 0x7FFFFFF0: `i + 12 + len` wraps negative, so a
    // naive bounds check passes and crc.update walks off the array → AIOOBE
    // kills the task. Must instead drop the row.
    val forgedLen = sig ++ be32(0x7FFFFFF0L) ++ "IDAT".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    // (b) CRC-valid container whose IDAT is a zlib stream with FDICT set
    // (0x78 0x20 header passes the %31 check): Inflater.inflate returns 0
    // with needsDictionary()=true and needsInput()=false — a loop that only
    // exits on needsInput spins forever. Must drop, promptly.
    val fdictIdat = Array[Byte](0x78, 0x20) ++ be32(0xDEADBEEFL) ++
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val fdict = sig ++
      chunk("IHDR", be32(4L) ++ be32(4L) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", fdictIdat) ++
      chunk("IEND", Array.emptyByteArray)
    val fut = scala.concurrent.Future {
      Png.decodePng(Seq(
        Png.PngImage(1L, forgedLen),
        Png.PngImage(2L, fdict)).toDS()).collect()
    }(scala.concurrent.ExecutionContext.global)
    val out = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(60, "s"))
    assert(out.isEmpty, s"adversarial PNGs must drop, got ${out.mkString(",")}")
  }

  test("JPEG property: decode∘encode bounds the error on arbitrary pixels") {
    import graft.multimodal.Jpeg
    // seeded-random images across 1..16 dims: 1×1 to 2×2 MCUs, heavy edge
    // replication on the small ones. JPEG is LOSSY: assert exact header
    // round-trip and a mean-error budget (flat quant step 8 ⇒ block-mean
    // error ≤ 0.5 from DC, plus color-transform rounding; random noise is
    // the worst case for the AC budget, so grant ±3.0 on channel means).
    val rnd = new scala.util.Random(7)
    val images = (0 until 20).map { i =>
      val w = 1 + rnd.nextInt(16); val h = 1 + rnd.nextInt(16)
      val rgb = new Array[Byte](w * h * 3); rnd.nextBytes(rgb)
      (i.toLong, w, h, rgb)
    }
    val ds = images.map { case (id, w, h, rgb) =>
      Jpeg.JpegImage(id, Jpeg.encodeRgb(w, h, rgb)) }.toDS()
    val out = Jpeg.decodeJpeg(ds).collect().map(f => f.id -> f).toMap
    assert(out.size == images.size)
    images.foreach { case (id, w, h, rgb) =>
      val f = out(id)
      assert(f.width == w && f.height == h && f.n_pixels == w.toLong * h)
      def mean(ch: Int) =
        (0 until w * h).map(p => rgb(p * 3 + ch) & 0xff).sum.toDouble / (w * h)
      assert(math.abs(f.mean_r - mean(0)) <= 3.0, s"id=$id mean_r ${f.mean_r} vs ${mean(0)}")
      assert(math.abs(f.mean_g - mean(1)) <= 3.0, s"id=$id mean_g")
      assert(math.abs(f.mean_b - mean(2)) <= 3.0, s"id=$id mean_b")
    }
  }

  test("JPEG codec: fixture decodes through real Huffman+IDCT; junk dropped") {
    import graft.multimodal.Jpeg
    val ids = spark.range(1, 21).as[Long]
    val feats = Jpeg.decodeJpeg(Jpeg.syntheticJpeg(ids)).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.width == (5 + f.id % 9).toInt && f.height == (4 + f.id % 9).toInt)
      // formula-replay means within the lossy budget
      def fm(g: (Long, Long) => Long): Double =
        (for (y <- 0L until f.height; x <- 0L until f.width) yield g(x, y))
          .sum.toDouble / (f.width * f.height)
      assert(math.abs(f.mean_r - fm((x, y) => (f.id + 3 * x + 7 * y) % 256)) <= 3.0, s"id=${f.id} r")
      assert(math.abs(f.mean_g - fm((x, _) => (2 * f.id + x) % 256)) <= 3.0, s"id=${f.id} g")
      assert(math.abs(f.mean_b - fm((_, y) => (f.id + y) % 256)) <= 3.0, s"id=${f.id} b")
    }
    // container sanity: SOI + SOF0 present
    val one = Jpeg.syntheticJpeg(spark.range(3, 4).as[Long]).collect().head
    assert((one.media(0) & 0xff) == 0xff && (one.media(1) & 0xff) == 0xd8)
    // adversarial set, timeout-bounded (the decoder must DROP, fast):
    // (a) dimension bomb: CRC-free format, so just forge SOF dims 50k×50k
    val bomb = {
      val m = one.media.clone()
      // find SOF0 (FFC0), dims at offset +5 (h) and +7 (w) past marker+len
      val at = (0 until m.length - 1).find(j =>
        (m(j) & 0xff) == 0xff && (m(j + 1) & 0xff) == 0xc0).get
      m(at + 5) = 0xc3.toByte; m(at + 6) = 0x50.toByte // h = 50000
      m(at + 7) = 0xc3.toByte; m(at + 8) = 0x50.toByte // w = 50000
      m
    }
    // (b) truncated entropy stream  (c) progressive frame marker
    val progressive = {
      val m = one.media.clone()
      val at = (0 until m.length - 1).find(j =>
        (m(j) & 0xff) == 0xff && (m(j + 1) & 0xff) == 0xc0).get
      m(at + 1) = 0xc2.toByte
      m
    }
    // (d) DQT segments excised: a referenced-but-undefined quant table
    // would dequantize by zero and emit plausible flat gray — must drop
    val noDqt = {
      var m = one.media.clone()
      var at = (0 until m.length - 1).find(j =>
        (m(j) & 0xff) == 0xff && (m(j + 1) & 0xff) == 0xdb)
      while (at.isDefined) {
        val j = at.get
        val len = ((m(j + 2) & 0xff) << 8) | (m(j + 3) & 0xff)
        m = m.take(j) ++ m.drop(j + 2 + len)
        at = (0 until m.length - 1).find(j =>
          (m(j) & 0xff) == 0xff && (m(j + 1) & 0xff) == 0xdb)
      }
      m
    }
    val fut = scala.concurrent.Future {
      Jpeg.decodeJpeg(Seq(
        Jpeg.JpegImage(1L, bomb),
        Jpeg.JpegImage(2L, one.media.dropRight(one.media.length / 3)),
        Jpeg.JpegImage(3L, progressive),
        Jpeg.JpegImage(4L, "definitely not a jpeg".getBytes),
        Jpeg.JpegImage(5L, one.media.take(2)),
        Jpeg.JpegImage(6L, noDqt)).toDS()).collect()
    }(scala.concurrent.ExecutionContext.global)
    val bad = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(60, "s"))
    assert(bad.isEmpty, s"adversarial JPEGs must drop, got ${bad.mkString(",")}")
  }

  test("MJPEG-AVI: per-frame decode matches formula; forged containers drop") {
    import graft.multimodal.Video
    val ids = spark.range(1, 13).as[Long]
    val frames = Video.decodeMjpegAvi(Video.syntheticAvi(ids)).collect()
    // every declared frame decodes: Σ (2 + id%4) over ids 1..12
    assert(frames.length == (1L until 13L).map(id => 2 + id % 4).sum)
    frames.foreach { f =>
      assert(f.n_frames == (2 + f.id % 4).toInt && f.frame < f.n_frames)
      assert(f.width == (5 + f.id % 9).toInt && f.height == (4 + f.id % 9).toInt)
      def fm(g: (Long, Long) => Long): Double =
        (for (y <- 0L until f.height; x <- 0L until f.width) yield g(x, y))
          .sum.toDouble / (f.width * f.height)
      val t = f.frame.toLong
      // ±4.0, the gate's budget: row-constant blue wraps 255→0 mid-image
      // for some (id, t) and the full-scale edge rings past 3 (measured
      // max 3.05 across all sf0.1 ids; see the mm_video gate comment)
      assert(math.abs(f.mean_r - fm((x, y) => (f.id + 3 * x + 7 * y + 11 * t) % 256)) <= 4.0,
        s"id=${f.id} t=$t r")
      assert(math.abs(f.mean_g - fm((x, _) => (2 * f.id + x + 5 * t) % 256)) <= 4.0,
        s"id=${f.id} t=$t g")
      assert(math.abs(f.mean_b - fm((_, y) => (f.id + y + 2 * t) % 256)) <= 4.0,
        s"id=${f.id} t=$t b")
    }
    // adversarial containers, timeout-bounded (drop fast, never hang):
    val one = Video.syntheticAvi(spark.range(3, 4).as[Long]).collect().head
    val m = one.media
    // (a) frame-count lie: avih claims one more frame than movi holds.
    //     avih payload starts after RIFF(12) + LIST hdr(12) + 'avih'+size(8);
    //     dwTotalFrames is at payload offset 16 → absolute 12+12+8+16
    val countLie = { val c = m.clone(); c(48) = (c(48) + 1).toByte; c }
    // (b) dimension lie: avih dwWidth (payload offset 32) disagrees with
    //     the JPEG frames — decoded dims must invalidate the row
    val dimLie = { val c = m.clone(); c(64) = (c(64) + 1).toByte; c }
    // (c) forged frame-chunk size pointing past the buffer mid-movi
    val forgedSize = {
      val c = m.clone()
      val at = (0 until c.length - 4).find(j =>
        c(j) == '0'.toByte && c(j + 1) == '0'.toByte &&
          c(j + 2) == 'd'.toByte && c(j + 3) == 'c'.toByte).get
      c(at + 4) = 0xff.toByte; c(at + 5) = 0xff.toByte
      c(at + 6) = 0xff.toByte; c(at + 7) = 0x7f.toByte
      c
    }
    val fut = scala.concurrent.Future {
      Video.decodeMjpegAvi(Seq(
        Video.VideoRow(1L, countLie),
        Video.VideoRow(2L, dimLie),
        Video.VideoRow(3L, forgedSize),
        Video.VideoRow(4L, m.dropRight(m.length / 2)), // truncated movi
        Video.VideoRow(5L, "RIFFxxxxWAVE".getBytes),   // wrong RIFF type
        Video.VideoRow(6L, Array[Byte](1, 2, 3))).toDS()).collect()
    }(scala.concurrent.ExecutionContext.global)
    val bad = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(60, "s"))
    assert(bad.isEmpty, s"forged AVIs must drop, got ${bad.mkString(",")}")
  }

  test("sniffAndDecode routes by magic, drops malformed recognized kinds, keeps opaque") {
    import graft.multimodal.{Flac, Gif, Jpeg, Video}
    def row(id: Long, media: Array[Byte]) =
      Multimodal.MediaRow(id, media, "", 0, 0)
    val one = spark.range(3, 4).as[Long]
    val mixed = Seq(
      row(0L, Jpeg.syntheticJpeg(one).collect().head.media),
      row(1L, graft.multimodal.Png.syntheticPng(one).collect().head.media),
      row(2L, Gif.syntheticGif(one).collect().head.media),
      row(3L, Multimodal.syntheticPpm(one).collect().head.media),
      row(4L, Multimodal.syntheticWav(one).collect().head.media),
      row(5L, Flac.syntheticFlac(one).collect().head.media),
      row(6L, Video.syntheticAvi(one).collect().head.media),
      row(7L, "just some text bytes".getBytes),         // opaque: kept
      row(8L, "P6\nnot numbers at all".getBytes),       // recognized kind, malformed: DROPPED
      row(9L, Array[Byte](0xff.toByte, 0xd8.toByte, 0, 1)), // truncated jpeg: DROPPED
      row(10L, graft.multimodal.Webp.encodeOne(3L))     // third RIFF kind
    ).toDS()
    val out = Multimodal.sniffAndDecode(mixed).collect().map(f => f.id -> f.kind).toMap
    assert(out == Map(0L -> "jpeg", 1L -> "png", 2L -> "gif", 3L -> "ppm",
      4L -> "wav", 5L -> "flac", 6L -> "avi", 7L -> "opaque", 10L -> "webp"),
      s"router output: $out")
  }

  test("WAV decoder round-trips RIFF bytes, walks extra chunks, drops junk") {
    val ids = spark.range(0, 20).as[Long]
    val feats = Multimodal.decodeWav(Multimodal.syntheticWav(ids)).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.sample_rate == (8000 + (f.id % 4) * 4000).toInt)
      assert(f.n_samples == 64 + f.id % 57)
      // replay the per-sample formula
      val samples = (0L until f.n_samples).map(j => (f.id * 31 + j * 17) % 4096 - 2048)
      assert(f.peak_amp == samples.map(math.abs).max)
      assert(math.abs(f.mean_amp - samples.sum.toDouble / f.n_samples) < 1e-12)
    }
    // the decoder is a chunk WALKER, not a fixed-offset parser: an extra
    // odd-sized LIST chunk (with its alignment pad) before data still parses
    val orig = Multimodal.syntheticWav(Seq(5L).toDS()).collect().head.media
    val extra = "LIST".getBytes ++ Array[Byte](3, 0, 0, 0, 9, 9, 9, 0)
    val spliced = orig.take(36) ++ extra ++ orig.drop(36)
    val one = Multimodal.decodeWav(
      Seq(Multimodal.WavAudio(5L, spliced)).toDS()).collect()
    assert(one.length == 1 && one.head.n_samples == 64 + 5 % 57)
    // malformed: bad magic, truncated data, stereo/non-PCM all dropped
    val stereo = orig.clone(); stereo(22) = 2 // channels = 2
    // forged chunk size 0xFFFFFFF8: .toInt is -8, which once stalled the
    // chunk walk in an infinite loop — must terminate and drop
    val forged = orig.clone()
    forged(16) = 0xf8.toByte; forged(17) = 0xff.toByte
    forged(18) = 0xff.toByte; forged(19) = 0xff.toByte
    val bad = Seq(
      Multimodal.WavAudio(1L, "RIFFxxxxJUNK".getBytes),
      Multimodal.WavAudio(2L, orig.take(50)),
      Multimodal.WavAudio(3L, stereo),
      Multimodal.WavAudio(4L, forged)).toDS()
    assert(Multimodal.decodeWav(bad).collect().isEmpty)
  }

  test("ICO container: 0⇒256 width byte, PNG and doubled-height DIB entries, forgeries drop") {
    import graft.multimodal.Ico
    val ids = spark.range(0, 21).as[Long]
    val entries = Ico.decodeIco(Ico.syntheticIco(ids)).collect()
    // every directory entry decodes (no silent drops on well-formed input)
    assert(entries.length == (0L until 21L).map(1 + _ % 3).sum)
    entries.foreach { f =>
      val (kind, w, h) = Ico.entryShape(f.id, f.entry)
      assert(f.kind == kind && f.width == w && f.height == h, s"id=${f.id}/${f.entry}")
    }
    // the 256-wide first entry on fifth ids REALLY took the 0-byte path
    assert(entries.filter(f => f.id % 5 == 0 && f.entry == 0).forall(_.width == 256))
    // both payload kinds present in volume
    assert(entries.count(_.kind == "png") > 0 && entries.count(_.kind == "dib") > 0)
    val raw = Ico.encodeOne(7L) // 2 entries: e0 dib, e1 png
    def forge(mut: Array[Byte] => Unit): Ico.IcoFile = {
      val b = raw.clone(); mut(b); Ico.IcoFile(7L, b)
    }
    // (a) forged directory width byte: payload cross-check drops THAT entry
    val f1 = Ico.decodeIco(Seq(forge(b => b(6) = 99.toByte)).toDS()).collect()
    assert(f1.length == 1 && f1.head.entry == 1, "lying width byte drops only its entry")
    // (b) entry offset pointing past the file: entry drops, sibling survives
    val f2 = Ico.decodeIco(Seq(forge { b =>
      b(6 + 12) = -1; b(6 + 13) = -1; b(6 + 14) = 0; b(6 + 15) = 0
    }).toDS()).collect()
    assert(f2.length == 1 && f2.head.entry == 1)
    // (c) truncated file: directory claims entries beyond the bytes → file drops
    assert(Ico.decodeIco(Seq(Ico.IcoFile(7L, raw.take(20))).toDS()).collect().isEmpty)
    // (d) DIB with an ODD biHeight (can't halve into XOR+AND) drops
    val e0Off = 6 + 16 * 2
    val f4 = Ico.decodeIco(Seq(forge(b => b(e0Off + 8) = 5.toByte)).toDS()).collect()
    assert(f4.forall(_.entry == 1), "odd doubled-height DIB must drop")
  }

  test("WebP: all three bitstream forms decode, pad bytes and unknown chunks honored, forgeries drop") {
    import graft.multimodal.Webp
    val ids = spark.range(0, 24).as[Long]
    val metas = Webp.decodeWebp(Webp.syntheticWebp(ids)).collect()
    assert(metas.length == 24)
    metas.foreach { m =>
      val (kind, w, h, a, n) = Webp.shape(m.id)
      assert(m.kind == kind && m.width == w && m.height == h &&
        m.has_alpha == a && m.n_chunks == n, s"id=${m.id}")
    }
    // id 8: vp8x with the odd-sized XMP chunk between header and frame —
    // 3 chunks walked means the pad byte and the skip both worked
    assert(metas.find(_.id == 8L).exists(m => m.kind == "vp8x" && m.n_chunks == 3))
    def forge(id: Long)(mut: Array[Byte] => Unit): Webp.WebpFile = {
      val b = Webp.encodeOne(id); mut(b); Webp.WebpFile(id, b)
    }
    def decode(f: Webp.WebpFile) = Webp.decodeWebp(Seq(f).toDS()).collect()
    // (a) RIFF size lie
    assert(decode(forge(0L)(b => b(4) = (b(4) + 1).toByte)).isEmpty)
    // (b) VP8 start-code corruption (id 0 is vp8: payload at 12+8, code at +3)
    assert(decode(forge(0L)(b => b(12 + 8 + 3) = 0x00)).isEmpty)
    // (c) nonzero VP8L version bits (id 1 is vp8l: LE32 at payload+1, top byte)
    assert(decode(forge(1L)(b => b(12 + 8 + 4) = (b(12 + 8 + 4) | 0x20).toByte)).isEmpty)
    // (d) vp8x canvas forged away from the inner frame (id 2: canvas w-1 at payload+4)
    assert(decode(forge(2L)(b => b(12 + 8 + 4) = (b(12 + 8 + 4) + 1).toByte)).isEmpty)
    // (e) truncation mid-chunk
    val t = Webp.encodeOne(5L)
    val tt = java.util.Arrays.copyOf(t, t.length - 3)
    // fix the RIFF size so ONLY the chunk walk catches it
    val sz = tt.length - 8
    tt(4) = (sz & 0xff).toByte; tt(5) = ((sz >> 8) & 0xff).toByte
    assert(decode(Webp.WebpFile(5L, tt)).isEmpty)
  }

  test("OGG: lacing runs (incl. exact-255-multiple tail), OGG CRC verified, splices drop") {
    import graft.multimodal.Ogg
    val ids = spark.range(0, 24).as[Long]
    val metas = Ogg.decodeOgg(Ogg.syntheticOgg(ids)).collect()
    assert(metas.length == 24)
    metas.foreach { m =>
      val (ser, np, npk, g) = Ogg.shape(m.id)
      assert(m.serial == ser && m.n_pages == np && m.n_packets == npk &&
        m.granule_last == g, s"id=${m.id}")
    }
    // the OGG CRC is NOT the zlib CRC: same bytes, different checksums
    val probe = "OggSrandom page bytes".getBytes
    val zlib = new java.util.zip.CRC32()
    zlib.update(probe)
    assert(Ogg.oggCrc(probe, 0, probe.length) != zlib.getValue.toInt)
    def forge(id: Long)(mut: Array[Byte] => Unit): Ogg.OggFile = {
      val b = Ogg.encodeOne(id); mut(b); Ogg.OggFile(id, b)
    }
    def decode(f: Ogg.OggFile) = Ogg.decodeOgg(Seq(f).toDS()).collect()
    // (a) any body byte flip breaks the page CRC
    assert(decode(forge(2L)(b => b(b.length - 1) = (b(b.length - 1) ^ 1).toByte)).isEmpty)
    // (b) spliced page sequence (id 2 has 3 pages; forge page 1's seq)
    assert(decode(forge(2L) { b =>
      // find the second page header and bump its sequence field
      val second = { var i = 4; while (!(b(i) == 'O' && b(i+1) == 'g' && b(i+2) == 'g' && b(i+3) == 'S')) i += 1; i }
      b(second + 18) = 9
    }).isEmpty)
    // (c) truncation mid-body
    val t = Ogg.encodeOne(1L)
    assert(decode(Ogg.OggFile(1L, java.util.Arrays.copyOf(t, t.length - 5))).isEmpty)
    // (d) nonzero version byte
    assert(decode(forge(1L)(b => b(4) = 1)).isEmpty)
  }

  test("PDF: end-entry xref walk, 20-byte records, offset/size/count cross-checks, forgeries drop") {
    import graft.multimodal.Pdf
    val ids = spark.range(0, 30).as[Long]
    val metas = Pdf.decodePdf(Pdf.syntheticPdf(ids)).collect()
    assert(metas.length == 30)
    metas.foreach { m =>
      val (v, np, w, h) = Pdf.shape(m.id)
      val nObj = 2 + np + (if (m.id % 3 == 0) 1 else 0)
      assert(m.version == v && m.n_pages == np && m.page_w == w &&
        m.page_h == h && m.n_objects == nObj, s"id=${m.id}")
    }
    def forge(id: Long)(mut: String => String): Pdf.PdfFile = {
      val s = new String(Pdf.encodeOne(id), java.nio.charset.StandardCharsets.ISO_8859_1)
      Pdf.PdfFile(id, mut(s).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    def decode(f: Pdf.PdfFile) = Pdf.decodePdf(Seq(f).toDS()).collect()
    // (a) forged xref offset: record no longer lands on its object header
    assert(decode(forge(4L)(s => {
      val at = s.indexOf("0000000000 65535 f") + 20
      s.substring(0, at) + "0000000007" + s.substring(at + 10)
    })).isEmpty)
    // (b) /Size lie in the trailer
    assert(decode(forge(4L)(_.replace("/Size 4", "/Size 9"))).isEmpty)
    // (c) /Count contradicting the Kids array
    assert(decode(forge(4L)(_.replace("/Count 1", "/Count 2"))).isEmpty)
    // (d) startxref pointing into the void
    assert(decode(forge(4L)(s =>
      s.replace(s"startxref\n${s.indexOf("xref")}", "startxref\n3"))).isEmpty)
    // (e) truncation before the trailer
    assert(decode({
      val b = Pdf.encodeOne(4L)
      Pdf.PdfFile(4L, java.util.Arrays.copyOf(b, b.length - 40))
    }).isEmpty)
    // (f) in-use record offset PAST the file end: must drop, not throw
    // (the landing check reads at the offset — clamped ascii returns "")
    assert(decode(forge(4L)(s => {
      val at = s.indexOf("0000000000 65535 f") + 20
      s.substring(0, at) + "0009999999" + s.substring(at + 10)
    })).isEmpty)
    // (g) empty /Kids array: the kid parse must drop, not NumberFormat-throw
    assert(decode(forge(4L)(s =>
      s.replaceAll("""/Kids \[[^\]]*\]""", "/Kids [ ]"))).isEmpty)
    // (h) R-leading (malformed triple) kids
    assert(decode(forge(4L)(s =>
      s.replaceAll("""/Kids \[[^\]]*\]""", "/Kids [ R 0 3 ]"))).isEmpty)
    // (i) >10-digit /Size: toIntOption drops instead of overflow-throwing
    assert(decode(forge(4L)(_.replace("/Size 4", "/Size 99999999999"))).isEmpty)
  }

  test("MP3 walk: syncsafe ID3 skip, stride-computed frames, VBR flag, forgeries stop") {
    import graft.multimodal.Mp3Meta
    val ids = spark.range(0, 40).as[Long]
    val infos = Mp3Meta.decodeMp3(Mp3Meta.syntheticMp3(ids)).collect()
    assert(infos.length == 40)
    infos.foreach { f =>
      assert(f.n_frames == 3 + f.id % 6, s"id=${f.id}")
      val sr = Seq(44100, 48000, 32000)((f.id % 3).toInt)
      assert(f.samplerate == sr)
      assert(f.has_id3 == (f.id % 2 == 0))
      assert(f.id3_size == (if (f.id % 2 == 0) 20 + f.id % 50 else 0L))
      // CBR every fourth id, measured not assumed (n_frames ≥ 3 > 1)
      assert(f.vbr == (f.id % 4 != 0), s"id=${f.id} vbr")
      assert(f.duration_us == f.n_frames * 1152L * 1000000L / sr)
    }
    val raw = Mp3Meta.encodeOne(2L) // has ID3 (even), VBR, 44100
    def forge(mut: Array[Byte] => Unit): Mp3Meta.Mp3File = {
      val b = raw.clone(); mut(b); Mp3Meta.Mp3File(2L, b)
    }
    // (a) syncsafe byte with the top bit set → malformed tag → drop
    assert(Mp3Meta.decodeMp3(Seq(forge(b => b(9) = 0x80.toByte)).toDS())
      .collect().isEmpty)
    // (b) ID3 size claiming past the buffer → drop
    assert(Mp3Meta.decodeMp3(Seq(forge(b => b(9) = 0x7f.toByte)).toDS())
      .collect().isEmpty)
    // (c) truncation mid-final-frame: the partial frame is NOT counted
    val whole = Mp3Meta.decodeMp3(Seq(Mp3Meta.Mp3File(2L, raw)).toDS())
      .collect().head
    val cut = Mp3Meta.decodeMp3(Seq(Mp3Meta.Mp3File(2L, raw.dropRight(10))).toDS())
      .collect().head
    assert(cut.n_frames == whole.n_frames - 1)
    // (d) a 'free format' bitrate index (0) stops the walk at that frame
    val id3Len = 10 + whole.id3_size.toInt
    val f5 = Mp3Meta.decodeMp3(Seq(forge(b =>
      b(id3Len + 2) = (b(id3Len + 2) & 0x0f).toByte)).toDS()).collect()
    assert(f5.isEmpty, "first frame free-format → zero frames → drop")
  }

  test("SRT parse: CRLF, multi-line cues, comma timestamps; bad cues drop; monotonic flag") {
    import graft.multimodal.Srt
    // formulas round-trip through the real parser for a sweep of ids
    val infos = Srt.decodeSrt(Srt.syntheticSrt(spark.range(0, 25).as[Long]))
      .collect()
    assert(infos.length == 25)
    infos.foreach { f =>
      val n = 2 + f.id % 4
      assert(f.n_cues == n, s"id=${f.id}")
      assert(f.total_ms == (0L until n).map(j => 1500 + (f.id + j) % 2000).sum)
      assert(f.monotonic)
    }
    // hand-built file: CRLF line endings, a multi-line cue, an OUT-OF-ORDER
    // cue (monotonic=false), a zero-length cue (drops), a malformed
    // timestamp with a DOT millisecond separator (WebVTT form — drops)
    val s = Seq(
      "1", "00:00:10,000 --> 00:00:12,000", "line one", "line two", "",
      "2", "00:00:05,000 --> 00:00:06,500", "early", "",
      "3", "00:00:20,000 --> 00:00:20,000", "zero length", "",
      "4", "00:00:30.000 --> 00:00:31.000", "dot millis", ""
    ).mkString("\r\n")
    val out = Srt.decodeSrt(Seq(Srt.SrtFile(1L, s)).toDS()).collect().head
    assert(out.n_cues == 2L, "zero-length and dot-millis cues must drop")
    assert(out.total_ms == 2000L + 1500L)
    assert(out.n_text_chars == ("line one".length + "line two".length +
      "early".length).toLong)
    assert(out.max_end_ms == 12000L)
    assert(!out.monotonic, "cue 2 starts before cue 1")
    // a file with no valid cue drops entirely
    assert(Srt.decodeSrt(Seq(Srt.SrtFile(2L, "not a subtitle")).toDS())
      .collect().isEmpty)
  }

  test("readability statistics: hand-checked syllables and score trees") {
    import graft.functions.TextFns
    // "table" → a+e groups = 2 syllables; "qqq" floors at 1; "a" → 1
    val df = Seq((1L, "table qqq a")).toDF("doc_id", "text")
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
    val got = df.select(TextFns.totalSyllablesFromWords(col("ws")).as("s"))
      .as[Long].head()
    assert(got == 4L)
  }

  test("ndcgEval: perfect ranking scores 1.0, reversal loses nDCG but not recall, miss scores 0") {
    import graft.ann.Ann
    def ranked(q: Long, ids: Seq[Long]) =
      ids.zipWithIndex.map { case (n, i) => (q, n, (i + 1).toLong) }
    val exact = ranked(1L, Seq(10, 11, 12, 13, 14)) ++
      ranked(2L, Seq(20, 21, 22, 23, 24)) ++ ranked(3L, Seq(30, 31, 32, 33, 34))
    // q1 approx = exact order; q2 approx = exact REVERSED (recall 5/5 both);
    // q3 approx misses entirely
    val approx = ranked(1L, Seq(10, 11, 12, 13, 14)) ++
      ranked(2L, Seq(24, 23, 22, 21, 20)) ++ ranked(3L, Seq(90, 91, 92, 93, 94))
    val qs = Seq(1L, 2L, 3L).toDF("query_id")
    val out = Ann.ndcgEval(qs,
        approx.toDF("query_id", "neighbor_id", "rank"),
        exact.toDF("query_id", "neighbor_id", "rank"), 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 5L && out(1L).getDouble(4) == 1.0,
      "perfect ranking is the IDCG")
    assert(out(2L).getLong(1) == 5L, "reversal still has full recall")
    val rev = out(2L).getDouble(4)
    assert(rev > 0.5 && rev < 1.0, s"reversal must cost nDCG, got $rev")
    assert(out(3L).getLong(1) == 0L && out(3L).getDouble(4) == 0.0 &&
      out(3L).isNullAt(2), "total miss: zero metrics, null first-relevant rank")
    // first_rel_pos: only position 3 relevant → 3
    val one = Ann.ndcgEval(Seq(9L).toDF("query_id"),
      ranked(9L, Seq(80, 81, 42, 82, 83)).toDF("query_id", "neighbor_id", "rank"),
      ranked(9L, Seq(40, 41, 42, 43, 44)).toDF("query_id", "neighbor_id", "rank"),
      5).collect().head
    assert(one.getLong(2) == 3L)
    // and its dcg is exactly rel(=3) · w(pos 3): the shared-literal tree
    assert(one.getDouble(3) == 3.0 * Ann.ndcgDiscounts(5)(2))
  }

  test("SCD2 lookup composition: events pick up the tier in effect; pre-first-purchase is null") {
    import graft.ops.{Joins, Windows}
    // purchases at t=10 (tier 1) and t=30 (tier 2); lookups at 5/15/30/40
    val purchases = Seq((1L, 10L, 1L), (1L, 30L, 2L)).toDF("k", "t", "tier")
    val dim = Windows.changeIntervals(purchases, Seq(col("k")), col("t"), col("tier"))
      .select(col("k"), col("valid_from"), col("attr").as("tier"))
    val events = Seq((1L, 5L, "a"), (1L, 15L, "b"), (1L, 30L, "c"), (1L, 40L, "d"))
      .toDF("k", "t", "tag")
    val got = Joins.asOf(events, dim, Seq("k"), "t", "valid_from", Seq("tier"))
      .select("tag", "tier").as[(String, Option[Long])].collect().toMap
    assert(got == Map("a" -> None, "b" -> Some(1L), "c" -> Some(2L), "d" -> Some(2L)))
  }

  test("filtered retrieval: pre-filter is the subset's true top-k; post-filter loses neighbors") {
    import graft.ann.Ann
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val pred = col("vec_id") % 3 === 0
    val pre = Ann.filteredTopK(e, q, "vec_id", "embedding", 5, pred)
      .select("query_id", "neighbor_id")
    // the WRONG plan: unfiltered top-k, then filter the results
    val post = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .filter(col("neighbor_id") % 3 === 0)
      .select("query_id", "neighbor_id")
    // every post-filter survivor is genuinely in the subset's top-k…
    assert(post.exceptAll(pre).count() == 0L)
    // …but pre returns the full 5 per query while post drops ~2/3 of them
    assert(pre.count() == 50L)
    val postN = post.count()
    assert(postN < 30L, s"post-filter kept $postN — expected heavy loss")
  }

  test("MIPS ranking ≡ cosine ranking over norm-augmented vectors (the scale-path identity)") {
    import graft.ann.Ann
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    // EXACT (unrounded) orderings on both sides: the production lanes
    // round to 6dp for engine-portable tie groups, but ip and cos bin
    // DIFFERENTLY under rounding (cos divides by ~‖q‖·M first), so the
    // identity holds only for the exact order — which is what it claims.
    import org.apache.spark.sql.expressions.Window
    val wIp = Window.partitionBy("query_id")
      .orderBy(col("ip").desc, col("neighbor_id").asc)
    val mips = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .join(broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("ip", Ann.dotFold(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wIp))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    // augmented lane: every corpus vector gets constant norm M, a query a
    // trailing 0 — cosine over x'/q' is q·x/(‖q‖·M), a per-query positive
    // scaling, so the ORDER is exactly MIPS order
    val bigM = 100.0 // ≥ max corpus norm for the fixture (64 dims in [-1,1])
    val cAug = e.select(col("vec_id").as("neighbor_id"),
      Ann.augmentForMips(col("embedding"), bigM, isQuery = false).as("cv"))
    val qAug = q.select(col("vec_id").as("query_id"),
      Ann.augmentForMips(col("embedding"), bigM, isQuery = true).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val viaCos = cAug.join(broadcast(qAug), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Ann.cosineFold(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(mips == viaCos,
      s"MIPS vs augmented-cosine diverged: ${(mips -- viaCos).take(3)} | ${(viaCos -- mips).take(3)}")
    // and the augmented corpus really is constant-norm M
    val norms = cAug.select(Ann.dotFold(col("cv"), col("cv")).as("n2"))
      .agg(min(col("n2")), max(col("n2"))).head()
    assert(math.abs(norms.getDouble(0) - bigM * bigM) < 1e-6 &&
      math.abs(norms.getDouble(1) - bigM * bigM) < 1e-6)
  }

  test("prefix retrieval keeps most of the full-rank top-5 on the fixture embeddings") {
    import graft.ann.Ann
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pre = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val full = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    val pref = Ann.bruteForceTopK(pre, pre.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    val overlap = pref.join(full, Seq("query_id", "neighbor_id")).count()
    // the fixture embeddings are synthetic (NOT nested-trained), so prefix
    // recall is honestly weak — the lane tests the sliced-scan MECHANISM;
    // on a real matryoshka-trained model the prefix carries most of the
    // signal. Assert the band: nonzero overlap, strictly below full.
    assert(overlap >= 1L && overlap < 50L, s"overlap $overlap out of plausible band")
  }

  test("MKV/EBML walk: vint widths, padded sizes, unknown-size segment, forgeries drop") {
    import graft.multimodal.Mkv
    val ids = spark.range(0, 40).as[Long]
    val feats = Mkv.decodeMkv(Mkv.syntheticMkv(ids)).collect()
    assert(feats.length == 40)
    feats.foreach { f =>
      val (w, h, scale, durMs, nTracks, nElems) = Mkv.shape(f.id)
      assert(f.width == w && f.height == h && f.timestamp_scale == scale &&
        f.duration_ms == durMs && f.n_tracks == nTracks &&
        f.n_elements == nElems, s"id=${f.id}")
    }
    // id%4==0 rows use the unknown-size segment, id%3==0 pad the Video
    // size encoding — both decoded above; now the drop paths:
    def decode(b: Array[Byte]) =
      Mkv.decodeMkv(Seq(Mkv.MkvClip(1L, b)).toDS()).collect()
    val good = Mkv.syntheticMkv(Seq(7L).toDS()).collect().head.media  // 7: known-size segment
    // (a) truncation mid-element: size past EOF
    assert(decode(java.util.Arrays.copyOf(good, good.length - 3)).isEmpty)
    // (b) unknown-size vint on a NON-segment element: find the Info size
    // byte and forge it to 0xff (Info id 0x1549A966 then 1-byte size)
    val infoAt = {
      var i = 0
      while (!(i + 4 < good.length && (good(i) & 0xff) == 0x15 &&
        (good(i + 1) & 0xff) == 0x49 && (good(i + 2) & 0xff) == 0xA9 &&
        (good(i + 3) & 0xff) == 0x66)) i += 1
      i
    }
    val forged = good.clone(); forged(infoAt + 4) = 0xff.toByte
    assert(decode(forged).isEmpty)
    // (c) zero leading byte where a vint id must start (width > 8: invalid)
    val zeroId = good.clone(); zeroId(0) = 0
    assert(decode(zeroId).isEmpty)
    // (d) bogus magic routes nowhere
    assert(decode("notanebmlstream!".getBytes("US-ASCII")).isEmpty)
    // (e) nesting bomb (ADVICE r13): ~200 nested Info containers would
    // recurse past any sane structure — the MaxDepth cap drops the row
    // instead of a task-killing StackOverflowError
    def vint8(n: Long): Array[Byte] =
      0x01.toByte +: (6 to 0 by -1).map(k => ((n >> (8 * k)) & 0xff).toByte).toArray
    val infoId = Array(0x15, 0x49, 0xA9, 0x66).map(_.toByte)
    var nested = Array.empty[Byte]
    (1 to 200).foreach { _ =>
      nested = infoId ++ vint8(nested.length.toLong) ++ nested }
    val bomb = Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte) ++
      vint8(nested.length.toLong) ++ nested
    assert(decode(bomb).isEmpty)
  }

  test("H.264 I-frame slice decode: CAVLC + intra DC + integer transforms ≡ closed-form recurrence") {
    import graft.multimodal.H264Px
    val ids = spark.range(0, 40).as[Long]
    val mbs = H264Px.decodeH264Px(H264Px.syntheticH264Px(ids)).collect()
    val expect = (0L until 40L).flatMap { id =>
      val (mbW, mbH) = H264Px.mbGrid(id)
      val ys = H264Px.expectedLuma(id)
      (0 until mbW * mbH).map(k => (id, k % mbW, k / mbW, ys(k)))
    }.toSet
    assert(mbs.length == expect.size)
    mbs.foreach { m =>
      // flatness is DECODED evidence, not framing: spreads are max-min
      // over all 256 luma / 128 chroma pixels of the reconstruction
      assert(m.y_spread == 0 && m.c_spread == 0 &&
        m.cb_val == 128 && m.cr_val == 128, s"id=${m.id}")
      assert(expect.contains((m.id, m.mb_x, m.mb_y, m.y_val)),
        s"id=${m.id} (${m.mb_x},${m.mb_y}) y=${m.y_val}")
    }
    // the id%4==0 clips carry the 12-bit ESCAPE level (c=100) in MB 0 —
    // their first MB must differ from the non-escape formula's value
    assert(H264Px.expectedLuma(4L)(0) == math.min(255, 128 + (32 * 100 + 32 >> 6)))

    // CAVLC level machinery round-trip across all three regimes and the
    // regime fences: trailing-one (|c|=1), prefix (levelCode<14),
    // prefix-14 4-bit suffix (14..29), 12-bit escape (>=30), both signs
    for (c <- (-40 to 40).filter(_ != 0) ++ Seq(7, 8, 9, 15, 16, 17, -16, -17,
         100, -100, 2000, -2000)) {
      val got = H264Px.roundTripLevels(Array(c), nC = 0, maxCoeff = 16)
      assert(got.toSeq == Seq(c), s"level $c round-trip -> ${got.toSeq}")
    }
    // two-coefficient blocks (coeff_token tc=2 rows, incl. mixed signs)
    for ((a, b) <- Seq((1, 1), (-1, 1), (3, -1), (5, 4), (-7, -1))) {
      val got = H264Px.roundTripLevels(Array(a, b), nC = 0, maxCoeff = 16)
      assert(got.toSeq == Seq(a, b), s"levels ($a,$b) -> ${got.toSeq}")
    }
    // chroma-DC table class (nC = -1)
    for (ls <- Seq(Array.empty[Int], Array(1), Array(-5), Array(2, -1))) {
      val got = H264Px.roundTripLevels(ls, nC = -1, maxCoeff = 4)
      assert(got.toSeq == ls.toSeq)
    }

    // forgeries / ceiling rejections drop the clip (no rows, no throw)
    val good = H264Px.encodeOne(7L)
    assert(H264Px.decodeOne(7L,
      java.util.Arrays.copyOf(good, good.length - 2)).isEmpty) // truncated slice
    assert(H264Px.decodeOne(1L, "notastream".getBytes("US-ASCII")).isEmpty)
    val noSlice = H264Px.encodeOne(3L).take(40) // SPS+PPS survive, slice gone
    assert(H264Px.decodeOne(3L, noSlice).isEmpty)
  }

  test("TTF/sfnt walk: search triplet, sorted tags, head-adjusted checksums, forgeries drop") {
    import graft.multimodal.Ttf
    val ids = spark.range(0, 40).as[Long]
    val feats = Ttf.decodeTtf(Ttf.syntheticTtf(ids)).collect()
    assert(feats.length == 40)
    feats.foreach { f =>
      val (nt, upem, ng, x0, y0, x1, y1) = Ttf.shape(f.id)
      assert(f.n_tables == nt && f.units_per_em == upem && f.n_glyphs == ng &&
        f.x_min == x0 && f.y_min == y0 && f.x_max == x1 && f.y_max == y1,
        s"id=${f.id}")
    }
    def decode(b: Array[Byte]) =
      Ttf.decodeTtf(Seq(Ttf.TtfFile(1L, b)).toDS()).collect()
    val good = Ttf.syntheticTtf(Seq(7L).toDS()).collect().head.media
    // (a) corrupt one payload byte: that table's checksum must fail
    val flip = good.clone(); flip(good.length - 1) = (flip(good.length - 1) ^ 0x5a).toByte
    assert(decode(flip).isEmpty)
    // (b) forge searchRange (redundant with numTables — must be verified)
    val sr = good.clone(); sr(7) = (sr(7) ^ 0x10).toByte
    assert(decode(sr).isEmpty)
    // (c) break the tag sort: swap the first two directory tags
    val swap = good.clone()
    (0 until 16).foreach { i =>
      val t = swap(12 + i); swap(12 + i) = swap(28 + i); swap(28 + i) = t
    }
    assert(decode(swap).isEmpty)
    // (d) head magic forged
    val hm = good.clone()
    // find head offset from the (sorted-first) head record
    val headOff = (((hm(12 + 8) & 0xff) << 24) | ((hm(12 + 9) & 0xff) << 16) |
      ((hm(12 + 10) & 0xff) << 8) | (hm(12 + 11) & 0xff))
    hm(headOff + 12) = 0x00
    assert(decode(hm).isEmpty)
    // (e) truncation
    assert(decode(java.util.Arrays.copyOf(good, good.length - 5)).isEmpty)
    // (f) the head checkSumAdjustment field is FREE to change (it is
    // zeroed during the sum) — decode must still succeed
    val adj = good.clone(); adj(headOff + 8) = 0x7f.toByte
    assert(decode(adj).nonEmpty, "adjustment bytes must not break the checksum")
  }
}
