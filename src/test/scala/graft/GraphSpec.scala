package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.WorkCounter
import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val S = Graph.Scale

  test("pageRank: symmetric 2-cycle is a fixed point (each node keeps S/2-ish)") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 3)
      .as[(String, Long)].collect().toMap
    // exact fixed-point walk: r0 = S/2; each round r = (S·15//100)//2 + (r·85)//100
    var expect = S / 2
    for (_ <- 0 until 3) expect = (S * 15 / 100) / 2 + (expect * 85) / 100
    assert(r("a") == expect && r("b") == expect, s"got $r, want $expect")
  }

  test("pageRank: star center out-ranks leaves; total mass conserved up to truncation") {
    // undirected star: center c, leaves l1..l4
    val pairs = (1 to 4).map(i => ("c", s"l$i"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 3)
      .as[(String, Long)].collect().toMap
    assert((1 to 4).forall(i => r("c") > r(s"l$i")), s"center must dominate: $r")
    assert((1 to 4).map(i => r(s"l$i")).distinct.size == 1, "leaves must tie")
    val mass = r.values.sum
    // each of 3 rounds truncates ≤ 1 unit per node per DIV (2 DIVs/round)
    assert(mass <= S && mass > S - 3L * 2 * 5 - 5, s"mass $mass drifted from $S")
  }

  test("labelPropagation: two disjoint triangles converge to their min labels") {
    // symmetric triangles {a,b,c} and {x,y,z}
    def tri(n: Seq[String]) = for (u <- n; v <- n if u != v) yield (u, v)
    val edges = (tri(Seq("a", "b", "c")) ++ tri(Seq("x", "y", "z"))).toDF("src", "dst")
    val l = Graph.labelPropagation(edges, "src", "dst", iters = 4)
      .as[(String, String)].collect().toMap
    // round 1: every node sees two distinct single-vote labels -> takes the
    // smaller; the min label then dominates and absorbs the component
    assert(Seq("a", "b", "c").map(l) == Seq("a", "a", "a"), s"got $l")
    assert(Seq("x", "y", "z").map(l) == Seq("x", "x", "x"), s"got $l")
  }

  test("labelPropagation: majority beats lexicographic order; isolated src keeps label") {
    // node t has in-neighbors m, m2 (label 'm' after r1? no — use direct
    // votes): b and c both labeled... construct: voters v1,v2 carry 'z'+,
    // single voter 'a'. t's in-edges: z1->t, z2->t, a1->t with initial
    // labels z1,z2,a1 — round 1 votes are three singletons, min wins ('a1').
    // To show MAJORITY, give two voters the SAME initial label by making
    // them the same node voting via two edges? Edges are distinct rows —
    // duplicate edges vote twice (multigraph semantics, documented by this
    // test): z->t twice beats a->t once despite 'a' < 'z'.
    val edges = Seq(("z", "t"), ("z", "t"), ("a", "t")).toDF("src", "dst")
    val l = Graph.labelPropagation(edges, "src", "dst", iters = 1)
      .as[(String, String)].collect().toMap
    assert(l("t") == "z", s"two z votes beat one a vote: $l")
    // 'z' and 'a' have no in-edges: they keep their own labels
    assert(l("z") == "z" && l("a") == "a")
  }

  test("pageRank: deterministic across runs (bit-equal ranks)") {
    val t = graft.sources.TestData(spark, sf0001)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("C"), col("o_custkey")).as("c"),
        concat(lit("S"), col("l_suppkey")).as("s")).distinct()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
    def run() = Graph.pageRank(edges, "src", "dst", iters = 2)
      .as[(String, Long)].collect().toSet
    assert(run() == run())
  }

  test("triangleCounts: K4 has 4 triangles, 3 per node; C4 has none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(k4, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(Graph.triangleCounts(c4, "src", "dst").count() === 0L)
  }

  test("triangleCounts: invariant to edge direction, duplicates, self-loops") {
    // triangle (1,2,3) + pendant 4, fed messy: reversed edges, dupes, a loop
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L),
      (3L, 4L), (4L, 3L), (2L, 2L))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(messy, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents labels every node with its component's min id") {
    // two components: path 1-2-3 and edge 10-11; edges given one-directed
    val e = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = Graph.connectedComponents(e, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a long path within O(log d) rounds") {
    // a 200-node path has diameter 199 — plain one-hop min propagation
    // would need ~199 rounds; pointer-halving must close it well inside
    // maxIterations = 12 (2^12 ≫ 199 with the halving compounding)
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Graph.connectedComponents(path, "src", "dst", maxIterations = 12)
      .as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("boundedSssp: hop bound is a real contract; early exit matches full run") {
    // 1→2 (w5), 2→3 (w1), 1→3 (w10): the cheap 2-hop route to 3 only
    // appears once the hop budget admits it
    val e = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L)).toDF("src", "dst", "w")
    val src = Seq(1L).toDF("node")
    def run(h: Int) = Graph.boundedSssp(e, "src", "dst", "w", src, h)
      .as[(Long, Long)].collect().toMap
    assert(run(1) == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
    assert(run(2) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L))
    // converged by round 2; rounds 3..10 exit early with the same answer
    assert(run(10) == run(2))
  }

  test("boundedSssp derives its edge input once, however many hops it runs") {
    // a 12-node unit-weight chain from node 0, read from a parquet file: the
    // wave still moves at hop 6, so neither run exits early and every round
    // relaxes edges. The accumulator counts the rows the edge expression
    // produces; WorkCounter's input records count the rows the file scan
    // produces, not the per-round reads of the checkpointed edges.
    val path = java.nio.file.Files.createTempDirectory("graft_sssp_chain")
      .resolve("edges").toString
    (0L until 12L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")
      .write.parquet(path)
    val derived = spark.sparkContext.longAccumulator("sssp edge rows")
    val e = spark.read.parquet(path).as[(Long, Long, Long)]
      .map { r => derived.add(1); r }.toDF("src", "dst", "w")
    val src = Seq(0L).toDF("node")
    val counter = new WorkCounter(spark)
    spark.sparkContext.addSparkListener(counter)
    def run(h: Int): (Map[Long, Long], Long, Long) = {
      derived.reset()
      counter.reset()
      val d = Graph.boundedSssp(e, "src", "dst", "w", src, h)
        .as[(Long, Long)].collect().toMap
      (d, derived.value.longValue, counter.read().inputRecords)
    }
    val ((d2, rows2, in2), (d6, rows6, in6)) =
      try (run(2), run(6))
      finally spark.sparkContext.removeSparkListener(counter)
    assert(d2 == (0L to 2L).map(n => n -> n).toMap, s"2 hops: $d2")
    assert(d6 == (0L to 6L).map(n => n -> n).toMap, s"6 hops: $d6")
    assert(rows2 == 12 && rows6 == 12,
      s"edge expression re-derived per round: $rows2 rows at 2 hops, $rows6 at 6")
    assert(in2 == 12 && in6 == 12,
      s"edge file rows charged per round: $in2 at 2 hops, $in6 at 6")
  }

  test("cooccurrencePairs: oriented once per pair, duplicate memberships collapsed") {
    // basket 1: {a,b,c}; basket 2: {a,b} with a duplicated 'a' line;
    // basket 3: {c} (no pairs). (a,b) co-occurs twice, others once.
    val m = Seq((1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "a"), (2L, "b"), (3L, "c")).toDF("b", "i")
    val all = Graph.cooccurrencePairs(m, "b", "i", minCount = 1L)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(all == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    val floored = Graph.cooccurrencePairs(m, "b", "i", minCount = 2L)
      .as[(String, String, Long)].collect()
    assert(floored.toSeq == Seq(("a", "b", 2L)))
  }
}
