package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cosine is computed with sequential left-fold accumulation
  * (`aggregate(zip_with(...))`) after widening each element to double —
  * deterministic and replayable bit-for-bit in SQL (DuckDB `list_reduce`).
  *
  * Scale posture: the brute-force path broadcasts the (small) query set and
  * streams the corpus — one pass, no shuffle except the final per-query top-k.
  * The LSH path buckets the corpus by random-hyperplane signs so each query
  * probes only its bucket — the 100 TB plan.
  */
object Ann {

  /** dot(a, b) as a sequential left fold over builtin higher-order
    * functions — the reference semantics (any element type). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** dot(a, b) via the native codegen'd [[graft.functions.VecDotFloat]]
    * expression — bit-identical to [[dotFold]] on `array<float>` input
    * (same accumulation order), ~no per-row allocation. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[cosine]] built on [[dotFold]] — works for ANY numeric array element
    * type (the codegen'd [[dot]] reads `array<float>` only). Bit-identical
    * to [[cosine]] on float input (same fold order); used where centroids
    * are double arrays (the fold-sum Lloyd variant). */
  def cosineFold(a: Column, b: Column): Column =
    dotFold(a, b) / (sqrt(dotFold(a, a)) * sqrt(dotFold(b, b)))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded). Ranking key is (round(cos, 6) DESC, id ASC) so
    * near-ties rank engine-independently.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Maximum-inner-product top-k (MIPS) — the RETRIEVAL-FOR-RECOMMENDERS
    * twin of cosine search: rank by raw dot product, no normalization
    * (user/item factor models and DPR-style retrievers score this way;
    * a high-norm item IS more relevant). Same one-pass broadcast-query
    * scan as [[bruteForceTopK]]; (round(ip,6) DESC, id ASC) tie rule.
    *
    * Scale path: MIPS reduces EXACTLY to cosine search via the classic
    * norm-augmentation (Bachrach et al. 2014 / Shrivastava–Li):
    * x' = x ++ [√(M²−‖x‖²)] with M ≥ max‖x‖ gives every corpus vector
    * constant norm M, so cos(q', x') = q·x / (‖q‖·M) — a per-query
    * positive scaling — and cosine ranking over augmented vectors IS MIPS
    * ranking. [[augmentForMips]] builds x'; the identity is spec-pinned,
    * which means every indexed cosine lane (IVF/PQ/graph) serves MIPS
    * unchanged at 100 TB. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, id: String,
               vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("ip", round(dot(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("ip").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "ip")
  }

  /** Norm-augmentation for MIPS-as-cosine: corpus rows get the extra
    * coordinate √(M²−‖x‖²) (constant norm M); queries get a 0 (set
    * `isQuery = true`). Output column is `array<double>` — pair with the
    * fold lanes ([[cosineFold]], [[Ann.bruteForceTopK]] works on any
    * numeric element type through them). */
  def augmentForMips(vec: Column, bigM: Double, isQuery: Boolean): Column =
    if (isQuery)
      concat(transform(vec, x => x.cast("double")), array(lit(0.0)))
    else
      concat(transform(vec, x => x.cast("double")),
        array(sqrt(greatest(lit(0.0), lit(bigM * bigM) - dotFold(vec, vec)))))

  /** Attribute-filtered vector search — the serving shape behind every
    * "nearest docs WHERE lang = 'en' AND source = X" call. This is the
    * PRE-FILTER plan: the predicate restricts the corpus BEFORE scoring,
    * so the result is the true top-k of the eligible subset and the
    * predicate reaches the parquet scan (filter pushdown — the scan reads
    * only matching row groups). The tempting alternative — run unfiltered
    * top-k, then filter — is WRONG at any k: every surviving neighbor is
    * correct but up to k of them disappear, and a query whose true
    * neighbors all fail the predicate returns nothing (recall loss is
    * unbounded; spec-pinned). For the IVF/PQ index path the same rule
    * holds per cell: filter the posting lists, not the result.
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, id: String,
                   vec: String, k: Int, pred: Column): DataFrame =
    bruteForceTopK(corpus.filter(pred), queries, id, vec, k)

  /** splitmix64 finalizer — the standard public-domain mixer (same math as
    * java.util.SplittableRandom). Runs at PLAN time only. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic hyperplane matrix: coefficient (i, d) in [-1, 1) from
    * splitmix64(seed, i·dims + d). Computed once on the driver and inlined
    * as literals — a bits×dims matrix is ≤ KBs, so shipping it in the plan
    * beats re-deriving a hash per (row, plane, dim) at scale, and literal
    * coefficients make the signature replayable in any engine. */
  def hyperplanes(seed: Long, bits: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(bits, dims) { (i, d) =>
      (mix64(seed + i.toLong * dims + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  /** Random-hyperplane LSH signature: bit i = sign(dot(v, h_i)) over the
    * seeded [[hyperplanes]] matrix (no stored model, identical across
    * runs/executors/engines). */
  def lshSignature(vec: Column, dims: Int, bits: Int, seed: Long = 42L): Column = {
    val hp = hyperplanes(seed, bits, dims)
    val planes = (0 until bits).map { i =>
      val coeffs = array(hp(i).toIndexedSeq.map(lit): _*)
      val s = aggregate(
        zip_with(vec, coeffs, (x, c) => x.cast("double") * c),
        lit(0.0), (acc, v) => acc + v)
      when(s > 0, lit(1L << i)).otherwise(lit(0L))
    }
    planes.reduce(_ + _)
  }

  /** Bucketed ANN: queries probe only their LSH bucket, then exact cosine
    * re-ranks within the bucket. Trades recall for a corpus-partition-local
    * search — the path that survives a 100×-scale corpus. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, dims: Int, bits: Int = 12, seed: Long = 42L): DataFrame = {
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .withColumn("bucket", lshSignature(col("cv"), dims, bits, seed))
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
      .withColumn("bucket", lshSignature(col("qv"), dims, bits, seed))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer — centroids
    * are the vectors whose id ≡ 0 (mod corpusSize/nLists), i.e. a fixed
    * sample, refined by `lloydIters` Lloyd steps — partitions the corpus
    * into cells; each query probes its `nProbe` nearest cells and re-ranks
    * exactly within them.
    *
    * Scale posture: centroids are O(nLists·dims) — always broadcast; the
    * corpus is scanned once per Lloyd step and once for final assignment
    * (each a broadcast-join + argmin, no shuffle of the corpus); the search
    * itself touches ~nProbe/nLists of the corpus per query. Deterministic:
    * no RNG, ties broken by centroid id.
    *
    * `foldCentroids = true` switches the Lloyd update from the mean
    * (`round(avg, 6)` — run-to-run stable but not engine-replayable: the
    * partial-sum association is engine-private) to a per-cell sequential
    * fold SUM in cid order. Cosine is invariant under positive scaling of
    * either argument, so the sum-centroid ranks cells and neighbors
    * EXACTLY like the mean-centroid would in exact arithmetic — and the
    * fold makes every double bit-replayable in SQL (`list_reduce` over
    * `list(x ORDER BY cid)`), which is what buys the DuckDB oracle. Cost:
    * the fold collects one cell×position's values into a row (bounded by
    * the cell size) — fine at gate scale, documented oracle-lane-only; the
    * production path keeps the constant-state mean.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, nLists: Int = 16, nProbe: Int = 4, lloydIters: Int = 2,
              foldCentroids: Boolean = false): DataFrame = {
    // centroids are double arrays after a fold-sum update; cosineFold
    // handles any element type (bit-identical to the codegen'd cosine on
    // float input, same accumulation order)
    val cos: (Column, Column) => Column =
      if (foldCentroids) cosineFold else cosine
    val c = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    val centroids = ivfCentroids(corpus, id, vec, nLists, lloydIters, foldCentroids)
    val cells = assignToNearest(c, centroids, cos).join(c, "cid")
    // queries probe their nProbe nearest centroids
    val probes = queries.select(col(id).as("query_id"), col(vec).as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist", -cos(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist").asc, col("centroid_id").asc)))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "centroid_id")
    // the probe set is |queries|·nProbe rows, a query batch: broadcast it
    // up front. Left to AQE, the join is planned sort-merge and converted
    // only when the probe side's stage finishes, so whether the cells side
    // gets shuffled first depends on which stage wins the race.
    val scored = broadcast(probes).join(cells, "centroid_id")
      .filter(col("query_id") =!= col("cid"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cid").as("neighbor_id"), col("rank"), col("cos"))
  }

  /** The IVF coarse quantizer alone: (centroid_id, centroid) — seed pick by
    * value predicate, `lloydIters` refinement steps. Exposed so composed
    * indexes ([[Pq.ivfPqTopK]]) share the exact cell structure [[ivfTopK]]
    * probes. */
  def ivfCentroids(corpus: DataFrame, id: String, vec: String, nLists: Int,
                   lloydIters: Int = 0, foldCentroids: Boolean = false,
                   knownN: Option[Long] = None): DataFrame = {
    val cos: (Column, Column) => Column =
      if (foldCentroids) cosineFold else cosine
    val c = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    // knownN lets composed indexes (Pq.ivfPqTopK) count the corpus ONCE and
    // share it across every stride derivation instead of one job per caller
    val n = knownN.getOrElse(Pq.taggedCount(c, "graft count: ivf centroid stride"))
    val stride = math.max(1L, n / nLists)
    // deterministic seed set: ids ≡ 0 (mod stride) AND id < stride·nLists —
    // a value predicate, so the pick cannot depend on partition arrival
    // order (an unordered limit(nLists) would)
    var centroids = c.filter(col("cid") % stride === 0 && col("cid") < stride * nLists)
      .select(col("cid").as("centroid_id"), col("cv").as("centroid"))
    // Lloyd refinement: assign → element-wise mean per cell via posexplode —
    // constant-size aggregation state (never collects a cell's vectors into
    // one row; a collect_list mean would hold corpus/nLists vectors in a
    // single buffer). round(6) quantizes away partial-sum association noise
    // so the refined centroids are run-to-run stable.
    for (_ <- 0 until lloydIters) {
      val assigned = assignToNearest(c, centroids, cos)
      centroids =
        if (foldCentroids)
          assigned.join(c, "cid")
            .select(col("centroid_id"), col("cid"), posexplode(col("cv")).as(Seq("pos", "x")))
            .groupBy(col("centroid_id"), col("pos"))
            .agg(aggregate(
              array_sort(collect_list(struct(col("cid").as("k"), col("x").cast("double").as("x")))),
              lit(0.0), (acc, e) => acc + e.getField("x")).as("m"))
            .groupBy(col("centroid_id"))
            .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
            .select(col("centroid_id"), expr("transform(pm, p -> p.m)").as("centroid"))
        else
          assigned.join(c, "cid")
            .select(col("centroid_id"), posexplode(col("cv")).as(Seq("pos", "x")))
            .groupBy(col("centroid_id"), col("pos"))
            .agg(round(avg(col("x")), 6).as("m"))
            .groupBy(col("centroid_id"))
            .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
            .select(col("centroid_id"),
              expr("transform(pm, p -> CAST(p.m AS FLOAT))").as("centroid"))
    }
    centroids
  }

  /** Cell assignment for an externally-built centroid set: (cid,
    * centroid_id). Broadcast argmin — the corpus never shuffles. */
  def assignCells(corpus: DataFrame, id: String, vec: String,
                  centroids: DataFrame,
                  foldCentroids: Boolean = false): DataFrame =
    assignToNearest(corpus.select(col(id).as("cid"), col(vec).as("cv")),
      centroids, if (foldCentroids) cosineFold else cosine)

  /** Per-query probe set: the `nProbe` nearest cells — (query_id,
    * centroid_id). */
  def probeCells(queries: DataFrame, id: String, vec: String,
                 centroids: DataFrame, nProbe: Int,
                 foldCentroids: Boolean = false): DataFrame = {
    val cos: (Column, Column) => Column =
      if (foldCentroids) cosineFold else cosine
    queries.select(col(id).as("query_id"), col(vec).as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist", -cos(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist").asc, col("centroid_id").asc)))
      .filter(col("pr") <= nProbe)
      .select("query_id", "centroid_id")
  }

  /** Two-level (hierarchical) coarse assignment — the FAISS IMI/IVF
    * discipline that retires the flat-assignment scale term. Flat
    * assignment ([[assignCells]]) scores every row against ALL `nLists`
    * centroids; under the occupancy-constant rule (nLists ∝ corpus) that
    * is O(N·nLists) = O(N²) total work — the one named scale-killer of the
    * index BUILD lanes (SCALE.md r14). Here ~√nLists of the fine centroids
    * (every stride-th by id rank — a value pick) form a TOP level; each
    * fine centroid hangs under its nearest top; a row scores the √nLists
    * tops, keeps its `topProbe` nearest, and scores only THEIR children —
    * O(√nLists·(1+topProbe)) per row, O(N^1.5) total under the rule.
    *
    * Exactness contract (spec-pinned): with `topProbe ≥ √nLists` every
    * child is a candidate, and the candidate scoring uses the IDENTICAL
    * expression and (d ASC, centroid_id ASC) tie rule as the flat argmin —
    * so the assignment is bit-for-bit the flat one. The gate fixtures run
    * at nLists = 16 (nTop = 4 ≤ default topProbe), i.e. the gate lanes ARE
    * the exact regime; pruning engages only when nLists outgrows
    * topProbe² — exactly the scale regime where it must.
    *
    * Shuffle posture: flat assignment pushes N·nLists expanded rows
    * through the argmin exchange; this pushes N·nTop (stage 1), and
    * stage 2 reuses stage 1's (cid) partitioning — no second exchange.
    *
    * Returns (cid, centroid_id, arn) with arn = 1..`m` (multi-assignment
    * consumers like the graph build take m = 2). */
  def hierarchicalAssign(corpus: DataFrame, id: String, vec: String,
                         centroids: DataFrame, nLists: Int,
                         m: Int = 1, topProbe: Int = 4,
                         cos: (Column, Column) => Column = cosineDefault): DataFrame = {
    require(m >= 1 && topProbe >= 1, "degenerate hierarchical-assign parameters")
    // r16: the default float-cosine lane runs as ONE codegen'd kernel
    // expression (functions/HierArgMin) — same map-only posture, but the
    // two argmin stages are tight JVM loops instead of interpreted
    // higher-order functions (docs/ASSIGN_r15.json measured the HOF lane
    // losing to flat below nLists≈256 purely on that constant). Custom
    // `cos` lanes and non-float centroid tables keep the HOF formulation.
    // BOTH vector columns must be array<float> for the kernel lane (ADVICE
    // r16: the kernel reads via ArrayData.getFloat — an array<double>
    // corpus column would also fail HierArgMinFloat's analysis-time type
    // check, but falling back keeps non-float lanes working)
    def isFloatArray(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val isFloatVec = isFloatArray(centroids.schema("centroid").dataType) &&
      isFloatArray(corpus.schema(vec).dataType)
    if ((cos eq cosineDefault) && isFloatVec)
      hierarchicalAssignKernel(corpus, id, vec, centroids, nLists, m, topProbe)
    else {
      // the default `cos` rides VecDotFloat (array<float> only, enforced at
      // analysis) — a non-float lane needs the generic fold, which is
      // bit-identical on float input and exact on widened doubles
      val effCos = if ((cos eq cosineDefault) && !isFloatVec) cosineFold _ else cos
      hierarchicalAssignHof(corpus, id, vec, centroids, nLists, m, topProbe, effCos)
    }
  }

  /** Stable reference for [[hierarchicalAssign]]'s default-lane detection
    * (a bare method default eta-expands to a fresh object per call site). */
  val cosineDefault: (Column, Column) => Column = cosine

  /** Kernel lane: identical semantics to [[hierarchicalAssignHof]] —
    * bit-identical scoring ([[graft.functions.HierArgMinKernel]] docs) —
    * with both stages compiled. The centroid table is the broadcast-sized
    * artifact, so the driver collect is bounded by nLists. */
  private[graft] def hierarchicalAssignKernel(
      corpus: DataFrame, id: String, vec: String, centroids: DataFrame,
      nLists: Int, m: Int, topProbe: Int): DataFrame = {
    val nTop = math.max(1, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride = math.max(1, math.ceil(nLists.toDouble / nTop).toInt)
    val all = centroids.select(col("centroid_id").cast("long").as("centroid_id"),
        col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1) // crank order = centroid_id ascending, as the HOF window
    def dotFF(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dotFF(a, a))
    def lt(d1: Double, id1: Long, d2: Double, id2: Long): Boolean = {
      val c = java.lang.Double.compare(d1, d2)
      c < 0 || (c == 0 && id1 < id2)
    }
    // tops: every stride-th centroid by id rank (the HOF's (crank−1) % stride)
    val topPos = all.indices.filter(i => i % stride == 0).toArray
    val topIds = topPos.map(i => all(i)._1)
    val topVecs = topPos.map(i => all(i)._2)
    val topN = topVecs.map(nrm)
    // each centroid (tops included) under its nearest top — (td ASC, top_id
    // ASC) tie rule; iterate tops in ascending id so strict-< keeps lowest id
    val kidsB = Array.fill(topIds.length)(
      (Vector.newBuilder[Long], Vector.newBuilder[Array[Float]]))
    all.foreach { case (cid0, cv0) =>
      val cn = nrm(cv0)
      var best = 0
      var bestD = -(dotFF(cv0, topVecs(0)) / (cn * topN(0)))
      var t = 1
      while (t < topIds.length) {
        val d = -(dotFF(cv0, topVecs(t)) / (cn * topN(t)))
        if (lt(d, topIds(t), bestD, topIds(best))) { best = t; bestD = d }
        t += 1
      }
      kidsB(best)._1 += cid0
      kidsB(best)._2 += cv0
    }
    val kernel = new graft.functions.HierArgMinKernel(
      topIds, topVecs,
      kidsB.map(_._1.result().toArray), kidsB.map(_._2.result().toArray),
      topProbe, m)
    corpus.select(col(id).as("cid"), col(vec).as("cv"))
      .select(col("cid"),
        posexplode(graft.functions.HierArgMin(col("cv"), kernel)))
      .select(col("cid"), col("col").as("centroid_id"),
        (col("pos") + 1).as("arn"))
  }

  /** Higher-order-function formulation (kept for custom `cos` lanes and as
    * the kernel's cross-check reference in PqSpec). */
  private[graft] def hierarchicalAssignHof(
      corpus: DataFrame, id: String, vec: String,
      centroids: DataFrame, nLists: Int,
      m: Int, topProbe: Int,
      cos: (Column, Column) => Column): DataFrame = {
    val nTop = math.max(1, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride = math.max(1, math.ceil(nLists.toDouble / nTop).toInt)
    val c = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    // rank fine centroids by id (value order, never arrival order); every
    // stride-th is a top. The single-partition window is fine BY
    // CONSTRUCTION: centroids are the broadcast-sized artifact.
    val ranked = centroids.withColumn("crank",
      row_number().over(Window.orderBy(col("centroid_id"))))
    val tops = ranked.filter((col("crank") - lit(1)) % stride === 0)
      .select(col("centroid_id").as("top_id"), col("centroid").as("top_vec"))
    // child map: each fine centroid under its nearest top — nLists·√nLists
    // work once per build, broadcast both sides
    val children = centroids.crossJoin(broadcast(tops))
      .withColumn("td", -cos(col("centroid"), col("top_vec")))
      .withColumn("trn", row_number().over(
        Window.partitionBy("centroid_id").orderBy(col("td").asc, col("top_id").asc)))
      .filter(col("trn") === 1)
      .select(col("top_id"), col("centroid_id"), col("centroid"))
    // MAP-ONLY corpus pass (r15 probe lesson: the first, window-based
    // two-level cut measured WORSE than flat at 10× — its two corpus-sized
    // exchanges swamped the comparison savings). Both argmin stages run as
    // per-row ARRAY expressions against one-row broadcast artifacts, so
    // assignment is a pure projection: zero shuffles, zero windows,
    // embarrassingly parallel at any corpus size. The tie rule is carried
    // by STRUCT ordering: array_sort on struct(d, id) compares d first,
    // id second — exactly the flat lane's (d asc, centroid_id asc).
    val topsRow = tops
      .agg(collect_list(struct(col("top_id"), col("top_vec"))).as("__tops"))
    val childRow = children
      .groupBy("top_id")
      .agg(collect_list(struct(col("centroid_id"), col("centroid"))).as("kids"))
      .agg(map_from_entries(collect_list(struct(col("top_id"), col("kids"))))
        .as("__kids"))
    // stage 1 per row: the topProbe nearest TOP centroids
    val probedTops = slice(array_sort(transform(col("__tops"),
      t => struct((-cos(col("cv"), t.getField("top_vec"))).as("d"),
        t.getField("top_id").as("top_id")))), 1, topProbe)
    // stage 2 per row: argmin over ONLY the probed tops' children — same
    // scoring expression + tie rule as the flat path (identity contract).
    // A top can be CHILDLESS (duplicate centroid vectors tie every child
    // toward the lower top id — seen on replicated corpora): skip its
    // missing map entry, exactly like the join formulation's inner join
    // would. An unfiltered flatten nulls the WHOLE array on one missing
    // key and silently drops the row (caught by the r15 10× probe: the
    // fixed lane emitted zero assignments and "measured" 0.56×).
    val cands = flatten(filter(transform(probedTops,
      p => element_at(col("__kids"), p.getField("top_id"))),
      a => a.isNotNull))
    val topM = slice(array_sort(transform(cands,
      kid => struct((-cos(col("cv"), kid.getField("centroid"))).as("d"),
        kid.getField("centroid_id").as("centroid_id")))), 1, m)
    c.crossJoin(broadcast(topsRow)).crossJoin(broadcast(childRow))
      .select(col("cid"), posexplode(topM))
      .select(col("cid"), col("col").getField("centroid_id").as("centroid_id"),
        (col("pos") + 1).as("arn"))
  }

  /** Assign each corpus vector to its nearest centroid (broadcast argmin). */
  private def assignToNearest(c: DataFrame, centroids: DataFrame,
                              cos: (Column, Column) => Column): DataFrame =
    c.crossJoin(broadcast(centroids))
      .withColumn("d", -cos(col("cv"), col("centroid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cid").orderBy(col("d").asc, col("centroid_id").asc)))
      .filter(col("rn") === 1)
      .select("cid", "centroid_id")

  /** Embedding near-dup pairs within a blocking key (e.g. a cluster label or
    * LSH bucket): all pairs inside a block, cosine >= threshold. */
  def nearDupPairs(vectors: DataFrame, id: String, vec: String, block: String,
                   threshold: Double): DataFrame = {
    val v = vectors.select(col(id).as("vid"), col(vec).as("v"), col(block).as("blk"))
    v.as("a").join(v.as("b"), Seq("blk"))
      .filter(col("a.vid") < col("b.vid"))
      .withColumn("cos", round(cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"), col("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster with the IVF coarse quantizer, then within each cell drop
    * every vector that has a lower-id near-dup at cosine ≥ `threshold` —
    * the embedding-space analogue of `Dedup.keepCanonical`.
    *
    * Scale posture: assignment is a broadcast argmin (the corpus never
    * shuffles for it); the pair join is bounded by the cell structure
    * (~n²/nLists comparisons total instead of n²), and cells above
    * `maxCell` are skipped for pair generation — kept whole, the same
    * stop-bucket stance as [[lshNearDupPairs]]/`minHashLsh`: a degenerate
    * cell must not go quadratic at 100 TB. Returns (vec_id, keep).
    */
  def semanticDedup(vectors: DataFrame, id: String, vec: String,
                    nLists: Int, threshold: Double, maxCell: Int = 10000,
                    lloydIters: Int = 0): DataFrame = {
    val centroids = ivfCentroids(vectors, id, vec, nLists, lloydIters)
    // assignment inlined (vs assignCells + join-back) so the vector rides
    // along with its cell label: the join-back alternative re-shuffles the
    // corpus twice for data the assignment window already holds
    val v = vectors.select(col(id).as("vid"), col(vec).as("v"))
      .crossJoin(broadcast(centroids))
      .withColumn("d", -cosine(col("v"), col("centroid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vid").orderBy(col("d").asc, col("centroid_id").asc)))
      .filter(col("rn") === 1)
    // grouped pair scan — the minhash/simhash stance: collect the (capped)
    // cell once and compare row-locally instead of a self-join that scans
    // the assignment twice. Member j drops iff some lower-id member i has
    // cos ≥ threshold; the scan is O(cell²) compute but zero extra shuffle.
    val cells = v.groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("vid"), col("v")))).as("m"))
      .filter(size(col("m")).between(2, maxCell))
    val dropped = cells.select(explode(filter(col("m"), (e, j) =>
        exists(slice(col("m"), lit(1), j), p =>
          round(cosine(p.getField("v"), e.getField("v")), 6) >= threshold)))
        .as("e"))
      .select(col("e.vid").as("vec_id"), lit(true).as("d"))
    vectors.select(col(id).as("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("d").isNull.as("keep"))
  }

  /** Self-contained embedding near-dup: blocks come from the seeded LSH
    * signature (no caller-supplied key), with a bucket-size cap — the same
    * stop-bucket stance as ngramJaccard's `maxDF`/minHashLsh's `maxBucket`:
    * an over-full bucket is dropped before the pair join, so per-key join
    * multiplicity is bounded and no degenerate bucket can go quadratic.
    * High-cosine pairs land in the same bucket with probability
    * (1 − θ/π)^bits (hyperplane LSH), so recall is tunable via `bits`. */
  def lshNearDupPairs(vectors: DataFrame, id: String, vec: String, dims: Int,
                      bits: Int = 8, threshold: Double = 0.9,
                      maxBucket: Int = 1000, seed: Long = 42L): DataFrame = {
    val v = vectors.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("blk", lshSignature(col("v"), dims, bits, seed))
    val ok = v.groupBy("blk").agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, maxBucket)).select("blk")
    nearDupPairs(v.join(ok, "blk"), "vid", "v", "blk", threshold)
  }

  // ------------------------------------------------------------ k-means||

  /** Total quantizer cost of a centroid set over a corpus: Σ (1 − max
    * cosine) — the spherical k-means objective the IVF cells minimize.
    * Diagnostic/training metric (ScaleProbe-style evidence lane). */
  def quantizerCost(corpus: DataFrame, id: String, vec: String,
                    centroids: DataFrame): Double =
    corpus.select(col(id).as("cid"), col(vec).as("cv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cos", cosine(col("cv"), col("centroid")))
      .groupBy("cid").agg(max(col("cos")).as("mx"))
      .agg(sum(lit(1.0) - col("mx"))).head().getDouble(0)

  /** k-means|| initialization (Bahmani et al., "Scalable k-means++",
    * VLDB 2012) for the IVF coarse quantizer — the TRAINING-quality seed
    * for the 100 TB path, where init runs on a uniform corpus sample and
    * the value-predicate strided seed ([[ivfCentroids]]) can land inside
    * one dense region when cluster mass is skewed.
    *
    * Spark shape: `rounds` passes, each one broadcast-argmax pass over the
    * corpus (cost to the current seed set) + a DETERMINISTIC
    * cost-proportional pick — inclusion is `md5(cid # round)`-thresholded
    * (Sampling's replayable-bucket trick), never `rand()`, so retries,
    * partitioning and re-runs cannot change the seed set. The ~`rounds ×
    * oversample` candidates are then weighted by attracted-point counts
    * and reduced to `k` on the driver with weighted greedy k-means++
    * (candidate set is tiny; argmax tiebreaks on id). Distances are
    * spherical (1 − cosine), matching the cell objective the quantizer
    * serves.
    *
    * Returns (centroid_id, centroid) — drop-in for [[assignCells]] /
    * [[probeCells]] / [[Pq]] training. Deterministic end to end.
    */
  def kmeansParallelInit(corpus: DataFrame, id: String, vec: String,
                         k: Int, rounds: Int = 3,
                         oversample: Int = 0): DataFrame = {
    require(k > 0 && rounds > 0, "degenerate k-means|| parameters")
    val l = if (oversample > 0) oversample else 2 * k
    val spark = corpus.sparkSession
    val c = corpus.select(col(id).cast("long").as("cid"), col(vec).as("cv"))
    // C₀: the vector with the smallest id — a value pick, not arrival order
    var cand = c.orderBy(col("cid").asc).limit(1)
      .select(col("cid").as("centroid_id"), col("cv").as("centroid"))
      .localCheckpoint(eager = true)
    for (r <- 0 until rounds) {
      // cost of every point against the CURRENT seed set (broadcast argmax)
      val costs = c.crossJoin(broadcast(cand))
        .withColumn("cos", cosine(col("cv"), col("centroid")))
        .groupBy(col("cid")).agg((lit(1.0) - max(col("cos"))).as("d"))
      val total = math.max(costs.agg(sum(col("d"))).head().getDouble(0), 1e-12)
      // include x with p = min(1, l·d(x)/Σd): replayable md5 threshold,
      // salted per round so rounds draw independent coins
      val frac = conv(substring(md5(concat(col("cid").cast("string"),
        lit(s"#km$r"))), 1, 15), 16, 10).cast("double") / lit(1152921504606846976.0)
      val picked = costs
        .filter(frac < least(lit(1.0), lit(l.toDouble) * col("d") / lit(total)))
        .join(c, "cid")
        .select(col("cid").as("centroid_id"), col("cv").as("centroid"))
      // localCheckpoint per round (CLAUDE.md rule 8): the candidate set is
      // tiny but its lineage includes a corpus pass per round
      cand = cand.unionByName(picked).dropDuplicates("centroid_id")
        .localCheckpoint(eager = true)
    }
    // weight candidates by attracted mass, then reduce to k on the driver —
    // the candidate set is ~rounds·l rows, driver-sized by construction
    val weights = assignToNearest(c, cand, cosine)
      .groupBy("centroid_id").agg(count(lit(1)).as("w"))
    val rows = cand.join(weights, Seq("centroid_id"), "left")
      .select(col("centroid_id"), col("centroid"), coalesce(col("w"), lit(0L)).as("w"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Any](1).map(x => x.asInstanceOf[Number].doubleValue).toArray,
        r.getLong(2)))
      .sortBy(_._1)
    require(rows.length >= k,
      s"k-means|| produced ${rows.length} < $k candidates; raise rounds/oversample")
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    // weighted greedy k-means++: heaviest first (id tiebreak), then argmax
    // of weight · (1 − max cos to chosen)
    val chosen = scala.collection.mutable.ArrayBuffer(
      rows.maxBy(r => (r._3, -r._1)))
    val minCos = scala.collection.mutable.Map(
      rows.map(r => r._1 -> cosD(r._2, chosen.head._2)): _*)
    while (chosen.size < k) {
      val next = rows.filterNot(r => chosen.exists(_._1 == r._1))
        .maxBy(r => (r._3.toDouble * (1.0 - minCos(r._1)), -r._1.toDouble))
      chosen += next
      rows.foreach(r => minCos(r._1) = math.max(minCos(r._1), cosD(r._2, next._2)))
    }
    import spark.implicits._
    // float-cast: every downstream consumer (assignCells/probeCells/Pq)
    // reads array<float> through the codegen'd cosine
    chosen.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((_, v, _), i) => (i.toLong, v.map(_.toFloat)) }
      .toDF("centroid_id", "centroid")
  }

  /** Position discounts 1/log₂(pos+1) for positions 1..k. Computed ONCE
    * here and embedded into the SQL oracle as round-tripping decimal
    * literals (`java.lang.Double.toString` guarantees parse-back to the
    * same double) — the shared-literal-constant discipline that keeps an
    * irrational-discount metric engine-exact. */
  def ndcgDiscounts(k: Int): Array[Double] =
    Array.tabulate(k)(i => 1.0 / (math.log(i + 2.0) / math.log(2.0)))

  /** Ideal DCG@k when relevance grades are k, k−1, …, 1 at positions
    * 1..k — a LEFT-associated fold of products, the same IEEE tree the
    * oracle's interpolated expression evaluates. */
  def idcgAt(k: Int): Double = {
    val w = ndcgDiscounts(k)
    var acc = 0.0
    var i = 0
    while (i < k) { acc += (k - i).toDouble * w(i); i += 1 }
    acc
  }

  /** Ranking-quality eval (nDCG@k + first-relevant rank) of an
    * approximate retrieval lane against the exact ranking — the metric
    * tier above [[graft.ann.Pq]]'s recall eval: recall counts overlap,
    * nDCG weighs WHERE the overlap landed (an ANN that returns the true
    * top-5 in reverse order recalls 1.0 but loses nDCG).
    *
    * `approx`/`exact`: (query_id, neighbor_id, rank) frames with rank
    * 1-based. Relevance grade of an approx hit = k+1 − exact_rank when
    * the neighbor is in the exact top-k, else 0 (graded by how good the
    * true neighbor is, the standard eval framing).
    *
    * Determinism (rule 1): DCG is a SEQUENTIAL fold over the position-
    * ordered (rel · discount) terms — never an associativity-free sum —
    * and the discounts/IDCG are shared literal constants, so the oracle
    * replays every IEEE operation. One division for nDCG.
    *
    * Plan: both inputs are k rows/query; one equi-join + one groupBy on
    * query_id — trivially scale-safe next to the retrieval itself. */
  def ndcgEval(queries: DataFrame, approx: DataFrame, exact: DataFrame,
               k: Int): DataFrame = {
    val w = ndcgDiscounts(k)
    val idcg = idcgAt(k)
    val graded = approx
      .select(col("query_id"), col("rank").cast("long").as("pos"),
        col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("exact_rank")),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("pos"),
        coalesce(lit(k.toLong + 1L) - col("exact_rank"), lit(0L)).as("rel"))
    val per = graded.groupBy("query_id").agg(
      sort_array(collect_list(struct(col("pos"), col("rel")))).as("xs"),
      min(when(col("rel") > 0, col("pos"))).as("first_rel_pos"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel"))
    val wArr = array(w.map(lit(_)): _*)
    val dcg = aggregate(col("xs"), lit(0.0),
      (acc, x) => acc + x.getField("rel").cast("double") *
        element_at(wArr, x.getField("pos").cast("int")))
    queries.join(per, Seq("query_id"), "left")
      .withColumn("dcg", coalesce(dcg, lit(0.0)))
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as(s"n_rel_at_$k"),
        col("first_rel_pos"),
        col("dcg").as(s"dcg$k"),
        (col("dcg") / lit(idcg)).as(s"ndcg$k"))
  }
}
