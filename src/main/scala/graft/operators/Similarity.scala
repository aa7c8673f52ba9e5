package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns

/** Similarity search over an embedding column (SURVEY §2.11).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: the exact baseline — broadcast the (small)
  *    query set against the corpus, rank per query. One pass over the
  *    corpus, no corpus self-shuffle; at 100TB this is the right plan
  *    whenever |queries| is broadcastable.
  *  - [[ivfTopK]]: the scale path — IVF-style partitioning. Centroids
  *    are a driver-side literal (nlist × dim doubles — a few KB), so
  *    cell assignment is a NARROW MAP over the corpus (zero shuffle;
  *    an earlier broadcast-join + per-row-window formulation shuffled
  *    the whole corpus once per ranking). Queries probe the `nprobe`
  *    nearest cells, shrinking candidates by ~nlist/nprobe.
  *    Approximate: recall measured against brute force in tests.
  *
  * Norms are precomputed per row before any pair join (computing them
  * inside the n·q pair loop triples the dot-product work) — the cosine
  * value is bit-identical either way.
  */
object Similarity {

  /** Per-query top-k from (qid, id, sim) candidate rows via the
    * bounded [[TopKPairs]] aggregate: map-side partials forward at
    * most k pairs per (partition, qid) to the shuffle, where the
    * window formulation would ship every candidate row to one reducer
    * per query. Output order/tie-break identical to
    * `row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)`.
    */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy(col("qid"))
      .agg(TopK.topKPairs(col("sim"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("id"), col("t.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact top-k neighbors for each query vector (cosine), excluding
    * self-matches. `queries` must be small enough to broadcast.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("nv"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      TextFns.l2norm(col(vecCol)).as("nq"))
    rankTopK(
      c.crossJoin(broadcast(q))
        .where(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          (TextFns.dot(col("v"), col("qv")) / (col("nv") * col("nq")))
            .as("sim")),
      k)
  }

  /** Cell ids of the `n` nearest centroids via the fused
    * [[NearestCentroids]] expression — a narrow map (no join, no
    * window, no shuffle) with a tight compiled inner loop. Ranks by
    * dot(v,c)/‖c‖, which orders identically to cosine for a fixed row
    * (positive 1/‖v‖ scale); ties go to the lower centroid id.
    */
  private def nearestCells(v: Column, cents: Seq[(Long, Seq[Double])],
      n: Int): Column =
    HashFns.nearestCentroids(v, cents.map(_._1), cents.map(_._2), n)

  /** Deterministic k-means centroids, trained on a bounded sample.
    *
    * The corpus contributes ONE job: a hash-ordered `TakeOrdered` of at
    * most `max(128·nlist, 2048)` vectors (deterministic pseudo-random
    * spread, single pass, no full sort). Lloyd then runs driver-side on
    * that sample — at any corpus size the training cost is a few KB of
    * arithmetic, where the previous formulation re-scanned the corpus
    * per iteration (a rows×dim posexplode + aggregation + collect,
    * ~4 Spark jobs each — the whole cost of xs2 at bench scale, and a
    * 100TB anti-pattern: centroid training must not scale with the
    * corpus).
    *
    * Determinism: the sample is hash-of-id ordered (stable), Lloyd
    * accumulates in ascending-id order (fixed fp order), assignment
    * ranks by dot(v,c)/‖c‖ with ties to the lower centroid id — the
    * same metric [[NearestCentroids]] applies at query time. Cells that
    * lose all members drop (ids stay sparse), matching the previous
    * behavior. Same corpus → bit-identical centroids on any cluster.
    */
  /** Deterministic per-label centroids: element-wise label means
    * through ONE (label, pos) aggregate — labels×dim rows out,
    * corpus-size-independent — with decimal accumulation so the
    * centroid doubles are add-order-exact on any partitioning (and in
    * a replaying SQL engine: the xs5/xd11 oracle contract). Output:
    * `(clabel, centroid)`.
    */
  def labelCentroids(df: DataFrame, labelCol: String,
      vecCol: String): DataFrame =
    df.select(col(labelCol).as("clabel"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("clabel"), col("pos"))
      .agg((sum(col("x").cast(DoubleType).cast(DecimalType(28, 6)))
        .cast(DoubleType) / count(lit(1))).as("m"))
      .groupBy("clabel")
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("pm"))
      .select(col("clabel"),
        transform(col("pm"), p => p.getField("m")).as("centroid"))

  /** PQ codebooks from the corpus's per-label subvector means: the
    * [[labelCentroids]] decimal-exact means (labels × dim, add-order-
    * independent → both engines compute identical codeword doubles)
    * sliced into `m` equal subspaces. Codeword index == position in
    * ascending-label order. The collect is labels×dim doubles — KBs
    * at any corpus size (the xs5/xd11 bounded-model discipline).
    */
  def pqCodebooksByLabel(corpus: DataFrame, labelCol: String,
      vecCol: String, m: Int): Seq[Seq[Seq[Double]]] = {
    val cents = labelCentroids(corpus, labelCol, vecCol)
      .select(col("clabel").cast(LongType), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "pqCodebooksByLabel: empty corpus")
    val dim = cents.head._2.length
    require(dim % m == 0, s"pqCodebooksByLabel: dim $dim not divisible by $m")
    val sub = dim / m
    (0 until m).map(j =>
      cents.toSeq.map(_._2.slice(j * sub, (j + 1) * sub)))
  }

  /** Product-quantization ANN (xs6): encode the corpus to m 8-bit-ish
    * codes per vector (64-dim f64 → 8 ints: the compression that makes
    * billion-vector corpora RAM-resident), precompute one ADC lookup
    * table per query, and rank neighbors by the asymmetric distance
    * Σ_j lut[j][code_j] — m adds per pair instead of a dim-length dot.
    * Smaller ADC = closer; ties to the smaller id (rankTopK on the
    * negated score). Self-matches excluded, xs1 convention.
    *
    * Scale shape: codebooks and encoded queries are plan constants /
    * broadcast; the corpus is touched by two narrow maps (encode,
    * score) and the bounded top-k aggregate — no shuffle of vectors,
    * and after encoding the corpus column is m ints, not dim doubles.
    * Approximate in the usual PQ sense (per-subspace quantization);
    * the spec gates recall against [[bruteForceTopK]] and the oracle
    * replays the EXACT chain (decimal codebooks → argmin encoding →
    * pivoted fixed-order ADC sums), so correctness is hash-gated even
    * though the operator is approximate vs exact search.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, m: Int = 8): DataFrame = {
    val books = pqCodebooksByLabel(corpus, labelCol, vecCol, m)
    val enc = corpus.select(col(idCol).as("id"),
      HashFns.pqEncode(col(vecCol), books).as("codes"))
    val q = queries.select(col(idCol).as("qid"),
      HashFns.pqLut(col(vecCol), books).as("lut"))
    rankTopK(
      enc.crossJoin(broadcast(q))
        .where(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          (-HashFns.pqAdc(col("lut"), col("codes"))).as("sim")),
      k)
      .select(col("qid"), col("id"), (-col("sim")).as("adc"), col("rank"))
  }

  /** PQ shortlist + exact rerank (xs7) — the production PQ pattern:
    * ADC is a COARSE ranker (quantization flattens within-cluster
    * ordering — measured recall@5 ≈ 0.1 for raw ADC vs exact on the
    * driver corpus), so use it for what it is: stage 1 shortlists
    * `shortlist` candidates per query by ADC over the 8-int codes,
    * stage 2 reranks ONLY the shortlist with exact cosine on the full
    * vectors. On a clustered corpus (PQ's premise) shortlist 6k
    * recovers recall ≈ 1.0 vs brute force (spec-gated ≥ 0.9).
    *
    * Scale shape: stage 1 touches the corpus through narrow maps +
    * the bounded top-k aggregate, reading the m-int code column, not
    * the dim-double vectors; stage 2's exact work is |queries|·
    * shortlist rows — a broadcast join against the corpus, never a
    * second corpus scan of pair volume. Output == bruteForceTopK
    * schema (qid, id, sim, rank).
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, m: Int = 8,
      shortlist: Int = 0): DataFrame = {
    val r = if (shortlist > 0) shortlist else 6 * k
    val books = pqCodebooksByLabel(corpus, labelCol, vecCol, m)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("nv"),
      HashFns.pqEncode(col(vecCol), books).as("codes"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      TextFns.l2norm(col(vecCol)).as("nq"),
      HashFns.pqLut(col(vecCol), books).as("lut"))
    val cand = rankTopK(
      c.crossJoin(broadcast(q.select(col("qid"), col("lut"))))
        .where(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          (-HashFns.pqAdc(col("lut"), col("codes"))).as("sim")),
      r).select(col("qid"), col("id"))
    rankTopK(
      broadcast(cand)
        .join(c.select(col("id"), col("v"), col("nv")), "id")
        .join(broadcast(q.select(col("qid"), col("qv"), col("nq"))), "qid")
        .select(col("qid"), col("id"),
          (TextFns.dot(col("v"), col("qv")) / (col("nv") * col("nq")))
            .as("sim")),
      k)
  }

  /** Nearest-centroid assignment as a NARROW MAP: the centroid table
    * (labels×dim — tiny at any corpus size) is folded into ONE
    * broadcast row, and every corpus row computes its argmax cosine
    * in-place with an `aggregate` higher-order function — the corpus
    * never shuffles. (A first cut modeled the argmax as
    * crossJoin+groupBy: that ships n·nlist candidate rows each
    * carrying the full vector through a shuffle, grouped on an ARRAY
    * key — at nlist ∝ n it is quadratic shuffle volume, and the xd11
    * scale leg measured it as a wall-clock cliff at 20×.)
    *
    * Ties go to the smaller `clabel` — the fold scans centroids in
    * ascending clabel order with a strict `>`, matching the oracle's
    * `ROW_NUMBER ... ORDER BY cos DESC, clabel`. Output: keyCols +
    * vecCol + `assigned`.
    */
  def assignNearestCentroid(df: DataFrame, keyCols: Seq[String],
      vecCol: String, cents: DataFrame): DataFrame = {
    require(keyCols.nonEmpty, "assignNearestCentroid: key columns")
    val packed = cents
      .agg(array_sort(collect_list(struct(col("clabel"),
        col("centroid"), TextFns.l2norm(col("centroid")).as("n"))))
        .as("__cents"))
    df.crossJoin(broadcast(packed))
      .withColumn("__vn", TextFns.l2norm(col(vecCol)))
      .withColumn("assigned", aggregate(
        col("__cents"),
        struct(lit(Double.NegativeInfinity).as("c"),
          lit(null).cast("int").as("g")),
        (acc, ct) => {
          val cos = TextFns.dot(col(vecCol), ct.getField("centroid")) /
            (col("__vn") * ct.getField("n"))
          when(cos > acc.getField("c"),
            struct(cos.as("c"), ct.getField("clabel").as("g")))
            .otherwise(acc)
        }).getField("g"))
      .select(keyCols.map(col) ++
        Seq(col(vecCol), col("assigned")): _*)
  }

  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    spark.createDataFrame(
      kmeansCentroidsLocal(corpus, idCol, vecCol, nlist, iters))
      .toDF("cent_id", "cent_v")
  }

  /** Driver-side centroid matrix (tiny) — avoids a DataFrame
    * round-trip for callers that broadcast it as a plan constant.
    */
  /** The ONE bounded corpus job behind every driver-side trainer:
    * hash-of-id-ordered TakeOrdered of at most `cap` clean vectors
    * (deterministic pseudo-random spread, single pass, no full sort),
    * id-sorted, ragged rows dropped.
    */
  private[graft] def boundedSample(corpus: DataFrame, idCol: String,
      vecCol: String, cap: Int): Array[(Long, Array[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample0: Array[(Long, Array[Double])] = corpus
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
      .where(col("v").isNotNull)
      .orderBy(pmod(xxhash64(col("id")), lit(1000003L)), col("id"))
      .limit(cap)
      .as[(Long, scala.Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
      .sortBy(_._1)
    if (sample0.isEmpty) return sample0
    val dim = sample0.head._2.length
    // drop ragged rows instead of corrupting means / crashing the
    // assignment loop (the replaced distributed form tolerated them)
    sample0.filter(_._2.length == dim)
  }

  private def kmeansCentroidsLocal(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    val sample = boundedSample(corpus, idCol, vecCol,
      math.max(128 * nlist, 2048))
    if (sample.isEmpty) return Seq.empty
    lloydLocal(sample, sample.head._2.length, nlist, iters)
      .map { case (id, v) => (id, v.toSeq) }.toSeq
  }

  /** The deterministic Lloyd refinement itself, over an in-memory
    * sample (see [[kmeansCentroids]] for the contract). Also reused by
    * [[coarsenCentroids]], where the "sample" is the fine centroid
    * table — a second-level k-means over k-means cells.
    */
  private def lloydLocal(sample: Array[(Long, Array[Double])], dim: Int,
      nlist: Int, iters: Int, euclid: Boolean = false)
      : Array[(Long, Array[Double])] =
    // init = lowest-id sample vectors, cell id = position (0..nlist-1)
    lloydIterate(sample,
      sample.take(nlist).zipWithIndex.map { case ((_, v), i) =>
        (i.toLong, v.clone())
      }, dim, iters, euclid)

  /** The Lloyd refinement loop over EXPLICIT initial centroids — the
    * body [[lloydLocal]] always ran, factored out so the load-aware
    * rebalancer below can resume iteration from an edited centroid
    * set.
    */
  private def lloydIterate(sample: Array[(Long, Array[Double])],
      init: Array[(Long, Array[Double])], dim: Int, iters: Int,
      euclid: Boolean = false): Array[(Long, Array[Double])] = {
    var cents: Array[(Long, Array[Double])] = init
    def norm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    var moved = true
    var it = 0
    while (moved && it < iters) {
      val cnorms = cents.map(c => norm(c._2))
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { case (_, v) =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          // metric: dot/‖c‖ (cosine-order) by default — the query-time
          // NearestCentroids metric; negated squared distance when
          // `euclid` (residual PQ codebooks, PqEncode's argmin-d2)
          var d = 0.0; var j = 0
          val cv = cents(ci)._2
          if (euclid) {
            while (j < dim) {
              val t = v(j) - cv(j); d -= t * t; j += 1
            }
          } else {
            while (j < dim) { d += v(j) * cv(j); j += 1 }
          }
          val score =
            if (euclid) d
            else if (cnorms(ci) == 0.0) d else d / cnorms(ci)
          if (score > bestScore) { bestScore = score; best = ci }
          ci += 1 // strict > keeps ties on the lower centroid id
        }
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
      }
      val next = cents.indices.iterator
        .filter(counts(_) > 0)
        .map { ci =>
          val m = new Array[Double](dim); var j = 0
          while (j < dim) { m(j) = sums(ci)(j) / counts(ci); j += 1 }
          (cents(ci)._1, m)
        }.toArray
      moved = !(next.length == cents.length &&
        next.indices.forall(i => next(i)._1 == cents(i)._1 &&
          java.util.Arrays.equals(next(i)._2, cents(i)._2)))
      cents = next
      it += 1
    }
    cents
  }

  /** Public handle on the bounded-sample k-means centroids for callers
    * that feed them straight into a plan-constant expression
    * ([[assignCellsTwoLevel]]) instead of a DataFrame join.
    */
  def kmeansCentroidsSeq(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): Seq[(Long, Seq[Double])] =
    kmeansCentroidsLocal(corpus, idCol, vecCol, nlist, iters)

  /** Group K fine centroids under ~√K coarse cells (a second Lloyd
    * over the centroid table itself — K×dim doubles, trivially
    * driver-side at any corpus size) for
    * [[HashFns.twoLevelNearestCentroids]]. Returns (coarse vectors,
    * per-coarse fine ids, per-coarse fine vectors); every fine
    * centroid lands in exactly one coarse group (nearest by
    * dot/‖coarse‖, ties to the lower coarse index — the same metric
    * the expression applies at query time, so a fine centroid is
    * always discoverable through its own coarse cell).
    */
  def coarsenCentroids(cents: Seq[(Long, Seq[Double])], nCoarse: Int = 0,
      iters: Int = 3)
      : (Seq[Seq[Double]], Seq[Seq[Long]], Seq[Seq[Seq[Double]]]) = {
    require(cents.nonEmpty, "coarsenCentroids: empty centroid table")
    val fine = cents.sortBy(_._1)
      .map { case (id, v) => (id, v.toArray) }.toArray
    val dim = fine.head._2.length
    val c = if (nCoarse > 0) nCoarse
      else math.max(1, math.ceil(math.sqrt(fine.length.toDouble)).toInt)
    val coarse = lloydLocal(fine, dim, c, iters)
    val cnorms = coarse.map { case (_, v) =>
      val s = v.map(x => x * x).sum
      if (s > 0) math.sqrt(s) else 0.0
    }
    val groups = Array.fill(coarse.length)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])])
    fine.foreach { case (id, v) =>
      var best = 0; var bestScore = Double.NegativeInfinity
      var ci = 0
      while (ci < coarse.length) {
        var d = 0.0; var j = 0
        val cv = coarse(ci)._2
        while (j < dim) { d += v(j) * cv(j); j += 1 }
        val score = if (cnorms(ci) == 0.0) d else d / cnorms(ci)
        if (score > bestScore) { bestScore = score; best = ci }
        ci += 1
      }
      groups(best) += ((id, v))
    }
    // drop coarse cells with no fine members (Lloyd can strand one)
    val keep = coarse.indices.filter(groups(_).nonEmpty)
    (keep.map(coarse(_)._2.toSeq),
      keep.map(groups(_).map(_._1).toSeq),
      keep.map(groups(_).map(_._2.toSeq).toSeq))
  }

  /** Two-level cell assignment as a narrow map: `probes` = the `probe`
    * nearest fine cells through the coarse quantizer, `assigned` =
    * probes[0] (the primary cell — a partition of the corpus). This is
    * the 100TB replacement for [[assignNearestCentroid]]'s flat argmax
    * when the cell count grows with the corpus (K ∝ n/target): per-row
    * work drops from O(K) to O(√K·wCoarse·load). `probe` ≥ 2 feeds
    * [[Dedup.semDedupMultiProbe]]'s candidate generation, closing the
    * boundary-straddling recall hole of primary-cell-only blocking.
    */
  def assignCellsTwoLevel(df: DataFrame, keyCols: Seq[String],
      vecCol: String, cents: Seq[(Long, Seq[Double])], probe: Int = 1,
      wCoarse: Int = 2): DataFrame = {
    require(keyCols.nonEmpty, "assignCellsTwoLevel: key columns")
    val (cv, fi, fv) = coarsenCentroids(cents)
    df.withColumn("probes", HashFns.twoLevelNearestCentroids(
        col(vecCol), cv, fi, fv, wCoarse, probe))
      .withColumn("assigned", element_at(col("probes"), 1))
      .select(keyCols.map(col) ++
        Seq(col(vecCol), col("probes"), col("assigned")): _*)
  }

  /** IVF-style ANN: seeded-k-means centroids (deterministic Lloyd
    * refinement above), corpus assigned to its cell via a narrow map,
    * queries probe `nprobe` cells.
    */
  /** Thresholded kNN graph over an embedding corpus: for every vector,
    * its top-k neighbors among pairs at cosine ≥ `threshold` — the
    * similarity-graph construction that feeds SNN clustering, graph
    * dedup, and link-based curation. Edges come from hyperplane-LSH
    * blocked pairs ([[Dedup.embeddingNearDupsLSHAuto]] — never
    * corpus², band params from the corpus-size law), symmetrized, then
    * ranked per vector with the bounded [[TopK.topKPairs]] aggregate:
    * map-side partials cap the shuffle at k edges per (partition,
    * vector) where a window formulation would ship every candidate
    * edge to one reducer per vector. The threshold is load-bearing at
    * scale AND for exactness: below it LSH recall decays, so the
    * output contract is "top-k among ≥ t neighbors" (which the oracle
    * brute-forces exactly).
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int): DataFrame = {
    val pairs = Dedup.embeddingNearDupsLSHAuto(emb, idCol, vecCol,
      threshold)
    val sym = pairs.select(col("a").as("qid"), col("b").as("id"),
        col("c").as("sim"))
      .unionAll(pairs.select(col("b").as("qid"), col("a").as("id"),
        col("c").as("sim")))
    rankTopK(sym, k)
  }

  /** Exact M-NN graph over the whole corpus — the xs15b construction
    * path: all-pairs cosine through the xd6 tiled-cartesian shape
    * (`shuffle_replicate_nl`, tiles² evenly-sized spillable tasks, no
    * corpus-sized broadcast) ranked by the bounded [[TopK.topKPairs]]
    * aggregate (≤ k edges per node cross the shuffle). Output:
    * (qid = source, id = neighbor, sim, rank) — the [[knnGraph]]
    * schema with no threshold and no recall parameter.
    *
    * Exact all-pairs is inherently O(n²) (the [[graft.operators.Dedup
    * .embeddingNearDups]] argument): this is the small-corpus /
    * gated-entry construction. At 100 TB, build the edge list with a
    * blocked method instead — [[ivfSeededGraph]] (cell-blocked
    * candidates, MEASURED linear-in-n at nlist ∝ n: the construction
    * law of `graft.tools.ScaleStress` leg xs17, recall-gated through
    * the same traversal in OperatorsSpec) or [[knnGraph]] (LSH-thresholded — right when a
    * similarity floor exists, e.g. near-dup graphs; unnavigable on a
    * corpus whose true neighbors sit below LSH's usable threshold) —
    * and feed it to the SAME [[beamSearchTopK]] traversal, which is
    * construction-agnostic.
    */
  def knnGraphExact(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, tiles: Int = 8): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("n")).repartition(tiles)
    rankTopK(directedPairs(e, e), k)
  }

  /** BLOCKED kNN-graph construction — the 100 TB path [[knnGraphExact]]
    * names: IVF-seeded edges. Every node lands in its `probe` nearest
    * cells (a narrow [[NearestCentroids]] map off plan-literal
    * centroids — zero shuffle), and edges rank each node's top-`k`
    * cosine neighbors among nodes SHARING one of its cells: one
    * cell-keyed equi-join whose candidate volume is
    * Σ_c load₁(c)·load_p(c) ≈ probe·n·(n/nlist) — LINEAR in n when
    * nlist grows with the corpus (the IVF law; nlist ∝ n/target keeps
    * per-cell load constant), never the n² of the exact build. Ranking
    * is the bounded [[TopK.topKPairs]] aggregate (≤ k edges per node
    * cross the shuffle). Output: the [[knnGraphExact]] schema
    * (qid, id, sim, rank) — the [[beamSearchTopK]] traversal is
    * construction-agnostic, and OperatorsSpec recall-gates the
    * composition (blocked graph + [[cellMedoids]] entry tier) ≥ 0.9
    * against brute force; `ScaleStress` leg xs17 grades the
    * candidate-volume law.
    *
    * Approximate in the usual blocked sense: a true neighbor outside
    * every shared probe cell is missed; recall restores through probe
    * (the xd11 multi-probe argument) and through the traversal's own
    * multi-hop reach.
    */
  def ivfSeededGraph(emb: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], probe: Int, k: Int): DataFrame = {
    val c = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        TextFns.l2norm(col(vecCol)).as("n"))
      .withColumn("cells", nearestCells(col("v"), cents, probe))
      .localCheckpoint(true)
    val primary = c.select(col("id"), col("v"), col("n"),
      element_at(col("cells"), 1).as("cell"))
    val probed = c.select(col("id").as("nb"), col("v").as("nv"),
      col("n").as("nn"), explode(col("cells")).as("cell"))
    rankTopK(
      primary.join(probed, "cell")
        .where(col("id") =!= col("nb"))
        .select(col("id").as("qid"), col("nb").as("id"),
          (TextFns.dot(col("v"), col("nv")) / (col("n") * col("nn")))
            .as("sim")),
      k)
  }

  /** One deterministic entry point per cell for [[beamSearchTopK]]
    * over a blocked graph — the node nearest its own cell's centroid
    * (cos DESC, id ASC): the two-layer HNSW shape with the coarse
    * quantizer as the upper layer, making every cell's subgraph
    * reachable from a principled start instead of pinned-lowest-ids.
    * One bounded job: ≤ nlist rows collect.
    */
  def cellMedoids(emb: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): Seq[Long] = {
    val byCell = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        TextFns.l2norm(col(vecCol)).as("n"))
      .withColumn("cell", element_at(nearestCells(col("v"), cents, 1), 1))
    val centMap = map(cents.sortBy(_._1).flatMap { case (id, v) =>
      Seq(lit(id), typedlit(v))
    }: _*)
    byCell
      .withColumn("cos", TextFns.dot(col("v"),
        element_at(centMap, col("cell"))) / col("n"))
      .groupBy("cell")
      // lexicographic max of (cos, -id): best cosine, ties to the
      // LOWER id — deterministic on any partitioning
      .agg(max(struct(col("cos"), (-col("id")).as("negid"))).as("m"))
      .select((-col("m.negid")).cast(LongType).as("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
  }

  /** Directed cosine pairs x→y (qid = x.id, id = y.id, sim), self
    * excluded — the xd6 tiled-cartesian shape shared by
    * [[knnGraphExact]] and the [[KnnGraphStore]] ingest. Callers
    * repartition the larger side into tiles.
    */
  private def directedPairs(x: DataFrame, y: DataFrame): DataFrame =
    x.as("x").hint("shuffle_replicate_nl")
      .join(y.as("y").hint("shuffle_replicate_nl"),
        col("x.id") =!= col("y.id"))
      .select(col("x.id").as("qid"), col("y.id").as("id"),
        (TextFns.dot(col("x.v"), col("y.v")) /
          (col("x.n") * col("y.n"))).as("sim"))

  /** Evolving EXACT kNN-graph store (qs34) — the vector-store
    * ingestion path that keeps [[beamSearchTopK]]'s navigation
    * structure fresh as vectors arrive. State per node: its current
    * top-k candidate list (qid, id, sim) plus the vector itself.
    * The fold is MERGEABLE AND ORDER-FREE: top-k(top-k(S₁) ∪ S₂) ==
    * top-k(S₁ ∪ S₂) under [[TopK.TopKPairs]]' (sim DESC, id ASC)
    * comparator, and every pair's sim is the same IEEE expression
    * whenever it is computed — so ANY batching in ANY order equals
    * the one-shot [[knnGraphExact]] over the full corpus, for every
    * node's list (old nodes' lists absorb new arrivals exactly, not
    * approximately). That is the qs21/qs22 order-free state class —
    * stronger than the monotone-arrival contracts.
    *
    * Cost shape: ingesting batch B against a store of N vectors pays
    * |B|·(N+|B|) sims — the xd20 delta-vs-corpus shape, never a
    * store² rescan; amortized over the stream this totals the same
    * n² the one-shot build pays, paid incrementally. Exact
    * maintenance IS inherently all-pairs (the [[knnGraphExact]]
    * argument); at 100 TB feed the same store LSH-blocked candidate
    * pairs instead ([[knnGraph]]'s generator) — the fold and its
    * exactness-given-candidates are unchanged.
    */
  final case class KnnGraphStore private[operators] (
      vecs: DataFrame, top: DataFrame, k: Int, tiles: Int)

  def prepareKnnGraphStore(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, tiles: Int = 8): KnnGraphStore = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("n"))
      .repartition(tiles).localCheckpoint(true)
    val top = topFold(directedPairs(c, c), k).localCheckpoint(true)
    KnnGraphStore(c, top, k, tiles)
  }

  /** The mergeable fold: ≤k candidates per node out of any mix of
    * existing lists and fresh pairs.
    */
  private def topFold(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy("qid")
      .agg(TopK.topKPairs(col("sim"), col("id"), k).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("id"), col("t.sim").as("sim"))

  /** Fold one vector batch into the store: new→all and old→new pairs
    * merge with the existing lists through one bounded top-k
    * aggregate. `appended` is the batch's (id, v, n) rows — the
    * durable unit; the fold is order-free, so a restart re-ingests
    * every committed batch as ONE batch ([[appendVectorsToStore]])
    * and lands on the identical store.
    */
  /** The duplicate-id guard shared by the duplicate-SENSITIVE graph
    * folds: a re-ingested id is excluded from self-pairs but every
    * (qid, id) sim computes twice and occupies two top-k slots,
    * displacing a real edge — fail loudly, in BOTH directions
    * (ADVICE r17): (1) batch-internal uniqueness via one bounded
    * aggregate over the batch alone (deltas are batch-sized by
    * contract — the qs34 ingest regime), (2) batch-vs-store
    * disjointness via one shuffle-free probe — the batch's bare ids
    * broadcast (8 B/id) against a scan of the store's id column —
    * negligible vs the |B|·N / |B|·probe·load sim legs.
    */
  private def requireFreshIds(b: DataFrame, storeVecs: DataFrame,
      op: String): Unit = {
    val cnt = b.agg(count(lit(1)), count_distinct(col("id"))).head()
    require(cnt.getLong(0) == cnt.getLong(1),
      s"$op: batch carries ${cnt.getLong(0) - cnt.getLong(1)} " +
        "duplicate id row(s) WITHIN itself — each pair's sim would " +
        "compute twice and occupy two top-k slots; de-duplicate the " +
        "batch on id first")
    val dup = storeVecs.select("id")
      .join(broadcast(b.select("id")), "id")
      .limit(1).collect()
    require(dup.isEmpty,
      s"$op: batch id ${dup.headOption.map(_.getLong(0))
        .getOrElse(-1L)} is already in the store — a duplicate vector " +
        "would occupy two top-k slots; anti-join the batch against " +
        "the store's ids first")
  }

  def knnGraphIngest(batch: DataFrame, store: KnnGraphStore,
      idCol: String, vecCol: String): Ingest[KnnGraphStore] = {
    val b = batch.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("n"))
      .repartition(store.tiles).localCheckpoint(true)
    requireFreshIds(b, store.vecs, "knnGraphIngest")
    val vecsAll = store.vecs.unionByName(b)
    val fresh = directedPairs(b, vecsAll)
      .unionByName(directedPairs(store.vecs, b))
    val top = topFold(store.top.unionByName(fresh), store.k)
      .localCheckpoint(true)
    Ingest(b, b, KnnGraphStore(vecsAll, top, store.k, store.tiles))
  }

  /** Crash recovery: the order-free fold makes one combined re-ingest
    * of all durably appended vectors equal to the per-batch history.
    */
  def appendVectorsToStore(store: KnnGraphStore,
      appended: DataFrame): KnnGraphStore =
    knnGraphIngest(appended.select(col("id"), col("v")),
      store, "id", "v").next

  /** LSM-style rewrite — the [[graft.operators.Dedup.compactGramStore]]
    * contract. BOTH frames re-checkpoint: the runner's
    * unpersist-after-compaction bookkeeping releases every block not
    * created BY the compaction, so a store that kept referencing its
    * pre-compaction `top` checkpoint would read unpersisted blocks
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — caught by the QS34 restart
    * spec).
    */
  def compactKnnGraphStore(store: KnnGraphStore): KnnGraphStore =
    store.copy(vecs = store.vecs.localCheckpoint(true),
      top = store.top.localCheckpoint(true))

  /** The store's edge lists in [[knnGraphExact]]'s output shape
    * (qid, id, sim, rank) — equal to the one-shot graph over
    * everything ingested.
    */
  def knnGraphFromStore(store: KnnGraphStore): DataFrame =
    rankTopK(store.top, store.k)

  /** Evolving BLOCKED kNN-graph store (qs36) — [[KnnGraphStore]]'s
    * fold fed by [[ivfSeededGraph]]'s cell-blocked candidates instead
    * of exact all-pairs: the 100 TB maintenance path the exact store's
    * scaladoc names, now a maintained structure. Centroids FREEZE at
    * `prepare` (the qs32 frozen-parameter discipline — a vector's
    * cells must not depend on arrival time), every vector carries its
    * primary cell and `probe` nearest cells, and ingest generates the
    * directed candidate x→y exactly when x.primary ∈ y.probes — so
    * for ANY chunking in ANY order each candidate pair arises exactly
    * once (when the later vector ingests), the candidate SET equals
    * the one-shot [[ivfSeededGraph]]'s, and the order-free top-k merge
    * (the qs34 theorem) lands every chunking on the IDENTICAL blocked
    * graph. Ingest cost: |B|·(probe·load) sims against the store —
    * delta-proportional AND cell-blocked, never store² and never
    * all-pairs.
    */
  final case class BlockedGraphStore private[operators] (
      vecs: DataFrame, top: DataFrame, cents: Seq[(Long, Seq[Double])],
      probe: Int, k: Int)

  /** (id, v, n, cell, cells) under the FROZEN centroid literals. */
  private def assignBlocked(df: DataFrame, idCol: String,
      vecCol: String, cents: Seq[(Long, Seq[Double])],
      probe: Int): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"),
        TextFns.l2norm(col(vecCol)).as("n"))
      .withColumn("cells", nearestCells(col("v"), cents, probe))
      .withColumn("cell", element_at(col("cells"), 1))

  /** Directed blocked candidates x→y (x.primary ∈ y.probes), self
    * excluded — [[ivfSeededGraph]]'s join shape over assigned frames.
    */
  private def blockedDirectedPairs(x: DataFrame, y: DataFrame): DataFrame =
    x.select(col("id"), col("v"), col("n"), col("cell"))
      .join(y.select(col("id").as("nb"), col("v").as("nv"),
        col("n").as("nn"), explode(col("cells")).as("cell")), "cell")
      .where(col("id") =!= col("nb"))
      .select(col("id").as("qid"), col("nb").as("id"),
        (TextFns.dot(col("v"), col("nv")) / (col("n") * col("nn")))
          .as("sim"))

  def prepareBlockedGraphStore(corpus: DataFrame, idCol: String,
      vecCol: String, cents: Seq[(Long, Seq[Double])], probe: Int,
      k: Int): BlockedGraphStore = {
    val c = assignBlocked(corpus, idCol, vecCol, cents, probe)
      .localCheckpoint(true)
    val top = topFold(blockedDirectedPairs(c, c), k)
      .localCheckpoint(true)
    BlockedGraphStore(c, top, cents, probe, k)
  }

  /** Fold one vector batch into the blocked store: b→(store ∪ b) and
    * store→b candidates merge with the existing lists through the
    * bounded top-k aggregate. Duplicate ids refuse loudly (the
    * [[knnGraphIngest]] guard — the fold is duplicate-sensitive).
    */
  def blockedGraphIngest(batch: DataFrame, store: BlockedGraphStore,
      idCol: String, vecCol: String): BlockedGraphStore = {
    val b = assignBlocked(batch, idCol, vecCol, store.cents,
      store.probe).localCheckpoint(true)
    requireFreshIds(b, store.vecs, "blockedGraphIngest")
    val vecsAll = store.vecs.unionByName(b)
    val fresh = blockedDirectedPairs(b, vecsAll)
      .unionByName(blockedDirectedPairs(store.vecs, b))
    val top = topFold(store.top.unionByName(fresh), store.k)
      .localCheckpoint(true)
    BlockedGraphStore(vecsAll, top, store.cents, store.probe, store.k)
  }

  /** The maintained blocked graph in [[ivfSeededGraph]]'s output shape
    * (qid, id, sim, rank) — equal to the one-shot blocked build over
    * everything ingested, on any chunking in any order.
    */
  def blockedGraphFromStore(store: BlockedGraphStore): DataFrame =
    rankTopK(store.top, store.k)

  /** LSM-style rewrite of the blocked store — the
    * [[compactKnnGraphStore]] contract verbatim: both frames
    * re-checkpoint so the runner's unpersist-after-compaction
    * bookkeeping can release every block the compaction superseded.
    */
  def compactBlockedGraphStore(store: BlockedGraphStore)
      : BlockedGraphStore =
    store.copy(vecs = store.vecs.localCheckpoint(true),
      top = store.top.localCheckpoint(true))

  /** RE-BLOCKING EPOCH (centroid refresh) — the offline compaction
    * that closes the [[BlockedGraphStore]] maintenance story under
    * DISTRIBUTION DRIFT. Freezing centroids at `prepare` is correct
    * for incremental gating (a vector's cells must not depend on
    * arrival time), but on a drifting corpus the frozen cells
    * concentrate new-region vectors into a few stale cells: recall
    * survives (drifted cluster-mates still share their nearest stale
    * cell), the COST law does not — per-cell load balloons and the
    * candidate volume Σ_c load₁(c)·load_p(c) with it (OperatorsSpec
    * measures exactly this on a planted drifted corpus; `ScaleStress`
    * leg qs36 carries the law at two sizes).
    *
    * The epoch is ONE blocked rebuild over the accumulated store
    * under the new centroids: reassign every stored vector (narrow
    * map off the new plan literals — zero shuffle), regenerate the
    * cell-blocked candidates, re-fold edges through the bounded top-k
    * aggregate — cost Σ_c load₁·load_p under the NEW (re-balanced)
    * cells, linear in n at nlist ∝ n, never n². The refreshed store
    * IS the one-shot [[prepareBlockedGraphStore]] over everything
    * ingested (hash-gated in OperatorsSpec against a store built
    * through a different chunking under the OLD cells), so every
    * qs36-class incremental theorem re-bases cleanly on the new
    * epoch: ingest after reblock folds against the refreshed lists
    * under the refreshed frozen cells.
    */
  def reblockGraphStore(store: BlockedGraphStore,
      newCents: Seq[(Long, Seq[Double])], probe: Int = 0,
      k: Int = 0): BlockedGraphStore =
    prepareBlockedGraphStore(store.vecs.select(col("id"), col("v")),
      "id", "v", newCents,
      if (probe > 0) probe else store.probe,
      if (k > 0) k else store.k)

  /** [[reblockGraphStore]] with the production centroid refresh:
    * re-train LOAD-AWARE k-means ([[balancedKmeansSeq]] — the epoch's
    * whole point is re-balancing per-cell load) over the ACCUMULATED
    * store, on the same bounded-sample discipline as every trainer
    * (one TakeOrdered job at any store size, so the refresh's
    * training cost is a constant and its rebuild cost is the one
    * blocked build above).
    */
  def reblockGraphStoreAuto(store: BlockedGraphStore, nlist: Int,
      probe: Int = 0, k: Int = 0): BlockedGraphStore =
    reblockGraphStore(store,
      balancedKmeansSeq(store.vecs, "id", "v", nlist), probe, k)

  /** LOAD-AWARE k-means — the re-blocking epoch's refresh trainer.
    * Plain Lloyd collapses a tight NEW region into one or two cells
    * (winner-take-all under the cosine metric: near-identical
    * centroids starve and the survivors absorb the whole region —
    * measured in OperatorsSpec's drift gate: 1000 drifted vectors in
    * 2 of 32 cells), leaving per-cell load far above n/nlist and the
    * blocked candidate volume Σ load₁·load_p ballooning with it.
    * After Lloyd converges, bounded REBALANCE passes (the ISODATA
    * split/retire move, deterministic): while the heaviest cell holds
    * > `maxSkew`× the mean load, retire the lightest cell's centroid,
    * re-seed it at the heaviest cell's WORST-FIT member (min cos to
    * its own centroid — in an under-split region that is a point the
    * current centroid represents badly, i.e. exactly where a new cell
    * pays most; ties to the lower sample position, which is the lower
    * id), and run one Lloyd step. All driver-side over the same
    * bounded sample — ≤ nlist passes of O(sample·nlist) arithmetic,
    * so the refresh's training cost stays corpus-independent, and
    * every step is deterministic (same corpus → identical cells).
    */
  def balancedKmeansSeq(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int = 3,
      maxSkew: Double = 2.0): Seq[(Long, Seq[Double])] = {
    val sample = boundedSample(corpus, idCol, vecCol,
      math.max(128 * nlist, 2048))
    if (sample.isEmpty) return Seq.empty
    val dim = sample.head._2.length
    var cents = lloydLocal(sample, dim, nlist, iters)
    def fit(v: Array[Double], c: Array[Double], cn: Double): Double = {
      var d = 0.0; var j = 0
      while (j < dim) { d += v(j) * c(j); j += 1 }
      if (cn == 0.0) d else d / cn
    }
    var pass = 0
    var balanced = false
    while (pass < nlist && !balanced && cents.length >= 2) {
      val cnorms = cents.map { case (_, c) =>
        val s = c.map(x => x * x).sum
        if (s > 0) math.sqrt(s) else 0.0
      }
      // assignment of the sample under the current cells (strict >,
      // ties to the lower centroid position — the query-time metric)
      val assign = sample.map { case (_, v) =>
        var best = 0; var bs = Double.NegativeInfinity; var ci = 0
        while (ci < cents.length) {
          val s = fit(v, cents(ci)._2, cnorms(ci))
          if (s > bs) { bs = s; best = ci }
          ci += 1
        }
        (best, bs)
      }
      val loads = new Array[Int](cents.length)
      assign.foreach { case (c, _) => loads(c) += 1 }
      val mean = sample.length.toDouble / cents.length
      val h = loads.indices.maxBy(i => (loads(i), -i))
      if (loads(h) <= maxSkew * mean) balanced = true
      else {
        // BISECT the heavy cell with a local 2-means over its own
        // members, seeded at its worst-fit member and the member
        // farthest from it (a single re-seeded member point cannot
        // split a tight region — the region's grand mean out-fits any
        // individual member on everything but its immediate
        // subcluster, so the splinter re-absorbs; two HALF-means
        // compete on even terms). The lightest cell retires to keep
        // |cells| fixed; its points re-home at the next assignment.
        val l = loads.indices.minBy(i => (loads(i), i))
        val mIdx = assign.indices.filter(assign(_)._1 == h)
        val a0 = mIdx.minBy(i => (assign(i)._2, i))
        def cosTo(i: Int, j: Int): Double = {
          val x = sample(i)._2; val y = sample(j)._2
          var d = 0.0; var nx = 0.0; var ny = 0.0; var t = 0
          while (t < dim) {
            d += x(t) * y(t); nx += x(t) * x(t); ny += y(t) * y(t)
            t += 1
          }
          if (nx == 0.0 || ny == 0.0) 0.0 else d / math.sqrt(nx * ny)
        }
        val b0 = mIdx.minBy(i => (cosTo(i, a0), i))
        val members = mIdx.map(sample(_)).toArray
        // seeds = cell mean ± 0.1·(a0 − b0): member-point seeds lose —
        // a tight region's grand mean out-fits any individual member
        // on everything but its own subcluster, so the 2-means
        // converges to splinter+rest; symmetric perturbed means make
        // the first assignment a hyperplane cut along the cell's
        // widest member axis, which converges to two genuine
        // half-means
        val mh = new Array[Double](dim)
        members.foreach { case (_, v) =>
          var t = 0; while (t < dim) { mh(t) += v(t); t += 1 }
        }
        val seeds = Array.tabulate(2) { s =>
          val c = new Array[Double](dim)
          val sign = if (s == 0) 0.1 else -0.1
          var t = 0
          while (t < dim) {
            c(t) = mh(t) / members.length +
              sign * (sample(a0)._2(t) - sample(b0)._2(t))
            t += 1
          }
          (s.toLong, c)
        }
        val sub = lloydIterate(members, seeds, dim, iters)
        if (sub.length < 2) balanced = true // degenerate: unsplittable
        else {
          cents = cents.updated(h, (cents(h)._1, sub(0)._2))
            .updated(l, (cents(l)._1, sub(1)._2))
          pass += 1
        }
      }
    }
    cents.map { case (id, v) => (id, v.toSeq) }.toSeq
  }

  /** TOMBSTONE DELETION with edge repair — the last unrealistic
    * property of the evolving stores removed: real vector stores must
    * delete (takedowns, TTL), and a deleted node's presence in OTHER
    * nodes' top-k lists is state the insert-only fold can never
    * unwind (top-k is lossy: the edge a deleted neighbor displaced is
    * gone from the list and must be re-derived from candidates).
    *
    * The repair is EXACT and delta-proportional:
    *
    *  - deleted nodes' own lists drop;
    *  - a surviving node whose current list contains NO deleted id is
    *    PROVABLY already correct: its list is top-k(candidates ∩
    *    live_before), and removing ids that sit below its k-th
    *    candidate (or outside its candidate set) cannot change a
    *    top-k — no work, no rescan;
    *  - the AFFECTED nodes (≥1 deleted id in their current list —
    *    found by one semi-join of the ≤ store·k edge rows against the
    *    broadcast tombstone set) re-rank from scratch against the
    *    SURVIVING candidate generator: one cell-keyed equi-join of
    *    |affected| primaries vs survivors' probes — the
    *    [[blockedGraphIngest]] cost shape with |affected| in place of
    *    |B|. |affected| ≤ Σ in-degree(deleted) — tombstone-
    *    proportional for real graphs; deleting a universal hub
    *    honestly pays proportionally more.
    *
    * The invariant "every live node's list == top-k of its blocked
    * candidates among the live set" is maintained by prepare, ingest
    * (the qs36 theorem), AND delete (above) — so by induction ANY
    * interleaving of ingests and deletes in any order lands on the
    * one-shot [[ivfSeededGraph]] over exactly the surviving vectors
    * (the order-free theorem WITH removals; StreamingSpec gates
    * interleavings, re-adds of a deleted id, and the qs38 entry
    * hash-gates the composition end to end). Cells stay frozen:
    * deletion never re-assigns survivors (a vector's cells must not
    * depend on its neighbors' lifecycle) — re-balancing after mass
    * deletion is [[reblockGraphStore]]'s job.
    *
    * `tombstones` must carry an `id` column; every id must be live in
    * the store (a silent no-op delete hides upstream bookkeeping
    * bugs — fail loudly, the ingest-guard discipline).
    */
  def blockedGraphDelete(tombstones: DataFrame,
      store: BlockedGraphStore): BlockedGraphStore = {
    val del = tombstones.select(col("id")).distinct()
      .localCheckpoint(true)
    Ingest.requireAllLive(del, store.vecs.select("id"),
      "blockedGraphDelete", "store")
    val vecs2 = store.vecs.join(broadcast(del), Seq("id"), "left_anti")
      .localCheckpoint(true)
    // affected = surviving qids with a deleted NEIGHBOR in their list
    val affected = store.top
      .join(broadcast(del), Seq("id"), "left_semi") // neighbor deleted
      .select(col("qid").as("id")).distinct()
      .join(broadcast(del), Seq("id"), "left_anti") // …and qid survives
      .localCheckpoint(true)
    // unaffected surviving lists carry no deleted neighbor by
    // definition — dropping deleted and affected QIDs is the whole cut
    val keptTop = store.top
      .join(broadcast(del.select(col("id").as("qid"))), Seq("qid"),
        "left_anti")
      .join(broadcast(affected.select(col("id").as("qid"))),
        Seq("qid"), "left_anti")
    val affVecs = vecs2.join(broadcast(affected), Seq("id"),
      "left_semi")
    val rebuilt = topFold(blockedDirectedPairs(affVecs, vecs2),
      store.k)
    val top2 = keptTop.unionByName(rebuilt).localCheckpoint(true)
    BlockedGraphStore(vecs2, top2, store.cents, store.probe, store.k)
  }

  /** [[blockedGraphDelete]] for the EXACT store: identical repair
    * theorem with the all-pairs candidate generator — unaffected
    * lists are provably correct for the same top-k reason, affected
    * nodes re-rank against ALL survivors (|affected|·N sims — the
    * exact store's inherent cost class, as its ingest already is).
    */
  def knnGraphDelete(tombstones: DataFrame,
      store: KnnGraphStore): KnnGraphStore = {
    val del = tombstones.select(col("id")).distinct()
      .localCheckpoint(true)
    Ingest.requireAllLive(del, store.vecs.select("id"),
      "knnGraphDelete", "store")
    val vecs2 = store.vecs.join(broadcast(del), Seq("id"), "left_anti")
      .repartition(store.tiles).localCheckpoint(true)
    val affected = store.top
      .join(broadcast(del), Seq("id"), "left_semi")
      .select(col("qid").as("id")).distinct()
      .join(broadcast(del), Seq("id"), "left_anti")
      .localCheckpoint(true)
    // unaffected surviving lists carry no deleted neighbor by
    // definition — dropping deleted and affected QIDs is the whole cut
    val keptTop = store.top
      .join(broadcast(del.select(col("id").as("qid"))), Seq("qid"),
        "left_anti")
      .join(broadcast(affected.select(col("id").as("qid"))),
        Seq("qid"), "left_anti")
    val affVecs = vecs2.join(broadcast(affected), Seq("id"),
      "left_semi")
    val rebuilt = topFold(directedPairs(affVecs, vecs2), store.k)
    val top2 = keptTop.unionByName(rebuilt).localCheckpoint(true)
    KnnGraphStore(vecs2, top2, store.k, store.tiles)
  }

  /** Round-synchronous beam search over a prebuilt kNN graph — the
    * graph-traversal ANN family (the NSW/HNSW shape: Malkov &
    * Yashunin, TPAMI'18) beside the quantizer suite (IVF/PQ/BQ/SQ8).
    * Greedy sequential HNSW is visit-order-sensitive and ungateable;
    * this is its deterministic batch form: per query, a beam of the
    * `ef` best visited nodes (sim DESC, id ASC — [[TopK.topKPairs]]'
    * exact order) expands ALL its graph neighbors each round, new
    * nodes score against the query, and the beam re-forms — repeat
    * `rounds` times or until no unvisited neighbor remains. Set
    * semantics per round make the result independent of task order
    * and SQL-replayable by unrolled CTEs (the xs15b twin).
    *
    * Scale shape: state per query is the visited set — bounded by
    * entries + rounds·ef·maxdeg, CORPUS-INDEPENDENT (the touched-node
    * law of `ScaleStress` leg xs15; brute force pays |corpus| per query). Each
    * round is one bounded top-ef aggregate, one edge equi-join, one
    * anti-join, one narrow sim map — queries ride one shuffle key
    * (qid / node id), never a cartesian. localCheckpoint + freshStats
    * at the loop boundary (the xd18/xg10 discipline) keep lineage and
    * planner stats O(1) per round.
    *
    * `entryIds` are pinned (lowest corpus ids by convention): a fixed
    * navigation start is what makes two runs — and the SQL replay —
    * traverse identically.
    */
  def beamSearchVisited(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], ef: Int, rounds: Int,
      diagOut: scala.collection.mutable.ArrayBuffer[Long] = null)
      : DataFrame =
    beamSearchVisitedSeeded(corpus, queries, edges, idCol, vecCol,
      entryIds, ef, rounds, seedM = 0, diagOut = diagOut)

  /** [[beamSearchVisited]] with the seed choice factored out: when
    * `seedM` = 0, every query starts at ALL of `entryIds` (the flat
    * entry tier — xs15/xs17's shape); when `seedM` > 0, each query
    * first scores ONLY the `entryIds` layer (medoids — nlist rows, a
    * broadcast-sized upper layer) and descends from its own top-seedM
    * of them (sim DESC, id ASC — TopKPairs' exact order). That is the
    * hierarchical half of the HNSW analogy (xs18): the upper-layer
    * search is itself a tiny exact top-k, and per-query seed count
    * drops from nlist to seedM, shrinking the visited set the
    * xs15 touched-node law bounds. Both shapes share every downstream round.
    */
  def beamSearchVisitedSeeded(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], ef: Int, rounds: Int, seedM: Int,
      diagOut: scala.collection.mutable.ArrayBuffer[Long] = null)
      : DataFrame =
      LoopTuning.withLoopAqeOff(corpus.sparkSession) {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("nv")).localCheckpoint(true)
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv"), TextFns.l2norm(col(vecCol)).as("nq"))
      .localCheckpoint(true))
    val e = edges.select(col("qid").as("id"), col("id").as("nb"))
      .localCheckpoint(true)
    // (qid, id) → (qid, id, sim): corpus equi-join + broadcast query
    // join + one narrow arithmetic map — the only sim computation in
    // the traversal, shared by seed and every frontier
    def scored(nodes: DataFrame): DataFrame =
      nodes.join(c, "id").join(q, "qid")
        .select(col("qid"), col("id"),
          (TextFns.dot(col("v"), col("qv")) / (col("nv") * col("nq")))
            .as("sim"))
    val layer = scored(
      q.select(col("qid")).crossJoin(
        c.where(col("id").isin(entryIds: _*)).select(col("id"))))
    var visited = (if (seedM <= 0) layer
      else rankTopK(layer, seedM).select("qid", "id", "sim"))
      .localCheckpoint(true)
    // per-round SCORING-EVENT counter (`ScaleStress` leg xs16, the
    // navigation-cost law): the seed entry records every row the seed
    // phase scored — the full |queries|×|entryIds| layer, INCLUDING
    // (when seedM > 0) medoids the top-seedM cut then drops (ADVICE r17: counting only
    // the kept seeds under-reported hierarchical navigation cost; an
    // unkept medoid re-reached via an edge is genuinely scored a
    // second time and lands in that round's frontier count). Counts
    // are deterministic — seed layer first, then each round's
    // frontier. Counting mode pays full counts where the hot path
    // pays limit(1).
    if (diagOut != null)
      diagOut += (if (seedM <= 0) visited.count() else layer.count())
    var r = 0
    var grew = true
    while (r < rounds && grew) {
      val beam = visited.groupBy("qid")
        .agg(TopK.topKPairs(col("sim"), col("id"), ef).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("id"))
      val frontier = beam.join(e, "id")
        .select(col("qid"), col("nb").as("id")).distinct()
        .join(visited.select("qid", "id"), Seq("qid", "id"),
          "left_anti")
      // LAZY checkpoint: the grew probe's job materializes the round
      // frame's partitions as a side effect (the union's eager
      // checkpoint finishes the rest), so each round runs 2 jobs
      // instead of 3 (materialize / probe / union) — same task work,
      // one fewer scheduler round trip per round.
      val fs = scored(frontier).localCheckpoint(false)
      if (diagOut != null) {
        val n = fs.count(); grew = n > 0
        if (grew) diagOut += n
      } else grew = fs.limit(1).count() > 0
      if (grew)
        visited = org.apache.spark.sql.graftbridge.Bridge.freshStats(
          visited.unionAll(fs).localCheckpoint(true))
      r += 1
    }
    visited
  }

  /** Top-k results of [[beamSearchVisited]], self-matches excluded —
    * the [[bruteForceTopK]] output contract (qid, id, sim, rank) so
    * the recall gate compares like with like.
    */
  def beamSearchTopK(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], ef: Int, rounds: Int, k: Int): DataFrame =
    rankVisitedTopK(
      beamSearchVisited(corpus, queries, edges, idCol, vecCol,
        entryIds, ef, rounds),
      k)

  /** Top-k via the HIERARCHICAL descent ([[beamSearchVisitedSeeded]]
    * with seedM > 0): score the medoid layer, descend from each
    * query's own top-`seedM` medoids. The xs18 gated shape.
    */
  def beamSearchTopKHier(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], seedM: Int, ef: Int, rounds: Int,
      k: Int): DataFrame =
    rankVisitedTopK(
      beamSearchVisitedSeeded(corpus, queries, edges, idCol, vecCol,
        entryIds, ef, rounds, seedM),
      k)

  /** Rank a [[beamSearchVisited]] frame without re-traversing — the
    * SCALE harness measures the visited set and the result from ONE
    * traversal.
    */
  private[graft] def rankVisitedTopK(visited: DataFrame,
      k: Int): DataFrame =
    rankTopK(visited.where(col("id") =!= col("qid")), k)

  /** ATTRIBUTE-FILTERED graph serve (xs19) — xs11's filtered vector
    * search on the TRAVERSAL read path: each query returns top-k among
    * visited nodes sharing ITS `attrCol` value. The design decision is
    * where the predicate lives, and the literature's answer (filtered
    * HNSW / ACORN) is the one this takes: navigation is
    * PREDICATE-INDEPENDENT — the beam walks the FULL graph exactly as
    * [[beamSearchVisited]] does, and the filter applies at HARVEST,
    * over the visited set. Filtering DURING navigation prunes the
    * frontier to matching nodes and disconnects the graph under
    * selective predicates (a query's label-mates may only be reachable
    * through off-label hops); harvest-filtering keeps connectivity and
    * turns selectivity into an OVER-FETCH dial: `ef` must exceed
    * k/selectivity so the visited set carries enough matching nodes —
    * OperatorsSpec gates recall ≥ 0.9 vs filtered brute force at the
    * over-fetched ef AND shows naive post-filtering of the unfiltered
    * top-k under-returning on the same corpus.
    *
    * Exactness/scale: the traversal is byte-identical to xs15/xs17's
    * (same bounded rounds, same visited law); the harvest adds one
    * corpus equi-join for the node attribute + a broadcast query-
    * attribute join + the bounded top-k rank — no new shuffle class.
    * Deterministic end to end, so the whole thing hash-gates through
    * the blocked-beam CTE replay with the equality in the final rank.
    */
  def beamSearchTopKFiltered(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String, attrCol: String,
      entryIds: Seq[Long], ef: Int, rounds: Int, k: Int): DataFrame =
    filteredHarvest(
      beamSearchVisited(corpus, queries, edges, idCol, vecCol,
        entryIds, ef, rounds),
      corpus, queries, idCol, attrCol, k)

  /** [[beamSearchTopKFiltered]] with an arbitrary harvest predicate
    * over (node attr, query attr) — the RANGE-filtered search shape
    * (xs20: e.g. |attr − qattr| ≤ w, the price-band / time-window
    * predicate of real vector stores) on the same
    * predicate-independent traversal. The predicate must be
    * deterministic SQL arithmetic for the CTE replay to hash-gate it;
    * selectivity sets the over-fetch dial exactly as equality does.
    */
  def beamSearchTopKFilteredBy(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String, attrCol: String,
      pred: (Column, Column) => Column, entryIds: Seq[Long], ef: Int,
      rounds: Int, k: Int): DataFrame =
    filteredHarvestBy(
      beamSearchVisited(corpus, queries, edges, idCol, vecCol,
        entryIds, ef, rounds),
      corpus, queries, idCol, attrCol, pred, k)

  /** [[beamSearchTopKFiltered]] with the HIERARCHICAL seed choice —
    * the filtered production read path over the two-layer stack
    * (qs42: xs19's harvest over xs18's descent). Navigation —
    * including the medoid-layer seed search — stays
    * predicate-independent; only the harvest reads the attribute.
    */
  def beamSearchTopKHierFiltered(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String, attrCol: String,
      entryIds: Seq[Long], seedM: Int, ef: Int, rounds: Int,
      k: Int): DataFrame =
    filteredHarvest(
      beamSearchVisitedSeeded(corpus, queries, edges, idCol, vecCol,
        entryIds, ef, rounds, seedM),
      corpus, queries, idCol, attrCol, k)

  /** The xs19 harvest: visited ∩ (node attr == query attr), bounded
    * top-k rank — one corpus equi-join + one broadcast query join, no
    * new shuffle class (see [[beamSearchTopKFiltered]]'s scaladoc for
    * the predicate-placement design).
    */
  private def filteredHarvest(visited: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, attrCol: String,
      k: Int): DataFrame =
    filteredHarvestBy(visited, corpus, queries, idCol, attrCol,
      _ === _, k)

  private def filteredHarvestBy(visited: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, attrCol: String,
      pred: (Column, Column) => Column, k: Int): DataFrame = {
    val attrs = corpus.select(col(idCol).as("id"),
      col(attrCol).as("__attr"))
    val qattrs = broadcast(queries.select(col(idCol).as("qid"),
      col(attrCol).as("__qattr")))
    rankTopK(
      visited.where(col("id") =!= col("qid"))
        .join(attrs, "id").join(qattrs, "qid")
        .where(pred(col("__attr"), col("__qattr")))
        .select(col("qid"), col("id"), col("sim")),
      k)
  }

  /** Hamming-guided beam search (xs16) — the xs15 × xs13 composition
    * the ANN family map promises: the traversal picks candidates
    * (touched nodes parameter-bounded, corpus-independent), the
    * per-frontier score is the INTEGER sign-bit Hamming distance
    * ([[TextFns.signHamming]] — one popcount-class comparison instead
    * of a dim-length dot product, the navigation-cost win on wide
    * embeddings), and only the final visited set pays exact cosine in
    * the rerank (the xs7 discipline). Beam order (hd ASC, id ASC) is
    * exact integer arithmetic — ties included — so the traversal
    * hash-gates without IEEE care; the rerank reuses the xs15 cosine
    * contract. Navigation recall is gated like xs15's (sign bits are
    * a coarse angle surrogate; measured 1.0 on the planted corpus at
    * both bench SFs).
    */
  def beamSearchVisitedBQ(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], ef: Int, rounds: Int,
      diagOut: scala.collection.mutable.ArrayBuffer[Long] = null)
      : DataFrame =
      LoopTuning.withLoopAqeOff(corpus.sparkSession) {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint(true)
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv")).localCheckpoint(true))
    val e = edges.select(col("qid").as("id"), col("id").as("nb"))
      .localCheckpoint(true)
    def scored(nodes: DataFrame): DataFrame =
      nodes.join(c, "id").join(q, "qid")
        .select(col("qid"), col("id"),
          TextFns.signHamming(col("v"), col("qv")).as("hd"))
    var visited = scored(
      q.select(col("qid")).crossJoin(
        c.where(col("id").isin(entryIds: _*)).select(col("id"))))
      .localCheckpoint(true)
    // per-round Hamming-comparison counter — the beamSearchVisited
    // counter's integer-navigation twin (`ScaleStress` leg xs16)
    if (diagOut != null) diagOut += visited.count()
    var r = 0
    var grew = true
    while (r < rounds && grew) {
      // TopKPairs keeps (score DESC, id ASC); score = −hd is exact
      // for integers ≤ dim, so the beam is (hd ASC, id ASC) — the
      // SQL twin's ROW_NUMBER order, boundary ties included
      val beam = visited.groupBy("qid")
        .agg(TopK.topKPairs(-col("hd").cast(DoubleType), col("id"), ef)
          .as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("id"))
      val frontier = beam.join(e, "id")
        .select(col("qid"), col("nb").as("id")).distinct()
        .join(visited.select("qid", "id"), Seq("qid", "id"),
          "left_anti")
      // lazy checkpoint + probe-materializes: see beamSearchVisitedSeeded
      val fs = scored(frontier).localCheckpoint(false)
      if (diagOut != null) {
        val n = fs.count(); grew = n > 0
        if (grew) diagOut += n
      } else grew = fs.limit(1).count() > 0
      if (grew)
        visited = org.apache.spark.sql.graftbridge.Bridge.freshStats(
          visited.unionAll(fs).localCheckpoint(true))
      r += 1
    }
    visited
  }

  /** Exact-cosine rerank over the Hamming-traversed visited set —
    * [[bruteForceTopK]]'s output contract.
    *
    * `shortlist` = 0 reranks the FULL visited set — the xs16/xs16b
    * gated shape (SQL-replayable: the oracle reranks the same set).
    * `shortlist` > 0 is the production two-stage discipline (xs13's):
    * Hamming-rank the visited set to `shortlist` rows per query —
    * integer compares on scores the traversal ALREADY computed — and
    * pay exact cosine only there, so dot-product count drops from
    * |visited| to |queries|·shortlist. That is the measured
    * navigation-cost law of `ScaleStress` leg xs16: popcounts navigate, a
    * parameter-bounded shortlist pays the dim-length dots.
    */
  def beamSearchTopKBQ(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], ef: Int, rounds: Int, k: Int,
      shortlist: Int = 0): DataFrame = {
    val visited = beamSearchVisitedBQ(corpus, queries, edges, idCol,
      vecCol, entryIds, ef, rounds)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("nv"))
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv"), TextFns.l2norm(col(vecCol)).as("nq")))
    val nonSelf = visited.where(col("id") =!= col("qid"))
    val toRerank =
      if (shortlist <= 0) nonSelf.select("qid", "id")
      else rankTopK(
        nonSelf.select(col("qid"), col("id"),
          (-col("hd")).cast(DoubleType).as("sim")), shortlist)
        .select("qid", "id")
    rankTopK(
      toRerank
        .join(c, "id").join(q, "qid")
        .select(col("qid"), col("id"),
          (TextFns.dot(col("v"), col("qv")) / (col("nv") * col("nq")))
            .as("sim")),
      k)
  }

  /** Johnson–Lindenstrauss random projection d→k over an embedding
    * column ([[RandomProjection]]): replaces `vecCol` with the k-dim
    * projection. A narrow per-row map (zero shuffle at any corpus
    * size); the deterministic md5 sign matrix means two corpora (or a
    * stream and its store) project identically with no shared state.
    * Distance preservation (the JL guarantee) is spec-gated; the xs8
    * oracle replays the exact decimal arithmetic relationally.
    */
  def randomProject(df: DataFrame, vecCol: String, k: Int): DataFrame =
    df.withColumn(vecCol, HashFns.randomProjection(col(vecCol), k))

  /** Per-subspace residual codebooks for [[ivfPqTopK]], trained on the
    * SAME bounded sample discipline as the IVF centroids: assign each
    * sample vector to its cell (the query-time dot/‖c‖ metric, ties to
    * the lower id), subtract the centroid, and run Euclidean Lloyd
    * (argmin-d2 — [[PqEncode]]'s own metric) per subspace over the
    * sample residuals. Driver cost: sample×dim arithmetic, corpus-
    * independent. books(j)(c) = codeword c of subspace j.
    */
  private def residualCodebooks(sample: Array[(Long, Array[Double])],
      cents: Seq[(Long, Seq[Double])], m: Int, ksub: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    require(sample.nonEmpty, "residualCodebooks: empty sample")
    val cm = cents.sortBy(_._1).map(_._2.toArray).toArray
    val cn = cm.map { v =>
      val s = v.map(x => x * x).sum; if (s > 0) math.sqrt(s) else 0.0
    }
    val dim = sample.head._2.length
    require(dim % m == 0, s"residualCodebooks: dim $dim % $m != 0")
    val sub = dim / m
    val residuals = sample.map { case (_, v) =>
      var best = 0; var bestScore = Double.NegativeInfinity
      var ci = 0
      while (ci < cm.length) {
        var d = 0.0; var j = 0
        while (j < dim) { d += v(j) * cm(ci)(j); j += 1 }
        val score = if (cn(ci) == 0.0) d else d / cn(ci)
        if (score > bestScore) { bestScore = score; best = ci }
        ci += 1
      }
      val r = new Array[Double](dim)
      var j = 0
      while (j < dim) { r(j) = v(j) - cm(best)(j); j += 1 }
      r
    }
    (0 until m).map { j =>
      val subSample = residuals.zipWithIndex.map { case (r, i) =>
        (i.toLong, java.util.Arrays.copyOfRange(r, j * sub, (j + 1) * sub))
      }
      lloydLocal(subSample, sub, ksub, iters, euclid = true)
        .map(_._2.toSeq).toSeq
    }
  }

  /** IVF×PQ composed ANN (xs10) — the production billion-vector
    * layout (Jégou et al. 2011's IVFADC), which neither xs2 (IVF over
    * full vectors) nor xs6/xs7 (PQ over a full scan of codes) gives
    * alone: the corpus is partitioned into `nlist` k-means cells, and
    * within each cell vectors are stored as m-byte PQ codes of the
    * RESIDUAL v − centroid(cell) (residuals concentrate near 0, so
    * the same codebook budget quantizes them far tighter than raw
    * vectors). A query probes its `nprobe` nearest cells with a
    * PER-CELL ADC table over its own residual, shortlists by ADC, and
    * reranks the shortlist with exact cosine (the xs7 discipline —
    * recall is spec-gated ≥0.9 vs brute force).
    *
    * Scale shape: training is driver-side over the one bounded
    * sample; cell assignment + residual + encode are narrow maps (the
    * centroid matrix and codebooks are plan literals); the candidate
    * join touches Σ load(probed cells) ≈ (nprobe/nlist)·n rows — the
    * OperatorsSpec's xs10 test grades that volume's probe-proportionality —
    * carrying m ints per row, not dim doubles; ranking is the bounded
    * top-k aggregate; the exact rerank reads |queries|·shortlist full
    * vectors through a broadcast join. No corpus-sized shuffle
    * anywhere. Output == bruteForceTopK schema (qid, id, sim, rank);
    * approximate by construction → no SQL oracle, recall + exactness
    * of the rerank arithmetic spec-gated (the rows-only xs2/xs6 class).
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      shortlist: Int = 0, kmeansIters: Int = 3,
      twoLevel: Boolean = false, wCoarse: Int = 2): DataFrame = {
    val sample = boundedSample(corpus, idCol, vecCol,
      math.max(128 * nlist, 2048))
    require(sample.nonEmpty, "ivfPqTopK: empty corpus")
    val cents = lloydLocal(sample, sample.head._2.length, nlist,
      kmeansIters).map { case (id, v) => (id, v.toSeq) }.toSeq
    val books = residualCodebooks(sample, cents, m, ksub, kmeansIters)
    ivfPqTopKWith(corpus, queries, idCol, vecCol, k, cents, books,
      nprobe, shortlist, twoLevel, wCoarse)
  }

  /** Per-label residual codebooks (the SQL-replayable twin of the
    * Lloyd-trained [[residualCodebooks]], built the way
    * [[pqCodebooksByLabel]] twins the sample k-means books): assign
    * every corpus vector to its nearest cell (the query-time
    * dot·(1/‖c‖) metric), subtract the centroid, and take the
    * decimal-exact per-(OWN label, position) mean of the residual
    * components — one aggregate, labels×dim rows, corpus-size-
    * independent, every step an exact DuckDB replay. Codeword index
    * of subspace j = label rank (labels ascending).
    */
  def residualCodebooksByLabel(corpus: DataFrame, idCol: String,
      labelCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], m: Int): Seq[Seq[Seq[Double]]] = {
    val centMap0 = map(cents.sortBy(_._1).flatMap { case (id, v) =>
      Seq(lit(id), typedlit(v))
    }: _*)
    val res = corpus
      .select(col(labelCol).as("__lab"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("__v"))
      .withColumn("__cell",
        element_at(nearestCells(col("__v"), cents, 1), 1))
      .select(col("__lab"), zip_with(col("__v"),
        element_at(centMap0, col("__cell")),
        (x, c) => x - c).as("__rv"))
    pqCodebooksByLabel(res, "__lab", "__rv", m)
  }

  /** [[ivfPqTopK]] with externally supplied cells + residual
    * codebooks — the full IVFADC machinery (assignment, residual,
    * encode, per-probe-cell LUT, ADC shortlist, exact rerank)
    * unchanged. The xd11 oracle pattern: the hash-gated xs10 entry
    * feeds label centroids + [[residualCodebooksByLabel]] so DuckDB
    * re-derives the entire chain; production feeds Lloyd-trained
    * cells/books through the same body.
    */
  def ivfPqTopKWith(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Seq[(Long, Seq[Double])], books: Seq[Seq[Seq[Double]]],
      nprobe: Int, shortlist: Int = 0,
      twoLevel: Boolean = false, wCoarse: Int = 2): DataFrame = {
    val r = if (shortlist > 0) shortlist else 6 * k
    val centMap = map(cents.sortBy(_._1).flatMap { case (id, v) =>
      Seq(lit(id), typedlit(v))
    }: _*)
    def residual(v: Column, cell: Column): Column =
      zip_with(v, element_at(centMap, cell),
        (x, c) => x.cast(DoubleType) - c)
    // assignment: flat O(K) argmax for bench-scale cell counts, or
    // the xd11 two-level coarse quantizer (O(√K·wCoarse) per row)
    // when nlist grows with the corpus — same fine cell ids either
    // way, so the residual lookup and codebooks are untouched
    val cellsOf: (Column, Int) => Column =
      if (twoLevel) {
        val (cv, fi, fv) = coarsenCentroids(cents)
        (v, n) => HashFns.twoLevelNearestCentroids(v, cv, fi, fv,
          wCoarse, n)
      } else (v, n) => nearestCells(v, cents, n)

    val enc = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        TextFns.l2norm(col(vecCol)).as("nv"))
      .withColumn("cell", element_at(cellsOf(col("v"), 1), 1))
      .withColumn("codes",
        HashFns.pqEncode(residual(col("v"), col("cell")), books))
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        TextFns.l2norm(col(vecCol)).as("nq"))
      .withColumn("cell", explode(cellsOf(col("qv"), nprobe)))
      .withColumn("lut",
        HashFns.pqLut(residual(col("qv"), col("cell")), books))

    val cand = rankTopK(
      enc.select(col("id"), col("cell"), col("codes"))
        .join(broadcast(probes.select(col("qid"), col("cell"),
          col("lut"))), "cell")
        .where(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          (-HashFns.pqAdc(col("lut"), col("codes"))).as("sim")),
      r).select(col("qid"), col("id"))
    rankTopK(
      broadcast(cand)
        .join(enc.select(col("id"), col("v"), col("nv")), "id")
        .join(broadcast(queries.select(col(idCol).as("qid"),
          col(vecCol).as("qv"),
          TextFns.l2norm(col(vecCol)).as("nq"))), "qid")
        .select(col("qid"), col("id"),
          (TextFns.dot(col("v"), col("qv")) / (col("nv") * col("nq")))
            .as("sim")),
      k)
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 3): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      kmeansCentroidsLocal(corpus, idCol, vecCol, nlist, kmeansIters),
      nprobe)

  /** [[ivfTopK]] with INJECTED centroids (the xs10/xd11 pinned-cells
    * discipline): given cells as plan literals, the whole assignment →
    * probe → within-cell exact cosine → top-k chain is deterministic
    * SQL-replayable arithmetic — the xs2b hash gate — while the Lloyd-
    * trained production config above stays recall-gated. Shuffle is
    * probe-proportional: corpus rows hash by cell once, each query
    * meets only its nprobe cells, never the corpus.
    */
  def ivfTopKWith(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Seq[(Long, Seq[Double])], nprobe: Int): DataFrame = {
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        TextFns.l2norm(col(vecCol)).as("nv"))
      .withColumn("cell", element_at(nearestCells(col("v"), cents, 1), 1))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        TextFns.l2norm(col(vecCol)).as("nq"))
      .withColumn("cell", explode(nearestCells(col("qv"), cents, nprobe)))

    rankTopK(
      assigned.join(probes, "cell")
        .where(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          (TextFns.dot(col("v"), col("qv")) / (col("nv") * col("nq")))
            .as("sim")),
      k)
  }

  /** Per-query ATTRIBUTE-FILTERED IVF ANN (the "filtered vector
    * search" every vector store ships: top-k among vectors satisfying
    * a per-query metadata predicate — here attribute equality, the
    * same-category-search shape). Same assignment → probe → exact
    * cosine → bounded top-k chain as [[ivfTopKWith]], with the
    * predicate evaluated as a join-residual EQUALITY BEFORE any vector
    * arithmetic: candidates shrink from Σload(probed cells) to the
    * predicate's selectivity share of it before a single dim-length
    * dot product runs. This is IN-SEARCH filtering, not
    * post-filtering — post-filtering ranks the unfiltered top-k and
    * then drops rows, silently returning fewer (or zero) matches when
    * the predicate is selective; here every returned rank is a true
    * within-predicate neighbor. (Queries whose probed cells hold
    * fewer than k qualifying vectors return fewer rows — determinate
    * in both engines, so the oracle gates it.) At 100TB the attribute
    * would also be a [[Scale.writeLayout]] partition column, turning
    * the residual into partition pruning on the corpus scan itself.
    */
  def ivfTopKFilteredWith(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, attrCol: String, k: Int,
      cents: Seq[(Long, Seq[Double])], nprobe: Int): DataFrame = {
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        col(attrCol).as("attr"), TextFns.l2norm(col(vecCol)).as("nv"))
      .withColumn("cell", element_at(nearestCells(col("v"), cents, 1), 1))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        col(attrCol).as("qattr"), TextFns.l2norm(col(vecCol)).as("nq"))
      .withColumn("cell", explode(nearestCells(col("qv"), cents, nprobe)))

    rankTopK(
      assigned.join(probes, "cell")
        .where(col("id") =!= col("qid") && col("attr") === col("qattr"))
        .select(col("qid"), col("id"),
          (TextFns.dot(col("v"), col("qv")) / (col("nv") * col("nq")))
            .as("sim")),
      k)
  }

  /** Sign bits of dims [from, until) packed into a non-negative Long
    * (xs13). Strict `> 0` — zeros and −0.0 are 0-bits in both
    * engines. 32-bit halves, the xm5/xm6 hi/lo discipline: a 64-bit
    * pack would put dim 63 at the sign bit and make the two engines'
    * overflow behavior load-bearing.
    */
  private def signBits(vec: String, from: Int, until: Int): Column =
    expr(s"aggregate(transform(sequence($from, ${until - 1}), " +
      s"i -> IF(element_at($vec, CAST(i AS INT) + 1) " +
      s"> CAST(0.0 AS DOUBLE), " +
      s"shiftleft(CAST(1 AS BIGINT), CAST(i - $from AS INT)), " +
      s"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)")

  /** Binary-quantization ANN (xs13) — the "BQ" fast path modern
    * vector stores ship beside PQ: each vector compresses to its
    * per-dimension SIGN BITS (64 dims → 8 bytes, a 32× cut over f64;
    * scale-invariant, so cosine neighbors tend to share signs), the
    * shortlist stage ranks by HAMMING distance over the packed bits
    * (pure integer — bit_count(xor), the xm6 arithmetic), and only
    * |queries|·shortlist survivors pay an exact-cosine rerank (the
    * xs7 two-stage discipline with a far cheaper stage 1: one Long
    * xor+popcount per pair instead of m ADC lookups).
    *
    * Exactness: signatures are deterministic integers; Hamming ties
    * break (hd ASC, id ASC) via the bounded TopKPairs aggregate
    * (sim = −hd — ≤ shortlist rows per query per partition cross the
    * shuffle, never a corpus sort); the rerank is the module's pinned
    * dot/(na·nb) cosine with (sim DESC, id) ranking — every stage
    * SQL-replayable, so the approximate operator is hash-gated (the
    * xs6/xs7 contract).
    *
    * Output: (qid, rank, id, hd, sim).
    */
  def binaryQuantTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      shortlist: Int): DataFrame = {
    val c = corpus
      .select(col(idCol).as("id"), col(vecCol).as("__v"),
        TextFns.l2norm(col(vecCol)).as("nv"))
      .withColumn("lo", signBits("__v", 0, 32))
      .withColumn("hi", signBits("__v", 32, 64))
      .localCheckpoint(true)
    val q = queries
      .select(col(idCol).as("qid"), col(vecCol).as("__qv"),
        TextFns.l2norm(col(vecCol)).as("nq"))
      .withColumn("qlo", signBits("__qv", 0, 32))
      .withColumn("qhi", signBits("__qv", 32, 64))
    val hd = c.select(col("id"), col("lo"), col("hi"))
      .crossJoin(broadcast(q.select(col("qid"), col("qlo"), col("qhi"))))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        (expr("bit_count(lo ^ qlo)") + expr("bit_count(hi ^ qhi)"))
          .cast(LongType).as("hd"))
    val short = rankTopK(
      hd.select(col("qid"), col("id"),
        (-col("hd")).cast(DoubleType).as("sim")), shortlist)
      .select(col("qid"), col("id"), (-col("sim")).cast(LongType)
        .as("hd"))
    val rr = short
      .join(c.select(col("id"), col("__v"), col("nv")), "id")
      .join(broadcast(q.select(col("qid"), col("__qv"), col("nq"))),
        "qid")
      .select(col("qid"), col("id"), col("hd"),
        (TextFns.dot(col("__v"), col("__qv"))
          / (col("nv") * col("nq"))).as("sim"))
    rankTopK(rr.select(col("qid"), col("id"), col("sim")), k)
      .join(rr.select(col("qid"), col("id"), col("hd")),
        Seq("qid", "id"))
      .select(col("qid"), col("rank"), col("id"), col("hd"),
        col("sim"))
  }

  /** Scalar-quantization ANN (xs14) — the "SQ8" path that completes
    * the quantizer triptych (PQ xs6/xs7: codebook subspaces; BQ xs13:
    * sign bits; SQ: per-DIMENSION affine 8-bit codes, faiss's
    * ScalarQuantizer): each dimension quantizes independently to a
    * signed byte around its corpus midpoint,
    * `q_d = floor((v_d − mid_d)·254/span_d + 0.5)` ∈ [−127, 127]
    * (8× compression, no codebook training), the shortlist ranks by
    * the pure-INTEGER code dot product Σ q·q′ (a scaled
    * covariance-dot — a coarse cosine surrogate, stated honestly;
    * recall restored by the exact rerank, the xs7 discipline), and
    * only |queries|·shortlist survivors pay exact cosine.
    *
    * Exactness: the per-dim (min, max) stats are EXACT aggregates
    * (collected driver-side — 2·dim doubles, a plan literal; the
    * oracle re-derives them with MIN/MAX and gets bit-identical
    * values), the quantizer is one pinned IEEE op sequence shared
    * textually with the oracle, codes and shortlist scores are
    * integers, ties (score DESC, id) — so the approximate operator
    * hash-gates end to end (the xs13 contract). Constant dimensions
    * (span 0) code to 0.
    *
    * 100 TB: stats are one 64-group aggregate (map-side combined);
    * encode is a narrow map off plan literals; candidate scoring
    * moves dim bytes per pair instead of dim doubles.
    *
    * Output: (qid, rank, id, score, sim).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int): DataFrame = {
    val cv = corpus.select(col(idCol).as("id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("__v"))
    val stats = cv
      .select(posexplode(col("__v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("d").collect()
    val mids = stats.map(r => (r.getDouble(1) + r.getDouble(2)) / 2.0)
    val spans = stats.map(r => r.getDouble(2) - r.getDouble(1))
    def codes(vec: Column): Column = {
      val midA = array(mids.map(lit(_)): _*)
      val spanA = array(spans.map(lit(_)): _*)
      zip_with(zip_with(vec, midA, (v, m) => struct(v.as("v"),
          m.as("m"))), spanA,
        (vm, s) => when(s === 0d, 0L).otherwise(
          floor((vm.getField("v") - vm.getField("m")) * lit(254.0) / s
            + lit(0.5)).cast(LongType)))
    }
    val c = cv
      .select(col("id"), col("__v"), TextFns.l2norm(col("__v")).as("nv"),
        codes(col("__v")).as("__qc"))
      .localCheckpoint(true)
    val q = queries.select(col(idCol).as("qid"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("__qv"))
      .select(col("qid"), col("__qv"),
        TextFns.l2norm(col("__qv")).as("nq"),
        codes(col("__qv")).as("__qq"))
    val scored = c.select(col("id"), col("__qc"))
      .crossJoin(broadcast(q.select(col("qid"), col("__qq"))))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        expr("aggregate(zip_with(__qc, __qq, (a, b) -> a * b), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("score"))
    val short = rankTopK(
      scored.select(col("qid"), col("id"),
        col("score").cast(DoubleType).as("sim")), shortlist)
      .select(col("qid"), col("id"),
        col("sim").cast(LongType).as("score"))
    val rr = short
      .join(c.select(col("id"), col("__v"), col("nv")), "id")
      .join(broadcast(q.select(col("qid"), col("__qv"), col("nq"))),
        "qid")
      .select(col("qid"), col("id"), col("score"),
        (TextFns.dot(col("__v"), col("__qv"))
          / (col("nv") * col("nq"))).as("sim"))
    rankTopK(rr.select(col("qid"), col("id"), col("sim")), k)
      .join(rr.select(col("qid"), col("id"), col("score")),
        Seq("qid", "id"))
      .select(col("qid"), col("rank"), col("id"), col("score"),
        col("sim"))
  }

  /** Maximal-marginal-relevance diversified rerank (Carbonell &
    * Goldstein, SIGIR'98) — the result-diversification pass every
    * retrieval stack runs AFTER its shortlist stage: a plain top-k
    * returns k near-copies of the best hit (a deduped corpus still
    * has topical clusters); MMR greedily selects
    * {{{
    *   argmax_d  λ·sim(q,d) − μ·max_{s∈selected} sim(d,s)
    * }}}
    * so each pick is relevant AND far from everything already picked.
    *
    * `cands` is any (qid, id, sim) shortlist — brute top-N, xs2 IVF,
    * xs7 PQ-rerank: the greedy runs ONLY on the shortlist (the
    * two-stage discipline of xs7), so all per-step work is bounded by
    * queries × shortlist², never corpus-sized. Per step: one anti-join
    * (remaining), one bounded max-aggregate (diversity penalty against
    * the selected set), one per-qid argmax window over ≤ shortlist
    * rows.
    *
    * Determinism/exactness: candidate-pair cosines come from the same
    * pinned dot/(na·nb) IEEE sequence as every cosine in this module;
    * the score is one pinned multiply-subtract (μ is an EXPLICIT
    * parameter, the pageRank-residual trick — computing 1−λ in Scala
    * yields 0.30000000000000004, not the SQL literal 0.3); MAX and the
    * (score DESC, id) argmax are exact selections; the empty-selection
    * penalty is COALESCE(·, 0) in both engines. Step 1 therefore
    * reduces to pure relevance, as the paper defines.
    *
    * Output: (qid, step, id, sim, score) — selection order per query.
    */
  def mmrRerank(cands: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, lambda: Double = 0.7,
      mu: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = cands.select(col("qid"), col("id"), col("sim"))
      .localCheckpoint(true)
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      TextFns.l2norm(col(vecCol)).as("nv"))
    val withVec = cand.join(vecs, "id")
    val pairs = withVec
      .select(col("qid"), col("id").as("a"), col("v").as("va"),
        col("nv").as("na"))
      .join(withVec.select(col("qid"), col("id").as("b"),
        col("v").as("vb"), col("nv").as("nb")), "qid")
      .where(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        (TextFns.dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("psim"))
      .localCheckpoint(true)
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("id"))
    var sel: DataFrame = null
    for (j <- 1 to k) {
      val rem =
        if (j == 1) cand
        else cand.join(sel.select(col("qid"), col("id")),
          Seq("qid", "id"), "left_anti")
      val scored0 =
        if (j == 1) rem.withColumn("mx", lit(null).cast(DoubleType))
        else {
          val pen = pairs
            .join(sel.select(col("qid"), col("id").as("b")),
              Seq("qid", "b"))
            .groupBy(col("qid"), col("a").as("id"))
            .agg(max(col("psim")).as("mx"))
          rem.join(pen, Seq("qid", "id"), "left")
        }
      val pick = scored0
        .select(col("qid"), col("id"), col("sim"),
          (lit(lambda) * col("sim")
            - lit(mu) * coalesce(col("mx"), lit(0.0))).as("score"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("qid"), col("id"), col("sim"), col("score"),
          lit(j).as("step"))
      sel = (if (j == 1) pick else sel.unionByName(pick))
        .localCheckpoint(true)
    }
    sel.select(col("qid"), col("step"), col("id"), col("sim"),
      col("score"))
  }
}
