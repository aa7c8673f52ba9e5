package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative graph-ranking operators (SURVEY §2.11 extension family).
  *
  * The crawl-pipeline motivation: large-scale corpus curation ranks
  * hosts/domains by link centrality (Common Crawl publishes harmonic
  * centrality and PageRank host rankings; quality pipelines weight or
  * threshold sources by them). The reference engine has no graph ops
  * (single-stream architecture — /root/reference/src/bin/rq.rs:157-159,
  * binary operators impossible), so like the dedup/ANN families this is
  * a declared extension over the same record model.
  *
  * Scale shape (the [[Dedup.connectedComponents]] discipline):
  *
  *  - each iteration is ONE equi-join (ranks ⋈ edges on src) + ONE
  *    aggregation shuffle (contributions groupBy dst) + one broadcast
  *    of a single-row dangling-mass aggregate — no driver-side graph,
  *    no adjacency matrix;
  *  - `localCheckpoint` cuts lineage every iteration so iteration N's
  *    plan does not replay iterations 1..N-1 (without it the plan
  *    doubles per round);
  *  - the only driver-side values are the node count and the loop
  *    counter — both O(1).
  *
  * Exactness — FIXED-POINT, not decimal: rank mass is carried as a
  * 64-bit integer in units of 1e-12 (`pr_e12`). Every damped/divided
  * term is one short pinned IEEE double sequence immediately
  * re-quantized by `FLOOR(x + 0.5)` (the T.r4 half-up trick at scale
  * 12 — immune to the engine-specific double→DECIMAL cast semantics:
  * Spark rounds the shortest decimal string via BigDecimal.valueOf +
  * HALF_UP while DuckDB rounds the scaled binary, and over 10
  * iterations × n nodes the last-digit disagreements compound — the
  * first decimal draft of this operator diverged by 6e-12 exactly this
  * way). All sums are then Long adds: exact, add-order-free,
  * partitioning-independent, no overflow (total mass ≈ 1e12 ≪ 2^63,
  * per-node inputs ≪ 2^53 so the Long→Double casts are exact too).
  */
object Graph {

  /** Damped PageRank with uniform dangling-mass redistribution.
    *
    * @param nodes    one column `id` (the vertex set; vertices with no
    *                 edges at all still receive (1−d)/n + dangling share)
    * @param edges    columns `src`, `dst` — a SIMPLE directed graph
    *                 (callers dedup multi-edges; self-loops are legal
    *                 but conventionally removed upstream)
    * @param iters    fixed iteration count (declared queries pin 10 —
    *                 a fixed count, not a convergence test, keeps the
    *                 oracle's unrolled CTE chain finite)
    * @param damping  d, the follow-probability (0.85 classic)
    * @param residual 1−d as an EXPLICIT literal: `1.0 - 0.85` in IEEE
    *                 is not the same double as the literal `0.15`, and
    *                 both engines must feed the identical double into
    *                 the quantizer — so the caller pins it
    *
    * Update rule per node v, in 1e-12 fixed point (q = FLOOR(· + 0.5),
    * toD = CAST(· AS DOUBLE); each line is one pinned IEEE sequence):
    * {{{
    *   contrib(u→v) = q(toD(pr(u)) / deg(u))
    *   pr'(v) = q(residual / n * 1.0e12)
    *          + q(d * toD(Σ_{u→v} contrib))
    *          + q(d * toD(Σ_{dangling u} pr(u)) / n)
    * }}}
    *
    * Output: (id, pr_e12 BIGINT) — rank mass in 1e-12 units; callers
    * divide by 1e12 for display, but the declared queries gate on the
    * integers themselves.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 10,
      damping: Double = 0.85, residual: Double = 0.15): DataFrame = {
    val nodeList = nodes.select(col("id")).localCheckpoint(true)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // edges carry their source's degree through all iterations; built
    // once, checkpointed once. At cluster scale this is the frame to
    // pre-partition by src so every iteration's ranks⋈edges join
    // reuses the exchange.
    val edgeDeg = edges.select(col("src"), col("dst"))
      .join(outdeg, "src").localCheckpoint(true)
    val dangling = nodeList
      .join(outdeg.select(col("src").as("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    val n = nodeList.count() // O(1) driver scalar
    val nD = n.toDouble

    val m = edgeDeg.count() // narrow read of the checkpoint
    LoopTuning.withLoopShuffle(nodes.sparkSession, math.max(n, m)) {
      var p = nodeList.select(col("id"),
          lit(math.floor(1.0 / nD * 1.0e12 + 0.5).toLong).as("pr_e12"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val contrib = edgeDeg
          .join(p.withColumnRenamed("id", "src"), "src")
          .select(col("dst"),
            floor(col("pr_e12").cast(DoubleType) / col("deg") + lit(0.5))
              .cast(LongType).as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s")) // exact Long sum
        val dang = p.join(dangling, "id")
          .agg(coalesce(sum(col("pr_e12")), lit(0L)).as("dm"))
        p = nodeList
          .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .crossJoin(broadcast(dang))
          .select(col("id"),
            (lit(math.floor(residual / nD * 1.0e12 + 0.5).toLong)
              + floor(lit(damping)
                  * coalesce(col("s"), lit(0L)).cast(DoubleType) + lit(0.5))
                .cast(LongType)
              + floor(lit(damping) * col("dm").cast(DoubleType) / lit(nD)
                  + lit(0.5)).cast(LongType))
              .as("pr_e12"))
          .localCheckpoint(true)
      }
      p
    }
  }

  /** HITS hubs & authorities (Kleinberg JACM'99) in the same 1e-12
    * fixed point as [[pageRank]]. Per iteration:
    * {{{
    *   rawA(v) = Σ_{u→v} hub(u)          (exact Long sum)
    *   auth(v) = q(toD(rawA(v)) / √toD(Σ rawA²) · 1e12)
    *   rawH(v) = Σ_{v→w} auth(w)
    *   hub(v)  = q(toD(rawH(v)) / √toD(Σ rawH²) · 1e12)
    * }}}
    * SQRT is IEEE-correctly-rounded (unlike LN/EXP), so the normalize
    * step is exact cross-engine by construction: Σ raw² is decomposed
    * as 1e12·Σq² + 2e6·Σqr + Σr² with raw = q·1e6 + r (integer
    * div/mod) — each partial an exact integer inside DECIMAL(38,0) up
    * to n·maxdeg² ≤ 1e26 (a direct Σ raw² overflows at n·maxdeg² >
    * 1e14 and non-ANSI decimal semantics would null it into a silent
    * all-zero norm) — assembled in one pinned IEEE double sequence
    * whose square root is unique, and the final requantization is the
    * pinned floor(x+0.5). A zero norm (graph with no edges, or a side
    * with no mass) yields all-zero scores by explicit guard rather
    * than NaN.
    *
    * Scale shape: two join+agg shuffles per iteration (one per
    * direction) + two single-row norm broadcasts; lineage cut per
    * iteration. Output: (id, auth_e12, hub_e12).
    */
  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04): PageRank
    * with the teleport restricted to a TRUSTED SEED SET — the
    * quality-propagation op crawl curation actually runs (score
    * flows outward from vetted seed domains; unlinked spam islands
    * receive nothing, unlike classic PageRank's (1−d)/n floor).
    * Identical fixed-point machinery to [[pageRank]]; the base term
    * and the dangling redistribution go ONLY to seeds:
    * {{{
    *   pr'(v) = [v∈S]·q(residual / nS)
    *          + q(d · toD(Σ_{u→v} q(pr(u)/deg(u))))
    *          + [v∈S]·q(d · toD(Σ_{dangling} pr(u)) / nS)
    * }}}
    * `seedPred` marks the seed set (a deterministic predicate — at
    * cluster scale seeds are a small curated list, broadcastable or
    * literal). Initial mass 1/nS on each seed, 0 elsewhere.
    */
  def trustRank(nodes: DataFrame, edges: DataFrame,
      seedPred: org.apache.spark.sql.Column, iters: Int = 10,
      damping: Double = 0.85, residual: Double = 0.15): DataFrame = {
    val nodeList = nodes.select(col("id"), seedPred.as("seed"))
      .localCheckpoint(true)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgeDeg = edges.select(col("src"), col("dst"))
      .join(outdeg, "src").localCheckpoint(true)
    val dangling = nodeList.select(col("id"))
      .join(outdeg.select(col("src").as("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    val nS = nodeList.where(col("seed")).count()
    require(nS > 0, "trustRank: empty seed set")
    val nSD = nS.toDouble

    val m = edgeDeg.count() // narrow read of the checkpoint
    LoopTuning.withLoopShuffle(nodes.sparkSession, m) {
    var p = nodeList.select(col("id"),
        when(col("seed"),
          lit(math.floor(1.0 / nSD * 1.0e12 + 0.5).toLong))
          .otherwise(lit(0L)).as("pr_e12"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = edgeDeg
        .join(p.withColumnRenamed("id", "src"), "src")
        .select(col("dst"),
          floor(col("pr_e12").cast(DoubleType) / col("deg") + lit(0.5))
            .cast(LongType).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      val dang = p.join(dangling, "id")
        .agg(coalesce(sum(col("pr_e12")), lit(0L)).as("dm"))
      p = nodeList
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"),
          (when(col("seed"),
              lit(math.floor(residual / nSD * 1.0e12 + 0.5).toLong)
                + floor(lit(damping) * col("dm").cast(DoubleType)
                    / lit(nSD) + lit(0.5)).cast(LongType))
            .otherwise(lit(0L))
            + floor(lit(damping)
                * coalesce(col("s"), lit(0L)).cast(DoubleType)
                + lit(0.5)).cast(LongType))
            .as("pr_e12"))
        .localCheckpoint(true)
    }
    p
    }
  }

  /** Exact triangle count + global clustering coefficient via the
    * DEGREE-ORDERED orientation (the Schank–Wagner "forward"
    * algorithm, the standard distributed formulation): orient each
    * undirected edge from the (degree, id)-smaller endpoint to the
    * larger, enumerate wedges only from OUT-edges, and close each
    * wedge against the oriented edge set. Every triangle is counted
    * exactly once (its unique (deg,id)-minimal vertex owns it), and
    * the wedge join volume is Σ outdeg² where the orientation bounds
    * every outdeg by O(√m) REGARDLESS of skew — a raw a<b wedge join
    * on a power-law graph explodes on the hub's deg², this one
    * cannot. That bound is the whole 100 TB story: two self-joins on
    * vertex keys, no driver state.
    *
    * Input `edges` is interpreted as an undirected simple graph
    * (direction and duplicates normalized away; self-loops dropped;
    * isolated vertices carry no wedges or triangles, so the node
    * frame is not needed). Output (one row): n_nodes (non-isolated),
    * n_edges (undirected), wedges (open 2-paths from the UNDIRECTED
    * degrees: Σ d(d−1)/2 — the clustering-coefficient denominator),
    * triangles, and gcc_e4 = floor(3·triangles/wedges·10⁴+0.5) (the
    * house fixed-point output; one double division + multiply).
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // orient by (deg, id): u→v iff (deg(u), u) < (deg(v), v)
    val oriented = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(true)
    // wedges u→v, u→w (v < w by id — each unordered out-pair once),
    // closed against the ID-ordered undirected edge set — an EQUI
    // join on (x, y). (Closing against `oriented` needs an OR of the
    // two directions, which Spark cannot hash-join: the planner falls
    // back to BroadcastNestedLoopJoin and the leg goes wedges×edges —
    // the first draft hung exactly there at 200k nodes.)
    val w1 = oriented.select(col("u"), col("v").as("x"))
    val w2 = oriented.select(col("u"), col("v").as("y"))
    val tri = w1.join(w2, "u").where(col("x") < col("y"))
      .join(und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"))
      .agg(count(lit(1)).as("triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast(LongType).as("n_edges"),
      // d(d−1) is even, so /2 is exact — but Spark's `/` is double
      // division; keep the column integral (the oracle emits BIGINT)
      sum(((col("deg") * (col("deg") - 1)) / 2).cast(LongType))
        .as("wedges"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("wedges"),
        col("triangles"),
        floor(lit(3.0) * col("triangles") / col("wedges") * 10000
          + lit(0.5)).cast(LongType).as("gcc_e4"))
  }

  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 10)
      : DataFrame = {
    val nodeList = nodes.select(col("id")).localCheckpoint(true)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)

    // one direction of the update: raw = Σ score over edges grouped by
    // `outKey`, then L2-normalize back to 1e12 scale.
    //
    // The norm Σ raw² would overflow DECIMAL(38,0) once n·maxdeg² >
    // 1e14 (raw ≤ deg·1e12 — reachable on large hub-heavy graphs), and
    // under non-ANSI decimal semantics the overflow returns NULL, which
    // the zero-guard would silently convert to ALL-ZERO scores while
    // the oracle's HUGEINT twin errored loudly. Decompose instead:
    // raw = q·1e6 + r (exact integer div/mod, raw ≥ 0 always), so
    //   Σ raw² = 1e12·Σq² + 2e6·Σqr + Σr²
    // with each partial an exact integer safely inside DECIMAL(38,0)
    // up to n·maxdeg² ≤ 1e26 (q ≤ deg·1e6 ⇒ Σq² ≤ n·deg²·1e12). The
    // three partials assemble in ONE pinned IEEE double sequence —
    // sa·1e12 + sb·2e6 + sc, left-associated — replayed verbatim by
    // the oracle, and SQRT of that double is correctly rounded, so the
    // normalize stays exact cross-engine.
    def half(score: DataFrame, scoreCol: String, joinKey: String,
        outKey: String, outCol: String): DataFrame = {
      val raw = e.join(score.withColumnRenamed("id", joinKey), joinKey)
        .groupBy(col(outKey).as("id"))
        .agg(sum(col(scoreCol)).as("raw"))
      val withRaw = nodeList.join(raw, Seq("id"), "left")
        .select(col("id"), coalesce(col("raw"), lit(0L)).as("raw"))
      val dec0 = lit(BigDecimal(0)).cast(DecimalType(38, 0))
      val q = expr("raw DIV 1000000")
      val r = col("raw") % 1000000L
      val ss = withRaw.agg(
        coalesce(sum(q.cast(DecimalType(38, 0)) * q), dec0).as("sa"),
        coalesce(sum(q.cast(DecimalType(38, 0)) * r), dec0).as("sb"),
        coalesce(sum(r.cast(DecimalType(38, 0)) * r), dec0).as("sc"))
      withRaw.crossJoin(broadcast(ss))
        .select(col("id"),
          when(col("sa") === dec0 && col("sb") === dec0
              && col("sc") === dec0,
            lit(0L))
            .otherwise(floor(col("raw").cast(DoubleType)
              / sqrt(col("sa").cast(DoubleType) * lit(1.0e12)
                + col("sb").cast(DoubleType) * lit(2.0e6)
                + col("sc").cast(DoubleType))
              * lit(1.0e12) + lit(0.5))
              .cast(LongType))
            .as(outCol))
    }

    val m = e.count() // narrow read of the checkpoint
    LoopTuning.withLoopShuffle(nodes.sparkSession, m) {
      var hub = nodeList.select(col("id"), lit(1000000000000L).as("hub_e12"))
        .localCheckpoint(true)
      var auth = hub.select(col("id"), col("hub_e12").as("auth_e12"))
      for (_ <- 1 to iters) {
        auth = half(hub.withColumnRenamed("hub_e12", "sc"), "sc",
          "src", "dst", "auth_e12").localCheckpoint(true)
        hub = half(auth.withColumnRenamed("auth_e12", "sc"), "sc",
          "dst", "src", "hub_e12").localCheckpoint(true)
      }
      auth.join(hub, "id")
    }
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara, Phys. Rev. E 76, 2007) — the near-linear-time
    * community finder crawl curation uses to group mirror/template
    * site clusters (the graph twin of [[Dedup.connectedComponents]]:
    * components find REACHABILITY clusters, LPA finds DENSITY
    * clusters inside one giant component).
    *
    * Determinism contract (classic LPA is randomized — random update
    * order, random tie-break — which can never be hash-gated): updates
    * are SYNCHRONOUS (all nodes step together from the previous
    * labeling — no order dependence), ties break to the SMALLEST label
    * among the most frequent neighbor labels (one total order, engine-
    * independent: argmax by (count DESC, label ASC)), and the
    * iteration count is fixed (an oscillation on bipartite structure —
    * the known synchronous-LPA behavior — is still deterministic, so
    * the gate holds regardless). Labels start as own ids; isolated
    * nodes keep their own label forever (LEFT join + COALESCE, never
    * dropped).
    *
    * Scale shape: neighbors materialize ONCE (both directions of each
    * undirected edge, deduped, checkpointed); each iteration is one
    * labels⋈neighbors equi-join + a (node, label) count aggregate + a
    * per-node argmax via min(struct(-count, label)) — map-side partial
    * aggregation bounds both shuffles, nothing is ever corpus²;
    * lineage cut per round. Output: (id, label, csize) with csize the
    * final community's member count (one extra label rollup).
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int = 10): DataFrame = {
    val nodeList = nodes.select(col("id")).localCheckpoint(true)
    val und = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    // neighbor relation, both directions, deduped once
    val nb = und.select(col("src").as("v"), col("dst").as("u"))
      .unionAll(und.select(col("dst").as("v"), col("src").as("u")))
      .distinct()
      .localCheckpoint(true)
    val lab = LoopTuning.withLoopShuffle(nodes.sparkSession, nb.count()) {
      var l = nodeList.select(col("id"), col("id").as("lbl"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val cnt = nb
          .join(l.select(col("id").as("u"), col("lbl")), "u")
          .groupBy(col("v"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        val best = cnt.groupBy(col("v"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
            .as("m"))
          .select(col("v").as("id"), col("m.l").as("nl"))
        l = l.join(best, Seq("id"), "left")
          .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
          .localCheckpoint(true)
      }
      l
    }
    val sizes = lab.groupBy("lbl").agg(count(lit(1)).as("csize"))
    lab.join(sizes, "lbl").select(col("id"), col("lbl").as("label"),
      col("csize"))
  }

  /** k-core coreness via the iterated H-index (Lü, Zhou, Zhang &
    * Stanley, PNAS 2016): c₀ = degree; c_{t+1}(v) = H-index of v's
    * neighbors' current values (the largest h such that ≥ h neighbors
    * have value ≥ h). The sequence is monotone non-increasing and
    * converges to the CORENESS — the classic k-core peeling number —
    * without ever running the inherently sequential global peel:
    * every iteration is a local neighborhood aggregate, which is what
    * makes coreness computable at cluster scale (the peel is a chain
    * of n dependent deletions; this is O(diameter-ish) rounds of
    * joins). Coreness is the standard "how embedded is this page in a
    * dense region" signal — link-farm cores light up, pendant chains
    * score 1.
    *
    * Exactness: degrees, ranks and H-indices are all integers — the
    * whole operator is float-free (the xg5 class). The per-node
    * H-index is MAX(LEAST(rank, c)) over neighbors ranked by
    * (c DESC, u) — invariant to tie order, but the rank order is
    * pinned anyway so both engines replay identically. Isolated
    * nodes: H of an empty multiset is 0 (LEFT join + COALESCE).
    *
    * A FIXED iteration count keeps the oracle's unrolled chain finite
    * (the xg1 discipline); convergence to true peeling coreness on
    * graphs whose diameter allows it inside the budget is spec-gated.
    *
    * Output: (id, deg, core).
    */
  def coreness(nodes: DataFrame, edges: DataFrame,
      iters: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nodeList = nodes.select(col("id")).localCheckpoint(true)
    val und = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    val nb = und.select(col("src").as("v"), col("dst").as("u"))
      .unionAll(und.select(col("dst").as("v"), col("src").as("u")))
      .distinct()
      .localCheckpoint(true)
    val deg = nb.groupBy(col("v").as("id")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    var h = nodeList.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(0L)).as("c"))
      .localCheckpoint(true)
    val w = Window.partitionBy("v").orderBy(col("c").desc, col("u"))
    h = LoopTuning.withLoopShuffle(nodes.sparkSession, nb.count()) {
      var hc = h
      for (_ <- 1 to iters) {
        val hh = nb
          .join(hc.select(col("id").as("u"), col("c")), "u")
          .withColumn("rn", row_number().over(w).cast(LongType))
          .groupBy(col("v").as("id"))
          .agg(max(least(col("rn"), col("c"))).as("h"))
        hc = nodeList.join(hh, Seq("id"), "left")
          .select(col("id"), coalesce(col("h"), lit(0L)).as("c"))
          .localCheckpoint(true)
      }
      hc
    }
    nodeList.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(0L)).as("deg"))
      .join(h.select(col("id"), col("c").as("core")), "id")
  }

  /** HyperBall harmonic centrality (Boldi & Vigna, 2013) — the
    * algorithm that computes centrality on 100-billion-edge graphs
    * (Common Crawl publishes exactly this harmonic ranking over its
    * host graph): exact harmonic centrality needs all-pairs shortest
    * paths; HyperBall replaces each node's reachability ball with a
    * HYPERLOGLOG COUNTER (the xk16 register machinery — m = 256,
    * 48-bit md5 hash, LENGTH(BIN(·)) rho), grows all balls one hop
    * per round with an elementwise register MAX along edges, and
    * accumulates H(v) = Σ_t (|B_t(v)| − |B_{t−1}(v)|) / t from the
    * estimated ball sizes. Ball direction: INCOMING (who reaches v —
    * the quality-signal direction; u→v edges push u's ball into v).
    *
    * Determinism/exactness: the register state is pure integers under
    * associative MAX-merge — partitioning- and merge-tree-invariant —
    * and each ball estimate is xk16's single pinned IEEE sequence
    * (α·m²·2^41/S with the LC branch); the harmonic sum accumulates
    * in pinned t-ascending order (((d₁/1 + d₂/2) + d₃/3) + d₄/4), so
    * both engines replay the float chain verbatim. The estimator can
    * be locally non-monotone across the LC/raw branch boundary —
    * HyperBall's published behavior, deterministic here. Residual
    * hazard (shared with xk16, documented there): the LC branch's
    * natural log is NOT IEEE-correctly-rounded cross-engine (unlike
    * SQRT), so a 1-ulp LN divergence landing exactly on a
    * floor(x+0.5) tie could flip a ball estimate by 1 between engines
    * on adversarial register states — no such tie exists on the gated
    * fixtures, and the harmonic score quantizes at 1e-4 AFTER the
    * pinned accumulation, which absorbs sub-ulp drift away from ties.
    *
    * Scale shape: per round, the register table (n·m rows, m fixed)
    * joins edges once and MAX-groups on (node, register) — map-side
    * combinable, never corpus²; ball estimates are one n·m → n
    * aggregate; lineage cut per round. This is what makes centrality
    * tractable where exact BFS-from-every-node is Θ(n·m_edges).
    *
    * Output: (id, ball1, ball`iters`, harm_e4) — 1-hop and final
    * ball-size estimates (rounded) and the harmonic score in 1e-4
    * fixed point.
    */
  def hyperBall(nodes: DataFrame, edges: DataFrame,
      iters: Int = 4): DataFrame = {
    // iters=0 would leave ball1 null; iters=1 would join two columns
    // both named "ball1" (ball1 == ball$iters) — ambiguous output.
    require(iters >= 2, s"hyperBall: iters=$iters must be >= 2 " +
      "(ball1 and ball<iters> are distinct output columns)")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var regs = nodes
      .select(col("id"),
        conv(substring(md5(concat(lit("v:"),
          col("id").cast(StringType))), 1, 12), 16, 10)
          .cast(LongType).as("h"))
      .select(col("id"), expr("h DIV 1099511627776").as("j"),
        (col("h") % 1099511627776L).as("rem"))
      .select(col("id"), col("j"),
        when(col("rem") === 0L, lit(41))
          .otherwise(lit(41) - length(bin(col("rem")))).as("mj"))
      .localCheckpoint(true)
    // xk16's pinned estimator, pre-rounding (the raw double feeds the
    // harmonic accumulation)
    def est(r: DataFrame): DataFrame = {
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
      val stats = r.groupBy("id").agg(
        count(lit(1)).as("np"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(41 - mj AS INT))"))
          .as("sp"))
        .select(col("id"), (lit(256L) - col("np")).as("vz"),
          (col("sp") + (lit(256L) - col("np")) * lit(2199023255552L))
            .as("s"))
      val eRaw = (alpha * lit(65536.0) * lit(2199023255552.0)) /
        col("s").cast(DoubleType)
      stats.select(col("id"),
        when(eRaw <= lit(640.0) && col("vz") > 0L,
          lit(256.0) * log(lit(256.0) / col("vz").cast(DoubleType)))
          .otherwise(eRaw).as("e"))
    }
    var prev = est(regs).localCheckpoint(true)
    var harm = prev.select(col("id"), lit(0.0).as("hsum"))
    var ball1: DataFrame = null
    LoopTuning.withLoopShuffle(nodes.sparkSession, regs.count()) {
      for (t <- 1 to iters) {
        regs = regs.unionAll(
            e.join(regs.withColumnRenamed("id", "src"), "src")
              .select(col("dst").as("id"), col("j"), col("mj")))
          .groupBy("id", "j").agg(max(col("mj")).as("mj"))
          .localCheckpoint(true)
        val cur = est(regs).localCheckpoint(true)
        harm = harm
          .join(prev.select(col("id"), col("e").as("pe")), "id")
          .join(cur.select(col("id"), col("e").as("ce")), "id")
          .select(col("id"),
            (col("hsum") + (col("ce") - col("pe")) / lit(t.toDouble))
              .as("hsum"))
          .localCheckpoint(true)
        if (t == 1) ball1 = cur
        prev = cur
      }
    }
    ball1.select(col("id"),
        floor(col("e") + lit(0.5)).cast(LongType).as("ball1"))
      .join(prev.select(col("id"),
        floor(col("e") + lit(0.5)).cast(LongType).as(s"ball$iters")),
        "id")
      .join(harm.select(col("id"),
        floor(col("hsum") * lit(1.0e4) + lit(0.5)).cast(LongType)
          .as("harm_e4")), "id")
  }

  /** Co-citation similarity (xg9; Small 1973, the link-analysis
    * "related pages" signal): two pages are related when the same
    * sources link to BOTH — common = |N_in(a) ∩ N_in(b)| counted by
    * WEDGE enumeration from each source's out-list (one self equi-join
    * on src), with in-degrees joined back so the reader forms Jaccard
    * |∩| / (na + nb − |∩|) from exact integers.
    *
    * Scale shape: wedge volume from RAW out-lists is Σ out-deg² — a
    * skew bomb (one 10⁴-out-degree hub emits 10⁸ pairs from a single
    * key), so the operator CAPS each source's out-list to its `maxOut`
    * smallest-dst targets BEFORE the self-join (the xd3 df-cap / xg3
    * orientation discipline applied here): wedge volume is then
    * Σ min(outdeg, maxOut)² ≤ n·maxOut² — linear in sources however
    * skewed the graph, and exactly what production co-citation systems
    * do, since a mega-hub certifies relatedness of nothing. The cap is
    * DETERMINISTIC (smallest dst ids, no ties possible on distinct
    * edges), so it hash-gates; `common` is counted over capped lists
    * (an undercount for capped pairs — the accepted semantics), while
    * na/nb stay EXACT raw in-degrees. No N_in set materialization —
    * only degree scalars join back.
    *
    * Input contract: `edges` must be distinct (src, dst) pairs —
    * duplicate edges would make the smallest-dst cap order-ambiguous.
    *
    * Output: (a, b, common, na, nb) with a < b.
    */
  def cocitation(edges: DataFrame, maxOut: Int = 64): DataFrame = {
    require(maxOut >= 2,
      s"cocitation: maxOut=$maxOut must be >= 2 (a wedge needs two)")
    val e0 = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val e = e0
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy("dst")))
      .where(col("__rn") <= maxOut)
      .select(col("src"), col("dst"))
      .localCheckpoint(true)
    val pairs = e.as("e1").join(e.as("e2"),
        col("e1.src") === col("e2.src") &&
          col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    val indeg = e0.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("din"))
      .localCheckpoint(true) // joined twice
    pairs
      .join(indeg.select(col("id").as("a"), col("din").as("na")), "a")
      .join(indeg.select(col("id").as("b"), col("din").as("nb")), "b")
      .select(col("a"), col("b"), col("common"), col("na"), col("nb"))
  }

  /** Multi-source BFS shortest-hop distances (xg8) — the reachability
    * primitive the centrality family builds on, run directly: hop
    * distance from a SEED SET along directed edges (crawl-frontier
    * depth from trusted hubs, link-spam moat width, "how many clicks
    * from a curated page" quality signals; TrustRank's seed set with
    * distances instead of mass). Textbook frontier iteration: round k
    * assigns distance k to every unlabeled out-neighbor of the round
    * k−1 frontier.
    *
    * Scale shape: each round joins ONLY the frontier against edges —
    * over the whole run each edge is scanned exactly once, when its
    * source enters the frontier, so total work is O(m) regardless of
    * round count; `localCheckpoint` per round cuts lineage; rounds =
    * min(eccentricity of the seed set, maxDepth), small on web-shaped
    * graphs. Early exit on an empty frontier is result-identical to
    * running all `maxDepth` rounds (nothing left to label).
    *
    * Exactness: pure integers — trivially hash-gated; unreached (or
    * beyond maxDepth) nodes report −1, so both engines agree without
    * NULL-ordering hazards.
    *
    * Output: (id, dist) — dist ∈ {0..maxDepth} ∪ {−1}.
    */
  def bfsDistances(nodes: DataFrame, edges: DataFrame,
      seedPred: org.apache.spark.sql.Column,
      maxDepth: Int = 12): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var dist = nodes.select(col("id"),
        when(seedPred, 0L).otherwise(lit(null).cast(LongType))
          .as("dist"))
      .localCheckpoint(true)
    var k = 1
    var frontierNonEmpty = true
    LoopTuning.withLoopShuffle(nodes.sparkSession, e.count()) {
      while (k <= maxDepth && frontierNonEmpty) {
        val frontier = dist.where(col("dist") === lit(k - 1L))
          .select(col("id").as("src"))
        val reached = e.join(frontier, "src")
          .select(col("dst").as("id")).distinct()
          .withColumn("__nd", lit(k.toLong))
        dist = dist.join(reached, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("dist"), col("__nd")).as("dist"))
          .localCheckpoint(true)
        frontierNonEmpty = dist.where(col("dist") === lit(k.toLong))
          .limit(1).count() > 0
        k += 1
      }
    }
    dist.select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** Weighted single-source (seed-set) shortest paths (xg10) — the
    * classic link-graph op the hop-count family (xg8) generalizes to:
    * minimum TOTAL WEIGHT from any seed along directed edges with
    * positive integer weights (crawl cost models, weighted link-spam
    * moats, "cheapest path to a trusted hub" trust propagation).
    *
    * Frontier Bellman-Ford: round k relaxes ONLY edges out of nodes
    * whose cost improved in round k−1 (delta-stepping's scan
    * discipline without the bucket machinery). Exactness anchor: after
    * round k the cost table EQUALS full Bellman-Ford's round k — an
    * edge skipped because its source didn't just improve contributed
    * the same candidate in the earlier round where it did — and full
    * BF's round k is exactly "min cost over paths with ≤ k edges". So
    * a `maxRounds` cap is the same semantic object as the oracle's
    * depth-capped recursive closure, ROUND BY ROUND, converged or not;
    * early exit on an empty frontier is result-identical to running
    * all rounds. Pure BIGINT sums/mins — trivially hash-gated.
    *
    * Scale shape: per round, edges join the IMPROVED frontier only —
    * each edge is relaxed at most (times its source improves) ≤ rounds
    * and in total Σ_v improvements(v)·outdeg(v) ≤ m·rounds with the
    * typical case far below (most nodes settle in one improvement);
    * the min-candidate aggregate is map-side combinable;
    * localCheckpoint per round cuts lineage. Negative weights are
    * rejected (positive weights make every relaxation monotone — no
    * negative-cycle divergence).
    *
    * Output: (id, cost) — cost ≥ 0, unreached (within maxRounds) −1.
    */
  def sssp(nodes: DataFrame, edges: DataFrame,
      seedPred: org.apache.spark.sql.Column,
      maxRounds: Int = 12): DataFrame = {
    val e = edges.select(col("src"), col("dst"),
        col("w").cast(LongType).as("w"))
      .localCheckpoint(true)
    require(e.where(col("w") <= 0L).limit(1).count() == 0L,
      "sssp: edge weights must be positive integers")
    var dist = nodes.select(col("id"),
        when(seedPred, 0L).otherwise(lit(null).cast(LongType))
          .as("cost"))
      .localCheckpoint(true)
    var frontier = dist.where(col("cost").isNotNull)
    var k = 1
    var frontierNonEmpty = frontier.limit(1).count() > 0
    LoopTuning.withLoopShuffle(nodes.sparkSession, e.count()) {
    while (k <= maxRounds && frontierNonEmpty) {
      val cand = e
        .join(frontier.select(col("id").as("src"),
          col("cost").as("__fc")), "src")
        .select(col("dst").as("id"), (col("__fc") + col("w")).as("__nc"))
        .groupBy("id").agg(min(col("__nc")).as("__nc"))
      val next = dist.join(cand, Seq("id"), "left")
        .select(col("id"),
          when(col("__nc") <
              coalesce(col("cost"), lit(Long.MaxValue)), col("__nc"))
            .otherwise(col("cost")).as("cost"),
          (col("__nc").isNotNull && col("__nc") <
            coalesce(col("cost"), lit(Long.MaxValue))).as("__improved"))
        .localCheckpoint(true)
      // stats reset at the loop boundary (the xd18 lesson, here in
      // its Fibonacci form: cand's estimate = |e|·|frontier| and
      // next's = |dist|·|cand| with BOTH factors descending from the
      // previous round's checkpoint, so bit(est_k) ≈ bit(est_{k-1}) +
      // bit(est_{k-2}) — survivable at 12 rounds, minutes of BigInt
      // math near 40; reset makes every round's planning O(1))
      frontier = org.apache.spark.sql.graftbridge.Bridge.freshStats(
        next.where(col("__improved")).select(col("id"), col("cost")))
      dist = org.apache.spark.sql.graftbridge.Bridge.freshStats(
        next.select(col("id"), col("cost")))
      frontierNonEmpty = frontier.limit(1).count() > 0
      k += 1
    }
    }
    dist.select(col("id"), coalesce(col("cost"), lit(-1L)).as("cost"))
  }
}
