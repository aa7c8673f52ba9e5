package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** [[Graph.pageRank]] invariants the oracle can't see: hand-computed
  * fixed-point values on the classic toy graph, mass conservation,
  * dangling handling, and partitioning invariance (the exact-Long-sum
  * claim as a test).
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** Classic 4-node graph: 1→{2,3}, 2→3, 3→1, node 4 dangling. */
  private def toyNodes = Seq(1L, 2L, 3L, 4L).toDF("id")
  private def toyEdges =
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")

  test("one iteration matches the hand-computed fixed-point values") {
    // n=4, p0 = 2.5e11 each. Contribs: 1→{2,3} at 1.25e11, 2→3 at
    // 2.5e11, 3→1 at 2.5e11; dangling mass dm = 2.5e11 (node 4).
    // base = floor(0.15/4·1e12+0.5) = 37_500_000_000
    // dang = floor(0.85·2.5e11/4+0.5)  = 53_125_000_000
    // link(1)=floor(.85·2.5e11+.5)=212.5e9, link(2)=106.25e9,
    // link(3)=floor(.85·3.75e11+.5)=318.75e9, link(4)=0.
    val got = Graph.pageRank(toyNodes, toyEdges, iters = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      1L -> 303125000000L,
      2L -> 196875000000L,
      3L -> 409375000000L,
      4L -> 90625000000L))
  }

  test("rank mass is conserved to the fixed-point grain over 10 iters") {
    val p = Graph.pageRank(toyNodes, toyEdges, iters = 10)
    val total = p.agg(sum("pr_e12")).collect()(0).getLong(0)
    // each node's update loses/gains ≤1 unit per quantized term (3
    // terms) per iteration: |total − 1e12| ≤ 3·n·iters conservatively
    assert(math.abs(total - 1000000000000L) <= 3L * 4 * 10,
      s"mass drifted: $total")
    // and ranking is sane: node 3 (two in-links incl. the strong 2→3
    // chain) outranks everyone; the dangling node 4 ranks last
    val byRank = p.orderBy(col("pr_e12").desc).collect().map(_.getLong(0))
    assert(byRank.head == 3L && byRank.last == 4L)
  }

  test("all-dangling graph: every node converges to uniform") {
    // no edges at all: pr = base + d·(Σpr)/n stays exactly uniform
    val p = Graph.pageRank(toyNodes, Seq.empty[(Long, Long)]
        .toDF("src", "dst"), iters = 5)
      .collect().map(_.getLong(1)).distinct
    assert(p.length == 1, s"non-uniform: ${p.toSeq}")
  }

  test("hits: classic roles on the toy graph + unit norm + guards") {
    // 1→{2,3}, 2→3, 3→1, 4 isolated: 3 is the strongest authority
    // (in-links from both hubs), 1 the strongest hub (links to both
    // authorities); node 4 scores zero on both sides.
    val got = Graph.hits(toyNodes, toyEdges, iters = 10)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val auth = got.map(x => x._1 -> x._2).toMap
    val hub = got.map(x => x._1 -> x._3).toMap
    assert(auth(3L) == auth.values.max && auth(4L) == 0L,
      s"authorities wrong: $auth")
    assert(hub(1L) == hub.values.max && hub(4L) == 0L,
      s"hubs wrong: $hub")
    // normalized: Σ(s/1e12)² == 1 to the quantization grain
    def norm2(m: Map[Long, Long]): Double =
      m.values.map(v => (v / 1.0e12) * (v / 1.0e12)).sum
    assert(math.abs(norm2(auth) - 1.0) < 1e-9, s"auth norm ${norm2(auth)}")
    assert(math.abs(norm2(hub) - 1.0) < 1e-9, s"hub norm ${norm2(hub)}")
    // no edges: all-zero scores by guard, not NaN
    import spark.implicits._
    val z = Graph.hits(toyNodes,
        Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 3)
      .collect().flatMap(r => Seq(r.getLong(1), r.getLong(2)))
    assert(z.forall(_ == 0L))
    // partitioning invariance
    val rep = Graph.hits(toyNodes.repartition(7),
        toyEdges.repartition(5), iters = 10)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rep.toSeq == got.toSeq)
  }

  test("trustrank: score flows only from seeds — spam islands get 0") {
    import spark.implicits._
    // toy graph + a disconnected 2-node island (5→6); seed = node 1
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (5L, 6L))
      .toDF("src", "dst")
    val tr = Graph.trustRank(nodes, edges, col("id") === 1L, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reachable from the seed: 1, 2, 3 score > 0
    assert(Seq(1L, 2L, 3L).forall(tr(_) > 0L), s"$tr")
    // the island and the isolated node score EXACTLY 0 — the property
    // classic PageRank lacks (its (1−d)/n floor funds every node)
    assert(Seq(4L, 5L, 6L).forall(tr(_) == 0L), s"$tr")
    val pr = Graph.pageRank(nodes, edges, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(4L, 5L, 6L).forall(pr(_) > 0L), s"$pr")
    // mass conservation in trust space (island receives nothing, the
    // dangling/leak terms all route back to the seed set)
    assert(math.abs(tr.values.sum - 1000000000000L) <= 3L * 6 * 10,
      s"trust mass drifted: ${tr.values.sum}")
  }

  test("triangles: K4, pendant dilution, input normalization, star") {
    import spark.implicits._
    def run(es: Seq[(Long, Long)]) =
      Graph.triangles(es.toDF("src", "dst")).collect()(0)
    // K4: 4 triangles, 12 wedges, gcc = 1
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val r1 = run(k4)
    assert((r1.getLong(2), r1.getLong(3), r1.getLong(4)) ==
      ((12L, 4L, 10000L)), s"K4: $r1")
    // K4 + pendant: triangles unchanged, wedges 15, gcc 0.8
    val r2 = run(k4 :+ (1L -> 5L))
    assert((r2.getLong(2), r2.getLong(3), r2.getLong(4)) ==
      ((15L, 4L, 8000L)), s"K4+pendant: $r2")
    // normalization: duplicated + reversed edges change nothing
    val r3 = run(k4 ++ k4.map(_.swap) ++ k4)
    assert(r3.toSeq == r1.toSeq, s"normalization: $r3 vs $r1")
    // star: the hub's degree never enters a wedge join (orientation
    // points leaves→hub), zero triangles
    val star = (2L to 11L).map(l => (1L, l))
    val r4 = run(star)
    assert(r4.getLong(2) == 45L && r4.getLong(3) == 0L, s"star: $r4")
  }

  test("hub + ring at 20k nodes: degree orientation suppresses the " +
      "hub's wedges 1000x, and every interior ring edge closes one " +
      "triangle") {
    // hub 0 touches every node, plus the ring i -> i+1: raw wedge volume
    // sum deg(deg-1)/2 is the hub's (n-1)(n-2)/2; oriented (out-degree)
    // volume stays ~1 per node because every edge orients into the hub
    val n = 20000L
    val nodes = spark.range(n)
    val edges = nodes.where(col("id") > 0)
      .select(lit(0L).as("src"), col("id").as("dst"))
      .unionAll(nodes.select(col("id").as("src"),
        pmod(col("id") + 1, lit(n)).as("dst")))
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    def wedges(d: org.apache.spark.sql.DataFrame, c: String) =
      d.agg(sum((col(c) * (col(c) - 1) / 2).cast("long"))).head.getLong(0)
    val raw = wedges(deg, "deg")
    val oriented = wedges(und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("a")).otherwise(col("b")).as("u"))
      .groupBy("u").agg(count(lit(1)).as("od")), "od")
    assert(oriented * 1000 < raw, s"oriented $oriented vs raw $raw")
    // the two ring edges touching the hub duplicate hub edges: n - 2
    assert(Graph.triangles(edges).head.getLong(3) == n - 2)
  }

  test("lineage stays flat: the executed plan does not grow with the " +
      "iteration count (pageRank 10 vs 2, hyperBall 4 vs 2 rounds)") {
    def planLen(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.length
    val pr10 = planLen(Graph.pageRank(toyNodes, toyEdges, iters = 10))
    val pr2 = planLen(Graph.pageRank(toyNodes, toyEdges, iters = 2))
    assert(pr10 <= (pr2 * 1.5).toInt, s"pageRank plan $pr2 -> $pr10")
    import spark.implicits._
    val nodes = (1L to 8L).toDF("id")
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val hb4 = planLen(Graph.hyperBall(nodes, chain, iters = 4))
    val hb2 = planLen(Graph.hyperBall(nodes, chain, iters = 2))
    assert(hb4 <= (hb2 * 1.5).toInt, s"hyperBall plan $hb2 -> $hb4")
  }

  test("output is partitioning-invariant (exact Long sums)") {
    val base = Graph.pageRank(toyNodes, toyEdges, iters = 10)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (parts <- Seq(1, 7)) {
      val got = Graph.pageRank(toyNodes.repartition(parts),
          toyEdges.repartition(parts), iters = 10)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == base, s"diverged at $parts partitions")
    }
  }

  test("label propagation: two planted cliques split into two " +
      "communities; isolated node keeps its own label") {
    import spark.implicits._
    // clique A = {1,2,3,4}, clique B = {11,12,13,14}, one bridge
    // 4—11, plus isolated node 99
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (4L -> 11L))
      .toDF("src", "dst")
    val nodes = (Seq(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L, 99L)).toDF("id")
    val got = Graph.labelPropagation(nodes, edges, iters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lbl = got.map(x => x._1 -> x._2).toMap
    // each clique agrees on ONE label; the two cliques differ
    assert(Seq(1L, 2L, 3L).map(lbl).distinct.length == 1,
      s"clique A not converged: $lbl")
    assert(Seq(12L, 13L, 14L).map(lbl).distinct.length == 1,
      s"clique B not converged: $lbl")
    assert(lbl(1L) != lbl(12L), s"cliques merged: $lbl")
    // isolated node: own label, community of size 1
    assert(lbl(99L) == 99L)
    assert(got.find(_._1 == 99L).get._3 == 1L)
    // csize is consistent with the label map
    val sizes = got.groupBy(_._2).map { case (l, xs) => l -> xs.length }
    assert(got.forall(x => sizes(x._2) == x._3.toInt))
  }

  test("coreness: iterated H-index equals classic k-core peeling") {
    import spark.implicits._
    // K4 (core 3) + a pendant chain 4-5-6 (core 1) + a C4 ring
    // 7-8-9-10 (core 2) + isolated 99 (core 0)
    val edges = (for (a <- 1L to 4L; b <- 1L to 4L if a < b)
        yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L)) ++
      Seq((7L, 8L), (8L, 9L), (9L, 10L), (10L, 7L))
    val nodes = ((1L to 10L) :+ 99L).toDF("id")
    val got = Graph.coreness(nodes, edges.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // classic peeling reference, computed directly
    def peel(es: Seq[(Long, Long)], ns: Seq[Long]): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map[Long, Set[Long]]()
        .withDefaultValue(Set.empty)
      es.foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a }
      val core = scala.collection.mutable.Map[Long, Long]()
      val alive = scala.collection.mutable.Set(ns: _*)
      var k = 0L
      while (alive.nonEmpty) {
        var changed = true
        while (changed) {
          changed = false
          for (v <- alive.toSeq
              if adj(v).count(alive) <= k) {
            core(v) = k; alive -= v; changed = true
          }
        }
        k += 1
      }
      core.toMap
    }
    val want = peel(edges, (1L to 10L) :+ 99L)
    assert(got.view.mapValues(_._2).toMap == want,
      s"coreness != peeling: $got vs $want")
    assert(got(1L) == ((3L, 3L)) && got(5L)._2 == 1L &&
      got(8L)._2 == 2L && got(99L) == ((0L, 0L)), s"$got")
    // partitioning invariance (integer ops only)
    val rep = Graph.coreness(nodes.repartition(7),
        edges.toDF("src", "dst").repartition(5), iters = 10)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rep.toSeq == got.toSeq.sortBy(_._1).map(x => (x._1, x._2._2)))
  }

  test("hyperball: ball estimates track exact reachability in the " +
      "linear-counting regime, and the state is partitioning-invariant") {
    import spark.implicits._
    // directed chain 1→2→…→8: the incoming ball of v at radius t
    // holds min(v−1, t)+1 nodes; at counts ≤ 8 the LC branch is
    // accurate to ±0.16, so the ROUNDED estimates are exact
    val nodes = (1L to 8L).toDF("id")
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Graph.hyperBall(nodes, edges, iters = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    for (v <- 1L to 8L) {
      val b1 = math.min(v - 1, 1L) + 1
      val b4 = math.min(v - 1, 4L) + 1
      assert(got(v)._1 == b1 && got(v)._2 == b4,
        s"node $v balls ${got(v)} != ($b1, $b4)")
    }
    // harmonic: H(v) = Σ_{d=1..min(v−1,4)} 1/d, within LC tolerance
    for (v <- 1L to 8L) {
      val truth = (1L to math.min(v - 1, 4L))
        .map(d => 1.0 / d).sum
      assert(math.abs(got(v)._3 / 1.0e4 - truth) < 0.1,
        s"node $v harm ${got(v)._3 / 1.0e4} != $truth")
    }
    val rep = Graph.hyperBall(nodes.repartition(5),
        edges.repartition(3), iters = 4)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(rep == got.toSeq.sortBy(_._1)
      .map(x => (x._1, x._2._1, x._2._2, x._2._3)))
  }

  test("textrank shape: a hub word co-occurring with everything " +
      "outranks peripheral words (pageRank over string vertex ids)") {
    import spark.implicits._
    // star word graph: "hub" adjacent to 8 distinct rare words —
    // pageRank must work unchanged over STRING ids (the xp7 premise)
    val words = ("hub" +: (1 to 8).map(i => s"w$i")).toDF("id")
    val edges = (1 to 8).flatMap(i =>
      Seq(("hub", s"w$i"), (s"w$i", "hub"))).toDF("src", "dst")
    val pr = Graph.pageRank(words, edges, iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("hub") == pr.values.max, s"hub not top: $pr")
    assert((1 to 8).map(i => pr(s"w$i")).distinct.length == 1,
      "leaves must score identically")
  }

  test("label propagation is deterministic and partitioning-invariant") {
    import spark.implicits._
    val nodes = (1L to 30L).toDF("id")
    // ring + chords: one big component with internal structure
    val edges = ((1L to 30L).map(i => (i, i % 30 + 1)) ++
      (1L to 10L).map(i => (i, i + 15))).toDF("src", "dst")
    val base = Graph.labelPropagation(nodes, edges, iters = 10)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    for (parts <- Seq(1, 7)) {
      val got = Graph.labelPropagation(nodes.repartition(parts),
          edges.repartition(parts), iters = 10)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == base, s"diverged at $parts partitions")
    }
  }

  test("cocitation: wedge counts, in-degree denominators, a<b order") {
    import spark.implicits._
    // s1 -> {a=10,b=11,c=12}; s2 -> {a,b}: (a,b) common 2, Jaccard 1
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L),
      (2L, 11L)).toDF("src", "dst")
    val got = Graph.cocitation(edges).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      (10L, 11L) -> ((2L, 2L, 2L)),
      (10L, 12L) -> ((1L, 2L, 1L)),
      (11L, 12L) -> ((1L, 2L, 1L))), s"$got")
  }

  test("cocitation: hub out-list cap binds — wedge volume " +
      "min(outdeg, maxOut) choose 2, smallest-dst kept, raw indeg") {
    import spark.implicits._
    // Planted hub: src 1 links 10 targets (100..109); src 2 links
    // {100, 101}. Uncapped, the hub alone emits C(10,2)=45 pairs.
    val hub = (100L to 109L).map(d => (1L, d))
    val edges = (hub ++ Seq((2L, 100L), (2L, 101L)))
      .toDF("src", "dst")
    // maxOut=3 keeps the hub's three SMALLEST dsts {100,101,102}:
    // wedges C(3,2)=3 from the hub + 1 from src 2.
    val got = Graph.cocitation(edges, maxOut = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.size == 3, s"capped wedge pairs: $got")
    // common counted over CAPPED lists; na/nb are RAW in-degrees
    assert(got == Map(
      (100L, 101L) -> ((2L, 2L, 2L)),
      (100L, 102L) -> ((1L, 2L, 1L)),
      (101L, 102L) -> ((1L, 2L, 1L))), s"$got")
    // Uncapped (maxOut >= 10) restores the full 45 + 1-overlapping set
    val full = Graph.cocitation(edges, maxOut = 64).count()
    assert(full == 45L, s"uncapped pair count: $full")
    // Guard: a wedge needs two out-links
    intercept[IllegalArgumentException] {
      Graph.cocitation(edges, maxOut = 1)
    }
  }

  test("bfs distances: multi-source min, directed edges, depth cap, " +
      "unreached -1") {
    import spark.implicits._
    val nodes = (1L to 9L).toDF("id")
    // 1→2→3→4→5, seed 1; 8→9 with seed 8; 6←5 reachable at 5 hops;
    // 7 isolated; edges are DIRECTED (3→2 absent, so 2 never gets a
    // shorter path through 3's side)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (8L, 9L)).toDF("src", "dst")
    val seed = col("id") === 1L || col("id") === 8L
    val got = Graph.bfsDistances(nodes, edges, seed, maxDepth = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 4L, 6L -> 5L, 7L -> -1L, 8L -> 0L, 9L -> 1L), s"$got")
    // depth cap: maxDepth=3 leaves 5 and 6 unreached
    val capped = Graph.bfsDistances(nodes, edges, seed, maxDepth = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(capped(4L) == 3L && capped(5L) == -1L && capped(6L) == -1L)
    // multi-source takes the minimum: add seed 4 → 5 and 6 re-rank
    val multi = Graph.bfsDistances(nodes, edges,
        seed || col("id") === 4L, maxDepth = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(multi(4L) == 0L && multi(5L) == 1L && multi(6L) == 2L &&
      multi(3L) == 2L)
  }

  test("sssp: cheap-long path beats costly-short hop, multi-seed min, " +
      "round cap == ≤k-edge-path semantics, unreached -1, " +
      "positive-weight guard") {
    import spark.implicits._
    val nodes = (1L to 8L).toDF("id")
    // 1→4 direct costs 10; 1→2→3→4 costs 1+1+1=3 (longer-hop cheaper).
    // 7→8 from the second seed. 5←4 extends the cheap chain. 6 isolated.
    val edges = Seq(
      (1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 2L), (7L, 8L, 4L))
      .toDF("src", "dst", "w")
    val seed = col("id") === 1L || col("id") === 7L
    val got = Graph.sssp(nodes, edges, seed, maxRounds = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 5L, 6L -> -1L, 7L -> 0L, 8L -> 4L), s"$got")
    // round cap: with maxRounds=1 only ≤1-edge paths exist —
    // 4 takes the DIRECT costly edge (10), not the uncapped 3
    val capped = Graph.sssp(nodes, edges, seed, maxRounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(capped(4L) == 10L && capped(2L) == 1L && capped(3L) == -1L
      && capped(5L) == -1L, s"$capped")
    // maxRounds=2: exactly the ≤2-edge-path optima — 3 via 1→2→3 (2),
    // 4 still the direct edge (10; the cheap chain needs 3 edges),
    // 5 via the 2-edge 1→4→5 (12, NOT the uncapped 5)
    val two = Graph.sssp(nodes, edges, seed, maxRounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(two(3L) == 2L && two(4L) == 10L && two(5L) == 12L, s"$two")
    // early exit == running far more rounds than the diameter
    val long = Graph.sssp(nodes, edges, seed, maxRounds = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(long == got)
    // non-positive weights rejected
    intercept[IllegalArgumentException] {
      Graph.sssp(nodes, Seq((1L, 2L, 0L)).toDF("src", "dst", "w"),
        col("id") === 1L)
    }
  }

  test("bfs early exit == running all maxDepth rounds") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val a = Graph.bfsDistances(nodes, edges, col("id") === 1L,
        maxDepth = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.bfsDistances(nodes, edges, col("id") === 1L,
        maxDepth = 50) // exits after the frontier drains
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }
}
