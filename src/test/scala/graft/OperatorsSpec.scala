package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators._
import graft.queries.T

/** Dedup + hash-expression invariants (SURVEY §5.2). The DuckDB oracle
  * (scripts/check_oracle.py / driver t2) is the authoritative value
  * check; these specs pin the *internal* guarantees the oracle can't
  * see: LSH == exact, blocking == brute force, determinism.
  */
class OperatorsSpec extends SparkSpec {

  private lazy val docs = T.t(spark, sf0001, "documents")

  test("sorted-neighborhood: near-dups cluster via sort adjacency, " +
      "transitive chains close, below-threshold stays apart") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (1L, a),
      (900L, a.toUpperCase + "!!!"), // normalizes identically, far id
      (5L, a + " with a small extra tail here"), // chains to 1 via dice
      (7L, "zzz a completely different document about spark engines " +
        "and their catalyst optimizer internals at scale"))
    val out = Dedup.sortedNeighborDedup(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(900L) == 1L, s"case/punct variant not clustered: $out")
    assert(out(5L) == 1L, s"near variant not chained: $out")
    assert(out(7L) == 7L, s"dissimilar doc wrongly clustered: $out")
    assert(out(1L) == 1L)
  }

  test("sorted-neighborhood window miss is real: identical docs " +
      "ranked > window apart are NOT paired (the documented SNM trade)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    def tail(n: Int) =
      Array.fill(80)(('a' + rnd.nextInt(26)).toChar).mkString
    val prefix = "aaaaaaaaaaaa" // shared 12-char sort key
    val simText = prefix + tail(0)
    // ids 2..11: ten distinct-tail separators between ids 1 and 12
    val rows = (1L, simText) +: (2L to 11L).map(i =>
      (i, prefix + tail(i.toInt))) :+ (12L, simText)
    val df = rows.toDF("doc_id", "text")
    val out = Dedup.sortedNeighborDedup(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(12L) == 12L,
      s"identical docs 11 ranks apart should be MISSED at window=8: $out")
    // control: widen the window past the gap and the pair is found
    val wide = Dedup.sortedNeighborDedup(df, "doc_id", "text",
      window = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(wide(12L) == 1L, s"window=13 should recover the pair: $wide")
  }

  test("sorted-neighborhood distributed rank == brute-force sorted " +
      "window replay on the real corpus") {
    val sample = docs.limit(60)
    val got = Dedup.sortedNeighborPairs(sample, "doc_id", "text")
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute replay: collect, sort by (key, id), window-compare
    val base = sample.where(col("text").isNotNull)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map { r =>
        val nrm = r.getString(1).replaceAll("[^a-z0-9]", "")
        (r.getLong(0), nrm.take(12), nrm.take(128))
      }
      .sortBy { case (id, key, _) => (key, id) }
    def bgs(s: String) = s.sliding(2).filter(_.length == 2).toSet
    val want = (for {
      i <- base.indices
      j <- (i + 1) until math.min(i + 8, base.length)
      ga = bgs(base(i)._3); gb = bgs(base(j)._3)
      if 10 * (ga & gb).size >= 3 * (ga.size + gb.size)
    } yield (base(i)._1, base(j)._1)).toSet
    assert(got == want,
      s"pair mismatch: extra=${got -- want} missing=${want -- got}")
  }

  test("xe1 EWMA control chart: integer fold trajectory, " +
      "pre-observation anomaly test, ts-tie broken by id") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val rows = Seq(
      // user 1: 10.00, 10.00, 250.00 (spike vs ewma 1000), 10.00
      (1L, ts(0), 7L, 10.00), (2L, ts(1), 7L, 10.00),
      (3L, ts(2), 7L, 250.00), (4L, ts(3), 7L, 10.00),
      // user 9: two events at the SAME ts — id order decides the fold
      (10L, ts(0), 9L, 100.00), (11L, ts(0), 9L, 300.00))
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val out = graft.operators.Events.ewmaAnomalies(df, "user_id", "ts",
        "event_id", "value", threshE2 = 16000L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        r.getInt(4))).toMap
    // user 7 fold: s=1000; s=floor((1000+3000)/4)=1000;
    // event 3: |25000-1000|=24000 > 16000 -> anom, s=floor(28000/4)=7000
    // event 4: |1000-7000|=6000 -> ok, s=floor(22000/4)=5500
    assert(out(1L) == ((1000L, 1000L, 0)))
    assert(out(2L) == ((1000L, 1000L, 0)))
    assert(out(3L) == ((25000L, 7000L, 1)))
    assert(out(4L) == ((1000L, 5500L, 0)))
    // user 9: id 10 folds first (ts tie): s=10000; id 11:
    // |30000-10000|=20000 > 16000 -> anom, s=floor(60000/4)=15000
    assert(out(10L) == ((10000L, 10000L, 0)))
    assert(out(11L) == ((30000L, 15000L, 1)))
  }

  test("xe1 EWMA matches a driver-side scala fold on the real corpus " +
      "and is partitioning-invariant") {
    val ev = T.t(spark, sf0001, "events")
    val got = graft.operators.Events.ewmaAnomalies(ev, "user_id", "ts",
        "event_id", "value")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getInt(4))).toMap
    // driver-side replay
    val rows = ev.where(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
      .sortBy { case (u, id, t, _) => (u, t.getTime, id) }
    var state = Map.empty[Long, Long]
    var nAnom = 0
    rows.foreach { case (u, id, _, v2) =>
      val (e, a) = state.get(u) match {
        case None => (v2, 0)
        case Some(s) =>
          (math.floor((v2 + 3.0 * s) / 4.0).toLong,
            if (math.abs(v2 - s) > 16000L) 1 else 0)
      }
      state += u -> e
      nAnom += a
      assert(got(id) == ((e, a)), s"event $id: got ${got(id)} want ($e,$a)")
    }
    assert(nAnom > 0, "anomaly rule never fired on the corpus")
    assert(got.values.count(_._2 == 1) < got.size / 2,
      "anomaly rule fired on most rows — not a spike detector")
    val reparted = graft.operators.Events.ewmaAnomalies(
        ev.repartition(13), "user_id", "ts", "event_id", "value")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getInt(4))).toMap
    assert(reparted == got)
    // ts-bucketed bounded fold == one-shot, for several cut counts
    // (incl. more buckets than distinct ts values — empty segments
    // must be no-ops on the carried store)
    for (b <- Seq(2, 7, 64)) {
      val bucketed = graft.operators.Events.ewmaAnomalies(
          ev, "user_id", "ts", "event_id", "value", tsBuckets = b)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getInt(4))).toMap
      assert(bucketed == got, s"tsBuckets=$b diverged from one-shot")
    }
  }

  test("xe7 CUSUM: drift accumulates to an alarm then resets, " +
      "downward side mirrors, ts-tie broken by id") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val rows = Seq(
      // user 7 (k=1000, h=5000): ref 10.00, then +30.00 drift per
      // event — sp walks 2000, 4000, 6000 (alarm+reset), then back
      (1L, ts(0), 7L, 10.00), (2L, ts(1), 7L, 40.00),
      (3L, ts(2), 7L, 40.00), (4L, ts(3), 7L, 40.00),
      (5L, ts(4), 7L, 10.00),
      // user 8: downward drift from ref 50.00 — sn walks 3000, 6000
      (6L, ts(0), 8L, 50.00), (7L, ts(1), 8L, 10.00),
      (8L, ts(2), 8L, 10.00),
      // user 9: two events at the SAME ts — id order picks the ref
      (9L, ts(0), 9L, 100.00), (10L, ts(0), 9L, 100.00))
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val out = graft.operators.Events.cusumAnomalies(df, "user_id",
        "ts", "event_id", "value", kE2 = 1000L, hE2 = 5000L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4),
        r.getInt(5))).toMap
    assert(out(1L) == ((0L, 0L, 0)))
    assert(out(2L) == ((2000L, 0L, 0)))
    assert(out(3L) == ((4000L, 0L, 0)))
    assert(out(4L) == ((6000L, 0L, 1))) // crossed h=5000 → alarm
    assert(out(5L) == ((0L, 0L, 0)))    // post-reset, at ref: flat
    assert(out(6L) == ((0L, 0L, 0)))
    assert(out(7L) == ((0L, 3000L, 0)))
    assert(out(8L) == ((0L, 6000L, 1)))
    assert(out(9L) == ((0L, 0L, 0)))    // id 9 is the ref at the tie
    assert(out(10L) == ((0L, 0L, 0)))   // same value: sums stay 0
  }

  test("xe7 CUSUM matches a driver-side scala fold on the real " +
      "corpus, is partitioning-invariant, bucketed fold == one-shot") {
    val ev = T.t(spark, sf0001, "events")
    def run(df: org.apache.spark.sql.DataFrame, b: Int = 1) =
      graft.operators.Events.cusumAnomalies(df, "user_id", "ts",
          "event_id", "value", tsBuckets = b)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4),
          r.getInt(5))).toMap
    val got = run(ev)
    // driver-side replay (k=4000, h=30000 defaults)
    val rows = ev.where(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
      .sortBy { case (u, id, t, _) => (u, t.getTime, id) }
    var state = Map.empty[Long, (Long, Long, Long)] // (sp, sn, v1)
    var nAlarm = 0
    rows.foreach { case (u, id, _, v2) =>
      val (spE, snE, a) = state.get(u) match {
        case None =>
          state += u -> ((0L, 0L, v2)); (0L, 0L, 0)
        case Some((sp, sn, v1)) =>
          val sp1 = math.max(0L, sp + (v2 - v1 - 4000L))
          val sn1 = math.max(0L, sn + (v1 - v2 - 4000L))
          val al = sp1 > 30000L || sn1 > 30000L
          state += u -> (if (al) (0L, 0L, v1) else (sp1, sn1, v1))
          (sp1, sn1, if (al) 1 else 0)
      }
      nAlarm += a
      assert(got(id) == ((spE, snE, a)),
        s"event $id: got ${got(id)} want ($spE,$snE,$a)")
    }
    assert(nAlarm > 0, "CUSUM never alarmed on the corpus")
    assert(nAlarm < got.size / 2, "CUSUM alarmed on most rows")
    assert(run(ev.repartition(13)) == got)
    for (b <- Seq(2, 7, 64))
      assert(run(ev, b) == got, s"tsBuckets=$b diverged from one-shot")
  }

  test("xe2 cohort retention: first-week cohorts, integer week " +
      "arithmetic, distinct-user cells") {
    import spark.implicits._
    val us = 86400000000L // one day in micros
    def ts(day: Int) = new java.sql.Timestamp(
      java.time.Instant.EPOCH.plusMillis(day * 86400000L).toEpochMilli)
    val rows = Seq(
      // user 1: first week 0, active weeks 0 and 2 (twice in w2 —
      // distinct collapses)
      (1L, ts(0)), (1L, ts(15)), (1L, ts(16)),
      // user 2: first week 0 (day 6), active week 1
      (2L, ts(6)), (2L, ts(8)),
      // user 3: cohort week 1 only
      (3L, ts(7)))
    val got = graft.operators.Events.cohortRetention(
        rows.toDF("user_id", "ts"), "user_id", "ts")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L), s"$got")
  }

  test("xe3 funnel: strictly-after anchors, per-step window, ts ties " +
      "broken by id, counts non-increasing") {
    import spark.implicits._
    val us = 3600000000L // one hour in micros
    def ts(h: Int) = new java.sql.Timestamp(h * 3600000L)
    val rows = Seq(
      // user 1 completes: view@1, click@2 (in window), purchase@3
      (10L, ts(1), 1L, "view"), (11L, ts(2), 1L, "click"),
      (12L, ts(3), 1L, "purchase"),
      // user 2: click BEFORE the first view — not a conversion
      (20L, ts(1), 2L, "click"), (21L, ts(2), 2L, "view"),
      // user 3: click outside the 24h window
      (30L, ts(0), 3L, "view"), (31L, ts(30), 3L, "click"),
      // user 4: click at the SAME ts as view, higher id — counts
      // ((ts,id) strict order), purchase missing
      (40L, ts(5), 4L, "view"), (41L, ts(5), 4L, "click"))
    val got = graft.operators.Events.funnel(
        rows.toDF("event_id", "ts", "user_id", "event_type"),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, "view", 4L), (2, "click", 2L),
      (3, "purchase", 1L)), s"${got.toSeq}")
  }

  test("xe4 type transitions: per-key lag bigrams, ts ties broken " +
      "by id, source totals consistent") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val rows = Seq(
      (1L, ts(0), 7L, "a"), (2L, ts(1), 7L, "b"), (3L, ts(2), 7L, "a"),
      // user 9: tie on ts -> id order decides (4 before 5): a->b
      (4L, ts(0), 9L, "a"), (5L, ts(0), 9L, "b"))
    val got = graft.operators.Events.typeTransitions(
        rows.toDF("event_id", "ts", "user_id", "event_type"),
        "user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(("a", "b") -> ((2L, 2L)), ("b", "a") -> ((1L, 1L))),
      s"$got")
  }

  test("xm19 scene cuts: hd over consecutive frame hashes, cuts at " +
      "threshold, per-media lag isolation") {
    import spark.implicits._
    val frames = Seq(
      // media 1: identical, then a 17-bit flip (cut), then 1-bit
      (1L, 0, 0xF0L, 0x0FL), (1L, 1, 0xF0L, 0x0FL),
      (1L, 2, 0xF0L ^ 0x1FFFFL, 0x0FL), (1L, 3, 0xF0L ^ 0x1FFFEL, 0x0FL),
      // media 2: single frame -> no transitions
      (2L, 0, 0L, 0L))
      .toDF("media_id", "frame_no", "ahash_hi", "ahash_lo")
    val got = graft.multimodal.Multimodal.sceneCuts(frames, minHd = 16)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq((1L, 1, 0L, 0), (1L, 2, 17L, 1),
      (1L, 3, 1L, 0)), s"${got.toSeq}")
  }

  test("pointer-jump components: 1000-node path converges in <= 15 " +
      "rounds (plain propagation would need ~500)") {
    import spark.implicits._
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs, "a", "b",
      maxIter = 15, pointerJump = true)
    assert(comps.where(col("component") =!= 1L).count() == 0)
    // and the labeling equals the plain-propagation labeling on a
    // graph shallow enough for both (two components)
    val small = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("a", "b")
    val plain = Dedup.connectedComponents(small, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jump = Dedup.connectedComponents(small, "a", "b",
        pointerJump = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == jump)
  }

  test("sorted-neighborhood: empty-normalized docs pair as exact dups") {
    import spark.implicits._
    val rows = Seq((3L, "!!! ???"), (9L, "...---..."), (20L, "   "),
      (50L, "real content that stays alone with many distinct words"))
    val out = Dedup.sortedNeighborDedup(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(3L) == 3L && out(9L) == 3L && out(20L) == 3L,
      s"empty fingerprints should cluster (0 >= 0): $out")
    assert(out(50L) == 50L)
  }

  test("minhash LSH near-dups equal exact relational Jaccard pairs") {
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(lsh.nonEmpty, "testdata is expected to contain near-dups")
  }

  test("allpairs ppjoin equals exact relational Jaccard pairs") {
    val pp = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5,
        maxDocFreq = Int.MaxValue)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp == exact)
    assert(pp.nonEmpty, "testdata is expected to contain near-dups")
  }

  test("allpairs ppjoin: hot stop-shingle never enters the candidate " +
      "join (df-ascending prefixes exclude it)") {
    import spark.implicits._
    // 20 docs sharing one hot word; each doc's 2 unique words fill its
    // prefix (p = 3 - ceil(0.5*3) + 1 = 2), so the df-20 word is in NO
    // prefix: zero candidates where a share-any join makes C(20,2)=190.
    // One planted identical pair on top must still come through.
    val hot = (0 until 20).map(i => (i.toLong, s"u${i}a u${i}b common"))
    val dup = Seq((100L, "d1 d2 d3"), (101L, "d1 d2 d3"))
    val d = (hot ++ dup).toDF("doc_id", "text")
    val shArr = d.select(col("doc_id").as("__id"),
      TextFns.wordShingles(col("text"), 1).as("__sh"))
    val cand = Dedup.allPairsCandidates(shArr, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((100L, 101L)),
      s"expected only the planted dup pair as candidate, got $cand")
    val out = Dedup.allPairsJaccard(d, "doc_id", "text", 0.5, shingleN = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((100L, 101L, 1.0)))
  }

  test("allpairs ppjoin: integer-exact prefix length at a float-ceil " +
      "hazard (t=0.3, n=10: a float ceil(3.0000000000000004) cuts the " +
      "prefix one short and drops the boundary pair)") {
    import spark.implicits._
    // x: 7 unique (df=1) + 3 shared (df=2) words → n=10, the shared
    // words sort LAST, first shared at position 8 = exactly
    // p = 10 - ceil(0.3*10) + 1 = 8. y = the 3 shared words → J = 3/10
    // = 0.3, at the threshold. Exact integer ceil keeps the pair;
    // ceil(0.3*10) in doubles is 4 and would lose it.
    val d = Seq(
      (1L, "ax bx cx dx ex fx gx s1 s2 s3"),
      (2L, "s1 s2 s3")).toDF("doc_id", "text")
    val out = Dedup.allPairsJaccard(d, "doc_id", "text", 0.3, shingleN = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 0.3)),
      s"boundary pair must survive the prefix filter, got ${out.toSeq}")
  }

  test("allpairs ppjoin incremental: frozen corpus order == brute " +
      "cross pairs on real docs; unseen-shingle deltas rank df=0") {
    import spark.implicits._
    val split = 25L
    val full = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.filter { case (a, b) => a < split && b >= split }
    val incr = Dedup.allPairsJaccardAgainst(
        docs.where(col("doc_id") >= split),
        docs.where(col("doc_id") < split),
        "doc_id", "text", 0.5)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr == cross,
      s"frozen-order incremental diverged: ${incr.diff(cross)} extra, " +
        s"${cross.diff(incr)} missing")
    assert(cross.nonEmpty, "no cross-split near-dups — split untested")
    // deltas whose shingles the corpus has never seen rank df = 0
    // (rarest-first) and must still behave: the all-new doc pairs
    // with nothing, the delta copy of a corpus doc is found at j = 1
    val corpus = Seq((1L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val delta = Seq((10L, "n1 n2 n3 n4 n5"), // all shingles unseen
      (11L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val out = Dedup.allPairsJaccardAgainst(delta, corpus, "doc_id",
        "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 11L, 1.0)), s"got ${out.toSeq}")
  }

  test("allpairs re-blocking epoch: refreshed df evicts delta-era " +
      "boilerplate from every prefix (candidate volume collapses) " +
      "while every emitted pair is IDENTICAL — df is a pruning model") {
    import spark.implicits._
    // prepare era: 10 docs of unique words (df=1 everywhere)
    val corpus = (0 until 10).map(i =>
      (i.toLong, s"c${i}a c${i}b c${i}c")).toDF("doc_id", "text")
    // drift era, batch 1: 20 docs sharing a boilerplate word the
    // corpus never saw (frozen df=0 → rarest → in EVERY prefix),
    // plus one true planted pair
    val b1 = ((100 until 120).map(i =>
        (i.toLong, s"boiler x${i}a x${i}b")) ++
      Seq((200L, "p1 p2 p3"), (201L, "p1 p2 p3")))
      .toDF("doc_id", "text")
    // batch 2: same boilerplate, fresh uniques, one planted pair
    val b2 = ((300 until 320).map(i =>
        (i.toLong, s"boiler y${i}a y${i}b")) ++
      Seq((400L, "q1 q2 q3"), (401L, "q1 q2 q3")))
      .toDF("doc_id", "text")
    val ix0 = Dedup.prepareAllPairsIndex(corpus, "doc_id", "text",
      0.5, shingleN = 1)
    val ing1 = Dedup.allPairsIngest(b1, ix0, "doc_id", "text")
    assert(ing1.result.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((200L, 201L)), "batch-1 planted pair not found")
    val stale = ing1.next
    val refreshed = Dedup.reprepareAllPairsIndex(stale)
    // the pruning law: under the stale order, boiler (df=0) sits in
    // every stored delta prefix AND every batch-2 prefix — the
    // candidate join goes delta×delta; the refreshed order ranks it
    // df=22 (common → last) and it leaves every prefix
    val candStale = Dedup.allPairsIngestCandidates(b2, stale,
      "doc_id", "text")
    val candRef = Dedup.allPairsIngestCandidates(b2, refreshed,
      "doc_id", "text")
    assert(candRef >= 1, "refreshed index lost the planted candidate")
    assert(candStale > 100 * candRef,
      s"stale $candStale vs refreshed $candRef — the epoch bought " +
        "no pruning on the planted drift corpus")
    // the answer theorem: identical pairs out of either index
    def outOf(ix: Dedup.PrefixIndex) =
      Dedup.allPairsIngest(b2, ix, "doc_id", "text").result
        .select("a", "b", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    val oStale = outOf(stale)
    val oRef = outOf(refreshed)
    assert(oStale == oRef,
      s"epoch changed the answer: stale-only ${oStale -- oRef}, " +
        s"refreshed-only ${oRef -- oStale}")
    assert(oRef.map(p => (p._1, p._2)) == Set((400L, 401L)),
      s"batch-2 planted pair wrong: $oRef")
    // the epoch is one linear pass: its re-derived prefixes are exactly
    // the one-shot prepare's over the same stored docs
    assert(refreshed.pref.count() == Dedup.prepareAllPairsIndex(
      corpus.unionByName(b1), "doc_id", "text", 0.5, shingleN = 1)
      .pref.count())
  }

  test("minhash signature estimates Jaccard") {
    import spark.implicits._
    val pairs = Seq(
      ("a b c d e f g h i j k l", "a b c d e f g h i j k l"), // j=1
      ("a b c d e f g h i j k l", "z y x w v u t s r q p o")) // j=0
    val df = pairs.toDF("t1", "t2").select(
      HashFns.minhashSignature(TextFns.wordShingles(col("t1"))).as("s1"),
      HashFns.minhashSignature(TextFns.wordShingles(col("t2"))).as("s2"))
      .select(size(filter(zip_with(col("s1"), col("s2"), (x, y) =>
        when(x === y, 1).otherwise(0)), _ === 1)).as("eq"))
      .collect().map(_.getInt(0))
    assert(df(0) == 128)          // identical docs: all minhashes equal
    assert(df(1) < 16)            // disjoint docs: ~0 collisions
  }

  test("simhash blocking equals brute force at maxHamming 3") {
    val blocked = Dedup.simhashNearDups(docs, "doc_id", "text", 3, 4)
      .select("a", "b", "hd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sh = docs.select(col("doc_id"),
      HashFns.simhash60(TextFns.tokenSet(col("text"))).as("s"))
    val brute = sh.as("x").join(sh.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        bit_count(col("x.s").bitwiseXOR(col("y.s"))).as("hd"))
      .where(col("hd") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked == brute)
  }

  test("winnow fingerprint: equal text → equal fp; shared substrings " +
      "→ shared entries; disjoint → near-disjoint") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val shifted = "PREFIX then " + base // same suffix at shifted offsets
    val other = "completely different content with zero overlap here truly"
    val fps = Seq(base, base, shifted, other).toDF("t")
      .select(HashFns.winnowFingerprint(col("t")).as("fp"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(fps(0) == fps(1), "determinism")
    assert((fps(0) & fps(2)).size > fps(0).size / 2,
      "position-shift keeps most fingerprint entries")
    assert((fps(0) & fps(3)).size <= 1, "disjoint texts share ~nothing")
    assert(fps(0).forall(_ >= 0), "31-bit positive hashes")
  }

  test("IVF ANN recall >= 0.9 vs brute force (k-means centroids)") {
    val emb = T.t(spark, sf0001, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 3))
    val ivf = pairs(Similarity.ivfTopK(emb, queries, "vec_id",
      "embedding", 3))
    assert(bf.nonEmpty)
    assert((bf & ivf).size.toDouble / bf.size >= 0.9,
      s"recall ${(bf & ivf).size.toDouble / bf.size}")
  }

  test("beam-search ANN recall >= 0.9 vs brute force on the planted " +
      "corpus, touching a bounded fraction of it") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      T.t(spark, sf0001, "embeddings")).localCheckpoint(true)
    val queries = corpus.where(col("id") < 10)
    val n = corpus.count()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(corpus, queries, "id",
      "v", 3))
    val graph = Similarity.knnGraphExact(corpus, "id", "v", k = 10)
      .localCheckpoint(true)
    val visited = Similarity.beamSearchVisited(corpus, queries, graph,
      "id", "v", entryIds = 0L to 7L, ef = 24, rounds = 10)
      .localCheckpoint(true)
    val beam = pairs(
      graft.operators.Similarity.beamSearchTopK(corpus, queries,
        graph, "id", "v", entryIds = 0L to 7L, ef = 24, rounds = 10,
        k = 3))
    assert(bf.nonEmpty)
    assert((bf & beam).size.toDouble / bf.size >= 0.9,
      s"recall ${(bf & beam).size.toDouble / bf.size}")
    // the traversal must WORK like a traversal: the visited set per
    // query stays a bounded fraction of the corpus (brute force pays
    // |corpus| per query — prototyped ~22% here, ~9% at sf0.1: the
    // touched fraction FALLS as the corpus grows, the touched-node law
    // `graft.tools.ScaleStress` leg xs15 grades)
    val touchedMax = visited.groupBy("qid").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    assert(touchedMax < n / 2,
      s"beam search touched $touchedMax of $n nodes")
  }

  test("BLOCKED-construction beam search: IVF-seeded edges + per-cell " +
      "medoid entries reach recall >= 0.9 vs brute force, and the " +
      "construction's candidate volume is cell-blocked, not n^2") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      T.t(spark, sf0001, "embeddings")).localCheckpoint(true)
    val queries = corpus.where(col("id") < 10)
    val n = corpus.count()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(corpus, queries, "id",
      "v", 3))
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v",
      nlist = 8)
    val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
      probe = 2, k = 10).localCheckpoint(true)
    val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
    assert(entries.nonEmpty && entries.size <= 8)
    val beam = pairs(Similarity.beamSearchTopK(corpus, queries, graph,
      "id", "v", entryIds = entries, ef = 24, rounds = 10, k = 3))
    assert(bf.nonEmpty)
    assert((bf & beam).size.toDouble / bf.size >= 0.9,
      s"blocked-graph recall ${(bf & beam).size.toDouble / bf.size}")
    // construction cost: the cell-keyed join's ACTUAL candidate
    // volume must be a cell-blocked fraction of all-pairs
    // (probe·n·load vs n²) — the claim knnGraphExact's scaladoc
    // makes, measured by recounting the same join
    def assigned(p: Int) = corpus.select(col("id"),
      graft.operators.HashFns.nearestCentroids(col("v"),
        cents.map(_._1), cents.map(_._2), p).as("cells"))
    val prim = assigned(1)
      .select(col("id"), element_at(col("cells"), 1).as("cell"))
    val prob = assigned(2)
      .select(col("id").as("nb"), explode(col("cells")).as("cell"))
    val blocked = prim.join(prob, "cell")
      .where(col("id") =!= col("nb")).count()
    val exactPairs = n * (n - 1)
    assert(blocked < exactPairs / 2,
      s"blocking buys nothing: $blocked candidates vs $exactPairs " +
        "all-pairs")
  }

  test("HIERARCHICAL descent: per-query top-m medoid seeds keep " +
      "recall >= 0.9 while shrinking the visited set vs the flat " +
      "entry tier") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      T.t(spark, sf0001, "embeddings")).localCheckpoint(true)
    val queries = corpus.where(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(corpus, queries, "id",
      "v", 3))
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v",
      nlist = 8)
    val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
      probe = 2, k = 10).localCheckpoint(true)
    val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
    def visitedCount(seedM: Int) = Similarity
      .beamSearchVisitedSeeded(corpus, queries, graph, "id", "v",
        entries, ef = 24, rounds = 10, seedM = seedM).count()
    val hier = pairs(Similarity.beamSearchTopKHier(corpus, queries,
      graph, "id", "v", entries, seedM = 3, ef = 24, rounds = 10,
      k = 3))
    assert(bf.nonEmpty)
    assert((bf & hier).size.toDouble / bf.size >= 0.9,
      s"hierarchical recall ${(bf & hier).size.toDouble / bf.size}")
    // the descent's whole point: fewer seeds → smaller visited set
    // (both counts deterministic — set-semantic traversals)
    val vFlat = visitedCount(0)
    val vHier = visitedCount(3)
    assert(vHier < vFlat,
      s"hierarchical visited $vHier !< flat visited $vFlat")
  }

  test("ATTRIBUTE-FILTERED serve: harvest filtering over the " +
      "unfiltered traversal reaches recall >= 0.9 vs filtered brute " +
      "force and fills all k slots; naive post-filtering of the " +
      "unfiltered top-k under-returns on the same stack") {
    val emb = T.t(spark, sf0001, "embeddings")
    val corpus = emb.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))
      .localCheckpoint(true)
    val queries = corpus.where(col("id") < 10)
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v",
      nlist = 8)
    val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
      probe = 2, k = 10).localCheckpoint(true)
    val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // filtered brute force: each query's exact top-3 among ITS label
    val qLabels = queries.select("label").distinct().collect()
      .map(_.getInt(0)).toSeq
    val bf = qLabels.map { l =>
      pairs(Similarity.bruteForceTopK(
        corpus.where(col("label") === l),
        queries.where(col("label") === l), "id", "v", 3))
    }.reduce(_ ++ _)
    val filtered = Similarity.beamSearchTopKFiltered(corpus, queries,
      graph, "id", "v", "label", entryIds = entries, ef = 48,
      rounds = 10, k = 3).localCheckpoint(true)
    val fp = pairs(filtered)
    assert(bf.nonEmpty)
    assert((bf & fp).size.toDouble / bf.size >= 0.9,
      s"filtered-serve recall ${(bf & fp).size.toDouble / bf.size}")
    // the over-fetch discipline pays off: every query fills its k
    val perQ = filtered.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQ.size == 10 && perQ.values.forall(_ == 3L),
      s"under-filled result slots: $perQ")
    // the over-fetch dial measured: at ef=24 this stack reads recall
    // 0.867 (filtered neighbors can sit far down the UNFILTERED sim
    // order, so the beam never walks to them) — widening the beam is
    // the documented remedy and must buy recall here
    val fp24 = pairs(Similarity.beamSearchTopKFiltered(corpus, queries,
      graph, "id", "v", "label", entryIds = entries, ef = 24,
      rounds = 10, k = 3))
    assert((bf & fp24).size < (bf & fp).size,
      s"ef 24→48 bought no recall (${(bf & fp24).size} vs " +
        s"${(bf & fp).size} of ${bf.size}) — the over-fetch story " +
        "no longer holds on this corpus")
    // the naive alternative — filter the UNFILTERED top-k after the
    // fact — under-returns: off-label rows occupy top-k slots (each
    // label is ~1/10 of the corpus, so unfiltered top-3 is mostly
    // off-label)
    val ql = org.apache.spark.sql.functions.broadcast(
      queries.select(col("id").as("qid"), col("label").as("qlabel")))
    val naive = Similarity.beamSearchTopK(corpus, queries, graph,
        "id", "v", entryIds = entries, ef = 24, rounds = 10, k = 3)
      .join(corpus.select(col("id"), col("label")), "id")
      .join(ql, "qid")
      .where(col("label") === col("qlabel"))
    val naivePerQ = naive.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(qLabels.size > 1 &&
      perQ.keys.exists(q => naivePerQ.getOrElse(q, 0L) < 3L),
      s"naive post-filter did not under-return anywhere: $naivePerQ " +
        "— the planted corpus no longer demonstrates the over-fetch " +
        "need")
  }

  test("RANGE-filtered serve: the band predicate over the same " +
      "predicate-independent traversal reaches recall >= 0.9 vs " +
      "per-query range-filtered brute force") {
    val emb = T.t(spark, sf0001, "embeddings")
    val corpus = emb.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))
      .localCheckpoint(true)
    val queries = corpus.where(col("id") < 10)
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v",
      nlist = 8)
    val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
      probe = 2, k = 10).localCheckpoint(true)
    val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // per-query brute force (bands overlap — no label slicing)
    val bf = queries.select("id", "label").collect().flatMap { r =>
      val (qi, l) = (r.getLong(0), r.getInt(1))
      pairs(Similarity.bruteForceTopK(
        corpus.where(abs(col("label") - l) <= 1),
        corpus.where(col("id") === qi), "id", "v", 3))
    }.toSet
    val got = pairs(Similarity.beamSearchTopKFilteredBy(corpus,
      queries, graph, "id", "v", "label",
      (a, q) => abs(a - q) <= 1, entryIds = entries, ef = 48,
      rounds = 10, k = 3))
    assert(bf.nonEmpty)
    assert((bf & got).size.toDouble / bf.size >= 0.9,
      s"range-filtered recall ${(bf & got).size.toDouble / bf.size}")
    // every returned id is inside its query's band
    val lbl = corpus.select("id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.forall { case (q, id) =>
      math.abs(lbl(q) - lbl(id)) <= 1 })
  }

  test("ivfSeededGraph plan: cell equi-join (hash join), never a " +
      "cartesian or corpus-sized broadcast nested loop") {
    val emb = T.t(spark, sf0001, "embeddings")
    val corpus = emb.select(col("vec_id").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v", 8)
    val plan = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
        probe = 2, k = 6)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"blocked build degenerated to a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "corpus-sized broadcast is a scale-killer")
    assert(plan.contains("Join"), s"expected a cell hash join:\n$plan")
  }

  test("knnGraphIngest refuses a batch whose ids are already stored " +
      "(duplicate-sensitive fold — fail loudly, ADVICE r16)") {
    val emb = T.t(spark, sf0001, "embeddings")
    val store = Similarity.prepareKnnGraphStore(
      emb.where(col("vec_id") < 50), "vec_id", "embedding", k = 3)
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnGraphIngest(emb.where(col("vec_id") < 10), store,
        "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("already in the store"))
    // a disjoint batch still folds fine
    val ok = Similarity.knnGraphIngest(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60), store,
      "vec_id", "embedding")
    assert(ok.next.vecs.count() == 60)
  }

  test("graph-store ingest refuses a batch that repeats an id WITHIN " +
      "itself (ADVICE r17: the store-disjointness probe alone let an " +
      "intra-batch duplicate double-ingest silently)") {
    val emb = T.t(spark, sf0001, "embeddings")
    val store = Similarity.prepareKnnGraphStore(
      emb.where(col("vec_id") < 50), "vec_id", "embedding", k = 3)
    val dupBatch = emb.where(col("vec_id") >= 50 && col("vec_id") < 60)
      .unionAll(emb.where(col("vec_id") === 55))
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnGraphIngest(dupBatch, store, "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("WITHIN itself"))
    // same guard on the blocked fold
    val vv = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = Similarity.kmeansCentroidsSeq(
      vv.where(col("vec_id") < 50), "vec_id", "v", 8)
    val bs = Similarity.prepareBlockedGraphStore(
      vv.where(col("vec_id") < 50), "vec_id", "v", cents, 2, 3)
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.blockedGraphIngest(
        vv.where(col("vec_id") >= 50 && col("vec_id") < 60)
          .unionAll(vv.where(col("vec_id") === 55)), bs, "vec_id", "v")
    }
    assert(ex2.getMessage.contains("WITHIN itself"))
  }

  test("re-blocking epoch: the refreshed store == the one-shot " +
      "blocked build over the accumulated vectors under the NEW " +
      "centroids, and the incremental theorem re-bases on it") {
    val emb = T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    // epoch 0: cells trained on the initial corpus only, store grown
    // through two qs36 ingests
    val oldCents = Similarity.kmeansCentroidsSeq(
      vv.where(col("vec_id") < 250), "vec_id", "v", 8)
    var gs = Similarity.prepareBlockedGraphStore(
      vv.where(col("vec_id") < 250), "vec_id", "v", oldCents, 2, 6)
    for ((lo, hi) <- Seq((250L, 400L), (400L, Long.MaxValue)))
      gs = Similarity.blockedGraphIngest(
        vv.where(col("vec_id") >= lo && col("vec_id") < hi),
        gs, "vec_id", "v")
    // epoch 1: refresh over the ACCUMULATED store (the production
    // path trains on store.vecs; gate with injected cells so the
    // comparison is exact)
    val newCents = Similarity.kmeansCentroidsSeq(gs.vecs, "id", "v", 8)
    assert(newCents != oldCents, "refresh trained identical cells — " +
      "the rebase gate would be vacuous")
    val reblocked = Similarity.reblockGraphStore(gs, newCents)
    val oneShot = rows(Similarity.ivfSeededGraph(vv, "vec_id", "v",
      newCents, probe = 2, k = 6))
    assert(rows(Similarity.blockedGraphFromStore(reblocked)) == oneShot,
      "refreshed store diverges from the one-shot blocked build " +
        "under the new centroids")
    // the qs36 theorem RE-BASES: an ingest after the epoch folds
    // against the refreshed lists under the refreshed frozen cells
    val ext = vv.where(col("vec_id") < 100)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val grown = Similarity.blockedGraphIngest(ext, reblocked,
      "vec_id", "v")
    val grownOneShot = rows(Similarity.ivfSeededGraph(
      vv.unionByName(ext), "vec_id", "v", newCents, probe = 2, k = 6))
    assert(rows(Similarity.blockedGraphFromStore(grown)) ==
      grownOneShot, "post-epoch ingest diverges from the one-shot " +
        "build over corpus ∪ extension under the new centroids")
  }

  test("re-blocking epoch under DRIFT: stale frozen cells concentrate " +
      "the new region (candidate volume balloons), the refresh " +
      "re-balances it and keeps recall") {
    val scratch = java.nio.file.Files
      .createTempDirectory("reblock_drift").toString
    graft.queries.DedupQueries.driftedEmbeddings(spark, sf0001, scratch,
      mInit = 2, mDelta = 4, deltaCids = 250)
    val all = spark.read
      .parquet(s"$scratch/embeddings_drifted.parquet")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("is_delta"))
      .localCheckpoint(true)
    val nlist = 32
    val initial = all.where(!col("is_delta")).select("id", "v")
    val accumulated = all.select("id", "v").localCheckpoint(true)
    val stale = Similarity.kmeansCentroidsSeq(initial, "id", "v", nlist)
    // drift arrives: the store accumulates the delta under the stale
    // frozen cells (the qs36 regime), then the epoch refreshes with
    // the LOAD-AWARE trainer (plain Lloyd re-training only splits the
    // tight new region 2-3 ways — winner-take-all collapse, measured
    // cand 897k vs balanced 289k vs stale 1186k on this corpus)
    val refreshed = Similarity.balancedKmeansSeq(accumulated, "id",
      "v", nlist)
    // the COST law (the production reason to refresh): the blocked
    // candidate volume of a rebuild/maintenance pass under each cell
    // set, recounted from the same primary×probe join the build runs
    def candVolume(cents: Seq[(Long, Seq[Double])]): Long = {
      def assigned(p: Int) = accumulated.select(col("id"),
        graft.operators.HashFns.nearestCentroids(col("v"),
          cents.map(_._1), cents.map(_._2), p).as("cells"))
      assigned(1)
        .select(col("id"), element_at(col("cells"), 1).as("cell"))
        .join(assigned(2).select(col("id").as("nb"),
          explode(col("cells")).as("cell")), "cell")
        .where(col("id") =!= col("nb")).count()
    }
    val candStale = candVolume(stale)
    val candRefreshed = candVolume(refreshed)
    assert(candRefreshed.toDouble < 0.5 * candStale,
      s"refresh bought no re-balancing: stale $candStale vs " +
        s"refreshed $candRefreshed blocked candidates")
    // recall on DELTA-REGION queries (where stale cells degrade):
    // true top-3 = the query's cluster mates (within-cluster cos
    // ≈ 0.95 vs in-region cross ≈ 0.84 — geometric, not accidental)
    val queries = all.where(col("is_delta")).select("id", "v")
      .orderBy("id").limit(10).localCheckpoint(true)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(accumulated, queries,
      "id", "v", 3))
    def recallWith(cents: Seq[(Long, Seq[Double])]): Double = {
      val graph = Similarity.ivfSeededGraph(accumulated, "id", "v",
        cents, probe = 2, k = 10).localCheckpoint(true)
      val entries = Similarity.cellMedoids(accumulated, "id", "v",
        cents)
      val beam = pairs(Similarity.beamSearchTopK(accumulated, queries,
        graph, "id", "v", entries, ef = 24, rounds = 10, k = 3))
      (bf & beam).size.toDouble / bf.size
    }
    val rStale = recallWith(stale)
    val rRefreshed = recallWith(refreshed)
    assert(rRefreshed >= 0.9,
      s"refreshed recall $rRefreshed below the ANN gate")
    assert(rRefreshed >= rStale - 0.05,
      s"refresh LOST recall: stale $rStale vs refreshed $rRefreshed")
  }

  test("blockedGraphDelete: exact repair — store-after-deletes == " +
      "one-shot blocked build over the SURVIVORS; re-adding a deleted " +
      "id re-bases; a missing tombstone refuses loudly") {
    import spark.implicits._
    val emb = T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint(true)
    val cents = Similarity.kmeansCentroidsSeq(
      vv.where(col("vec_id") < 250), "vec_id", "v", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    var gs = Similarity.prepareBlockedGraphStore(vv, "vec_id", "v",
      cents, 2, 6)
    // the repair path must actually fire: some deleted id sits in a
    // survivor's current top-k
    val delIds = Seq(2L, 10L, 11L, 300L)
    assert(Similarity.blockedGraphFromStore(gs)
      .where(col("id").isin(delIds: _*) && !col("qid").isin(delIds: _*))
      .limit(1).count() > 0,
      "no survivor lists a deleted neighbor — the repair gate is vacuous")
    gs = Similarity.blockedGraphDelete(delIds.toDF("id"), gs)
    val survivors = vv.where(!col("vec_id").isin(delIds: _*))
    val oneShot = rows(Similarity.ivfSeededGraph(survivors, "vec_id",
      "v", cents, probe = 2, k = 6))
    assert(rows(Similarity.blockedGraphFromStore(gs)) == oneShot,
      "deleted store diverges from the one-shot build over survivors")
    // RE-ADD a deleted id: the repair left no trace, so the ingest
    // theorem re-bases on the survivor set
    gs = Similarity.blockedGraphIngest(vv.where(col("vec_id") === 2L),
      gs, "vec_id", "v")
    val reAdded = rows(Similarity.ivfSeededGraph(
      vv.where(!col("vec_id").isin(10L, 11L, 300L)), "vec_id", "v",
      cents, probe = 2, k = 6))
    assert(rows(Similarity.blockedGraphFromStore(gs)) == reAdded,
      "re-add after delete diverges from the one-shot build")
    val ex = intercept[IllegalArgumentException] {
      Similarity.blockedGraphDelete(Seq(999999L).toDF("id"), gs)
    }
    assert(ex.getMessage.contains("not in the store"))
  }

  test("knnGraphDelete (exact store): same repair theorem with the " +
      "all-pairs candidate generator") {
    import spark.implicits._
    val emb = T.t(spark, sf0001, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    var gs = Similarity.prepareKnnGraphStore(
      emb.where(col("vec_id") < 300), "vec_id", "embedding", k = 6)
    gs = Similarity.knnGraphDelete(Seq(5L, 17L, 230L).toDF("id"), gs)
    val oneShot = rows(Similarity.knnGraphExact(
      emb.where(col("vec_id") < 300 &&
        !col("vec_id").isin(5L, 17L, 230L)),
      "vec_id", "embedding", k = 6))
    assert(rows(Similarity.knnGraphFromStore(gs)) == oneShot,
      "exact-store delete diverges from one-shot over survivors")
  }

  test("k-means centroids are deterministic and partition the corpus") {
    val emb = T.t(spark, sf0001, "embeddings")
    val a = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
      .sortBy(_._1)
    val b = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
      .sortBy(_._1)
    assert(a.toSeq == b.toSeq, "two runs must agree bit-for-bit")
    assert(a.length > 1 && a.length <= 8)
  }

  test("hyperplane-LSH embedding near-dup equals brute force on " +
      "planted near-dups") {
    val base = T.t(spark, sf0001, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // original ∪ (+0.05-shifted) copies: cosine(v, v+0.05·1) ≥ √0.84
    // for unit v, so threshold 0.9 isolates the planted pairs
    val corpus = base.select(col("vec_id").as("id"), col("v"))
      .unionAll(base.select((col("vec_id") + 100000).as("id"),
        transform(col("v"), x => x + lit(0.05d)).as("v")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = pairs(Dedup.embeddingNearDupsLSH(corpus, "id", "v", 0.9))
    val brute = pairs(Dedup.embeddingNearDups(corpus, "id", "v", 0.9))
    assert(brute.nonEmpty, "planted pairs must exist")
    assert(blocked == brute)
    // corpus-derived parameters (the scaling rule as code) must find
    // the same pairs
    val (bands, bits) = Dedup.lshParams(1000, 0.9)
    val auto = pairs(Dedup.embeddingNearDupsLSH(corpus, "id", "v", 0.9,
      bands = bands, bitsPerBand = bits))
    assert(auto == brute)
    // the production wrapper (count → lshParams → LSH) agrees too
    val wrapped = pairs(Dedup.embeddingNearDupsLSHAuto(
      corpus, "id", "v", 0.9))
    assert(wrapped == brute)
  }

  test("lshParams reproduces the measured scaling points and holds " +
      "the miss bound") {
    // the measured 10×-sf0.1 point: 40k vectors at cosine 0.9165 →
    // 16-bit bands, ~124 of them (doc: 128 gives 6e-7; smallest B
    // under 1e-6 is a few fewer)
    val (b40k, bits40k) = Dedup.lshParams(40000, 0.9165)
    assert(bits40k == 16, s"expected 16 bits at 40k, got $bits40k")
    assert(b40k >= 110 && b40k <= 130, s"bands out of range: $b40k")
    // small corpora floor at the (.,12) default width
    assert(Dedup.lshParams(100, 0.9165)._2 == 12)
    // the guarantee itself: (1 - p^bits)^bands <= missProb, and one
    // band fewer violates it (minimality)
    for (n <- Seq(1000L, 100000L, 10000000L); t <- Seq(0.8, 0.9, 0.95)) {
      val (bands, bits) = Dedup.lshParams(n, t)
      val p = 1.0 - math.acos(t) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, bits), bands)
      assert(miss <= 1e-6, s"miss bound violated at ($n,$t): $miss")
      assert(math.pow(1.0 - math.pow(p, bits), bands - 1) > 1e-6,
        s"bands not minimal at ($n,$t)")
    }
    // monotonicity: corpus growth never narrows the bands
    assert(Dedup.lshParams(1000000, 0.9165)._2 >=
      Dedup.lshParams(10000, 0.9165)._2)
    // exact powers of two: ceil(log2 n) must not pick up a float ulp
    // (log(2^29)/log(2) = 29.000000000000004 rounds up to 30)
    for (k <- Seq(16, 29, 31, 39)) {
      assert(Dedup.lshParams(1L << k, 0.9165)._2 == k,
        s"bits at n=2^$k")
      assert(Dedup.lshParams((1L << k) + 1, 0.9165)._2 == k + 1,
        s"bits at n=2^$k+1")
    }
    // the runaway regime (loose threshold at corpus scale) must be an
    // explicit error, not an Int-saturated 2^31-band signature job
    val e = intercept[IllegalArgumentException](
      Dedup.lshParams(1L << 40, 0.3))
    assert(e.getMessage.contains("MinHash"))
    // the documented extreme operating point still fits the cap
    assert(Dedup.lshParams(1000000000000L, 0.9)._1 <= 16384)
  }

  test("lshParams: measured candidate volume on an isotropic corpus " +
      "matches the law's uniform-occupancy prediction") {
    // The scaling law's predicted candidate count is
    // bands · C(n,2) / 2^bits under uniform bucket occupancy; on an
    // isotropic Gaussian corpus hyperplane bits are balanced coin
    // flips, so the measured volume must sit near the prediction —
    // this is the spec-scale anchor of the volume law the xd6 leg of
    // `graft.tools.ScaleStress` grades across a corpus and its 2×.
    import spark.implicits._
    val n = 4096
    val rnd = new java.util.Random(77L)
    // dim 64 (the real embeddings dim): with dim >> bits the 12
    // hyperplane bits are near-independent, so occupancy is near
    // uniform; at low dim the bits correlate and the volume inflates
    val df = Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian()))).toDF("id", "v")
    val (bands, bits) = Dedup.lshParams(n, 0.9)
    assert(bits == 12, "log2(4096) = the 12-bit floor boundary")
    val vol = df.select(posexplode_outer(HashFns.hyperplaneBands(
        col("v"), bands, bits, 0x5eed)).as(Seq("b", "k")))
      .groupBy("b", "k").agg(count(lit(1)).as("m"))
      .agg(sum((col("m") * (col("m") - 1)).cast("long") / 2)
        .cast("long")).head.getLong(0)
    val predicted = bands.toDouble * n * (n - 1) / 2 / math.pow(2, bits)
    assert(vol > predicted / 4 && vol < predicted * 4,
      s"measured candidate volume $vol vs predicted $predicted")
  }

  test("incremental near-dup equals the cross-half slice of full pairs") {
    val all = T.t(spark, sf0001, "documents")
    val mid = 25L
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Dedup.minhashNearDups(all, "doc_id", "text", 0.5))
      .filter { case (a, b) => a < mid && b >= mid }
    val incr = pairs(Dedup.minhashNearDupsAgainst(
      all.where(col("doc_id") >= mid), all.where(col("doc_id") < mid),
      "doc_id", "text", 0.5))
    assert(incr == full)
  }

  test("LSH bucket cap skips pathological buckets, keeps normal pairs") {
    import spark.implicits._
    // 12 identical docs (a dup clique: every band bucket has 12
    // members) + one ordinary near-dup pair
    val boiler = "exactly the same boilerplate text repeated verbatim " +
      "across many crawled pages again and again"
    val docs = ((1L to 12L).map(i => (i, boiler)) ++ Seq(
      (20L, "a genuinely unique document about spark lsh banding quality"),
      (21L, "a genuinely unique document about spark lsh banding scale")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDups(docs, "doc_id", "text", 0.4)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashNearDups(docs, "doc_id", "text", 0.4,
        maxBucket = 8)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((20L, 21L)))
    // clique pairs suppressed (every shared bucket is hot), normal pair kept
    assert(capped == Set((20L, 21L)))
    // a permissive cap changes nothing
    val permissive = Dedup.minhashNearDups(docs, "doc_id", "text", 0.4,
        maxBucket = 1000)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(permissive == uncapped)
  }

  test("chunkDocs: window/stride boundaries, short docs, empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, "   ")).toDF("doc_id", "text")
    val got = TextFns.chunkDocs(docs, "doc_id", "text",
        maxTokens = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSet
    assert(got == Set(
      (1L, 0, 4, "t1 t2 t3 t4"), (1L, 3, 4, "t4 t5 t6 t7"),
      (1L, 6, 4, "t7 t8 t9 t10"), (1L, 9, 1, "t10"),
      (2L, 0, 3, "only three tokens")))
    // doc 3 (whitespace only) yields no chunks
  }

  test("connected components: chain + triangle + isolated pair") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    val docs = (1L to 25L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val survivors = Dedup.dedupByComponents(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // min of each component survives; isolated docs untouched
    assert(survivors == (1L to 25L).toSet --
      Set(2L, 3L, 4L, 11L, 12L, 21L))
  }

  test("connected components: deep chain needs O(diameter) rounds; " +
      "maxIter guard trips below it, converges above it") {
    import spark.implicits._
    // path graph 1-2-...-30: diameter 29, so min-label propagation
    // needs 29 rounds. The default 20-round cap must fail loudly
    // (silent wrong labels would split one component into several).
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "a", "b").collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    val got = Dedup.connectedComponents(chain, "a", "b", maxIter = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 30L).map(_ -> 1L).toMap)
  }

  test("ngram-Jaccard df cap drops stop-shingle-only pairs, keeps rest") {
    import spark.implicits._
    // docs 1/2 share a genuinely duplicated phrase; docs 3..8 share
    // ONLY the stop-shingle "the same words" (df=8 > cap)
    val stop = "the same words"
    val docs = (Seq(
      (1L, s"alpha beta gamma delta $stop"),
      (2L, s"alpha beta gamma delta $stop")) ++
      (3L to 8L).map(i => (i, s"unique$i tail$i extra$i $stop")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.1,
      maxDocFreq = Int.MaxValue).select("a", "b").collect().toSet
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.1,
      maxDocFreq = 4).select("a", "b").collect().toSet
    assert(uncapped.size > 1, "stop-shingle pairs must exist uncapped")
    assert(capped.map(r => (r.getLong(0), r.getLong(1))) == Set((1L, 2L)),
      "capped result keeps the true near-dup, drops stop-shingle pairs")
  }

  test("custom hash expressions stay inside whole-stage codegen " +
      "(no CodegenFallback poisoning)") {
    val df = docs.select(
      HashFns.minhashSignature(HashFns.wordShingles(col("text"), 3)).as("sig"),
      HashFns.simhash60(split(lower(col("text")), "\\s+")).as("sh"),
      HashFns.nfcNormalize(col("text")).as("nt"))
      .where(size(col("sig")) > 0 && length(col("nt")) >= 0)
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen
    // span — CodegenFallback would forbid it for the whole stage
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan)
    assert("""\*\(\d+\) Filter""".r.findFirstIn(plan).isDefined, plan)
  }

  test("exact embedding near-dup runs as tiled CartesianProduct, " +
      "not BroadcastNestedLoopJoin") {
    val emb = T.t(spark, sf0001, "embeddings")
    val plan = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.44)
      .queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct"),
      s"expected CartesianProduct in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "corpus-sized broadcast is a scale-killer")
  }

  test("Hamming-guided beam ANN recall >= 0.9 vs brute force " +
      "(integer navigation, exact-cosine rerank)") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      T.t(spark, sf0001, "embeddings")).localCheckpoint(true)
    val queries = corpus.where(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(corpus, queries, "id",
      "v", 3))
    val graph = Similarity.knnGraphExact(corpus, "id", "v", k = 10)
      .localCheckpoint(true)
    val bq = pairs(Similarity.beamSearchTopKBQ(corpus, queries, graph,
      "id", "v", entryIds = 0L to 7L, ef = 24, rounds = 10, k = 3))
    assert(bf.nonEmpty)
    assert((bf & bq).size.toDouble / bf.size >= 0.9,
      s"recall ${(bf & bq).size.toDouble / bf.size}")
    // the production SHORTLISTED rerank (Hamming-rank the visited set
    // to R per query, exact cosine only there — dot count drops from
    // |visited| to |q|·R) must not lose recall vs the full rerank.
    // R is sized for the 64-bit signature's coarseness: hd takes 65
    // values, ties are broad, so R ≈ 20·k — still corpus-independent
    val bqShort = pairs(Similarity.beamSearchTopKBQ(corpus, queries,
      graph, "id", "v", entryIds = 0L to 7L, ef = 24, rounds = 10,
      k = 3, shortlist = 64))
    assert((bf & bqShort).size.toDouble / bf.size >= 0.9,
      s"shortlisted recall ${(bf & bqShort).size.toDouble / bf.size}")
  }

  test("knnGraphExact runs as tiled CartesianProduct, not " +
      "BroadcastNestedLoopJoin (the xd4 discipline)") {
    val emb = T.t(spark, sf0001, "embeddings")
    val gPlan = Similarity.knnGraphExact(emb, "vec_id", "embedding", 6)
      .queryExecution.executedPlan.toString
    assert(gPlan.contains("CartesianProduct"),
      s"expected CartesianProduct in:\n$gPlan")
    assert(!gPlan.contains("BroadcastNestedLoopJoin"),
      "corpus-sized broadcast is a scale-killer")
  }

  test("exact dedup keeps lowest id per normalized text") {
    import spark.implicits._
    val df = Seq((1L, "Hello World"), (2L, "  hello world "),
      (3L, "unique")).toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("paragraph dedup drops exact + near spans, keeps first, reassembles") {
    import spark.implicits._
    // 3-word paragraphs: doc 1 = [A][B], doc 2 = [A again][C],
    // doc 3 = [B with one word changed (J=2/4=0.5<0.8? bigrams: "b1 b2","b2 b3" vs "b1 b2","b2 zz" → J=1/3)] kept,
    // doc 4 = [B's words exactly] dropped by exact stage.
    val docs = Seq(
      (1L, "a1 a2 a3 b1 b2 b3"),
      (2L, "a1 a2 a3 c1 c2 c3"),   // first span dup of doc1 span0
      (3L, "b1 b2 zz"),            // near-ish but below threshold
      (4L, "b1 b2 b3")             // exact dup of doc1 span1
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text",
        paraWords = 3, threshold = 0.8, shingleN = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ("a1 a2 a3 b1 b2 b3", 2L, 2L))
    assert(out(2L) == ("c1 c2 c3", 2L, 1L)) // lost its duplicated span
    assert(out(3L) == ("b1 b2 zz", 1L, 1L))
    assert(!out.contains(4L)) // all paragraphs were boilerplate
    // near stage at J=1.0 via reordered-free exact-bigram twin: a span
    // whose text differs but bigram set matches an earlier span drops
    val near = Seq(
      (10L, "x1 x2 x3 x4"),
      (20L, "x1 x2 x3 x9")) // bigrams {x1 x2,x2 x3,x3 x9} J=2/4=0.5
      .toDF("doc_id", "text")
    val kept2 = Dedup.paragraphDedup(near, "doc_id", "text",
        paraWords = 4, threshold = 0.5, shingleN = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(10L)) // 20's only span near-dups 10's at J≥0.5
  }

  test("paragraph dedup struct key handles a >=100k-span document") {
    import spark.implicits._
    // the former pid = doc_id*100000+idx encoding hard-failed any doc
    // with >= 100k spans; the struct (doc_id, idx) key has no bound
    val big = (0 until 100100).map(i => s"w${i}a w${i}b w${i}c")
      .mkString(" ")
    val docs = Seq((1L, big), (2L, "w0a w0b w0c")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text", paraWords = 3,
        threshold = 0.8, shingleN = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == (100100L, 100100L)) // all spans unique, all kept
    assert(!out.contains(2L)) // its one span duplicates doc 1's span 0
  }

  test("paragraph dedup cap: auto default is inert at spec scale, an " +
      "engaged cap skips hot buckets and keeps their spans") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toList
    // the auto cap must never engage on a healthy corpus — default ==
    // explicitly-uncapped on the real spec corpus (this plus the
    // capped volume law of the `ScaleStress` xd10 leg is the
    // oracle-exactness story)
    assert(rows(Dedup.paragraphDedup(docs, "doc_id", "text")) ==
      rows(Dedup.paragraphDedup(docs, "doc_id", "text",
        maxBucket = Int.MaxValue)))
    // engaged cap: with maxBucket=1 every shared bucket is "hot", so
    // the near stage is fully suppressed and the near-dup span
    // survives (cap semantics: hot buckets contribute no candidates)
    val near = Seq(
      (10L, "x1 x2 x3 x4"),
      (20L, "x1 x2 x3 x9")) // J=0.5 vs 10's span
      .toDF("doc_id", "text")
    val capped = Dedup.paragraphDedup(near, "doc_id", "text",
      graft.operators.ParagraphSplitter.FixedWindow(4),
      threshold = 0.5, shingleN = 2, maxBucket = 1)
    assert(capped.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 20L))
  }

  test("newline paragraph splitter: blank-line spans, exact drop, " +
      "blank-line reassembly, empty paragraphs uncounted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Alpha beta gamma.\n\nShared boilerplate para here." +
        "\n\n\n\nThird unique thought."),
      // para 1 normalizes to doc 1's para 1 words (single \n is not a
      // split; whitespace collapses) → exact-dropped
      (2L, "Shared  boilerplate\npara here.\n\nAnother doc entirely."),
      (3L, "\n\n \n\n")) // only empty paragraphs → doc disappears
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text",
        graft.operators.ParagraphSplitter.Delimiter(),
        threshold = 0.8, shingleN = 2, maxBucket = Dedup.AutoBucket)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ("alpha beta gamma.\n\nshared boilerplate para " +
      "here.\n\nthird unique thought.", 3L, 3L))
    assert(out(2L) == ("another doc entirely.", 2L, 1L))
    assert(!out.contains(3L))
  }

  test("minhashParams: log-n row growth, anchored bands, auto == " +
      "fixed output on the spec corpus") {
    // the sf0.1 xd10 operating point (44098 exact-survivor spans at
    // t=0.8) and the validated small-corpus row count
    assert(Dedup.minhashParams(44098, 0.8) == (27, 4))
    assert(Dedup.minhashParams(60000, 0.75)._2 == 4)
    assert(Dedup.minhashParams(600000, 0.75)._2 == 5) // +1 row per 16×
    assert(Dedup.minhashParams(1L << 40, 0.9)._2 == 10)
    // the runaway regime is an explicit error, not a 2^31-band job
    intercept[IllegalArgumentException] {
      Dedup.minhashParams(1L << 40, 0.3)
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the xd1 promotion evidence at spec scale: derived parameters
    // reproduce the fixed-band result exactly
    assert(pairs(Dedup.minhashNearDupsAuto(docs, "doc_id", "text", 0.5))
      == pairs(Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)))
  }

  test("incremental paragraph dedup: vs-corpus semantics, chunked == " +
      "batch") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "c1 c2 c3 c4"),
      // span A again (exact-deduped inside the store) + span B
      (2L, "c1 c2 c3 c4 d1 d2 d3 d4")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "c1 c2 c3 c4"),  // exact match with store span A → drops
      (11L, "d1 d2 d3 zz"),  // near (J=2/4=0.5) vs store span B → drops
      (12L, "e1 e2 e3 e4"),  // unrelated → survives
      // same as 12: delta spans do NOT check each other (per-batch
      // independence is what makes chunked == batch) → survives
      (13L, "e1 e2 e3 e4")).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.paragraphDedupAgainst(d, corpus, "doc_id", "text",
        paraWords = 4, threshold = 0.5, shingleN = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val out = rows(run(delta))
    assert(out == Map(
      12L -> ("e1 e2 e3 e4", 1L, 1L),
      13L -> ("e1 e2 e3 e4", 1L, 1L)))
    val chunked = rows(run(delta.where(col("doc_id") <= 11))
      .unionAll(run(delta.where(col("doc_id") > 11))))
    assert(chunked == out)
  }

  test("incremental paragraph dedup: cap and band params are STORE-" +
      "derived, so chunking cannot change the result even when a hot " +
      "delta class engages the cap") {
    import spark.implicits._
    // one store span; a 12-member near-identical DELTA class (J=0.5 vs
    // the store span each). With combined-population occupancy a
    // maxBucket=1 cap would fire for the whole batch (13 > 1) but not
    // for small chunks — the chunk-size-dependent outcome the store-
    // only derivation exists to prevent: store buckets have 1 member,
    // the cap keeps them, and every delta span drops regardless of
    // how the delta is batched.
    val corpus = Seq((1L, "t1 t2 t3 t4")).toDF("doc_id", "text")
    val delta = (10L to 21L).map(i => (i, s"t1 t2 t3 z$i"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.paragraphDedupAgainst(d, corpus, "doc_id", "text",
        graft.operators.ParagraphSplitter.FixedWindow(4),
        threshold = 0.5, shingleN = 2, maxBucket = 1)
    val whole = run(delta).collect().toSeq
    val chunked = (10L to 21L by 3).flatMap(lo =>
      run(delta.where(col("doc_id") >= lo && col("doc_id") < lo + 3))
        .collect())
    assert(whole.isEmpty, "near stage must engage: every delta span " +
      "is a near-dup of the store span")
    assert(chunked.isEmpty)
  }

  test("kmeans centroid training tolerates null and ragged vectors") {
    import spark.implicits._
    val messy = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0)), (4L, Seq(0.9, 0.1, 0.0)),
      (5L, Seq(0.5, 0.5)), // ragged — must be dropped, not crash
      (6L, Seq(0.1, 0.9, 0.0))
    ).toDF("vec_id", "embedding")
      .unionByName(Seq((7L, Option.empty[Seq[Double]]))
        .toDF("vec_id", "embedding")) // null vector
    val cents = Similarity.kmeansCentroids(messy, "vec_id", "embedding", 2)
      .collect()
    assert(cents.nonEmpty && cents.length <= 2)
    assert(cents.forall(_.getSeq[Double](1).length == 3),
      "all centroids must carry the modal dimension")
  }

  test("TopKPairs buffer serialize/deserialize round-trips") {
    import org.apache.spark.sql.functions.{col => c}
    val agg = TopKPairs(
      org.apache.spark.sql.graftbridge.Bridge.expression(c("s")),
      org.apache.spark.sql.graftbridge.Bridge.expression(c("i")), 3)
    val buf = agg.createAggregationBuffer()
    Seq((0.9, 1L), (0.8, 2L), (0.95, 3L), (0.7, 4L), (0.9, 0L))
      .foreach(buf.add)
    while (buf.size > 3) buf.pollLast()
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.size == 3)
    val best = back.iterator().next()
    assert(best == (0.95, 3L))
    // tie at 0.9: lower id (0) must outrank id 1
    val arr = new java.util.ArrayList(back)
    assert(arr.get(1) == (0.9, 0L) && arr.get(2) == (0.9, 1L))
  }

  test("repetition signals on planted docs (narrow map, known values)") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a a"),          // one distinct 3-gram of 3 → dup3=2/3
      (2L, "w x y z"),            // all 3-grams distinct → dup3=0
      (3L, ""),                   // empty → both 0
      (4L, "b b c c c")           // top word c: 3/5
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextFns.dupShingleFrac(col("text"), 3).as("d"),
        TextFns.topWordFrac(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(math.abs(got(1L)._1 - 2.0 / 3) < 1e-12 && got(1L)._2 == 1.0)
    assert(got(2L) == (0.0, 0.25))
    assert(got(3L) == (0.0, 0.0))
    assert(got(4L)._2 == 0.6)
  }

  test("polyBucket: in-range, deterministic, order-sensitive; " +
      "wordBigrams shape") {
    import spark.implicits._
    val df = Seq("table", "elbat", "a").toDF("w")
      .select(col("w"), TextFns.polyBucket(col("w"), 512).as("b"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.forall(b => b >= 0 && b < 512))
    assert(got("a") == 'a'.toLong % 512) // single char = its codepoint
    assert(got("table") != got("elbat")) // anagrams hash apart
    val again = Seq("table").toDF("w")
      .select(TextFns.polyBucket(col("w"), 512)).head.getLong(0)
    assert(again == got("table"))
    val bg = Seq("x y z", "solo", "").toDF("t")
      .select(TextFns.wordBigrams(TextFns.tokens(col("t"))))
      .collect().map(_.getSeq[String](0))
    assert(bg(0) == Seq("x y", "y z") && bg(1).isEmpty && bg(2).isEmpty)
  }

  test("gopher rules fire on crafted docs (symbol/line/alpha/mwl " +
      "rules are vacuous on the synthetic corpus)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("gopher_fix").toString
    val fill = (1 to 60).map(i => s"word$i").mkString(" ")
    val rows = Seq(
      // 1: healthy — 60 mid-length words, stopwords present, no junk
      (1L, s"the data of $fill"),
      // 2: all-bullet lines → line_ok=0 (bullet frac 1.0 > 0.9)
      (2L, (1 to 10).map(i => s"- item $i of the $fill").mkString("\n")),
      // 3: 4 of 10 lines end "..." → line_ok=0 (0.4 > 0.3)
      (3L, (1 to 10).map(i =>
        s"line $i of the $fill" + (if (i <= 4) " ..." else ""))
        .mkString("\n")),
      // 4: '#' flood → sym_ok=0 (and '#' tokens also sink alpha)
      (4L, s"the config of $fill " + Seq.fill(30)("#").mkString(" ")),
      // 5: digit tokens → alpha_ok=0
      (5L, s"the sum of " + (1 to 57).map(_.toString).mkString(" ")),
      // 6: single-char words → mwl_ok=0 (mean 1 < 3)
      (6L, "the a " + Seq.fill(55)("a b c").mkString(" ")),
      // 7: empty → n_tok=0: w_ok=0, ratio rules default true
      (7L, ""),
      // 8: one word repeated → rep_ok=0 (top-word frac 56/63 > 0.3)
      (8L, s"the spam of $fill " + Seq.fill(56)("spam").mkString(" ")))
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("fix").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("xt15_gopher_rules")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, name: String): Int = {
      val r = out(id); r.getInt(r.fieldIndex(name))
    }
    assert(f(1L, "pass") == 1)
    assert(f(2L, "line_ok") == 0 && f(2L, "pass") == 0)
    assert(f(3L, "line_ok") == 0 && f(3L, "sym_ok") == 1)
    assert(f(4L, "sym_ok") == 0 && f(4L, "alpha_ok") == 0)
    assert(f(5L, "alpha_ok") == 0)
    assert(f(6L, "mwl_ok") == 0)
    assert(f(7L, "w_ok") == 0 && f(7L, "mwl_ok") == 1 &&
      f(7L, "rep_ok") == 1 && f(7L, "pass") == 0)
    assert(f(8L, "rep_ok") == 0)
    // dsir on the same fixtures: weights finite, top-k flag bounded
    val dsir = SparkEntry.queries("xt14_dsir")(spark, dir).collect()
    assert(dsir.length == 7) // doc 7 has no tokens → no features
    assert(dsir.map(r => r.getInt(r.fieldIndex("sel"))).sum == 7)
  }

  test("xs5 centroid assignment partitions the corpus exactly " +
      "(every vector assigned once, to an existing label)") {
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val labels = emb.select("label").distinct().collect()
      .map(_.getInt(0)).toSet
    val out = SparkEntry.queries("xs5_centroid_assign")(spark, sf0001)
      .collect()
    assert(out.map(_.getLong(2)).sum == emb.count())
    assert(out.forall(r => labels(r.getInt(1))))
    assert(out.forall(_.getLong(2) > 0))
  }

  test("line-repetition signals fire on crafted docs " +
      "(dup lines / top-bigram concentration)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("rep_fix").toString
    val rows = Seq(
      // 1: 4 lines, "same line" twice → 1 beyond-first of 9 chars
      (1L, "same line\nother a\nsame line\nlast b"),
      // 2: unique lines, "of the" bigram 3× among 8 bigrams;
      //    word chars = len("ofxthexofxthexofxthexcatxdog")-ish
      (2L, "of the of the of the cat dog"),
      // 3: empty
      (3L, ""))
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("fix").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("xt16_repetition_lines")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val (nl1, df1, cf1, _) = out(1L)
    assert(nl1 == 4 && df1 == 0.25) // 1 repeat of 4 lines
    assert(cf1 == 0.2903) // 9 repeated chars / 31 total line chars
    val (_, df2, _, t2) = out(2L)
    assert(df2 == 0.0)
    // top bigram "of the": 3 occurrences × 5 word-chars / 21 total
    assert(t2 == 0.7143)
    assert(out(3L) == ((1L, 0.0, 0.0, 0.0)))
  }

  test("semDedupAssigned: drops only within-cluster lower-id near-dups;" +
      " cross-cluster twins survive by design; partition-invariant") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0, 0.0), "A"),   // kept: lowest id in its group
      (2L, Seq(1.0, 0.01), "A"),  // cos≈1 with 1, same cluster → drop
      (3L, Seq(1.0, 0.0), "B"),   // identical to 1 but other cluster →
                                  // kept: the SemDedup blocking miss
      (4L, Seq(0.0, 1.0), "A"))   // dissimilar → kept
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.semDedupAssigned(df, "id", "v", "cl", threshold = 0.95)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val df = rows.toDF("id", "v", "cl")
    val out = run(df)
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
    assert(run(df.repartition(7)) == out)
  }

  test("semDedup label-centroid path: assignment is geometric (a " +
      "mislabeled vector dedups against its geometric cluster)") {
    import spark.implicits._
    val rows = Seq(
      (1L, 0, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, 0, Seq(1.0, 0.0, 0.0, 0.0)),   // exact dup of 1 → drop
      (3L, 1, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, 1, Seq(0.0, 0.0, 0.99, 0.01)), // near dup of 3 → drop
      // labeled 0 but sits on cluster 1's axis: argmax-cos assignment
      // sends it to cluster 1, where id 3 kills it — the label only
      // shapes the centroids, never the dedup blocking directly
      (5L, 0, Seq(0.0, 0.0, 1.0, 0.02)))
    val out = Dedup.semDedup(rows.toDF("id", "label", "v"),
        "id", "label", "v", threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out(5L)._1 == 1, "geometric assignment must override label")
    assert(out.view.filterKeys(Set(1L, 3L)).forall(_._2._2 == true))
    assert(out.view.filterKeys(Set(2L, 4L, 5L)).forall(_._2._2 == false))
  }

  test("semDedup k-means scale path: planted copies dedup against " +
      "their originals; originals never drop") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      graft.queries.T.t(spark, sf0001, "embeddings"))
    val nOrig = corpus.count() / 2
    val cents = Similarity
      .kmeansCentroids(corpus, "id", "v", nlist = 8)
      .select(col("cent_id").cast("int").as("clabel"),
        col("cent_v").as("centroid"))
    val asg = Similarity.assignNearestCentroid(corpus, Seq("id"), "v",
      cents).localCheckpoint(true)
    val out = Dedup.semDedupAssigned(asg, "id", "v", "assigned",
      threshold = 0.9).collect()
    assert(out.length == nOrig * 2)
    val dropped = out.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    // the only pairs at cosine >= 0.9 are (original, original+100000)
    // — the xd6 planting property — so the EXACT contract is: dropped
    // == the copies k-means co-clustered with their original, nothing
    // else. (On isotropic random vectors points sit near cell
    // boundaries, so many copies flip cells and survive — the
    // documented SemDedup blocking miss; real embedding spaces
    // cluster, random ones are its worst case.)
    val cell = asg.select(col("id"), col("assigned")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = cell.keySet.filter(id => id >= 100000L &&
      cell(id) == cell(id - 100000L))
    assert(dropped == expected)
    assert(expected.nonEmpty, "no copy was co-clustered at all")
  }

  test("two-level centroid search == flat scan when all coarse cells " +
      "are probed (scoring + tie-break equivalence)") {
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val cents = Similarity.kmeansCentroidsSeq(emb, "vec_id", "embedding",
      nlist = 24)
    val (cv, fi, fv) = Similarity.coarsenCentroids(cents)
    assert(fi.flatten.sorted == cents.map(_._1).sorted,
      "coarsening must partition the fine centroid table")
    // wCoarse >= #coarse groups → every fine centroid is scanned →
    // must be EXACTLY the flat argmax, top-1 and top-3
    for (k <- Seq(1, 3)) {
      val flat = emb.select(col("vec_id"),
        graft.operators.HashFns.nearestCentroids(col("embedding"),
          cents.map(_._1), cents.map(_._2), k).as("cells"))
      val two = emb.select(col("vec_id"),
        graft.operators.HashFns.twoLevelNearestCentroids(col("embedding"),
          cv, fi, fv, wCoarse = cv.length, n = k).as("cells"))
      assert(flat.exceptAll(two).isEmpty && two.exceptAll(flat).isEmpty,
        s"top-$k two-level != flat scan")
    }
  }

  test("assignCellsTwoLevel partitions the corpus; probes are distinct " +
      "existing cells led by the primary") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      graft.queries.T.t(spark, sf0001, "embeddings"))
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v", nlist = 16)
    val ids = cents.map(_._1).toSet
    val asg = Similarity.assignCellsTwoLevel(corpus, Seq("id"), "v",
      cents, probe = 2, wCoarse = 2)
    val rows = asg.collect()
    assert(rows.length == corpus.count())
    rows.foreach { r =>
      val probes = r.getSeq[Long](r.fieldIndex("probes"))
      assert(probes.length == 2 && probes.distinct.length == 2)
      assert(probes.forall(ids))
      assert(r.getLong(r.fieldIndex("assigned")) == probes.head)
    }
  }

  test("semDedupMultiProbe with probe=1 == semDedupAssigned; probe=2 " +
      "recovers boundary-straddling planted pairs (recall up, exactness " +
      "kept)") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      graft.queries.T.t(spark, sf0001, "embeddings")).localCheckpoint(true)
    val nOrig = corpus.count() / 2
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v", nlist = 16)
    val asg1 = Similarity.assignCellsTwoLevel(corpus, Seq("id"), "v",
      cents, probe = 1, wCoarse = cents.length).localCheckpoint(true)
    // probe=1 multi-probe is definitionally single-cell blocking:
    // must equal the semDedupAssigned core row for row
    val viaMulti = Dedup.semDedupMultiProbe(asg1, "id", "v", "probes",
      "assigned", threshold = 0.9)
    val viaSingle = Dedup.semDedupAssigned(asg1, "id", "v", "assigned",
      threshold = 0.9)
      .select(col("id"), col("assigned").cast("long"), col("kept"))
    assert(viaMulti.exceptAll(viaSingle).isEmpty &&
      viaSingle.exceptAll(viaMulti).isEmpty)

    val asg2 = Similarity.assignCellsTwoLevel(corpus, Seq("id"), "v",
      cents, probe = 2, wCoarse = 2).localCheckpoint(true)
    val out2 = Dedup.semDedupMultiProbe(asg2, "id", "v", "probes",
      "assigned", threshold = 0.9).collect()
    val dropped2 = out2.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    // exactness: the only >=0.9 pairs are (orig, orig+100000), so the
    // dropped set must be EXACTLY the copies sharing a blocked pair
    // with their original (either direction probes the other's
    // primary), nothing else
    val probeMap = asg2.select(col("id"), col("probes"), col("assigned"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1).toSet, r.getLong(2))).toMap
    val expected2 = probeMap.keySet.filter { id =>
      id >= 100000L && {
        val (cp, cprim) = probeMap(id)
        val (op, oprim) = probeMap(id - 100000L)
        cp.contains(oprim) || op.contains(cprim)
      }
    }
    assert(dropped2 == expected2)
    // and multi-probe must strictly beat single-cell blocking here:
    // isotropic vectors sit near cell boundaries (the documented
    // SemDedup worst case), so probe=2 recovers a real fraction
    val single = probeMap.keySet.count(id => id >= 100000L &&
      probeMap(id)._2 == probeMap(id - 100000L)._2)
    assert(dropped2.size > single,
      s"probe=2 (${dropped2.size}) should beat primary-only ($single)")
    assert(dropped2.size.toDouble / nOrig > 0.5,
      s"recall ${dropped2.size.toDouble / nOrig} too low at probe=2")
  }

  test("pq encode/lut/adc: crafted codebooks, ties to smaller code") {
    import spark.implicits._
    import graft.operators.HashFns
    // m=2 subspaces of 2 dims; codewords per subspace indexed 0,1
    val books: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(0.0, 0.0), Seq(2.0, 2.0)))
    val df = Seq(
      (1L, Seq(0.9, 0.9, 1.9, 1.9)),  // → [1, 1]
      (2L, Seq(0.1, 0.1, 0.4, 0.4)),  // → [0, 0]
      (3L, Seq(0.5, 0.5, 1.0, 1.0))   // both subspaces tie → [0, 0]
    ).toDF("id", "v")
    val enc = df.select(col("id"), HashFns.pqEncode(col("v"), books))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc(1L) == Seq(1, 1) && enc(2L) == Seq(0, 0) &&
      enc(3L) == Seq(0, 0))
    // lut[j][c] = in-order SSD; adc = lut[0][c0] + lut[1][c1]
    val adc = df.where(col("id") === 1L)
      .select(HashFns.pqAdc(HashFns.pqLut(col("v"), books),
        typedlit(Seq(1, 1))))
      .head.getDouble(0)
    val expected = {
      val s0 = { var a = 0.0; a += (0.9 - 1.0) * (0.9 - 1.0)
        a += (0.9 - 1.0) * (0.9 - 1.0); a }
      val s1 = { var a = 0.0; a += (1.9 - 2.0) * (1.9 - 2.0)
        a += (1.9 - 2.0) * (1.9 - 2.0); a }
      s0 + s1
    }
    assert(adc == expected) // bit-identical: same IEEE op sequence
  }

  test("pqRerankTopK: recall >= 0.9 vs brute force on clustered corpus") {
    import spark.implicits._
    // PQ's premise: a clustered space. 10 centers × 50 satellites,
    // labels = cluster id (the codebook source). Raw ADC flattens
    // within-cluster order (coarse 10-codeword quantization), but a
    // 6k shortlist contains the whole home cluster, so exact rerank
    // recovers brute-force top-k.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    val rows = for (l <- 0 until 10; i <- 0 until 50) yield
      (l * 50L + i, l,
        centers(l).map(_ + 0.25 * rnd.nextGaussian()).toSeq)
    val corpus = rows.toDF("vec_id", "label", "embedding")
      .localCheckpoint(true)
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val k = 10
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(graft.operators.Similarity
      .bruteForceTopK(corpus, queries, "vec_id", "embedding", k))
    val pq = hits(graft.operators.Similarity
      .pqRerankTopK(corpus, queries, "vec_id", "embedding", "label",
        k, m = 8, shortlist = 60))
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, f"pq rerank recall $recall%.3f < 0.9")
  }

  test("binary quantization: sign signatures are scale-invariant and " +
      "Hamming shortlist + exact rerank recovers brute top-k on a " +
      "clustered corpus") {
    import spark.implicits._
    // same clustered recipe as the PQ gates: signs concentrate within
    // a cluster (satellites share most of their center's sign
    // pattern), so the Hamming-30 shortlist holds the home cluster
    // and the exact rerank restores brute-force order.
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    val rows = for (l <- 0 until 10; i <- 0 until 50) yield
      (l * 50L + i, centers(l).map(_ + 0.25 * rnd.nextGaussian()).toSeq)
    val corpus = rows.toDF("vec_id", "embedding").localCheckpoint(true)
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val k = 10
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(graft.operators.Similarity
      .bruteForceTopK(corpus, queries, "vec_id", "embedding", k))
    val bq = hits(graft.operators.Similarity
      .binaryQuantTopK(corpus, queries, "vec_id", "embedding", k,
        shortlist = 60))
    val recall = (exact & bq).size.toDouble / exact.size
    assert(recall >= 0.9, f"binary-quant recall $recall%.3f < 0.9")
    // scale invariance: 3x-scaled copies produce hd = 0 against the
    // originals — the BQ premise (cosine ignores magnitude, so do
    // signs). Query each original against a corpus holding only its
    // scaled twin: every top-1 must be the twin at hd 0.
    val scaled = rows.map { case (id, v) =>
      (id + 10000L, v.map(_ * 3.0)) }.toDF("vec_id", "embedding")
    val both = corpus.select(col("vec_id"), col("embedding"))
      .unionByName(scaled).localCheckpoint(true)
    val twin = graft.operators.Similarity
      .binaryQuantTopK(both, corpus.where(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 1, shortlist = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Long]("hd")))
    assert(twin.forall(t => t._2 == t._1 + 10000L && t._3 == 0L),
      s"scaled twins not at Hamming 0: ${twin.toSeq}")
  }

  test("SQ8 scalar quantization: integer code-dot shortlist + exact " +
      "rerank recovers brute top-k; exact duplicate ranks first") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    val rows = for (l <- 0 until 10; i <- 0 until 50) yield
      (l * 50L + i, centers(l).map(_ + 0.25 * rnd.nextGaussian()).toSeq)
    val corpus = rows.toDF("vec_id", "embedding").localCheckpoint(true)
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val k = 10
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(graft.operators.Similarity
      .bruteForceTopK(corpus, queries, "vec_id", "embedding", k))
    val sq = hits(graft.operators.Similarity
      .sq8TopK(corpus, queries, "vec_id", "embedding", k,
        shortlist = 60))
    val recall = (exact & sq).size.toDouble / exact.size
    assert(recall >= 0.9, f"sq8 recall $recall%.3f < 0.9")
    // exact duplicates share codes and win the exact rerank at rank 1
    val twins = rows.take(3).map { case (id, v) => (id + 10000L, v) }
    val both = corpus.select(col("vec_id"), col("embedding"))
      .unionByName(twins.toDF("vec_id", "embedding"))
      .localCheckpoint(true)
    val top1 = graft.operators.Similarity
      .sq8TopK(both, both.where(col("vec_id") >= 10000L),
        "vec_id", "embedding", k = 1, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("id"),
        r.getAs[Double]("sim")))
    assert(top1.forall(t => t._2 == t._1 - 10000L && t._3 > 0.9999),
      s"duplicate twins not recovered at rank 1: ${top1.toSeq}")
  }

  test("xs10 IVF×PQ: recall >= 0.9 vs brute force on clustered corpus; " +
      "more probes never hurt") {
    import spark.implicits._
    // same clustered recipe as the PQ-rerank gate: 10 centers × 50
    // satellites. IVF cells ≈ the planted clusters; residual PQ codes
    // + per-cell ADC shortlist the home cell's members, exact rerank
    // restores brute-force order within the shortlist.
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    val rows = for (l <- 0 until 10; i <- 0 until 50) yield
      (l * 50L + i, centers(l).map(_ + 0.25 * rnd.nextGaussian()).toSeq)
    val corpus = rows.toDF("vec_id", "embedding").localCheckpoint(true)
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val k = 10
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(graft.operators.Similarity
      .bruteForceTopK(corpus, queries, "vec_id", "embedding", k))
    def ivfpq(nprobe: Int) = hits(graft.operators.Similarity
      .ivfPqTopK(corpus, queries, "vec_id", "embedding", k,
        nlist = 10, nprobe = nprobe, m = 8, ksub = 16, shortlist = 60))
    val r3 = (exact & ivfpq(3)).size.toDouble / exact.size
    assert(r3 >= 0.9, f"ivfpq recall $r3%.3f < 0.9 at nprobe=3")
    val rAll = (exact & ivfpq(10)).size.toDouble / exact.size
    assert(rAll >= r3,
      f"probing every cell ($rAll%.3f) must not lose vs nprobe=3 ($r3%.3f)")
    // the large-nlist assignment path: two-level coarse quantizer
    // (O(sqrt(K)) per row) must hold the recall bar too
    val tl = hits(graft.operators.Similarity
      .ivfPqTopK(corpus, queries, "vec_id", "embedding", k,
        nlist = 10, nprobe = 3, m = 8, ksub = 16, shortlist = 60,
        twoLevel = true))
    val rTl = (exact & tl).size.toDouble / exact.size
    assert(rTl >= 0.9, f"two-level ivfpq recall $rTl%.3f < 0.9")
  }

  test("substring dedup: cross-doc spans, periodic self-dups, islands") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz"),   // all grams first occurrences
      // shares the 22-char run abc..v with doc 1: every interior
      // 10-gram is a dup; overlapping spans must merge to ONE island
      // [3, 25) leaving only the XX/YY sentinels
      (2L, "XXabcdefghijklmnopqrstuvYY"),
      // period-10 text: positions 11..21 duplicate 1..11 → one island
      // [11, 31), the canonical repeated-content collapse
      (3L, "012345678901234567890123456789"),
      (4L, "short")                          // below window: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", l = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((0L, 0L, "abcdefghijklmnopqrstuvwxyz")))
    assert(out(2L) == ((1L, 22L, "XXYY")))
    assert(out(3L) == ((1L, 20L, "0123456789")))
    assert(out(4L) == ((0L, 0L, "short")))
    // disjoint-island invariant: removed == len(text) - len(clean)
    out.foreach { case (id, (_, removed, clean)) =>
      val orig = Map(1L -> 26, 2L -> 26, 3L -> 30, 4L -> 5)(id)
      assert(removed == orig - clean.length)
    }
  }

  test("substring dedup equals brute force on a dup-dense corpus") {
    import spark.implicits._
    // 2-letter alphabet forces heavy 8-gram sharing; brute force
    // replays the contract with a first-seen map + island merge
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 30L).map(id =>
      (id, (1 to 40).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString))
    val l = 8
    val seen = scala.collection.mutable.Map.empty[String, Long]
    val expected = corpus.map { case (id, txt) =>
      val spans = scala.collection.mutable.Buffer.empty[(Int, Int)]
      for (p <- 1 to txt.length - l + 1) {
        val g = txt.substring(p - 1, p - 1 + l)
        val key = id * 1000000000L + p
        val first = seen.getOrElseUpdate(g, key)
        if (key > first) spans += ((p, p + l))
      }
      // island merge (touching spans merge) + cut
      val merged = spans.sortBy(_._1).foldLeft(
        List.empty[(Int, Int)]) {
        case (acc @ ((s0, e0) :: rest), (s, e)) =>
          if (s <= e0) (s0, math.max(e0, e)) :: rest else (s, e) :: acc
        case (Nil, sp) => sp :: Nil
      }.reverse
      val clean = {
        val sb = new StringBuilder; var p = 1
        merged.foreach { case (s, e) =>
          sb ++= txt.substring(p - 1, s - 1); p = e }
        sb ++= txt.substring(math.min(p - 1, txt.length)); sb.toString
      }
      (id, merged.size.toLong,
        merged.map { case (s, e) => (e - s).toLong }.sum, clean)
    }
    val got = Dedup.substringDedup(
        corpus.toDF("doc_id", "text"), "doc_id", "text", l = l)
      .orderBy("doc_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)
  }

  test("random projection: deterministic, JL norm bounds, and planted " +
      "duplicates survive the projected space") {
    val emb = T.t(spark, sf0001, "embeddings")
    val proj = Similarity.randomProject(emb, "embedding", k = 16)

    // determinism: two independent evaluations are value-identical
    val a = proj.orderBy("vec_id").collect().map(_.toSeq)
    val b = Similarity.randomProject(emb, "embedding", 16)
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(a.sameElements(b))

    // JL norm preservation: E[||p||²] = ||v||² with std ≈ √(2/k)·||v||²
    // — every vector's ratio must land in a wide-but-meaningful band
    val ratios = proj.select(col("vec_id"),
        TextFns.dot(col("embedding"), col("embedding")).as("pn"))
      .join(emb.select(col("vec_id"),
        TextFns.dot(col("embedding"), col("embedding")).as("vn")), "vec_id")
      .select(col("pn") / col("vn")).collect().map(_.getDouble(0))
    assert(ratios.nonEmpty)
    assert(ratios.forall(r => r > 0.15 && r < 3.0),
      s"JL norm ratio out of band: min=${ratios.min} max=${ratios.max}")

    // an exact duplicate vector pair projects to the exact same point,
    // so projected brute-force top-1 finds the planted twin
    import spark.implicits._
    val twin = emb.limit(1).select(lit(100000L).as("vec_id"),
      col("embedding"), col("label"))
    val planted = emb.unionByName(twin)
    val top1 = Similarity.bruteForceTopK(
        Similarity.randomProject(planted, "embedding", 16),
        Similarity.randomProject(twin, "embedding", 16),
        "vec_id", "embedding", k = 1)
      .select("id", "sim").collect()
    assert(top1.length == 1)
    assert(math.abs(top1(0).getDouble(1) - 1.0) < 1e-12,
      "projected twin must be found at cosine 1")
  }

  test("xp3 JL near-dup pipeline: projected-space pairs recover most " +
      "original-space pairs (the JL trade, quantified)") {
    val corpus = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      T.t(spark, sf0001, "embeddings")).localCheckpoint(true)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val orig = pairSet(Dedup.embeddingNearDupsLSHAuto(
      corpus, "id", "v", threshold = 0.9))
    val proj = pairSet(Dedup.embeddingNearDupsLSHAuto(
      Similarity.randomProject(corpus, "v", 16), "id", "v",
      threshold = 0.9))
    assert(orig.nonEmpty)
    val recall = (proj & orig).size.toDouble / orig.size
    assert(recall >= 0.8,
      s"JL-projected pair recall $recall < 0.8 (orig=${orig.size}, " +
        s"proj=${proj.size})")
  }

  test("bigram LM perplexity: in-model (src0) docs score lower NLL " +
      "than out-of-model docs") {
    val out = graft.SparkEntry.queries("xt17_lm_perplexity")(spark, sf001)
      .join(T.t(spark, sf001, "documents").select("doc_id", "source"),
        "doc_id")
    val rows = out.select(col("source") === "src0", col("nll"),
        col("ppl")).collect()
    assert(rows.forall(_.getDouble(2) > 0), "perplexity must be positive")
    val inM = rows.filter(_.getBoolean(0)).map(_.getDouble(1))
    val outM = rows.filterNot(_.getBoolean(0)).map(_.getDouble(1))
    assert(inM.nonEmpty && outM.nonEmpty)
    assert(inM.sum / inM.length < outM.sum / outM.length,
      "training-slice docs must have lower mean NLL than held-out docs")
  }

  test("NB quality classifier: separates its own training slices and " +
      "pred == (log_odds > 0)") {
    val out = graft.SparkEntry.queries("xt18_nb_quality")(spark, sf001)
      .join(T.t(spark, sf001, "documents").select("doc_id", "source"),
        "doc_id")
    val rows = out.select("source", "log_odds", "pred").collect()
    // (r4-rounded log_odds can land exactly on 0.0 for |raw| < 5e-5 —
    // compare the sign only away from the rounding boundary)
    rows.filter(r => math.abs(r.getDouble(1)) > 1e-3)
      .foreach(r => assert((r.getDouble(1) > 0) == (r.getInt(2) == 1)))
    val train = rows.filter(r =>
      r.getString(0) == "src0" || r.getString(0) == "src1")
    val correct = train.count(r =>
      (r.getString(0) == "src0") == (r.getInt(2) == 1))
    assert(train.nonEmpty)
    // 0.82 measured on the current word-soup testdata; gate at 0.7 so
    // a driver testdata regeneration (same distribution, new draw)
    // can't flip the suite red
    assert(correct.toDouble / train.length >= 0.7,
      s"NB train accuracy ${correct.toDouble / train.length} < 0.7")
  }

  test("bloom filter: no false negatives, partitioning-invariant bitset, " +
      "low measured FP rate") {
    import spark.implicits._
    val members = (0 until 2000).map(i => s"member-$i")
    val bloom1 = members.toDF("s").repartition(1)
      .agg(Sketches.bloomAgg(col("s"), 1 << 17, 5).as("bf"))
    val bloom7 = members.toDF("s").repartition(7)
      .agg(Sketches.bloomAgg(col("s"), 1 << 17, 5).as("bf"))
    val b1 = bloom1.collect()(0).getAs[Array[Byte]](0)
    val b7 = bloom7.collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(b1, b7),
      "bloom bitset must be bit-identical across partitionings")
    val probes = members.toDF("s")
      .unionAll((0 until 20000).map(i => s"absent-$i").toDF("s"))
      .crossJoin(broadcast(bloom1))
      .select(col("s"),
        Sketches.bloomMightContain(col("bf"), col("s"), 5).as("hit"))
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    assert(probes.filter(_._1.startsWith("member")).forall(_._2),
      "bloom must never miss an inserted member")
    val fp = probes.filter(_._1.startsWith("absent")).count(_._2)
    // m/n = 65.5 bits/item, k=5 -> theoretical FP ~ 2e-5; gate loosely
    assert(fp <= 20, s"bloom FP rate implausibly high: $fp / 20000")
  }

  test("bloom decontamination == exact decontamination bit for bit") {
    val split = docs.select(col("doc_id"), col("text"),
      Scale.splitLabel(col("doc_id").cast("string")).as("split"))
    val train = split.where(col("split") === "train")
    val bench = split.where(col("split") === "test")
    val exact = Decontaminate.overlapReport(train, bench,
      "doc_id", "text", n = 4).orderBy("train_id").collect()
    val bloomed = Decontaminate.bloomOverlapReport(train, bench,
      "doc_id", "text", n = 4).orderBy("train_id").collect()
    assert(exact.nonEmpty, "testdata is expected to contain contamination")
    assert(exact.toSeq == bloomed.toSeq)
    // and with broadcasts disabled the verify join still matches —
    // the shuffle-join regime the operator is designed for
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val noBc = Decontaminate.bloomOverlapReport(train, bench,
        "doc_id", "text", n = 4).orderBy("train_id").collect()
      assert(exact.toSeq == noBc.toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("misra-gries: no-miss guarantee on a Zipf stream whose vocabulary " +
      "dwarfs the capacity, across partitionings") {
    import spark.implicits._
    // Zipf-ish: item i appears ceil(3000/i) times, i in 1..3000 ->
    // N ~ 3000*H(3000) ~ 25k, vocab 3000 >> capacity 64
    val stream = (1 to 3000).flatMap(i =>
      Seq.fill(math.ceil(3000.0 / i).toInt)(f"item-$i%05d"))
    val n = stream.size.toLong
    val capacity = 64
    val mustKeep = stream.groupBy(identity).view.mapValues(_.size)
      .filter { case (_, c) => c > n / (capacity + 1) }.keys.toSet
    assert(mustKeep.size > 5, "test needs a nontrivial heavy set")
    for (parts <- Seq(1, 4, 13)) {
      val cands = stream.toDF("g").repartition(parts)
        .agg(Sketches.misraGries(col("g"), capacity).as("c"))
        .collect()(0).getSeq[String](0).toSet
      assert(cands.size <= capacity)
      assert(mustKeep.subsetOf(cands),
        s"MG($capacity) on $parts partitions missed heavy items: " +
          (mustKeep -- cands).take(5))
    }
  }

  test("BM25 retrieval: rare-term query ranks the unique containing doc " +
      "first; results partitioning-invariant") {
    import spark.implicits._
    // 40 filler docs over a common vocab + one doc carrying a rare
    // term; a query containing that term must rank it first (IDF of
    // the rare term dominates every common-term contribution)
    val filler = (0 until 40).map(i =>
      (i.toLong, "alpha beta gamma delta " + ("alpha beta " * (i % 3))))
    val special = Seq((99L, "alpha zzyzx beta gamma"))
    val corpus = (filler ++ special).toDF("doc_id", "text")
    val queries = Seq((0L, "zzyzx"), (0L, "alpha"), (1L, "beta"))
      .toDF("qid", "w")
    val top = Retrieval.bm25TopK(corpus, "doc_id", "text", queries, 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(top.filter(_._1 == 0L).minBy(_._2)._3 == 99L,
      "rare-term query must retrieve the unique containing doc first")
    val again = Retrieval.bm25TopK(corpus.repartition(7), "doc_id",
      "text", queries.repartition(2), 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(top.toSeq == again.toSeq,
      "retrieval must be independent of input partitioning")
  }

  test("MaxScore BM25 == brute BM25 bit-for-bit, and prunes: candidate " +
      "volume strictly below brute scored volume on a skew corpus") {
    import spark.implicits._
    // Skew corpus: every doc carries the common filler vocab (df =
    // corpus size ⇒ near-zero idf ⇒ tiny impact bounds); each doc
    // also carries one group term shared by 8 docs (df = 8 > k, so
    // the θ seed pool fills from the rare list alone). Queries mix
    // one group term with common ones → θ ≈ a group-doc score dwarfs
    // the common terms' SUMMED bounds → the common lists become
    // non-essential and their docs never reach exact scoring.
    val corpus = (0 until 120).map { i =>
      (i.toLong, s"alpha beta gamma delta grp${i / 8} " +
        ("alpha beta gamma " * (i % 4)))
    }.toDF("doc_id", "text")
    val queries = Seq(
      (0L, "grp1"), (0L, "alpha"), (0L, "beta"),
      (1L, "grp5"), (1L, "gamma"), (1L, "delta"),
      (2L, "alpha"), (2L, "beta")  // all-common query: no pruning,
                                   // still must equal brute
    ).toDF("qid", "w")
    val k = 3
    val brute = Retrieval.bm25TopK(corpus, "doc_id", "text", queries, k)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val parts = Retrieval.maxScoreParts(corpus, "doc_id", "text",
      queries, k)
    val pruned = parts.result.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(pruned == brute,
      "MaxScore must reproduce the brute ranking exactly")
    // work counter: brute scores every (qid, doc) with any query-term
    // posting; MaxScore scores only docs holding an essential-term
    // posting. On this corpus the rare-term queries must shed the
    // common lists entirely.
    val bruteVol = parts.impacts
      .join(broadcast(queries.select("qid", "w")), "w")
      .select("qid", "doc_id").distinct().count()
    val candVol = parts.candDocs.count()
    assert(candVol < bruteVol,
      s"pruning must cut scored volume: cand=$candVol brute=$bruteVol")
    // rare-term queries keep only the rare posting's doc as candidate
    // work beyond the θ seed; the all-common query stays brute
    val candQ0 = parts.candDocs.where(col("qid") === 0L).count()
    val bruteQ0 = parts.impacts
      .join(broadcast(queries.where(col("qid") === 0L)
        .select("qid", "w")), "w")
      .select("qid", "doc_id").distinct().count()
    assert(candQ0 < bruteQ0,
      s"rare-term query must prune: cand=$candQ0 brute=$bruteQ0")
    // partitioning invariance (the bm25TopK contract, inherited)
    val again = Retrieval.maxScoreTopK(corpus.repartition(7), "doc_id",
      "text", queries.repartition(2), k)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(pruned == again,
      "MaxScore must be independent of input partitioning")
  }

  test("heavyHitters == naive exact count on every partitioning") {
    import spark.implicits._
    val stream = (1 to 500).flatMap(i =>
      Seq.fill(math.ceil(500.0 / i).toInt)(f"w$i%04d"))
    val naive = {
      val n = stream.size
      stream.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * 50 >= n }.toSeq
        .sortBy { case (g, c) => (-c, g) }
    }
    assert(naive.size > 3)
    for (parts <- Seq(1, 8)) {
      val got = Sketches.heavyHitters(
          stream.toDF("g").repartition(parts), "g",
          denom = 50L, capacity = 128)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == naive, s"heavyHitters mismatch on $parts partitions")
    }
  }

  test("chunked heavy hitters == one-shot on every chunking (QS14: " +
      "in-plan MG summary-of-summaries fold keeps the no-miss bound)") {
    val oneShot = graft.operators.Sketches.heavyHitters(
        docs.select(explode(
          graft.functions.TextFns.tokens(col("text"))).as("g")),
        "g", denom = 1000L, capacity = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(oneShot.nonEmpty)
    for (bounds <- Seq(Seq(250L), Seq(150L, 400L),
        Seq(100L, 200L, 300L, 400L))) {
      val chunked = graft.streaming.Streams.heavyHittersChunked(
          docs, bounds)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(chunked == oneShot, s"chunking $bounds changed the result")
    }
  }

  test("xd13 normalization chain: composed==decomposed accents, " +
      "width variants, punct/space noise collapse to one survivor") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "Café au lait"),           // é composed (U+00E9)
      (2L, "Café au lait"),          // e + combining acute
      (3L, "Ｃａｆｉ au lait"),  // Ｃａｆｉ — different!
      (4L, "CAFÉ   au,, lait!!"),     // case + punct + space noise
      (5L, "café　au　lait"), // ideographic spaces
      (6L, "ＣＡＦＥ AU LAIT"), // ＣＡＦＥ full-width
      (7L, "cafe au lait"),                // no accent — distinct key
      (8L, "unrelated text")
    ).toDF("doc_id", "text")
    val norm = fixture
      .select(col("doc_id"), Dedup.ccnetNormalize(col("text")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "café au lait")
    assert(norm(2L) == norm(1L), "NFC must merge composed/decomposed")
    assert(norm(4L) == norm(1L), "casefold+punct+space must collapse")
    assert(norm(5L) == norm(1L), "ideographic space must fold")
    assert(norm(6L) == norm(7L), "full-width must fold to ASCII")
    assert(norm(3L) != norm(1L), "different letters must NOT merge")
    val surv = Dedup.normalizedDedup(fixture, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(surv == Map(1L -> 4L, 3L -> 1L, 6L -> 2L, 8L -> 1L),
      s"unexpected survivors: $surv")
    // the chain FEEDS the existing dedup family: exactDedup over the
    // normalized column sees the same four groups
    val viaExact = Dedup.exactDedup(
        fixture.withColumn("text", Dedup.ccnetNormalize(col("text"))),
        "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaExact == Seq(1L, 3L, 6L, 8L))
  }

  test("xt23 char-trigram language ID: >=0.9 accuracy on planted " +
      "languages incl. a spaceless CJK-style script") {
    import spark.implicits._
    import graft.operators.LangId
    // four planted "languages" with genuinely distinct character
    // distributions; the CJK-style one has NO spaces — the case word
    // tokenization is blind to
    val rnd = new scala.util.Random(3)
    val alphabets = Map(
      "aa" -> "etaoinshrdlu ",
      "bb" -> "äöüßqwxyzkjv ",
      "cc" -> "áéíóúñçàèùâê ",
      "dd" -> "你好世界语言文字模型数据") // spaceless
    def doc(lang: String): String = {
      val a = alphabets(lang)
      (0 until 120).map(_ => a(rnd.nextInt(a.length))).mkString
    }
    val rows = for (l <- alphabets.keys.toSeq.sorted; i <- 0 until 30)
      yield (alphabets.keys.toSeq.sorted.indexOf(l) * 100L + i, l, doc(l))
    val df = rows.toDF("doc_id", "lang", "text").localCheckpoint(true)
    val train = df.where(col("doc_id") % 100 < 20)
    val test = df.where(col("doc_id") % 100 >= 20)
    val pred = LangId.classify(test, LangId.fit(train))
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val truth = test.select("doc_id", "lang").as[(Long, String)]
      .collect().toMap
    val acc = truth.count { case (id, l) => pred.get(id).contains(l) }
      .toDouble / truth.size
    assert(acc >= 0.9, f"planted-language accuracy $acc%.2f < 0.9")
    // the spaceless script specifically must classify
    val ddOk = truth.filter(_._2 == "dd")
      .count { case (id, l) => pred.get(id).contains(l) }
    assert(ddOk >= 9, s"spaceless-script docs correct: $ddOk/10")
  }

  test("xt22 RRF fusion: agreement outranks either arm alone, missing " +
      "arms contribute 0, ties break by id") {
    import spark.implicits._
    import graft.operators.Retrieval
    // q0: doc 7 is rank 2 in BOTH arms; doc 1 is rank 1 sparse-only,
    // doc 9 rank 1 dense-only. 2/62 > 1/61, so agreement must win.
    val sparse = Seq((0L, 1L, 1), (0L, 7L, 2), (0L, 3L, 3)).toDF("qid", "id", "rnk")
    val dense = Seq((0L, 9L, 1), (0L, 7L, 2), (0L, 4L, 3)).toDF("qid", "id", "rnk")
    val got = Retrieval.rrfFuse(sparse, dense, k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.head._2 == 7L, s"agreed doc must rank first: ${got.toSeq}")
    assert(math.abs(got.head._3 - math.floor(
      (1.0 / 62 + 1.0 / 62) * 10000 + 0.5) / 10000) < 1e-12)
    // 1 and 9 both score 1/61 — tie broken by id: 1 before 9
    assert(got.map(_._2).toSeq == Seq(7L, 1L, 9L, 3L, 4L))
  }

  test("xt21 URL canonicalization: targeted rule coverage, and the " +
      "whole chain is a join-free narrow map") {
    import spark.implicits._
    import graft.operators.Urls
    val cases = Seq(
      // scheme+host case, www, default http port, fragment
      ("HTTP://WWW.News.Example.COM:80/a/b#frag",
        "http://news.example.com/a/b", "news.example.com"),
      // https default port dropped, explicit non-default kept
      ("https://Site.ORG:443/x", "https://site.org/x", "site.org"),
      ("https://site.org:8443/x", "https://site.org:8443/x", "site.org"),
      // http with https' default port: NOT default for http — kept
      ("http://a.b:443/x", "http://a.b:443/x", "a.b"),
      // path: //, /./, one ../ climb, trailing slash; query kept
      ("http://h.io/a//b/c", "http://h.io/a/b/c", "h.io"),
      ("http://h.io/a/./b?q=1#f", "http://h.io/a/b?q=1", "h.io"),
      ("http://h.io/a/skip/../b/", "http://h.io/a/b", "h.io"),
      // multi-level, adjacent, leading, and trailing climbs (ADVICE
      // r8: the single-pass replace left these unresolved)
      ("http://h.io/a/b/../../c", "http://h.io/c", "h.io"),
      ("http://h.io/x/../y/../z", "http://h.io/z", "h.io"),
      ("http://h.io/../a", "http://h.io/a", "h.io"),
      ("http://h.io/a/b/..", "http://h.io/a", "h.io"),
      ("http://h.io/./././a", "http://h.io/a", "h.io"),
      ("http://h.io/u/v/../../w/d", "http://h.io/w/d", "h.io"),
      ("http://h.io/", "http://h.io/", "h.io"),
      // www only strips as a PREFIX label
      ("http://wwwx.io/p", "http://wwwx.io/p", "wwwx.io"))
    val got = cases.map(_._1).toDF("u")
      .select(Urls.canonicalUrl(col("u")).as("url"),
        Urls.canonicalHost(col("u")).as("host"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    cases.zip(got).foreach { case ((raw, wantU, wantH), (gu, gh)) =>
      assert(gu == wantU, s"$raw canonicalized to $gu, want $wantU")
      assert(gh == wantH, s"$raw host $gh, want $wantH")
    }
    val plan = docs
      .select(Urls.canonicalUrl(
        Urls.syntheticUrl(col("doc_id"), col("source"))).as("url"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"xt21 must be a join-free narrow map:\n$plan")
  }

  test("quantile sketch invariants: every mark's [rmin,rmax] intersects " +
      "its value's true rank range on ANY merge tree (xk13 core)") {
    import graft.operators.QuantileSketch
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 30) {
      val n = 200 + rnd.nextInt(3000)
      val s = Seq(16, 64, 256)(trial % 3)
      // duplicates + skew: values from a small-ish discrete domain
      val data = Array.fill(n)(
        math.floor(rnd.nextDouble() * (10 + rnd.nextInt(500))) / 7.0)
      // random partitioning into 1..12 chunks, random pairwise merges
      val parts = 1 + rnd.nextInt(12)
      val bufs = scala.collection.mutable.Buffer.tabulate(parts) { p =>
        val b = new QuantileSketch.Buf(s)
        data.zipWithIndex.filter(_._2 % parts == p)
          .foreach { case (v, _) => b.add(v) }
        b
      }
      while (bufs.length > 1) {
        val i = rnd.nextInt(bufs.length - 1)
        bufs(i).absorb(bufs.remove(i + 1))
      }
      val sum = bufs.head.summary
      assert(sum.n == n)
      assert(sum.marks.length <= s,
        s"summary exceeded its size bound: ${sum.marks.length} > $s")
      val sorted = data.sorted
      def countLt(v: Double) = sorted.count(_ < v).toLong
      def countLe(v: Double) = sorted.count(_ <= v).toLong
      sum.marks.foreach { m =>
        assert(countLe(m.v) >= m.rmin,
          s"I1 broke: count(<=${m.v})=${countLe(m.v)} < rmin=${m.rmin}")
        assert(countLt(m.v) + 1 <= m.rmax,
          s"I2 broke: count(<${m.v})+1=${countLt(m.v) + 1} > ${m.rmax}")
      }
      // bracket enclosure for a spread of target ranks
      for (r <- Seq(1L, n / 4L, n / 2L, 3L * n / 4, n.toLong)) {
        val target = sorted((r - 1).toInt)
        val (a, b) = sum.bracket(r)
        a.foreach(av => assert(av <= target,
          s"bracket lower $av > ${r}th smallest $target"))
        b.foreach(bv => assert(bv >= target,
          s"bracket upper $bv < ${r}th smallest $target"))
      }
    }
  }

  test("exact quantiles via sketch == full-sort QUANTILE_CONT, any " +
      "summary size / chunking; candidate volume stays ~n/s (xk13/qs15)") {
    import org.apache.spark.sql.expressions.Window
    val li = T.t(spark, sf0001, "lineitem")
    val ps = Seq(0.5, 0.9, 0.99)
    // ground truth: the q32 full-sort window formulation
    val price = col("l_extendedprice")
    val ranked = li.select(col("l_returnflag"), price)
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("l_returnflag"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(price)))
    def pct(p: Double) = {
      val pos = lit(p) * (col("n") - 1)
      val loIdx = floor(pos) + 1
      val loV = max(when(col("rn") === loIdx, price))
      val hiV = coalesce(max(when(col("rn") === loIdx + 1, price)), loV)
      round(loV + min(pos - floor(pos)) * (hiV - loV), 4)
    }
    val truth = ranked.groupBy("l_returnflag")
      .agg(pct(0.5).as("q0"), pct(0.9).as("q1"), pct(0.99).as("q2"))
      .collect()
      .flatMap(r => ps.indices.map(i =>
        (r.getString(0), i) -> r.getDouble(1 + i))).toMap
    assert(truth.nonEmpty)
    for (s <- Seq(64, 512)) {
      val got = graft.operators.Quantiles.exactQuantiles(
          li, Seq("l_returnflag"), "l_extendedprice", ps, s)
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
      assert(got == truth, s"sketch path diverged from full sort at s=$s")
    }
    // chunked (qs15) == one-shot on two different chunkings
    for (mod <- Seq(3, 7)) {
      val got = graft.operators.Quantiles.exactQuantilesChunked(
          li, pmod(col("l_orderkey"), lit(mod)),
          Seq("l_returnflag"), "l_extendedprice", ps, s = 512)
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
      assert(got == truth, s"chunking %$mod changed the result")
    }
    // the scale claim: brackets enclose ~n/s candidates, not the group
    val s = 512
    val sums = li.groupBy("l_returnflag")
      .agg(graft.operators.Quantiles
        .quantileSketch(price.cast("double"), s).as("qs"))
      .collect()
      .map(r => r.getString(0) ->
        graft.operators.QuantileSketch.fromRow(r.getStruct(1)))
    val byFlag = li.select(col("l_returnflag"), price).collect()
      .groupBy(_.getString(0)).map { case (f, rows) =>
        f -> rows.map(_.getDouble(1)).sorted }
    sums.foreach { case (flag, sum) =>
      val vals = byFlag(flag)
      for (p <- ps) {
        val r = math.floor(p * (sum.n - 1)).toLong + 1
        val (a, b) = sum.bracket(r)
        val cand = vals.count(v =>
          a.forall(v >= _) && b.forall(v <= _))
        assert(cand <= 16 * sum.n / s + 16,
          s"$flag p=$p bracket holds $cand of ${sum.n} values " +
            s"(> 16n/s) — pruning degraded")
      }
    }
  }

  test("cdc containment catches an embedded doc that Jaccard misses") {
    import spark.implicits._
    val small = (1 to 60).map(i => s"embedded$i token$i").mkString(" ")
    val filler = (1 to 400).map(i => s"host$i word$i").mkString(" ")
    val docs = Seq(
      (1L, small),              // the embedded document
      (2L, small + " " + filler), // host: small at the front + bulk
      (3L, "unrelated " + (1 to 50).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.cdcContainmentPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val hit = pairs.get((1L, 2L))
    assert(hit.isDefined, s"embedded pair missed: $pairs")
    val (ix, na, _) = hit.get
    // CDC boundary re-sync: nearly all of doc 1's chunks recur in 2
    assert(ix.toDouble / na >= 0.8, s"containment too low: $hit")
    // symmetric word-3-gram Jaccard at the same 0.5 threshold does
    // NOT surface the pair — the size gap drowns it
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)),
      "Jaccard unexpectedly caught the embedded pair — weaken the test")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("c4 cleaning: every rule fires on crafted fixtures") {
    import spark.implicits._
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      // 4 clean 12-word lines → kept
      (1L, (1 to 4).map(i => words(12, s"a$i")).mkString(" ")),
      // line 2 carries "javascript" → that LINE drops, doc keeps 3
      (2L, words(12, "b1") + " javascript " + words(11, "b2") + " " +
        words(12, "b3") + " " + words(12, "b4")),
      // "lorem ipsum" anywhere kills the PAGE despite 4 clean lines
      (3L, "lorem ipsum " + (1 to 4).map(i => words(12, s"c$i"))
        .mkString(" ")),
      // "{" anywhere kills the page
      (4L, (1 to 4).map(i => words(12, s"d$i")).mkString(" ") + " {x"),
      // short doc: 1 full line + 2-word tail (min-words drops the
      // tail) → below the 3-surviving-lines floor
      (5L, words(14, "e")),
      // exact duplicate of doc 1's first line → dropped_dup here
      (6L, words(12, "a1") + " " + (1 to 3).map(i => words(12, s"f$i"))
        .mkString(" ")),
      // whitespace-only and empty docs: ZERO windows → absent from
      // the output entirely (matches the oracle's empty RANGE; the
      // unguarded sequence(0, -1) used to fabricate 2 phantom rows)
      (7L, "   \t  \n "),
      (8L, "")
    ).toDF("doc_id", "text")
    val r = Quality.c4Clean(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(7L) && !r.contains(8L),
      s"whitespace-only/empty docs must drop entirely: ${r.keySet}")
    assert(r(1L).getBoolean(5), "clean doc must be kept")
    assert(r(2L).getLong(2) >= 1 && r(2L).getBoolean(5) &&
      !r(2L).getString(6).contains("javascript"),
      s"javascript line must drop, doc keeps: ${r(2L)}")
    assert(!r(3L).getBoolean(5), "lorem ipsum page must drop")
    assert(!r(4L).getBoolean(5), "curly-brace page must drop")
    assert(!r(5L).getBoolean(5) && r(5L).getLong(2) == 1,
      s"short doc: tail line rule-dropped, page below floor: ${r(5L)}")
    assert(r(6L).getLong(3) == 1 &&
      !r(6L).getString(6).contains("a11 a12"),
      s"corpus-dup line must drop from the later doc: ${r(6L)}")
  }

  test("mmr rerank: the second pick escapes the near-duplicate " +
      "cluster a plain top-k returns") {
    import spark.implicits._
    import graft.operators.Similarity
    // query at 0°, near-dup cluster A at ~25°, diverse B at ~-25°:
    // all three candidates tie on relevance (~0.906), A1/A2 are
    // mutual near-copies (pair sim ~1), B is far from A (~0.64).
    val rows = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(0.906, 0.423)),
      (2L, Seq(0.907, 0.422)),
      (3L, Seq(0.906, -0.423)))
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.where(col("vec_id") === 0L)
    val cand = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .select(col("qid"), col("id"), col("sim"))
    // plain top-2 = the two near-copies
    val plain = cand.orderBy(col("sim").desc, col("id")).limit(2)
      .collect().map(_.getLong(1)).toSet
    assert(plain == Set(1L, 2L), s"fixture broken: $plain")
    val mmr = Similarity.mmrRerank(cand, emb, "vec_id", "embedding",
        k = 2)
      .orderBy("step").collect().map(_.getLong(2))
    assert(mmr.toSeq == Seq(2L, 3L),
      s"MMR must pick the diverse item second: ${mmr.toSeq}")
  }

  test("hll distinct: estimate within the published error band, " +
      "duplicate-insensitive, partitioning-invariant, LC branch on " +
      "small groups") {
    import spark.implicits._
    val big = (1 to 5000).map(i => ("big", s"val$i"))
    val dups = big ++ big ++ big // registers are MAX-folded: no change
    val small = (1 to 10).map(i => ("small", s"s$i"))
    val df = (dups ++ small).toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sketches.hllDistinct(d, "g", col("v"))
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
    val got = run(df)
    val bigEst = got.find(_._1 == "big").get._4
    // HLL σ ≈ 1.04/√m ≈ 6.5% at m=256; 4σ band
    assert(math.abs(bigEst - 5000) < 5000 * 0.26,
      s"estimate off: $bigEst vs 5000")
    // small group: linear counting is near-exact at n ≪ m
    val smallEst = got.find(_._1 == "small").get._4
    assert(math.abs(smallEst - 10) <= 1, s"LC branch off: $smallEst")
    // duplicates cannot move any register
    val once = run(big.toDF("g", "v"))
    assert(once.head._4 == bigEst)
    // partitioning invariance (MAX merge on any tree)
    assert(run(df.repartition(13)).toSeq == got.toSeq)
  }

  test("bloom paragraph dedup: exact dups never missed, first " +
      "occurrence survives, and a tiny filter yields counted false " +
      "positives") {
    import spark.implicits._
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, words(12, "a") + " " + words(12, "b")),
      // first window = exact copy of doc 1's first window
      (2L, words(12, "a") + " " + words(12, "c")),
      (3L, words(12, "d") + " " + words(12, "e"))
    ).toDF("doc_id", "text")
    // production-sized filter: zero false positives on 6 paragraphs
    val big = Dedup.bloomParaDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(big.toSeq == Seq((1L, 2L, 0L, 0L, 0L),
      (2L, 2L, 1L, 1L, 0L), (3L, 2L, 0L, 0L, 0L)), s"${big.toSeq}")
    // 8-bit filter: distinct paragraphs collide — false positives
    // fire and are counted as n_fp, never as n_exact_dup; the Bloom
    // no-false-negative law (dropped ⊇ exact dups) still holds, and
    // the globally first paragraph can never drop
    val tiny = Dedup.bloomParaDedup(docs, "doc_id", "text",
        mBits = 8, k = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(tiny.map(_._4).sum > 0, s"no fp at m=8: ${tiny.toSeq}")
    assert(tiny.forall(x => x._2 >= x._3),
      s"missed an exact dup: ${tiny.toSeq}")
    assert(tiny.head._2 < 2L, "doc 1's first paragraph dropped")
  }

  test("filtered ANN returns k true within-predicate neighbors where " +
      "post-filtering under-returns") {
    import spark.implicits._
    // two tight clusters; labels CROSS the cluster structure: the
    // query (id 0, label 1) sits in cluster A, whose occupants are
    // almost all label 0 — so the unfiltered top-3 is all label 0 and
    // post-filtering it returns NOTHING, while in-search filtering
    // finds the label-1 vectors (3 nearby in A, plus cluster B's).
    def v(x: Double, y: Double) = Seq(x, y)
    val rows =
      Seq((0L, v(1.00, 0.02), 1)) ++ // the query
      (1L to 6L).map(i => (i, v(1.0, 0.01 * i), 0)) ++ // A, label 0
      Seq((7L, v(0.98, 0.10), 1), (8L, v(0.97, 0.12), 1),
        (9L, v(0.96, 0.14), 1)) ++ // A, label 1 (further out)
      (10L to 14L).map(i => (i, v(0.05, 1.0 + 0.01 * i), 1)) // B
    val emb = rows.toDF("vec_id", "embedding", "label")
    val cents = Seq(0L -> Seq(1.0, 0.05), 1L -> Seq(0.05, 1.0))
    val q = emb.where(col("vec_id") === 0L)
    val filtered = Similarity.ivfTopKFilteredWith(emb, q,
        "vec_id", "embedding", "label", k = 3, cents, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank")))
    assert(filtered.length == 3, s"under-returned: ${filtered.toSeq}")
    val labelOf = rows.map(r => r._1 -> r._3).toMap
    assert(filtered.forall(p => labelOf(p._1) == 1),
      s"predicate violated: ${filtered.toSeq}")
    // post-filtering baseline: unfiltered top-3 ∩ label==1 is empty
    val unfiltered = Similarity.ivfTopKWith(emb, q,
        "vec_id", "embedding", k = 3, cents, nprobe = 2)
      .collect().map(_.getAs[Long]("id"))
    assert(unfiltered.forall(labelOf(_) == 0),
      s"planting broken: ${unfiltered.toSeq}")
    // and with all cells probed, filtered IVF == brute force over the
    // predicate subset (in-search filtering loses nothing)
    val brute = Similarity.bruteForceTopK(
        emb.where(col("label") === 1), q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSet
    assert(filtered.toSet == brute)
  }

  test("kneser-ney backs off to CONTINUATION counts (the Francisco " +
      "property), opposite to xt17's raw-frequency backoff") {
    import spark.implicits._
    // ref corpus: "francisco" is FREQUENT (4 occurrences) but follows
    // only one context ("san"); "cat" is rarer (3) but follows three
    // distinct contexts. After a novel context, KN must prefer cat.
    val docs = Seq(
      (0L, "san francisco san francisco san francisco san francisco",
        "en", "src0"),
      (1L, "the cat sat", "en", "src0"),
      (2L, "a cat ran", "en", "src0"),
      (3L, "my cat is", "en", "src0"),
      (10L, "qq francisco", "en", "src1"), // unseen context qq
      (11L, "qq cat", "en", "src1")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("kn").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def nll(q: String): Map[Long, Double] =
      SparkEntry.queries(q)(spark, dir)
        .where(col("doc_id") >= 10L).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val kn = nll("xt27_kneser_ney")
    assert(kn(10L) > kn(11L),
      s"KN must penalize low-continuation francisco: $kn")
    // and the absolute-discount/add-1 model (raw backoff counts:
    // francisco 4 > cat 3) orders the same pair the other way —
    // proving xt27 is a genuinely different smoothing, not a rename
    val ad = nll("xt17_lm_perplexity")
    assert(ad(10L) < ad(11L),
      s"xt17 raw-frequency backoff should favor francisco: $ad")
  }

  test("cdc chunks: lossless reassembly + the boundary re-sync property") {
    import spark.implicits._
    // a text long enough to carry several content-defined cuts
    val base = (1 to 60).map(i => s"sentence number $i with payload")
      .mkString(" ")
    def chunksOf(s: String): Seq[(Int, String)] =
      Seq(s).toDF("text")
        .select(explode(HashFns.cdcChunks(col("text"))).as("c"))
        .select(col("c.pos"), col("c.chunk")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
    val cs = chunksOf(base)
    // lossless: chunks concatenate back to the input, positions chain
    assert(cs.map(_._2).mkString == base)
    assert(cs.scanLeft(0)((acc, c) => acc + c._2.length).init ==
      cs.map(_._1))
    assert(cs.length >= 5, s"expected several cuts, got ${cs.length}")

    // THE content-defined property (why CDC beats fixed-size blocks):
    // prepend a prefix and the cut positions re-synchronize — every
    // boundary of the original ≥ one window past the edit is still a
    // boundary of the shifted text, so downstream chunk dedup still
    // matches the unshifted copy's chunks.
    val prefix = "EDIT AT FRONT: "
    val shifted = chunksOf(prefix + base)
    val origCuts = cs.map(_._1).drop(1) // interior cut positions
    val shiftedCuts = shifted.map(_._1).drop(1).map(_ - prefix.length).toSet
    val resync = origCuts.filter(_ >= 16 + prefix.length)
    assert(resync.nonEmpty && resync.forall(shiftedCuts.contains),
      s"boundaries did not re-sync: $resync vs $shiftedCuts")
    // and the shared suffix chunks are literally identical text
    val shared = cs.map(_._2).toSet.intersect(shifted.map(_._2).toSet)
    assert(shared.size >= cs.length - 2, "shifted copy shares no chunks")
  }

  test("cdc dedup stats: planted duplicate block is charged to the copy") {
    import spark.implicits._
    val block = (1 to 40).map(i => s"shared block word $i").mkString(" ")
    val docs = Seq(
      (1L, s"unique head one $block"),
      (2L, s"a different and much longer preamble text here $block"),
      (3L, "entirely unrelated content with no repeats at all")
    ).toDF("doc_id", "text")
    val got = Dedup.cdcDedupStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // doc 1 owns the block's first occurrence: zero dups there
    assert(got(0)._2 == 0L, s"doc1 charged: ${got(0)}")
    // doc 2's copy of the block dedups against doc 1 despite the
    // different-length preamble (fixed-size blocks would miss this)
    assert(got(1)._2 > 0L && got(1)._3 > block.length / 2,
      s"copy not detected: ${got(1)}")
    assert(got(2)._2 == 0L && got(2)._3 == 0L)
    // partitioning invariance (one shuffle on the chunk key)
    val rep = Dedup.cdcDedupStats(docs.repartition(5), "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rep.toSeq == got.toSeq)
  }

  test("xe6 gap quantiles: pinned ceil-rank selection, tie runs, " +
      "single-event keys absent") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    // user 1: events at 0,10,30,60,100s → gaps 10,20,30,40s (n=4):
    //   p50 rank (4+1) DIV 2 = 2 → 20s; p90 rank (36+9) DIV 10 = 4 → 40s
    // user 2: events at 0,5,10s → gaps 5,5 (tie run, n=2):
    //   p50 rank 1 → 5s; p90 rank (18+9) DIV 10 = 2 → 5s
    // user 3: one event → no gaps, absent
    val ev = (Seq((1L, 0), (2L, 10), (3L, 30), (4L, 60), (5L, 100))
        .map { case (id, s) => (id, ts(s), 1L) } ++
      Seq((6L, 0), (7L, 5), (8L, 10))
        .map { case (id, s) => (id, ts(s), 2L) } ++
      Seq((9L, ts(0), 3L)).map(identity))
      .toDF("event_id", "ts", "user_id")
    val got = graft.operators.Events
      .gapQuantiles(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      1L -> ((4L, 20000000L, 40000000L, 40000000L)),
      2L -> ((2L, 5000000L, 5000000L, 5000000L))), s"$got")
  }

  test("xt29 PII redaction: every class fires on planted fixtures, " +
      "chain order pins precedence, clean text unchanged") {
    import spark.implicits._
    import graft.operators.Quality
    val docs = Seq(
      (1L, "mail bob.smith+spam@sub.example.co.uk now"),
      (2L, "key 0123abcd-4567-89ef-AbCd-0123456789ab here"),
      (3L, "host 192.168.0.1 and 10.0.0.255 up"),
      (4L, "call +1 415-555-0199 or (303) 555-0188 or 212-555-0100"),
      // precedence: the IP-looking octets inside a UUID hex field and
      // the digits inside an email must NOT leak to later classes
      (5L, "x9@y12.org then 11112222-3333-4444-5555-666677778888"),
      (6L, "no pii here, just 42 plain words and v1.2 notation"))
      .toDF("doc_id", "text")
    val got = Quality.redactPii(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getString(5)))).toMap
    assert(got(1L) == ((1, 0, 0, 0, "mail <EMAIL> now")))
    assert(got(2L) == ((0, 1, 0, 0, "key <UUID> here")))
    assert(got(3L) == ((0, 0, 2, 0, "host <IP> and <IP> up")))
    assert(got(4L) == ((0, 0, 0, 3,
      "call <PHONE> or <PHONE> or <PHONE>")))
    assert(got(5L) == ((1, 1, 0, 0, "<EMAIL> then <UUID>")))
    assert(got(6L) == ((0, 0, 0, 0,
      "no pii here, just 42 plain words and v1.2 notation")))
  }

  test("sorted-neighborhood on one global hot key: window-bounded pair " +
      "volume n(w-1) - (w-1)w/2, one survivor, and pointer-jump rounds " +
      "grow by <= 3 when n doubles") {
    // hash blocking would enumerate ~n^2/2 pairs here; the pair graph
    // is one n-node chain that plain propagation needs ~n/(w-1) rounds for
    val w = 8
    def hot(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      lit("the exact same document text repeated on every row").as("text"))
    val legs = Seq(500L, 1000L).map { n =>
      val pairs = Dedup.sortedNeighborPairs(hot(n), "doc_id", "text",
        window = w).localCheckpoint(true)
      val np = pairs.count()
      assert(np == n * (w - 1) - (w - 1).toLong * w / 2, s"n=$n: $np pairs")
      val kept = Dedup.sortedNeighborDedup(hot(n), "doc_id", "text",
        window = w).where(col("kept") === 1).count()
      assert(kept == 1L, s"n=$n: all-identical corpus kept $kept")
      (np, Dedup.componentsWithRounds(pairs, "a", "b", 30,
        pointerJump = true)._2)
    }
    val ratio = legs(1)._1.toDouble / legs(0)._1
    assert(ratio > 1.99 && ratio < 2.01, s"pair volume ratio $ratio")
    assert(legs(1)._2 - legs(0)._2 <= 3,
      s"rounds ${legs(0)._2} -> ${legs(1)._2}: not logarithmic")
  }

  test("allpairs ppjoin where every doc shares a boilerplate tail: " +
      "output == the planted pairs, and candidates grow ~2x per " +
      "doubling (share-any would grow 4x)") {
    // 8 hash-derived unique words + a 5-word shared tail; docs
    // id % 10 == 0 get a partner (id + n) differing in one word:
    // J = 9/15, the only pairs >= 0.5
    def uw(of: org.apache.spark.sql.Column, tag: String) =
      concat(lit(tag), Scale.hashBucket16(concat(of.cast("string"),
        lit(s":$tag"))).cast("string"))
    def text(of: org.apache.spark.sql.Column, last: String) =
      concat_ws(" ", (0 until 8).map(j => uw(of, s"t$j")) ++ Seq(
        concat(lit(last), Scale.hashBucket16(concat(of.cast("string"),
          lit(":8"))).cast("string")), lit("lorem ipsum dolor sit amet")): _*)
    val cand = Seq(500L, 1000L).map { n =>
      val d = spark.range(n)
        .select(col("id").as("doc_id"), text(col("id"), "t8").as("text"))
        .unionAll(spark.range(0, n, 10).select((col("id") + n).as("doc_id"),
          text(col("id"), "x8").as("text")))
        .localCheckpoint(true)
      val out = Dedup.allPairsJaccard(d, "doc_id", "text", threshold = 0.5)
      val planted = spark.range(0, n, 10).select(col("id").as("a"),
        (col("id") + n).as("b"), lit(9.0 / 15.0).as("j"))
      assert(out.exceptAll(planted).count() == 0 &&
        planted.exceptAll(out).count() == 0, s"n=$n: output != planted")
      Dedup.allPairsCandidates(d.select(col("doc_id").as("__id"),
        TextFns.wordShingles(col("text"), 3).as("__sh")), 0.5).count()
    }
    val ratio = cand(1).toDouble / cand(0)
    assert(ratio > 1.7 && ratio < 2.5, s"candidate ratio $ratio")
  }

  test("xe1 ts-bucketed fold with one key owning 90% of 20k events: " +
      "== the one-shot fold, and the largest per-(key, bucket) array " +
      "is ~1/16 of the hot key") {
    val buckets = 16
    val ev = spark.range(20000).select(col("id").as("event_id"),
        expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
        when(pmod(col("id"), lit(10L)) =!= 0L, lit(7777L))
          .otherwise(col("id")).as("user_id"),
        (pmod(Scale.hashBucket16(col("id").cast("string")).cast("long"),
          lit(10000L)) / lit(100.0)).as("value"))
      .localCheckpoint(true)
    val out = Events.ewmaAnomalies(ev, "user_id", "ts", "event_id",
      "value", tsBuckets = buckets)
    val one = Events.ewmaAnomalies(ev, "user_id", "ts", "event_id", "value")
    assert(out.exceptAll(one).count() == 0 && one.exceptAll(out).count() == 0)
    // the in-task array = the largest (key, ts-bucket) group
    val mm = ev.agg(min(expr("unix_micros(ts)")),
      max(expr("unix_micros(ts)"))).head
    val w = math.max(1L, (mm.getLong(1) - mm.getLong(0)) / buckets + 1L)
    val maxArray = ev.groupBy(col("user_id"), ((expr("unix_micros(ts)") -
        lit(mm.getLong(0))) / lit(w)).cast("long"))
      .count().agg(max("count")).head.getLong(0)
    val hot = ev.where(col("user_id") === 7777L).count()
    assert(maxArray <= hot / buckets + hot / 50,
      s"max task array $maxArray vs hot key $hot / $buckets")
  }

  test("beyond the broadcast threshold (broadcast off, AQE off) the " +
      "xd1, xd6 and qs8-ingest candidate joins plan as shuffle joins, " +
      "never nested-loop or cartesian") {
    val emb = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      T.t(spark, sf0001, "embeddings"))
    val ps = Dedup.prepareParagraphStore(docs.where(col("doc_id") < 400),
      "doc_id", "text", ParagraphSplitter.FixedWindow(), threshold = 0.8,
      shingleN = 2, maxBucket = Dedup.AutoBucket)
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val prev = keys.map(spark.conf.get)
    keys.zip(Seq("-1", "false")).foreach { case (k, v) => spark.conf.set(k, v) }
    val plans = try Seq(
        Dedup.minhashNearDupsAuto(docs, "doc_id", "text", 0.5),
        Dedup.embeddingNearDupsLSHAuto(emb, "id", "v", 0.9),
        Dedup.paragraphDedupIngest(docs.where(col("doc_id") >= 400), ps,
          "doc_id", "text").result)
      .map(_.queryExecution.executedPlan.toString)
    finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
    plans.foreach(p => assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p))
  }

  test("ppjoin verify broadcasts its candidate-id semi-join only where " +
      "a batch bounds it: with size-chosen broadcasts off, full " +
      "all-pairs (xd19) plans no broadcast, the qs32 ingest keeps one") {
    val ix = Dedup.prepareAllPairsIndex(docs.where(col("doc_id") < 250),
      "doc_id", "text", 0.5)
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val prev = keys.map(spark.conf.get)
    keys.zip(Seq("-1", "false")).foreach { case (k, v) => spark.conf.set(k, v) }
    val Seq(full, ingest) = try Seq(
        Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5),
        Dedup.allPairsIngest(docs.where(col("doc_id") >= 250), ix,
          "doc_id", "text").result)
      .map(_.queryExecution.executedPlan.toString)
    finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
    def semiJoins(plan: String) =
      plan.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(!full.contains("Broadcast") && semiJoins(full).nonEmpty, full)
    assert(semiJoins(ingest).exists(_.contains("BroadcastHashJoin")),
      ingest)
  }

  test("xd6/xd9 on the planted corpus: exactly one pair per vector, " +
      "all planted, and every pair is its own component") {
    val emb = T.t(spark, sf0001, "embeddings")
    val n = emb.count()
    val pairs = Dedup.embeddingNearDupsLSHAuto(graft.queries.DedupQueries
      .plantedEmbeddingCorpus(emb), "id", "v", threshold = 0.9)
      .localCheckpoint(true)
    assert(pairs.count() == n)
    assert(pairs.where(col("b") === col("a") + 100000).count() == n)
    val comps = Dedup.connectedComponents(pairs, "a", "b")
    assert(comps.count() == 2 * n &&
      comps.select("component").distinct().count() == n)
  }

  test("xd10 over the corpus plus marked replicas (every 50th doc + one " +
      "token): no cartesian, kept <= total, and a marked replica keeps " +
      "at most its altered tail (<= 2 spans)") {
    val marked = docs.where(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graftdupmark")).as("text"))
    val df = Dedup.paragraphDedup(docs.select("doc_id", "text")
      .unionByName(marked), "doc_id", "text", paraWords = 6,
      threshold = 0.8, shingleN = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val out = df.localCheckpoint(true)
    val s = out.agg(sum("n_para"), sum("n_kept")).head
    assert(s.getLong(1) <= s.getLong(0))
    assert(out.where(col("doc_id") >= 1000000L && col("n_kept") > 2)
      .count() == 0)
  }

  test("xd12 on sf0.001: removed chars == the corpus text-length " +
      "difference (disjoint islands), and no cartesian product") {
    val df = Dedup.substringDedup(docs, "doc_id", "text", l = 40)
    assert(!df.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val a = df.agg(sum("n_spans"), sum("removed_chars"),
      sum(length(col("clean_text")))).head
    val chars = docs.agg(sum(length(col("text")))).head.getLong(0)
    assert(a.getLong(0) > 0, "no dup spans at sf0.001: law untested")
    assert(a.getLong(1) == chars - a.getLong(2))
  }

  test("xs2 k-means reads a bounded sample (at the cap for a corpus and " +
      "its 2x), and the centroid shift decays over Lloyd iterations") {
    import spark.implicits._
    val cap = math.max(128 * 16, 2048)
    val rnd = new java.util.Random(5L)
    val base = Seq.tabulate(cap + 500)(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian()))).toDF("id", "v")
    val doubled = base.unionByName(
      base.select((col("id") + 100000L).as("id"), col("v")))
    for (c <- Seq(base, doubled))
      assert(Similarity.boundedSample(c, "id", "v", cap).length == cap)
    // below the cap the sample is the whole corpus
    val emb = T.t(spark, sf0001, "embeddings")
    assert(Similarity.boundedSample(emb, "vec_id", "embedding", cap)
      .length == emb.count())
    // shift(i) = sum over surviving centroids of |c_i - c_(i-1)|
    val cs = (0 to 12).map(i => Similarity.kmeansCentroidsSeq(emb,
      "vec_id", "embedding", nlist = 16, iters = i).toMap)
    assert(cs.last.nonEmpty)
    val shifts = cs.sliding(2).map { case Seq(a, b) =>
      b.collect { case (id, v) if a.contains(id) =>
        math.sqrt(v.zip(a(id)).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.sum
    }.toSeq
    assert(shifts.last <= shifts.head, s"shift curve did not decay: $shifts")
  }

  test("xs10 IVF×PQ at 80 cells: k rows per query, no cartesian, and the " +
      "probed volume is sub-corpus and probe-proportional (8 vs 4 " +
      "probes: 1.5x..2.5x)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(80, 64)(rnd.nextGaussian())
    val corpus = (for (l <- 0 until 80; i <- 0 until 25) yield
        (l * 25L + i, centers(l).map(_ + 0.25 * rnd.nextGaussian()).toSeq))
      .toDF("id", "v").localCheckpoint(true)
    val n = corpus.count()
    val queries = corpus.where(col("id") % 25 === 0 && col("id") < 250)
    val out = Similarity.ivfPqTopK(corpus, queries, "id", "v", k = 10,
      nlist = 80, nprobe = 4, m = 8, ksub = 16, shortlist = 60)
    assert(!out.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    assert(out.count() == 10 * 10)
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v", 80)
    val (ids, vs) = (cents.map(_._1), cents.map(_._2))
    val loads = corpus.withColumn("cell", element_at(
        HashFns.nearestCentroids(col("v"), ids, vs, 1), 1))
      .groupBy("cell").count().localCheckpoint(true)
    def probed(p: Int) = queries.withColumn("cell",
        explode(HashFns.nearestCentroids(col("v"), ids, vs, p)))
      .select("cell").join(loads, "cell")
      .agg(coalesce(sum("count"), lit(0L))).head.getLong(0)
    val (w4, w8) = (probed(4), probed(8))
    assert(w4 > 0 && w4 < n, s"probed volume $w4 vs corpus $n")
    assert(w8.toDouble / w4 >= 1.5 && w8.toDouble / w4 <= 2.5,
      s"volume(8)/volume(4) = ${w8.toDouble / w4}")
  }
}
