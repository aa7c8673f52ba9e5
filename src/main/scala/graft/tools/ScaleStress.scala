package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graph, HashFns, Similarity}
import graft.queries.DedupQueries.{plantedEmbeddingCorpus, shuffled}

/** The scale-law runner. Each leg is keyed by the registry entry whose
  * operator it scales; it runs that operator at two sizes (`f` and
  * `2f`, unless its doc says otherwise) in ONE process and asserts the
  * cross-factor laws in-run: deterministic work counters (join
  * volumes, state rows, candidate pairs) graded as ratios across the
  * step, cpu/gc seconds recorded beside them as context. Laws that
  * hold on toy or sf0.001 inputs live in the specs instead; this
  * runner holds only the ones that need two sizes of a real corpus.
  *
  * Corpora are derived from `<sfDir>` (see [[docsAt]] / [[embAt]] /
  * [[clusteredAt]]) into a fresh temp directory; the artifact (one flat
  * JSON object: every counter, `<law>_ok`, cpu mask, `pinned`) is
  * written there and its path printed. A failed law does not stop the
  * run; the exit code is 1 if any law failed.
  *
  * Usage: runMain graft.tools.ScaleStress <sfDir> <f> [legRegex]
  * (the regex selects legs by substring find, as `graft.Verify` does).
  */
object ScaleStress {

  /** The shared skeleton every leg runs on: one session, one task
    * listener (executor cpu + gc), one results map, one law recorder.
    */
  private final class Run(val spark: SparkSession, val sfDir: String,
      val f: Int, val scratch: String) {
    val out = mutable.LinkedHashMap[String, Any]()
    val failed = mutable.ArrayBuffer[String]()
    private val cpuNs = new AtomicLong
    private val gcMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
          gcMs.addAndGet(e.taskMetrics.jvmGCTime)
        }
    })

    def put(k: String, v: Any): Unit = out(k) = v

    def law(name: String, ok: Boolean, detail: => String): Unit = {
      val d = detail
      out(s"${name}_ok") = ok
      if (!ok) failed += s"$name: $d"
      println(s"[law] ${if (ok) "ok  " else "FAIL"} $name  $d")
    }

    /** Runs `body`, recording `<key>_sec`, `_cpu_sec` and `_gc_sec`
      * (the sleeps let the listener drain the previous stage's events).
      */
    def timed[A](key: String)(body: => A): A = {
      Thread.sleep(50)
      val c0 = cpuNs.get; val g0 = gcMs.get; val t0 = System.nanoTime()
      val a = body
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(50)
      put(s"${key}_sec", sec)
      put(s"${key}_cpu_sec", (cpuNs.get - c0) / 1e9)
      put(s"${key}_gc_sec", (gcMs.get - g0) / 1e3)
      println(f"[scale] $key%-28s $sec%8.2fs " +
        f"cpu=${(cpuNs.get - c0) / 1e9}%8.2fs")
      a
    }

    /** Release every persisted block; call only where no cached frame
      * is read again (checkpointed lineage is truncated).
      */
    def drop(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

    /** The leg body at `f` then `2f` (blocks released after each). */
    def twice[A](body: Int => A): (A, A) = {
      val a = body(f); drop()
      val b = body(2 * f); drop()
      (a, b)
    }
  }

  // ------------------------------------------------------------ corpora

  private val Off = 1000000L

  private def cached(dir: String)(write: => Unit): String = {
    if (!Files.exists(Paths.get(dir, "_SUCCESS"))) write
    dir
  }

  private def guardOffsets(maxId: Long, factor: Int): Unit = {
    require(maxId < Off, s"base id max $maxId >= offset $Off: replica " +
      "ids would collide")
    require(factor > 0 && Off <= Long.MaxValue / factor,
      s"factor $factor * offset $Off overflows Long")
  }

  /** Documents ×`factor`: replica k gets doc_id + k·1e6; replica 1 of
    * every 50th doc keeps its text plus one token (a planted near-dup),
    * every other replica is a seeded word shuffle (same multiset, not
    * a near-dup).
    */
  private def docsAt(r: Run, factor: Int): DataFrame = {
    import r.spark.implicits._
    val dir = cached(s"${r.scratch}/docs_f$factor") {
      val base = r.spark.read.parquet(s"${r.sfDir}/documents.parquet")
        .select("doc_id", "text", "lang", "source")
      guardOffsets(base.agg(max("doc_id")).head.getLong(0), factor)
      r.spark.range(factor).crossJoin(base)
        .as[(Long, Long, String, String, String)]
        .map { case (k, id, text, lang, src) =>
          val t = if (k == 0) text
            else if (k == 1 && id % 50 == 0) text + " graftdupmark"
            else shuffled(text.split("\\s+").filter(_.nonEmpty),
              id * 31 + k).mkString(" ")
          (id + k * Off, t, lang, src, t.length.toLong)
        }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"${r.scratch}/docs_f$factor")
    }
    r.spark.read.parquet(dir)
  }

  /** Embeddings ×`factor`: replica k gets vec_id + k·1e6 and a seeded
    * component permutation (cosine ≈ 0 to its original).
    */
  private def embAt(r: Run, factor: Int): DataFrame = {
    import r.spark.implicits._
    val dir = cached(s"${r.scratch}/emb_f$factor") {
      val base = r.spark.read.parquet(s"${r.sfDir}/embeddings.parquet")
      guardOffsets(base.agg(max("vec_id")).head.getLong(0), factor)
      r.spark.range(factor).crossJoin(base)
        .select("id", "vec_id", "embedding", "label")
        .as[(Long, Long, Seq[Float], Int)]
        .map { case (k, id, v, lab) =>
          (id + k * Off,
            if (k == 0) v else shuffled(v.toArray, id * 10 + k).toSeq, lab)
        }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"${r.scratch}/emb_f$factor")
    }
    r.spark.read.parquet(dir)
  }

  /** Clustered embeddings: each base vector is a center with `members`
    * satellites at center + 0.3·perm(center) (within-cluster cos ≈
    * 0.95, cross ≈ 0); ids cid·members + j stay < 100000 so the planted
    * +100000 copies cannot collide.
    */
  private def clusteredAt(r: Run, members: Int): DataFrame = {
    import r.spark.implicits._
    val dir = cached(s"${r.scratch}/clu_m$members") {
      val base = r.spark.read.parquet(s"${r.sfDir}/embeddings.parquet")
      val maxId = base.agg(max("vec_id")).head.getLong(0)
      require((maxId + 1) * members < 100000L,
        s"member ids collide with the planted-copy offset: " +
          s"($maxId+1)*$members")
      r.spark.range(members).crossJoin(base)
        .select("id", "vec_id", "embedding", "label")
        .as[(Long, Long, Seq[Float], Int)]
        .map { case (j, cid, v, lab) =>
          val id = cid * members + j
          val p = shuffled(v.toArray, id)
          (id, v.toArray.zip(p).map { case (x, y) => x + 0.3f * y }.toSeq,
            lab)
        }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"${r.scratch}/clu_m$members")
    }
    r.spark.read.parquet(dir)
  }

  /** (id, v double[]) view of an embeddings frame. */
  private def vecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  /** The synthetic link graph of the xg* registry entries: node i
    * (i % 97 ≠ 0) links 1–3 md5-derived targets.
    */
  private def synthEdges(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).where(pmod(col("id"), lit(97L)) =!= 0L)
      .select(col("id").as("src"), explode(sequence(lit(1),
        lit(1) + pmod(col("id"), lit(3L)).cast(IntegerType))).as("j"))
      .select(col("src"), pmod(graft.operators.Scale.hashBucket16(
          concat(col("src").cast(StringType), lit(":"),
            col("j").cast(StringType))).cast(LongType), lit(n)).as("dst"))
      .where(col("dst") =!= col("src")).distinct()
      .localCheckpoint(true)

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(truth: Set[(Long, Long)], got: Set[(Long, Long)]) =
    (truth & got).size.toDouble / truth.size

  /** Blocked candidate volume of a primary×probe-2 cell join (ids
    * only) — the construction cost of an IVF-seeded graph.
    */
  private def blockedVolume(corpus: DataFrame,
      cents: Seq[(Long, Seq[Double])]): Long = {
    def cells(p: Int) = corpus.select(col("id"),
      HashFns.nearestCentroids(col("v"), cents.map(_._1),
        cents.map(_._2), p).as("cells"))
    cells(1).select(col("id"), element_at(col("cells"), 1).as("cell"))
      .join(cells(2).select(col("id").as("nb"),
        explode(col("cells")).as("cell")), "cell")
      .where(col("id") =!= col("nb")).count()
  }

  /** Join/exchange skeleton of an executed plan (codegen tags stripped
    * before the paren cut, so `*(5) SortMergeJoin` stays visible).
    */
  private def joinLines(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .map(_.replaceAll("""^[\s:+-]*""", "")
        .replaceFirst("""^\*\(\d+\)\s*""", ""))
      .filter(l => l.contains("Join") || l.contains("Cartesian") ||
        l.contains("Exchange"))
      .map(_.takeWhile(_ != '(').trim).toSeq.distinct

  private def scaleKillers(ls: Seq[String]): Seq[String] =
    ls.filter(l => l.contains("Cartesian") ||
      l.contains("BroadcastNestedLoop"))

  private def ratioLaw(r: Run, name: String, a: Double, b: Double,
      lo: Double, hi: Double): Unit = {
    val x = b / a
    r.put(s"${name}_ratio", x)
    r.law(name, x > lo && x < hi,
      if (hi == Double.MaxValue) f"ratio $x%.4f > $lo"
      else f"ratio $x%.4f in ($lo, $hi)")
  }

  // --------------------------------------------------------- graph legs

  /** xg1 PageRank, n = 5000·f: per-iteration join volume is |edges|,
    * which must track n.
    */
  private def xg1(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val n = 5000L * m
      val edges = synthEdges(r.spark, n)
      r.timed(s"xg1_f$m")(Graph.pageRank(r.spark.range(n).toDF("id"),
        edges, iters = 10).queryExecution.toRdd.count())
      edges.count()
    }
    ratioLaw(r, "xg1_edge", a, b, 1.9, 2.1)
  }

  /** xg7 HyperBall, n = 5000·f: the register table (replayed
    * independently) is ≤ n·m rows and grows ~2× with the graph.
    */
  private def xg7(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val n = 5000L * m
      val nodes = r.spark.range(n).toDF("id")
      val edges = synthEdges(r.spark, n)
      val out = r.timed(s"xg7_f$m")(Graph.hyperBall(nodes, edges,
        iters = 4).queryExecution.toRdd.count())
      r.law(s"xg7_f${m}_nodes", out == n, s"$out output rows vs $n nodes")
      var regs = nodes.select(col("id"),
          conv(substring(md5(concat(lit("v:"), col("id").cast(StringType))),
            1, 12), 16, 10).cast(LongType).as("h"))
        .select(col("id"), expr("h DIV 1099511627776").as("j"))
        .distinct().localCheckpoint(true)
      for (_ <- 1 to 4)
        regs = regs.unionAll(edges.join(regs.withColumnRenamed("id", "src"),
            "src").select(col("dst").as("id"), col("j")))
          .distinct().localCheckpoint(true)
      val rows = regs.count()
      r.put(s"xg7_f${m}_reg_rows", rows)
      r.law(s"xg7_f${m}_reg_bound", rows <= n * 256,
        s"register rows $rows vs n*m ${n * 256}")
      rows
    }
    ratioLaw(r, "xg7_reg", a, b, 1.7, 2.3)
  }

  /** xg8 BFS, n = 5000·f: an instrumented replay of the frontier loop
    * equals the operator and scans every edge of an expanded source
    * exactly once; scan per reached node stays flat across the step.
    */
  private def xg8(r: Run): Unit = {
    val maxDepth = 12
    val (a, b) = r.twice { m =>
      val n = 5000L * m
      val nodes = r.spark.range(n).toDF("id")
      val edges = synthEdges(r.spark, n)
      val seed = pmod(col("id"), lit(101L)) === 0L
      var scan = 0L; var rounds = 0
      val dist = r.timed(s"xg8_f$m") {
        var d = nodes.select(col("id"), when(seed, 0L)
          .otherwise(lit(null).cast(LongType)).as("dist")).localCheckpoint(true)
        var live = true
        while (rounds < maxDepth && live) {
          val k = rounds + 1L
          val scanned = edges.join(d.where(col("dist") === k - 1)
            .select(col("id").as("src")), "src").localCheckpoint(true)
          scan += scanned.count()
          d = d.join(scanned.select(col("dst").as("id")).distinct()
              .withColumn("nd", lit(k)), Seq("id"), "left")
            .select(col("id"), coalesce(col("dist"), col("nd")).as("dist"))
            .localCheckpoint(true)
          live = d.where(col("dist") === k).limit(1).count() > 0
          rounds += 1
        }
        d.select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
          .localCheckpoint(true)
      }
      val op = Graph.bfsDistances(nodes, edges, seed, maxDepth)
      val diverged = op.join(dist.withColumnRenamed("dist", "d2"), "id")
        .where(col("dist") =!= col("d2")).count()
      r.law(s"xg8_f${m}_replay", diverged == 0,
        s"$diverged nodes differ from the instrumented replay")
      val expanded = edges.join(dist.withColumnRenamed("id", "src")
        .where(col("dist") >= 0L && col("dist") < rounds), "src").count()
      r.law(s"xg8_f${m}_scan_once", scan == expanded,
        s"scan volume $scan vs expanded-source edges $expanded")
      val reached = dist.where(col("dist") >= 0L).count()
      r.put(s"xg8_f${m}_scan_volume", scan)
      r.put(s"xg8_f${m}_reached", reached)
      scan.toDouble / reached
    }
    ratioLaw(r, "xg8_scan_per_reached", a, b, 0.9, 1.1)
  }

  /** xg9 capped co-citation, n = 5000·f plus a hub linking n/10 nodes:
    * the capped wedge volume (replayed) grows ~2× while the uncapped
    * one, dominated by the hub, grows ~4×.
    */
  private def xg9(r: Run): Unit = {
    val maxOut = 8
    val (a, b) = r.twice { m =>
      val n = 5000L * m
      val edges = synthEdges(r.spark, n).unionAll(r.spark
          .range(1, n / 10 + 1).select(lit(0L).as("src"), col("id").as("dst")))
        .distinct().localCheckpoint(true)
      r.timed(s"xg9_f$m")(Graph.cocitation(edges, maxOut = maxOut)
        .queryExecution.toRdd.count())
      val capped = edges.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")
            .orderBy("dst")))
        .where(col("rn") <= maxOut).drop("rn").localCheckpoint(true)
      val wCapped = capped.as("a").join(capped.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst")).count()
      val wRaw = edges.groupBy("src").agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) DIV 2"))).head.getLong(0)
      r.put(s"xg9_f${m}_wedges_capped", wCapped)
      r.put(s"xg9_f${m}_wedges_uncapped", wRaw)
      (wCapped, wRaw)
    }
    ratioLaw(r, "xg9_capped_wedge", a._1, b._1, 1.7, 2.3)
    ratioLaw(r, "xg9_uncapped_wedge", a._2, b._2, 3.5, Double.MaxValue)
  }

  /** xg10 SSSP, n = 5000·f: the frontier operator equals a full
    * Bellman-Ford replay run to its fixpoint, and the rounds to
    * converge grow with eccentricity (≤ +8 across the step), not n.
    */
  private def xg10(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val n = 5000L * m
      val nodes = r.spark.range(n).toDF("id")
      val we = synthEdges(r.spark, n).withColumn("w", lit(1L) + pmod(
          graft.operators.Scale.hashBucket16(concat(lit("w:"),
            col("src").cast(StringType), lit(":"),
            col("dst").cast(StringType))).cast(LongType), lit(9L)))
        .localCheckpoint(true)
      val seed = pmod(col("id"), lit(101L)) === 0L
      val op = r.timed(s"xg10_f$m")(Graph.sssp(nodes, we, seed,
        maxRounds = 40).localCheckpoint(true))
      var dist = nodes.select(col("id"), when(seed, 0L)
        .otherwise(lit(null).cast(LongType)).as("cost")).localCheckpoint(true)
      var rounds = 1; var improved = true
      while (improved && rounds <= 40) {
        val cand = we.join(dist.where(col("cost").isNotNull)
            .select(col("id").as("src"), col("cost").as("fc")), "src")
          .select(col("dst").as("id"), (col("fc") + col("w")).as("nc"))
          .groupBy("id").agg(min("nc").as("nc"))
        val better = col("nc") < coalesce(col("cost"), lit(Long.MaxValue))
        val next = dist.join(cand, Seq("id"), "left")
          .select(col("id"), when(better, col("nc")).otherwise(col("cost"))
            .as("cost"), better.as("imp")).localCheckpoint(true)
        improved = next.where(col("imp")).limit(1).count() > 0
        dist = next.select("id", "cost")
        if (improved) rounds += 1
      }
      val full = dist.select(col("id"),
        coalesce(col("cost"), lit(-1L)).as("cost"))
      val d = op.exceptAll(full).count() + full.exceptAll(op).count()
      r.law(s"xg10_f${m}_full_bf", d == 0,
        s"$d rows differ from full Bellman-Ford")
      r.put(s"xg10_f${m}_rounds", rounds)
      rounds
    }
    r.law("xg10_rounds", b <= a + 8, s"rounds $a -> $b (must grow <= 8)")
  }

  // ------------------------------------------------------- dedup legs

  /** xd15 CDC dedup over documents ×f: chunk (shuffle-key) volume is
    * content-derived, tracks the corpus, and stays ≪ chars.
    */
  private def xd15(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val docs = docsAt(r, m)
      val chars = docs.agg(sum(length(col("text")))).head.getLong(0)
      val o = r.timed(s"xd15_f$m")(Dedup.cdcDedupStats(docs, "doc_id",
        "text").localCheckpoint(true))
      r.law(s"xd15_f${m}_rollup", o.count() == docs.count(),
        "per-doc rollup must keep every document")
      val s = o.agg(sum("n_chunks"), sum("dup_chunks")).head
      r.put(s"xd15_f${m}_chunks", s.getLong(0))
      r.put(s"xd15_f${m}_dup_chunks", s.getLong(1))
      (chars, s.getLong(0), s.getLong(1))
    }
    ratioLaw(r, "xd15_chunk", a._2, b._2, 1.8, 2.2)
    r.law("xd15_compression", b._2 <= b._1 / 32,
      s"chunks ${b._2} vs chars/32 ${b._1 / 32}")
    r.law("xd15_dups", a._3 > 0 && b._3 >= a._3,
      s"dup chunks ${a._3} -> ${b._3}")
  }

  /** xd17 BFF Bloom dedup over documents ×f: distinct bits ≤ m at any
    * size (replayed), (bit, paragraph) tuples = k·paragraphs grow ~2×,
    * and the false-positive rate rises with the fill factor.
    */
  private def xd17(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val docs = docsAt(r, m)
      val o = r.timed(s"xd17_f$m")(Dedup.bloomParaDedup(docs, "doc_id",
        "text").localCheckpoint(true))
      val s = o.agg(sum("n_para"), sum("n_fp")).head
      val bits = docs
        .select(graft.functions.TextFns.tokens(col("text")).as("fw"))
        .where(size(col("fw")) > 0)
        .select(explode(sequence(lit(0L),
          ceil(size(col("fw")) / lit(12.0)) - 1)).as("idx"), col("fw"))
        .select(array_join(slice(col("fw"), (col("idx") * 12 + 1)
          .cast(IntegerType), lit(12)), " ").as("p"))
        .select(explode(sequence(lit(0), lit(2))).as("i"), col("p"))
        .select(pmod(conv(substring(md5(concat(col("i").cast(StringType),
          lit(":"), col("p"))), 1, 8), 16, 10).cast(LongType),
          lit(262144L)).as("bit"))
        .distinct().count()
      r.law(s"xd17_f${m}_bits", bits <= 262144L, s"$bits distinct bits vs m")
      r.put(s"xd17_f${m}_paras", s.getLong(0))
      r.put(s"xd17_f${m}_fp", s.getLong(1))
      (s.getLong(0) * 3, s.getLong(1).toDouble / s.getLong(0))
    }
    ratioLaw(r, "xd17_tuple", a._1, b._1, 1.9, 2.1)
    r.law("xd17_fp_rises", b._2 >= a._2, s"fp rate ${a._2} -> ${b._2}")
  }

  /** xd14 incremental embedding near-dup over embeddings ×f (planted
    * +0.05 copies as the delta): the verified pairs are exactly the
    * planted ones, and the band-join volume tracks bands × n.
    */
  private def xd14(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val planted = plantedEmbeddingCorpus(embAt(r, m)).localCheckpoint(true)
      val corpus = planted.where(col("id") % Off < 100000L)
      val delta = planted.where(col("id") % Off >= 100000L)
      val nC = corpus.count(); val n = nC + delta.count()
      val (bands, bits) = Dedup.lshParams(n, threshold = 0.9)
      def banded(df: DataFrame) = df.select(col("id"),
        posexplode_outer(HashFns.hyperplaneBands(col("v"), bands, bits,
          0x5eed)).as(Seq("band", "key")))
      val work = banded(corpus).join(banded(delta), Seq("band", "key")).count()
      val pairs = r.timed(s"xd14_f$m")(Dedup.embeddingNearDupsLSHAgainst(
        delta, corpus, "id", "v", 0.9, bands, bits).localCheckpoint(true))
      val off = pairs.where(col("b") =!= col("a") + 100000L).count()
      r.law(s"xd14_f${m}_exact", pairs.count() == nC && off == 0,
        s"${pairs.count()} pairs ($off non-planted) vs $nC planted")
      r.put(s"xd14_f${m}_work", work)
      (work, bands.toDouble * n)
    }
    val (w, l) = (b._1.toDouble / a._1, b._2 / a._2)
    r.put("xd14_work_ratio", w); r.put("xd14_law_ratio", l)
    r.law("xd14_work_tracks_law", w >= l * 0.6 && w <= l * 1.4,
      f"band-join volume ratio $w%.3f vs bands x n ratio $l%.3f (+-40%%)")
  }

  /** xd6 embedding LSH (the lshParams law) over embeddings ×f: auto
    * candidate volume grows near-linearly (n^0.9..1.6), the fixed
    * (96,12) volume sits within 5× of the uniform-occupancy
    * prediction relative to auto, and at 2f the production path
    * returns exactly the planted pairs through a scale-safe plan.
    */
  private def xd6(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val corpus = plantedEmbeddingCorpus(embAt(r, m)).localCheckpoint(true)
      val n = corpus.count()
      val (bands, bits) = Dedup.lshParams(n, 0.9)
      def volume(bd: Int, bt: Int): Long = corpus
        .select(posexplode_outer(HashFns.hyperplaneBands(col("v"), bd, bt,
          0x5eed)).as(Seq("band", "key")))
        .groupBy("band", "key").agg(count(lit(1)).as("m"))
        .agg(sum((col("m") * (col("m") - 1)).cast("long") / 2).cast("long"))
        .head.getLong(0)
      val (vAuto, vFixed) = (volume(bands, bits), volume(96, 12))
      r.put(s"xd6_f${m}_auto_volume", vAuto)
      r.put(s"xd6_f${m}_fixed_volume", vFixed)
      if (m == 2 * r.f) {
        val pairs = r.timed(s"xd6_f$m")(Dedup.embeddingNearDupsLSHAuto(
          corpus, "id", "v", threshold = 0.9).localCheckpoint(true))
        val planted = pairs.where(col("b") === col("a") + 100000).count()
        r.law("xd6_exact", pairs.count() == n / 2 && planted == n / 2,
          s"${pairs.count()} pairs, $planted planted, want ${n / 2}")
        val bad = scaleKillers(joinLines(pairs))
        r.law("xd6_plan", bad.isEmpty, s"scale-killer joins: $bad")
      }
      (n, bands, bits, vAuto, vFixed)
    }
    val exponent =
      math.log(b._4.toDouble / a._4) / math.log(b._1.toDouble / a._1)
    r.put("xd6_auto_volume_exponent", exponent)
    r.law("xd6_volume_exponent", exponent > 0.9 && exponent < 1.6,
      f"auto volume grew as n^$exponent%.2f")
    val predicted = (96.0 / math.pow(2, 12)) / (b._2 / math.pow(2, b._3))
    val measured = b._5.toDouble / b._4
    r.law("xd6_fixed_over_auto", measured > predicted / 5 &&
      measured < predicted * 5,
      f"fixed/auto volume $measured%.1f vs predicted $predicted%.1f (5x)")
  }

  /** Work counters of xd10's paragraph dedup (its own intermediates):
    * span rows (checked against the Σ ceil(words/6) closed form) and
    * the capped band self-join's candidate pairs (checked against the
    * per-row cap bound).
    */
  private def paragraphWork(r: Run, m: Int, docs: DataFrame): (Long, Long) = {
    val split = graft.operators.ParagraphSplitter.FixedWindow(6)
    val spans = Dedup.explodeSpans(docs, "doc_id", "text", split).count()
    val closed = Dedup.paraCounts(docs, "doc_id", "text", split)
      .agg(sum("n_para")).head.getLong(0)
    r.law(s"xd10_f${m}_spans_closed_form", spans == closed,
      s"span explode $spans vs closed form $closed")
    val near = Dedup.paragraphSpanStore(docs, "doc_id", "text", split)
      .where(col("nw") >= 2)
      .select(col("pid").as("__id"),
        graft.functions.TextFns.wordShingles(col("ptext"), 2).as("__sh"))
      .localCheckpoint(true)
    val n = math.max(1L, near.count())
    val cap = Dedup.autoMaxBucket(n)
    val (bands, rows) = Dedup.minhashParams(n, recallAt = 0.8)
    val banded = Dedup.capBuckets(Dedup.minhashBanded(near, "__id", "__sh",
      bands, rows), cap).localCheckpoint(true)
    val bandedRows = banded.count()
    val cand = banded.groupBy("__band", "__key").agg(count(lit(1)).as("m"))
      .agg(sum(col("m") * (col("m") - 1))).head.getLong(0) / 2
    r.law(s"xd10_f${m}_cap_bound", cand <= bandedRows * (cap - 1L) / 2,
      s"cand pairs $cand vs banded*(cap-1)/2 ${bandedRows * (cap - 1L) / 2}")
    (spans, cand)
  }

  /** xd10 paragraph dedup over documents ×f: span volume exactly
    * linear in corpus words, capped candidate volume strictly
    * sub-quadratic on the collision-worst-case replica corpus.
    */
  private def xd10(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val w = paragraphWork(r, m, docsAt(r, m))
      r.put(s"xd10_f${m}_span_rows", w._1)
      r.put(s"xd10_f${m}_cand_pairs", w._2)
      w
    }
    ratioLaw(r, "xd10_span", a._1, b._1, 1.95, 2.05)
    ratioLaw(r, "xd10_cand", a._2, b._2, 1.5, 3.8)
  }

  /** xd12 substring dedup over documents ×f: gram occurrences (the
    * intrinsic shuffle) are exactly linear in corpus chars.
    */
  private def xd12(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val (occ, cand, _) = r.timed(s"xd12_work_f$m")(
        Dedup.substringDedupWork(docsAt(r, m), "doc_id", "text", l = 40))
      r.put(s"xd12_f${m}_occ_rows", occ); r.put(s"xd12_f${m}_cand_rows", cand)
      occ
    }
    ratioLaw(r, "xd12_occ", a, b, 1.95, 2.05)
  }

  /** qs8 evolving paragraph store (f ≥ 2): store = replica 0, the other
    * f−1 replicas arrive in 4 chunks; each chunk's store-probe join
    * count equals the occupancy law, and Σ probe pairs stays under the
    * end-point product law ((2f−1)/(f−1))·2 (a hot uncapped class
    * would blow past it).
    */
  private def qs8(r: Run): Unit = {
    require(r.f >= 2, "qs8 needs f >= 2 (replica 0 is the store)")
    val (a, b) = r.twice { m =>
      val docs = docsAt(r, m)
      var ps = Dedup.prepareParagraphStore(docs.where(col("doc_id") < Off),
        "doc_id", "text", graft.operators.ParagraphSplitter.FixedWindow(6),
        threshold = 0.8, shingleN = 2, maxBucket = Dedup.AutoBucket)
      var lo = Off; var probes = 0L
      for (hi <- (1 to 4).map(i => (1L + (m - 1).toLong * i / 4) * Off)
          if hi > lo) {
        val (probe, law, _, next) = Dedup.paragraphIngestWork(
          docs.where(col("doc_id") >= lo && col("doc_id") < hi), ps,
          "doc_id", "text")
        r.law(s"qs8_f${m}_chunk_${lo / Off}", probe == law,
          s"store-probe count $probe vs occupancy law $law")
        probes += probe; ps = next; lo = hi
      }
      r.put(s"qs8_f${m}_probe_pairs", probes)
      probes
    }
    val (x, law) = (b.toDouble / math.max(1L, a),
      ((2.0 * r.f - 1) / (r.f - 1)) * 2)
    r.put("qs8_probe_ratio", x); r.put("qs8_product_law", law)
    r.law("qs8_probe_product_law", x >= 1.8 && x <= law * 1.1,
      f"probe ratio $x%.3f in [1.8, ${law * 1.1}%.3f]")
  }

  /** One SemDedup pass at nlist ∝ n/500 (k-means cells, two-level
    * assignment, multi-probe blocking) plus the gates every corpus
    * shares: full cover, no cartesian, and the candidate volume the
    * probe×primary join enumerates within [law/5, 1.5·law] of the
    * occupancy law probe·Σ load².
    */
  private def semDedup(r: Run, key: String, corpus: DataFrame,
      probeOf: Int => Int, wCoarseOf: Int => Int)
      : (DataFrame, DataFrame, Long, Long, Long) = {
    val n = corpus.count()
    val (asg, out, probe) = r.timed(key) {
      val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v",
        math.max(8L, n / 500).toInt)
      val probe = probeOf(cents.length)
      val asg = Similarity.assignCellsTwoLevel(corpus, Seq("id"), "v", cents,
        probe = probe, wCoarse = wCoarseOf(cents.length))
        .localCheckpoint(true)
      val out = Dedup.semDedupMultiProbe(asg, "id", "v", "probes",
        "assigned", 0.9).localCheckpoint(true)
      out.count()
      (asg, out, probe)
    }
    r.law(s"${key}_cover", out.count() == n, s"flag rows vs corpus $n")
    r.law(s"${key}_plan", !joinLines(out).exists(_.startsWith("Cartesian")),
      "within-cluster self-join must not be a cartesian product")
    val sumSq = asg.groupBy("assigned").count()
      .agg(sum(col("count") * col("count"))).head.getLong(0)
    val work = asg.select(col("id").as("wp"), explode(col("probes")).as("cell"))
      .join(asg.select(col("id").as("wa"), col("assigned").as("cell")), "cell")
      .where(col("wp") =!= col("wa")).count()
    val law = probe.toLong * sumSq
    r.put(s"${key}_work", work); r.put(s"${key}_law_volume", law)
    r.law(s"${key}_work_near_law", work >= law / 5 && work <= law * 3 / 2,
      s"candidate volume $work vs probe*sum_load_sq $law")
    (asg, out, n, work, law)
  }

  /** xd11 SemDedup over two corpora ×f: ISOTROPIC (planted copies of
    * embeddings ×f, probes 2.1·K^0.4 — the structure-free worst case)
    * and CLUSTERED (satellites of every base vector, probe = wCoarse =
    * 2). Per size: dropped set = blocked planted copies (isotropic) or
    * an independent replay of keep-first (clustered), recall ≥ 0.9.
    * Across the step: measured candidate volume tracks the occupancy
    * law within ±30%; on a core-pinned run the isotropic cpu ratio is
    * ≤ 1.5× its work ratio (an unpinned run cannot grade cpu and fails
    * that law).
    */
  private def xd11(r: Run): Unit = {
    val isoProbes = (k: Int) =>
      math.max(2, math.min(k, math.ceil(2.1 * math.pow(k, 0.4)).toInt))
    val iso = r.twice { m =>
      val key = s"xd11_iso_f$m"
      val (asg, out, n, work, law) = semDedup(r, key,
        plantedEmbeddingCorpus(embAt(r, m)).localCheckpoint(true),
        isoProbes, k => k)
      val dropped = out.where(!col("kept")).count()
      val blocked = asg.as("o").join(asg.as("c"),
        col("c.id") === col("o.id") + 100000L &&
          (array_contains(col("c.probes"), col("o.assigned")) ||
            array_contains(col("o.probes"), col("c.assigned")))).count()
      r.law(s"${key}_exact", dropped == blocked,
        s"dropped $dropped vs blocked planted copies $blocked")
      r.law(s"${key}_recall", dropped.toDouble / (n / 2) >= 0.9,
        s"recall ${dropped.toDouble / (n / 2)}")
      (work, law, r.out(s"${key}_cpu_sec").asInstanceOf[Double])
    }
    val clu = r.twice { m =>
      val key = s"xd11_clu_f$m"
      val (asg, out, n, work, law) = semDedup(r, key,
        plantedEmbeddingCorpus(clusteredAt(r, m)).localCheckpoint(true),
        _ => 2, _ => 2)
      val dropped = out.where(!col("kept")).count()
      val copies = out.where(!col("kept") && col("id") % Off >= 100000L).count()
      r.law(s"${key}_recall", copies.toDouble / (n / 2) >= 0.9,
        s"planted-copy recall ${copies.toDouble / (n / 2)}")
      val base = asg.select(col("id"), col("v"), col("probes"),
          col("assigned"), graft.functions.TextFns.l2norm(col("v")).as("nn"))
        .localCheckpoint(true)
      val cand = base.select(col("id").as("pid"), col("v").as("pv"),
          col("nn").as("pn"), explode(col("probes")).as("cell"))
        .join(base.select(col("id").as("aid"), col("v").as("av"),
          col("nn").as("an"), col("assigned").as("cell")), Seq("cell"))
        .where(graft.functions.TextFns.dot(col("pv"), col("av")) /
          (col("pn") * col("an")) >= 0.9)
      val replay = cand.where(col("pid") < col("aid"))
        .select(col("aid").as("d"))
        .unionAll(cand.where(col("pid") > col("aid")).select(col("pid")))
        .distinct().count()
      r.law(s"${key}_replay", replay == dropped,
        s"replayed keep-first drops $replay vs operator $dropped")
      (work, law, 0.0)
    }
    for ((name, (lo, hi)) <- Seq("iso" -> iso, "clu" -> clu)) {
      val (w, l) = (hi._1.toDouble / lo._1, hi._2.toDouble / lo._2)
      r.law(s"xd11_${name}_work_tracks_law", w >= l * 0.7 && w <= l * 1.3,
        f"candidate ratio $w%.3f vs law ratio $l%.3f (+-30%%)")
    }
    val (cpu, work) = (iso._2._3 / iso._1._3, iso._2._1.toDouble / iso._1._1)
    r.put("xd11_iso_cpu_ratio", cpu)
    r.law("xd11_iso_cpu_le_work", r.out("pinned") == true && cpu <= 1.5 * work,
      if (r.out("pinned") == true) f"cpu ratio $cpu%.3f vs work ratio $work%.3f"
      else "run not core-pinned: cpu-s not gradeable (rerun under taskset)")
  }

  // ------------------------------------------------------ similarity legs

  /** The sf embeddings as doubles, extended to `replicas` copies by
    * norm-preserving transforms (reverse / negate / both): fresh
    * geometry per replica, no planted near-dups.
    */
  private def transformed(r: Run, replicas: Int): DataFrame = {
    val base = vecs(r.spark.read.parquet(s"${r.sfDir}/embeddings.parquet"))
    (0 until replicas).map { k =>
      val t0 = if (k % 2 == 1) reverse(col("v")) else col("v")
      base.select((col("id") + k * Off).as("id"),
        (if (k / 2 % 2 == 1) transform(t0, x => -x) else t0).as("v"))
    }.reduce(_.unionAll(_)).localCheckpoint(true)
  }

  /** xs15 beam search over f and 2f transformed replicas: per-query
    * touched nodes are bounded by the traversal parameters, so the
    * touched ratio stays < 0.75 of the corpus ratio; recall ≥ 0.9 at
    * both sizes.
    */
  private def xs15(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val corpus = transformed(r, m)
      val queries = corpus.where(col("id") < 10).localCheckpoint(true)
      val graph = Similarity.knnGraphExact(corpus, "id", "v", k = 10)
        .localCheckpoint(true)
      val visited = r.timed(s"xs15_f$m")(Similarity.beamSearchVisited(
        corpus, queries, graph, "id", "v", 0L to 7L, 24, 10)
        .localCheckpoint(true))
      val touched = visited.groupBy("qid").count().agg(avg("count")).head
        .getDouble(0)
      val rec = recall(pairsOf(Similarity.bruteForceTopK(corpus, queries,
        "id", "v", 3)), pairsOf(Similarity.rankVisitedTopK(visited, 3)))
      r.law(s"xs15_f${m}_recall", rec >= 0.9, s"recall $rec")
      r.put(s"xs15_f${m}_touched_mean", touched)
      (corpus.count(), touched)
    }
    val (cr, tr) = (b._1.toDouble / a._1, b._2 / a._2)
    r.law("xs15_touched", tr < 0.75 * cr,
      f"touched ratio $tr%.3f vs corpus ratio $cr%.3f")
  }

  /** qs34 kNN-graph-store ingest of a fixed 200-vector delta into f and
    * 2f transformed replicas: the fresh pair volume (recounted) equals
    * |B|·(N+|B|−1) + N·|B| — linear in the store — while a rebuild
    * pays (N+|B|)·(N+|B|−1), ~4× across the step.
    */
  private def qs34(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val delta = vecs(r.spark.read.parquet(s"${r.sfDir}/embeddings.parquet"))
        .select((col("id") + 9000000L).as("id"),
          reverse(transform(col("v"), x => -x)).as("v"))
        .where(col("id") < 9000200L).localCheckpoint(true)
      val nb = delta.count()
      val corpus = transformed(r, m)
      val n = corpus.count()
      val gs = Similarity.prepareKnnGraphStore(corpus, "id", "v", k = 10)
      val ing = r.timed(s"qs34_f$m") {
        val i = Similarity.knnGraphIngest(delta, gs, "id", "v")
        i.next.top.queryExecution.toRdd.count(); i
      }
      val ids = corpus.select("id").unionAll(delta.select("id"))
      val fresh = delta.select(col("id").as("a"))
          .crossJoin(ids.select(col("id").as("o"))).where(col("a") =!= col("o"))
          .count() +
        corpus.select("id").crossJoin(delta.select(col("id").as("o"))).count()
      r.law(s"qs34_f${m}_closed_form", fresh == nb * (n + nb - 1) + n * nb,
        s"fresh pairs $fresh vs |B|(N+|B|-1)+N|B| " +
          s"${nb * (n + nb - 1) + n * nb}")
      val lists = ing.next.top.select("qid").distinct().count()
      r.law(s"qs34_f${m}_lists", lists == n + nb, s"$lists lists vs ${n + nb}")
      (fresh, (n + nb) * (n + nb - 1))
    }
    ratioLaw(r, "qs34_fresh", a._1, b._1, 1.7, 2.3)
    ratioLaw(r, "qs34_rebuild_floor", a._2, b._2, 3.4, Double.MaxValue)
  }

  /** A clustered corpus (`members` per base vector) with its k-means
    * cells, IVF-seeded graph and per-cell medoid entries.
    */
  private case class Ann(corpus: DataFrame, queries: DataFrame,
      cents: Seq[(Long, Seq[Double])], graph: DataFrame, entries: Seq[Long])

  private def annAt(r: Run, members: Int, nlist: Int): Ann = {
    val corpus = vecs(clusteredAt(r, members)).localCheckpoint(true)
    val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v", nlist)
    Ann(corpus, corpus.where(col("id") < 10).localCheckpoint(true), cents,
      Similarity.ivfSeededGraph(corpus, "id", "v", cents, probe = 2, k = 10)
        .localCheckpoint(true),
      Similarity.cellMedoids(corpus, "id", "v", cents))
  }

  /** xs17 blocked construction over clustered corpora (members f, 2f;
    * nlist 8·members): candidate volume < exact/4 at both sizes, grows
    * linearly (< 1.6× the corpus ratio) while all-pairs grows 4×, and
    * the blocked graph keeps recall ≥ 0.9.
    */
  private def xs17(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val ann = r.timed(s"xs17_f$m")(annAt(r, m, 8 * m))
      val n = ann.corpus.count()
      val blocked = blockedVolume(ann.corpus, ann.cents)
      val rec = recall(pairsOf(Similarity.bruteForceTopK(ann.corpus,
          ann.queries, "id", "v", 3)),
        pairsOf(Similarity.beamSearchTopK(ann.corpus, ann.queries, ann.graph,
          "id", "v", ann.entries, ef = 24, rounds = 10, k = 3)))
      r.law(s"xs17_f${m}_recall", rec >= 0.9, s"recall $rec")
      r.law(s"xs17_f${m}_blocked", blocked < n * (n - 1) / 4,
        s"blocked $blocked vs all-pairs/4 ${n * (n - 1) / 4}")
      r.put(s"xs17_f${m}_blocked", blocked)
      (n, blocked)
    }
    val (cr, br, er) = (b._1.toDouble / a._1, b._2.toDouble / a._2,
      (b._1.toDouble * (b._1 - 1)) / (a._1.toDouble * (a._1 - 1)))
    r.law("xs17_not_exact", br < 0.75 * er, f"blocked $br%.2f vs exact $er%.2f")
    r.law("xs17_linear", br < 1.6 * cr, f"blocked $br%.2f vs corpus $cr%.2f")
  }

  /** xs16 navigation cost at members = f, nlist 32: per-round scored
    * rows of the dot (xs15) and Hamming (xs16) traversals over the
    * blocked graph; the op-weighted Hamming steering plus a 64-row
    * shortlist rerank beats the all-dot traversal, and both rerank
    * shapes keep recall ≥ 0.9.
    */
  private def xs16(r: Run): Unit = {
    val ann = annAt(r, r.f, 32)
    import ann._
    val dots = mutable.ArrayBuffer[Long]()
    Similarity.beamSearchVisited(corpus, queries, graph, "id", "v", entries,
      24, 10, diagOut = dots).queryExecution.toRdd.count()
    val hams = mutable.ArrayBuffer[Long]()
    val nonSelf = Similarity.beamSearchVisitedBQ(corpus, queries, graph, "id",
        "v", entries, 24, 10, diagOut = hams)
      .where(col("id") =!= col("qid")).count()
    val short = math.min(nonSelf, queries.count() * 64)
    val bf = pairsOf(Similarity.bruteForceTopK(corpus, queries, "id", "v", 3))
    val full = recall(bf, pairsOf(Similarity.beamSearchTopKBQ(corpus, queries,
      graph, "id", "v", entries, 24, 10, 3)))
    val shortRec = recall(bf, pairsOf(Similarity.beamSearchTopKBQ(corpus,
      queries, graph, "id", "v", entries, 24, 10, 3, shortlist = 64)))
    val (ops15, ops16) = (dots.sum * 64, hams.sum * 3 + short * 64)
    r.put("xs16_dot_rounds", dots.mkString("[", ",", "]"))
    r.put("xs16_hamming_rounds", hams.mkString("[", ",", "]"))
    r.put("xs16_op_ratio", ops15.toDouble / ops16)
    r.law("xs16_recall", full >= 0.9 && shortRec >= 0.9,
      s"recall full $full, shortlist $shortRec")
    r.law("xs16_navigation_win", ops16 < ops15, s"ops $ops16 vs $ops15")
  }

  /** xs18 hierarchical descent at members f, 2f, 4f (nlist 8·members):
    * top-3-medoid seeding visits fewer nodes than the flat medoid tier
    * at every size with recall ≥ 0.9, and the shrink widens
    * monotonically as nlist grows.
    */
  private def xs18(r: Run): Unit = {
    val shrink = Seq(r.f, 2 * r.f, 4 * r.f).map { m =>
      val ann = annAt(r, m, 8 * m)
      import ann._
      def visited(seedM: Int) = Similarity.beamSearchVisitedSeeded(corpus,
        queries, graph, "id", "v", entries, ef = 24, rounds = 10,
        seedM = seedM).localCheckpoint(true)
      val vFlat = visited(0).count()
      val vh = r.timed(s"xs18_f$m")(visited(3))
      val vHier = vh.count()
      val rec = recall(pairsOf(Similarity.bruteForceTopK(corpus, queries, "id",
        "v", 3)), pairsOf(Similarity.rankVisitedTopK(vh, 3)))
      r.law(s"xs18_f${m}_recall", rec >= 0.9, s"recall $rec")
      r.law(s"xs18_f${m}_shrinks", vHier < vFlat, s"hier $vHier vs flat $vFlat")
      r.drop()
      vHier.toDouble / vFlat
    }
    r.put("xs18_shrink", shrink.mkString("[", ",", "]"))
    r.law("xs18_shrink_widens", shrink(1) < shrink(0) && shrink(2) < shrink(1),
      s"shrink ${shrink.mkString(" -> ")}")
  }

  /** Drifted corpus (initial clustered region + a delta concentrated
    * around one new direction) as (id, v, is_delta).
    */
  private def drifted(r: Run, mInit: Int, mDelta: Int): DataFrame = {
    val dir = s"${r.scratch}/drift_${mInit}_$mDelta"
    graft.queries.DedupQueries.driftedEmbeddings(r.spark, r.sfDir, dir,
      mInit, mDelta, deltaCids = 1000)
    r.spark.read.parquet(s"$dir/embeddings_drifted.parquet")
      .select(col("vec_id").as("id"), transform(col("embedding"),
        x => x.cast("double")).as("v"), col("is_delta"))
      .localCheckpoint(true)
  }

  /** qs36 re-blocking epoch under drift (mInit f, mDelta 2f, nlist
    * 32f): per size, balanced refreshed cells halve the stale blocked
    * volume and keep delta-query recall (≥ 0.9, ≥ stale − 0.05);
    * across the step the refresh rebuild grows linearly (< 1.6× the
    * corpus ratio).
    */
  private def qs36(r: Run): Unit = {
    val (a, b) = r.twice { m =>
      val all = drifted(r, m, 2 * m)
      val acc = all.select("id", "v").localCheckpoint(true)
      val nlist = 32 * m
      val stale = Similarity.kmeansCentroidsSeq(all.where(!col("is_delta"))
        .select("id", "v"), "id", "v", nlist)
      val fresh = r.timed(s"qs36_f$m")(Similarity.balancedKmeansSeq(acc, "id",
        "v", nlist))
      val (cs, cr) = (blockedVolume(acc, stale), blockedVolume(acc, fresh))
      r.law(s"qs36_f${m}_rebalance", cr < cs / 2, s"refreshed $cr vs stale $cs")
      val queries = all.where(col("is_delta")).select("id", "v").orderBy("id")
        .limit(10).localCheckpoint(true)
      val bf = pairsOf(Similarity.bruteForceTopK(acc, queries, "id", "v", 3))
      def rec(cents: Seq[(Long, Seq[Double])]) = recall(bf, pairsOf(
        Similarity.beamSearchTopK(acc, queries, Similarity.ivfSeededGraph(acc,
          "id", "v", cents, probe = 2, k = 10).localCheckpoint(true), "id", "v",
          Similarity.cellMedoids(acc, "id", "v", cents), 24, 10, 3)))
      val (rs, rf) = (rec(stale), rec(fresh))
      r.law(s"qs36_f${m}_recall", rf >= 0.9 && rf >= rs - 0.05,
        s"refreshed recall $rf vs stale $rs")
      (acc.count(), cr)
    }
    val (nr, cr) = (b._1.toDouble / a._1, b._2.toDouble / a._2)
    r.law("qs36_refresh_linear", cr < 1.6 * nr,
      f"refresh cost ratio $cr%.2f vs corpus ratio $nr%.2f")
  }

  /** qs37 maintenance lifecycle over a drifting stream (fixed sizes):
    * per-batch ingest candidates under FROZEN cells grow; epochs keep
    * the tail flat; with small deltas (8 × ~125 into 4000) lifecycle
    * beats rebuild-per-batch, with large ones (4 × ~1000) the measured
    * crossover holds — rebuild-per-batch is cheaper.
    */
  private def qs37(r: Run): Unit = {
    def regime(mDelta: Int, nB: Int, e: Int, tag: String)
        : (Seq[Long], Seq[Long], Long, Seq[Long]) = {
      val all = drifted(r, 2, mDelta)
      val initial = all.where(!col("is_delta")).select("id", "v")
        .localCheckpoint(true)
      val ids = all.where(col("is_delta")).select("id").orderBy("id")
        .collect().map(_.getLong(0))
      val cuts = (Long.MinValue +:
        (1 until nB).map(i => ids(i * ids.length / nB))) :+ Long.MaxValue
      val batches = cuts.sliding(2).map { case Seq(lo, hi) =>
        all.where(col("is_delta") && col("id") >= lo && col("id") < hi)
          .select("id", "v").localCheckpoint(true)
      }.toSeq
      def cells(df: DataFrame, c: Seq[(Long, Seq[Double])], p: Int) =
        df.select(col("id"), HashFns.nearestCentroids(col("v"), c.map(_._1),
          c.map(_._2), p).as("cells"))
      def prim(df: DataFrame, c: Seq[(Long, Seq[Double])]) = cells(df, c, 1)
        .select(col("id"), element_at(col("cells"), 1).as("cell"))
      def prb(df: DataFrame, c: Seq[(Long, Seq[Double])]) = cells(df, c, 2)
        .select(col("id").as("nb"), explode(col("cells")).as("cell"))
      def ingest(b: DataFrame, s: DataFrame, c: Seq[(Long, Seq[Double])]) =
        prim(b, c).join(prb(s.unionByName(b), c), "cell")
          .where(col("id") =!= col("nb")).count() +
        prim(s, c).join(prb(b, c), "cell")
          .where(col("id") =!= col("nb")).count()
      val stale = Similarity.kmeansCentroidsSeq(initial, "id", "v", 64)
      var store = initial
      val frozen = batches.map { b =>
        val c = ingest(b, store, stale)
        store = store.unionByName(b).localCheckpoint(true); c
      }
      store = initial
      var cents = stale; var epochs = 0L
      val life = batches.zipWithIndex.map { case (b, i) =>
        val c = ingest(b, store, cents)
        store = store.unionByName(b).localCheckpoint(true)
        if ((i + 1) % e == 0) {
          cents = Similarity.balancedKmeansSeq(store, "id", "v", 64)
          epochs += blockedVolume(store, cents)
        }
        c
      }
      store = initial
      val rebuild = batches.map { b =>
        store = store.unionByName(b).localCheckpoint(true)
        blockedVolume(store, Similarity.balancedKmeansSeq(store, "id", "v", 64))
      }
      r.drop()
      r.put(s"qs37_${tag}_frozen", frozen.mkString("[", ",", "]"))
      r.put(s"qs37_${tag}_lifecycle", life.mkString("[", ",", "]"))
      r.put(s"qs37_${tag}_epoch_cands", epochs)
      r.put(s"qs37_${tag}_rebuild", rebuild.mkString("[", ",", "]"))
      r.law(s"qs37_${tag}_frozen_grows", frozen.last > 2 * frozen.head,
        s"frozen per batch $frozen")
      r.law(s"qs37_${tag}_epochs_flatten", life.last < frozen.last,
        s"lifecycle tail ${life.last} vs frozen tail ${frozen.last}")
      (frozen, life, epochs, rebuild)
    }
    val (_, sl, se, sr) = regime(1, 8, 4, "small")
    r.law("qs37_small_lifecycle_wins", sl.sum + se < sr.sum,
      s"lifecycle ${sl.sum + se} vs rebuild-per-batch ${sr.sum}")
    val (_, ll, le, lr) = regime(4, 4, 2, "large")
    r.law("qs37_large_crossover", lr.sum < ll.sum + le,
      s"rebuild-per-batch ${lr.sum} vs lifecycle ${ll.sum + le}")
  }

  /** xs19 filtered serve over the sf embeddings (1×) and with a +0.05
    * shifted copy (2×), ef ∈ {8,16,32,48}: recall vs per-label brute
    * force ≥ 0.9 at ef 48 and never below ef 8; visited sets stay
    * parameter-bounded (2× corpus ≤ 1.5× visits per ef).
    */
  private def xs19(r: Run): Unit = {
    val emb = r.spark.read.parquet(s"${r.sfDir}/embeddings.parquet")
      .select(col("vec_id").as("id"), transform(col("embedding"),
        x => x.cast("double")).as("v"), col("label"))
    val efs = Seq(8, 16, 32, 48)
    val curves = Seq(1, 2).map { m =>
      val corpus = (if (m == 1) emb else emb.unionByName(emb.select(
        (col("id") + 100000L).as("id"), transform(col("v"), x => x + lit(0.05))
          .as("v"), col("label")))).localCheckpoint(true)
      val queries = corpus.where(col("id") < 10)
      val cents = Similarity.kmeansCentroidsSeq(corpus, "id", "v", 32 * m)
      val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
        probe = 2, k = 10).localCheckpoint(true)
      val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
      val bf = queries.select("label").distinct().collect().map(_.getInt(0))
        .map(l => pairsOf(Similarity.bruteForceTopK(corpus.where(col("label")
          === l), queries.where(col("label") === l), "id", "v", 3)))
        .reduce(_ ++ _)
      val curve = efs.map { ef =>
        val v = Similarity.beamSearchVisitedSeeded(corpus, queries, graph, "id",
          "v", entries, ef = ef, rounds = 10, seedM = 3).count()
        (v, recall(bf, pairsOf(Similarity.beamSearchTopKHierFiltered(corpus,
          queries, graph, "id", "v", "label", entries, seedM = 3, ef = ef,
          rounds = 10, k = 3))))
      }
      r.drop()
      r.put(s"xs19_f${m}_visited", curve.map(_._1).mkString("[", ",", "]"))
      r.put(s"xs19_f${m}_recall", curve.map(_._2).mkString("[", ",", "]"))
      r.law(s"xs19_f${m}_recall", curve.last._2 >= 0.9 &&
        curve.last._2 >= curve.head._2, s"recall by ef ${curve.map(_._2)}")
      curve.map(_._1)
    }
    r.law("xs19_visited_bounded", curves(0).zip(curves(1))
      .forall { case (v1, v2) => v2 <= v1 * 3 / 2 },
      s"visited ${curves(0)} -> ${curves(1)}")
  }

  // ------------------------------------------------------ relational leg

  private val relationalShapes = Seq("q29_star", "q31_tpch_q3", "q38_tpch_q5",
    "q48_tpch_q9", "q49_tpch_q18", "q50_tpch_q21", "q52_tpch_q4",
    "q53_tpch_q7", "q54_tpch_q10", "q14_frame_running", "q56_tpch_q2",
    "q60_tpch_q20", "q62_tpch_q8", "q65_tpch_q16")

  /** relational: the fact tables ×f (order keys + k·1e7; dimensions and
    * the other tables copied byte-identical) under `<scratch>/rel_f`,
    * left in place for `graft.Verify` + `scripts/check_oracle.py`. Every
    * TPC-H-shape join planned with broadcast disabled and AQE off (the
    * beyond-broadcast regime) stays a shuffle join.
    */
  private def relational(r: Run): Unit = {
    val dir = s"${r.scratch}/rel_f${r.f}"
    val off = 10000000L
    Files.createDirectories(Paths.get(dir))
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "events", "documents", "embeddings"))
      Files.copy(Paths.get(s"${r.sfDir}/$t.parquet"),
        Paths.get(s"$dir/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val maxKey = r.spark.read.parquet(s"${r.sfDir}/orders.parquet")
      .agg(max("o_orderkey")).head.getLong(0)
    require(maxKey < off && off <= Long.MaxValue / r.f,
      s"order keys collide or overflow: max $maxKey, factor ${r.f}")
    for ((t, key) <- Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"))
      r.spark.range(r.f)
        .crossJoin(r.spark.read.parquet(s"${r.sfDir}/$t.parquet"))
        .withColumn(key, col(key) + col("id") * off).drop("id")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    r.put("relational_dir", dir)
    println(s"[scale] relational facts: $dir")
    for (q <- relationalShapes)
      r.timed(s"relational_$q")(graft.SparkEntry.queries(q)(r.spark, dir)
        .queryExecution.toRdd.count())
    val conf = r.spark.conf
    val (b0, a0) = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
      conf.get("spark.sql.adaptive.enabled"))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    val bad = try relationalShapes.flatMap(q =>
      scaleKillers(joinLines(graft.SparkEntry.queries(q)(r.spark, dir)))
        .map(q -> _))
    finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", b0)
      conf.set("spark.sql.adaptive.enabled", a0)
    }
    r.law("relational_no_broadcast_plans", bad.isEmpty,
      s"scale-killer joins with broadcast off: $bad")
  }

  private val legs: Seq[(String, Run => Unit)] = Seq(
    "xg1" -> xg1, "xg7" -> xg7, "xg8" -> xg8, "xg9" -> xg9, "xg10" -> xg10,
    "xd15" -> xd15, "xd17" -> xd17, "xd14" -> xd14, "xd6" -> xd6,
    "xd10" -> xd10, "xd12" -> xd12, "qs8" -> qs8, "xd11" -> xd11,
    "xs15" -> xs15, "qs34" -> qs34, "xs17" -> xs17, "xs16" -> xs16,
    "xs18" -> xs18, "qs36" -> qs36, "qs37" -> qs37, "xs19" -> xs19,
    "relational" -> relational)

  /** Count of CPUs in a kernel cpu list ("0-3,8,10-11"). */
  private def cpuCount(list: String): Int = list.trim.split(",")
    .filter(_.nonEmpty).map { p =>
      p.split("-") match {
        case Array(a, b) => b.trim.toInt - a.trim.toInt + 1
        case _ => 1
      }
    }.sum

  private def firstMatch(path: String,
      pick: String => Option[String]): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().flatMap(pick).toSeq.headOption.getOrElse("")
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleStress <sfDir> <f> [legRegex]")
    val pick = java.util.regex.Pattern.compile(args.lift(2).getOrElse(""))
    val chosen = legs.filter { case (k, _) => pick.matcher(k).find() }
    require(chosen.nonEmpty,
      s"no leg matches; legs: ${legs.map(_._1).mkString(" ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Run(spark, args(0), args(1).toInt,
      Files.createTempDirectory("scale-stress").toString)
    // pinned = fewer CPUs allowed to this process than the host has
    // online: only then are cpu-seconds free of scheduler migration
    val mask = firstMatch("/proc/self/status", l =>
      if (l.startsWith("Cpus_allowed_list:")) Some(l.split(":", 2)(1).trim)
      else None)
    val online = firstMatch("/sys/devices/system/cpu/online", l => Some(l.trim))
    r.put("sf_dir", r.sfDir); r.put("factor", r.f)
    r.put("cpu_mask", mask); r.put("cpus_online", online)
    r.put("pinned", mask.nonEmpty && online.nonEmpty &&
      cpuCount(mask) < cpuCount(online))
    for ((key, leg) <- chosen) {
      try leg(r)
      catch { case NonFatal(e) => r.law(s"${key}_ran", ok = false, e.toString) }
      r.drop()
    }
    val path = Paths.get(r.scratch, "scale_stress.json")
    Files.writeString(path, r.out.map { case (k, v) =>
      val s = v match {
        case s: String => "\"" + s.replace("\\", "\\\\")
          .replace("\"", "\\\"") + "\""
        case d: Double => String.format(java.util.Locale.ROOT, "%.4f",
          Double.box(d))
        case o => o.toString
      }
      s""""$k":$s"""
    }.mkString("{", ",", "}\n"))
    println(s"[scale] artifact: $path")
    spark.stop()
    if (r.failed.nonEmpty) {
      System.err.println(s"${r.failed.size} law(s) failed:\n  " +
        r.failed.mkString("\n  "))
      sys.exit(1)
    }
  }
}
