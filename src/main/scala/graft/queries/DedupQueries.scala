package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import T._

/** Dedup suite over `documents`/`embeddings` (SURVEY §2.11): every
  * operator is a first-class queries() entry with a DuckDB oracle that
  * recomputes the same semantics *independently* (exact all-pairs SQL vs
  * Spark's blocked/LSH plans — the match proves the blocking loses
  * nothing at these thresholds).
  */
object DedupQueries {

  /** Exact word-3-gram Jaccard over all pairs, DuckDB formulation:
    * shingle explode → self-join → intersection counts. Shared by the
    * MinHash-LSH and relational-Jaccard entries.
    */
  private[queries] def jaccardOracleSql(threshold: Double,
      maxDocFreq: Option[Int] = None,
      pairCond: String = "x.doc_id < y.doc_id",
      source: String = "documents"): String = {
    val shExpr = maxDocFreq match {
      case None => "sh0"
      // same df cap as Dedup.ngramJaccardPairs, in lockstep
      case Some(cap) =>
        s"""(SELECT sh0.doc_id, sh0.s FROM sh0
           |   JOIN (SELECT s FROM sh0 GROUP BY s
           |         HAVING COUNT(*) <= $cap) ok USING (s))""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT doc_id, GENERATE_SUBSCRIPTS(fw, 1) AS i, UNNEST(fw) AS w
       |  FROM (SELECT doc_id,
       |          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
       |                      t -> t <> '') AS fw
       |        FROM $source)
       |), sh0 AS (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
       |), sh AS (SELECT * FROM $shExpr),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS ix
       |  FROM sh x JOIN sh y ON x.s = y.s AND ($pairCond)
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, ROUND(CAST(ix AS DOUBLE) / (sa.n + sb.n - ix), 4) AS j
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |WHERE CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) >= $threshold
       |ORDER BY a, b""".stripMargin
  }

  /** Corpus with PLANTED embedding near-dups (original ∪ +0.05-shifted
    * copies; see the xd6 Scaladoc for the cosine bound) — shared by
    * the xd6 pair query, the xd9 component query, and the scale runner
    * (`graft.tools.ScaleStress` legs xd6/xd11/xd14). THE single
    * definition of the planted construction: the +100000 id offset and
    * +0.05 shift here must mirror [[embeddingPairsOracleSql]], and the
    * runner's laws are only evidence while runner and oracle agree.
    */
  def plantedEmbeddingCorpus(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    base.select(col("vec_id").as("id"), col("v"))
      .unionAll(base.select((col("vec_id") + 100000).as("id"),
        transform(col("v"), x => x + lit(0.05d)).as("v")))
  }

  /** DRIFTED embedding corpus — the re-blocking epoch's premise
    * ([[graft.operators.Similarity.reblockGraphStore]]): the INITIAL
    * region reuses the clustered recipe (each base vector a cluster
    * center, `mInit` members at center + 0.25·perm — real embedding
    * spaces cluster), while the DELTA region's `deltaCids` clusters
    * all concentrate around ONE direction u = the lowest-id base
    * vector (center_c = u + 0.35·perm(base_c), members at center +
    * 0.25·perm) — a genuinely NEW region the initial corpus never
    * saw, tight enough that under centroids trained on the initial
    * region alone the whole delta region lands in its few nearest
    * stale cells (per-cell load balloons — the measured refresh-cost
    * law) while within-cluster cosine ≈ 0.95 still dominates
    * in-region cross-cluster ≈ 0.84, so true top-k stays the cluster
    * mates. Geometry margins: members are u + 0.35·p_c + 0.25·q_m
    * with u, p, q norm-equal and quasi-orthogonal → within-cluster
    * cos ≈ 1.1225/1.185 ≈ 0.947, in-region cross ≈ 1/1.185 ≈ 0.844,
    * initial-vs-delta ≈ 0.3 of that. Ids INTERLEAVE per base cid
    * (block of mInit initial then mDelta delta members) so
    * bounded-sample trainers that seed from low ids see both regions
    * after accumulation — the property that lets a refresh actually
    * split the new region into multiple cells.
    *
    * Columns: (vec_id, embedding float[], label, is_delta). Initial =
    * `is_delta = false`; the drift delta = `is_delta = true`.
    */
  def driftedEmbeddings(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, outDir: String, mInit: Int, mDelta: Int,
      deltaCids: Int): Long = {
    import spark.implicits._
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val u = base.orderBy("vec_id").limit(1)
      .select("embedding").head.getSeq[Float](0).toArray
    val block = mInit + mDelta
    val maxId = base.agg(max(col("vec_id"))).head.getLong(0)
    require((maxId + 1) * block < 1000000L,
      s"drifted ids would overflow the offset space: " +
        s"($maxId+1)*$block")
    val uB = spark.sparkContext.broadcast(u)
    spark.range(block).crossJoin(base)
      .select(col("id").as("j"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Seq[Float])]
      .flatMap { case (j, cid, v) =>
        val id = cid * block + j
        if (j < mInit) {
          val q = shuffled(v.toArray, id)
          val m = v.toArray.zip(q).map { case (x, y) => x + 0.25f * y }
          Some((id, m.toSeq, 0, false))
        } else if (cid < deltaCids) {
          val p = shuffled(v.toArray, cid * 7 + 3)
          val q = shuffled(v.toArray, id)
          val m = uB.value.lazyZip(p).lazyZip(q)
            .map((a, b, c) => a + 0.35f * b + 0.25f * c)
          Some((id, m.toSeq, 1, true))
        } else None
      }
      .toDF("vec_id", "embedding", "label", "is_delta")
      .write.mode("overwrite")
      .parquet(s"$outDir/embeddings_drifted.parquet")
    spark.read.parquet(s"$outDir/embeddings_drifted.parquet").count()
  }

  /** Fisher–Yates shuffle of a copy of `xs`, deterministic per seed —
    * the permutation of every synthetic corpus recipe here and in the
    * scale runner (`graft.tools.ScaleStress`).
    */
  private[graft] def shuffled[T](xs: Array[T], seed: Long): Array[T] = {
    val a = xs.clone()
    val r = new java.util.Random(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
      i -= 1
    }
    a
  }

  private def plantedCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    plantedEmbeddingCorpus(t(s, d, "embeddings"))

  /** Exact all-pairs cosine ≥0.9 over the planted corpus, DuckDB
    * formulation (xd6 oracle; also the pair source inside xd9's
    * recursive closure).
    */
  private def embeddingPairsOracleSql(
      pairCond: String = "x.id < y.id"): String =
    s"""WITH base AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), corpus AS (
      |  SELECT vec_id AS id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 100000 AS id,
      |         LIST_TRANSFORM(v, x -> x + 0.05) AS v FROM base
      |)
      |SELECT a, b, ROUND(c, 4) AS c FROM (
      |  SELECT x.id AS a, y.id AS b,
      |    LIST_INNER_PRODUCT(x.v, y.v) /
      |      (SQRT(LIST_INNER_PRODUCT(x.v, x.v)) *
      |       SQRT(LIST_INNER_PRODUCT(y.v, y.v))) AS c
      |  FROM corpus x JOIN corpus y ON $pairCond
      |) WHERE c >= 0.9 ORDER BY a, b""".stripMargin

  val all: Seq[Q] = Seq(
    // MinHash + LSH (shingle → signature → band join → exact-Jaccard
    // verify), band parameters derived from the ACTUAL corpus size via
    // minhashParams (the production default — fixed-width banding is
    // the quadratic counterexample, same law as xd6's hyperplane
    // params). Oracle = independent exact all-pairs SQL.
    Q("xd1_minhash_lsh", jaccardOracleSql(0.5)) { (s, d) =>
      Dedup.minhashNearDupsAuto(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy("a", "b")
    },

    // SimHash with 4-band blocking (exact for hd<=3 by pigeonhole).
    // Oracle recomputes the md5-based simhash with SQL nibble math and
    // brute-forces all pairs.
    Q("xd2_simhash",
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(LIST_DISTINCT(
        |    LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
        |                t -> t <> ''))) AS w
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, w, CAST(SUM(
        |    CAST(STRPOS('0123456789abcdef',
        |                SUBSTR(MD5(w), CAST(j + 1 AS INT), 1)) - 1
        |      AS BIGINT) << CAST(4 * (14 - j) AS INT)) AS BIGINT) AS h
        |  FROM toks, RANGE(15) r(j) GROUP BY doc_id, w
        |), bits AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
        |                             THEN 1 ELSE -1 END) AS v
        |  FROM hs, RANGE(60) r2(b) GROUP BY doc_id, b
        |), sh AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN v >= 0
        |    THEN CAST(1 AS BIGINT) << CAST(b AS INT)
        |    ELSE 0 END) AS BIGINT) AS s
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(BIT_COUNT(XOR(x.s, y.s)) AS INT) AS hd
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE BIT_COUNT(XOR(x.s, y.s)) <= 3
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      Dedup.simhashNearDups(t(s, d, "documents"), "doc_id", "text",
          maxHamming = 3, bands = 4)
        .select(col("a"), col("b"), col("hd").cast("int").as("hd"))
        .orderBy("a", "b")
    },

    // Same semantics as xd1 but via the relational exact formulation
    // (explode→join→count) — the audit path for the LSH operator, with
    // the df-1000 stop-shingle skew guard applied in BOTH engines.
    Q("xd3_ngram_jaccard", jaccardOracleSql(0.5, maxDocFreq = Some(1000))) {
      (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5, maxDocFreq = 1000)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy("a", "b")
    },

    // Embedding cosine near-dups, exact pairwise over the WHOLE table —
    // tiled CartesianProduct (tiles² even tasks, spillable, no
    // corpus-sized broadcast), not a BroadcastNestedLoopJoin.
    Q("xd4_embedding_neardup",
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |)
        |SELECT a, b, ROUND(c, 4) AS c FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    LIST_INNER_PRODUCT(x.v, y.v) /
        |      (SQRT(LIST_INNER_PRODUCT(x.v, x.v)) *
        |       SQRT(LIST_INNER_PRODUCT(y.v, y.v))) AS c
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id
        |) WHERE c >= 0.44 ORDER BY a, b""".stripMargin) { (s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"),
          "vec_id", "embedding", threshold = 0.44)
        .select(col("a"), col("b"), round(col("c"), 4).as("c"))
        .orderBy("a", "b")
    },

    // Hyperplane-LSH blocked embedding near-dup (the 100TB path) over a
    // corpus with PLANTED near-dups: original vectors ∪ copies shifted
    // by +0.05 per element. For unit vectors cosine(v, v+0.05·1) ≥
    // √0.84 ≈ 0.9165 for ANY v (minimize (1+.05s)²/(1.16+.1s) over
    // s=Σv), and random cross pairs stay ≪ 0.9, so threshold 0.9
    // selects exactly the planted pairs at every scale factor. Oracle =
    // independent exact all-pairs SQL on the same derived corpus; the
    // hash match proves the LSH blocking loses nothing. The band
    // parameters are DERIVED from the actual corpus size (lshParams) —
    // fixed-width banding goes quadratic once buckets saturate
    // (197s fixed vs 57s auto at 20× sf0.1, identical rows; the
    // `ScaleStress` xd6 leg grades the volume law).
    Q("xd6_embedding_lsh", embeddingPairsOracleSql()) { (s, d) =>
      Dedup.embeddingNearDupsLSHAuto(plantedCorpus(s, d), "id", "v",
          threshold = 0.9)
        .select(col("a"), col("b"), round(col("c"), 4).as("c"))
        .orderBy("a", "b")
    },

    // Semantic cluster dedup: connected components over the
    // hyperplane-LSH embedding pair graph (the embedding-level
    // analogue of xd7's text components — pairs → clusters → one
    // representative). Oracle: exact all-pairs cosine + recursive-CTE
    // closure over the same planted corpus.
    Q("xd9_semantic_components",
      s"""WITH RECURSIVE pairs AS (
         |  SELECT * FROM (${embeddingPairsOracleSql()})
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION ALL SELECT b AS src, a AS dst FROM pairs
         |), reach AS (
         |  SELECT src AS id, src AS lab FROM edges
         |  UNION
         |  SELECT e.dst AS id, r.lab AS lab
         |  FROM reach r JOIN edges e ON e.src = r.id
         |)
         |SELECT id, MIN(lab) AS component FROM reach
         |GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      val pairs = Dedup.embeddingNearDupsLSHAuto(plantedCorpus(s, d),
        "id", "v", threshold = 0.9)
      Dedup.connectedComponents(pairs, "a", "b").orderBy("id")
    },

    // SemDedup (cluster-blocked semantic dedup, Abbas et al. 2023)
    // over the planted corpus WITH labels: deterministic label
    // centroids (decimal-accumulated means), argmax-cosine assignment
    // (ties to the smaller label), then near-dup search ONLY within
    // each assigned cluster, keep-first survivor rule. The planted
    // +0.05-shifted copies (cosine ≥ 0.9165 to their original for any
    // base vector, random pairs ≪ 0.9 at every SF) are the dup signal;
    // a copy survives only if the assignment separates it from its
    // original — the oracle replays the whole chain, so the hash match
    // pins centroid arithmetic, tie-breaks, AND the cluster-blocking
    // semantics. Scale: cluster count is the knob — label centroids
    // keep k fixed (classifier shape); the 100TB path feeds
    // semDedupAssigned from kmeansCentroids with nlist ∝ n/target so
    // Σ cluster² ≈ n·target (ScaleStress measures it).
    Q("xd11_semdedup",
      """WITH base AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |), corpus AS (
        |  SELECT vec_id AS id, label, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000 AS id, label,
        |         LIST_TRANSFORM(v, x -> x + 0.05) AS v FROM base
        |), comp AS (
        |  SELECT label, UNNEST(v) AS x, GENERATE_SUBSCRIPTS(v, 1) AS pos
        |  FROM corpus
        |), cm AS (
        |  SELECT label AS clabel, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        |      AS m
        |  FROM comp GROUP BY 1, 2
        |), cent AS (
        |  SELECT clabel, LIST(m ORDER BY pos) AS centroid
        |  FROM cm GROUP BY 1
        |), sc AS (
        |  SELECT c.id, c.v, t.clabel,
        |    LIST_INNER_PRODUCT(c.v, t.centroid) /
        |      (SQRT(LIST_INNER_PRODUCT(c.v, c.v)) *
        |       SQRT(LIST_INNER_PRODUCT(t.centroid, t.centroid)))
        |      AS cos
        |  FROM corpus c CROSS JOIN cent t
        |), a AS (
        |  SELECT id, v, clabel, ROW_NUMBER() OVER (
        |    PARTITION BY id ORDER BY cos DESC, clabel) AS rn
        |  FROM sc
        |), asg AS (
        |  SELECT id, v, clabel AS assigned FROM a WHERE rn = 1
        |), dropped AS (
        |  SELECT DISTINCT y.id FROM asg x JOIN asg y
        |    ON x.assigned = y.assigned AND x.id < y.id
        |  WHERE LIST_INNER_PRODUCT(x.v, y.v) /
        |    (SQRT(LIST_INNER_PRODUCT(x.v, x.v)) *
        |     SQRT(LIST_INNER_PRODUCT(y.v, y.v))) >= 0.9
        |)
        |SELECT g.id, g.assigned,
        |  CAST(d.id IS NULL AS INT) AS kept
        |FROM asg g LEFT JOIN dropped d ON g.id = d.id
        |ORDER BY g.id""".stripMargin) { (s, d) =>
      val base = t(s, d, "embeddings").select(col("vec_id"),
        col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val corpus = base
        .select(col("vec_id").as("id"), col("label"), col("v"))
        .unionAll(base.select((col("vec_id") + 100000).as("id"),
          col("label"),
          transform(col("v"), x => x + lit(0.05d)).as("v")))
      Dedup.semDedup(corpus, "id", "label", "v", threshold = 0.9)
        .select(col("id"), col("assigned"),
          col("kept").cast("int").as("kept"))
        .orderBy("id")
    },

    // Connected components over the MinHash near-dup pair graph — the
    // cluster step of a dedup pipeline (pairs → components → one
    // representative each). Oracle recomputes the same pairs via exact
    // all-pairs SQL, then closes them with a recursive CTE; matching
    // hashes prove the distributed min-label propagation converged to
    // the true components.
    Q("xd7_components",
      s"""WITH RECURSIVE pairs AS (
         |  SELECT * FROM (${jaccardOracleSql(0.5)})
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION ALL SELECT b AS src, a AS dst FROM pairs
         |), reach AS (
         |  SELECT src AS id, src AS lab FROM edges
         |  UNION
         |  SELECT e.dst AS id, r.lab AS lab
         |  FROM reach r JOIN edges e ON e.src = r.id
         |)
         |SELECT id, MIN(lab) AS component FROM reach
         |GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      val pairs = Dedup.minhashNearDups(t(s, d, "documents"),
        "doc_id", "text", threshold = 0.5)
      Dedup.connectedComponents(pairs, "a", "b").orderBy("id")
    },

    // Incremental dedup: near-dup pairs between a NEW half of the
    // corpus and the EXISTING half only (continuous-ingestion shape —
    // no corpus self-join). Oracle = exact cross-half all-pairs SQL.
    Q("xd8_incremental",
      jaccardOracleSql(0.5,
        pairCond = "x.doc_id < 250 AND y.doc_id >= 250")) { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.minhashNearDupsAgainst(
          docs.where(col("doc_id") >= 250),
          docs.where(col("doc_id") < 250),
          "doc_id", "text", threshold = 0.5)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy("a", "b")
    },

    // Incremental EMBEDDING near-dup (xd14) — the xd8 shape on
    // vectors, completing the matrix: batch exact (xd4), batch
    // LSH-blocked (xd6), incremental delta-vs-corpus (this). The
    // planted +0.05 copies are the delta, the originals the corpus;
    // band params from the combined population law. Oracle: exact
    // cross-slice all-pairs cosine — the hash match proves the
    // cross-banding loses nothing at the threshold.
    Q("xd14_embedding_incremental",
      embeddingPairsOracleSql(
        pairCond = "x.id < 100000 AND y.id >= 100000")) { (s, d) =>
      val planted = plantedCorpus(s, d)
      Dedup.embeddingNearDupsLSHAgainstAuto(
          planted.where(col("id") >= 100000),
          planted.where(col("id") < 100000),
          "id", "v", threshold = 0.9)
        .select(col("a"), col("b"), round(col("c"), 4).as("c"))
        .orderBy("a", "b")
    },

    // Exact dedup keep-first: survivors of normalized-text dedup.
    Q("xd5_exact_dedup",
      """SELECT COUNT(*) AS survivors, CAST(SUM(doc_id) AS BIGINT) AS idsum
        |FROM (
        |  SELECT MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY SHA256(LOWER(TRIM(text)))
        |)""".stripMargin) { (s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("survivors"), sum("doc_id").as("idsum"))
    },

    // Paragraph/line-level dedup (CCNet/RefinedWeb boilerplate
    // removal): corpus-wide exact + near-dup removal of 6-word spans
    // WITHIN surviving documents, then reassembly. Oracle replays the
    // full pipeline in SQL: span explosion → window-min exact stage →
    // inverted-index bigram join (shared-shingle candidates are a
    // superset of J≥0.8 pairs, so the SQL answer is EXACT) → drop
    // later members → reassemble. The oracle's pid is the same
    // (doc_id, idx) ROW the engine keys on — lexicographic order, no
    // per-doc span bound (r14: replaced the doc_id·100000+i arithmetic
    // encoding, which collided past 100k spans). The Spark side's
    // banded-LSH candidates equal the exact answer because
    // minhashParams anchors recall AT the verify threshold (miss ≤
    // 1e-6 per pair), and the autoMaxBucket cap never engages at
    // oracle scale (hot classes are a scale-corpus pathology —
    // OperatorsSpec pins both properties).
    Q("xd10_paragraph_dedup",
      raw"""WITH d0 AS (
        |  SELECT doc_id, LIST_FILTER(
        |    STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> t <> '') AS fw
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    (doc_id, CAST(i AS BIGINT)) AS pid,
        |    ARRAY_TO_STRING(
        |      fw[(CAST(i AS INT)*6+1):(CAST(i AS INT)*6+6)], ' ') AS ptext,
        |    LEN(fw[(CAST(i AS INT)*6+1):(CAST(i AS INT)*6+6)]) AS nw
        |  FROM d0, UNNEST(RANGE(0,
        |    CAST(CEIL(LEN(fw)/6.0) AS BIGINT))) AS t(i)
        |), s1 AS (
        |  SELECT * FROM (SELECT p.*,
        |    MIN(pid) OVER (PARTITION BY ptext) AS fp FROM p)
        |  WHERE pid = fp
        |), toks AS (
        |  SELECT pid, GENERATE_SUBSCRIPTS(fw2, 1) AS i, UNNEST(fw2) AS w
        |  FROM (SELECT pid, STRING_SPLIT(ptext, ' ') AS fw2
        |        FROM s1 WHERE nw >= 2)
        |), sh AS (
        |  SELECT DISTINCT a.pid, a.w || ' ' || b.w AS s
        |  FROM toks a JOIN toks b ON b.pid = a.pid AND b.i = a.i + 1
        |), sizes AS (SELECT pid, COUNT(*) AS n FROM sh GROUP BY pid),
        |inter AS (
        |  SELECT x.pid AS qa, y.pid AS qb, COUNT(*) AS ix
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.pid < y.pid
        |  GROUP BY 1, 2
        |), drops AS (
        |  SELECT DISTINCT qb AS pid FROM inter
        |  JOIN sizes sa ON sa.pid = qa JOIN sizes sb ON sb.pid = qb
        |  WHERE CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) >= 0.8
        |), s2 AS (
        |  SELECT * FROM s1 WHERE pid NOT IN (SELECT pid FROM drops)
        |)
        |SELECT doc_id,
        |  ARRAY_TO_STRING(LIST(ptext ORDER BY idx), ' ') AS clean_text,
        |  np.n_para, COUNT(*) AS n_kept
        |FROM s2 JOIN (SELECT doc_id AS d2, COUNT(*) AS n_para
        |              FROM p GROUP BY 1) np ON d2 = doc_id
        |GROUP BY doc_id, np.n_para
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.paragraphDedup(t(s, d, "documents"), "doc_id", "text",
        paraWords = 6, threshold = 0.8, shingleN = 2)
    },

    // EXACT substring dedup (the suffix-array span dedup of the
    // deduplicating-training-data literature): any 40-char gram seen
    // earlier in the corpus (global (doc_id,pos) order) marks its
    // span; spans merge into maximal islands per doc and are cut out.
    // The oracle replays the whole chain on the REAL grams (explode
    // every position); the Spark side blocks on 62-bit rolling-hash
    // keys and re-verifies candidates on the actual gram text, so the
    // hash can only add verification work, never change the answer.
    Q("xd12_substring_dedup",
      """WITH d AS (SELECT doc_id, text FROM documents),
        |occ AS (
        |  SELECT doc_id, x.i AS pos, substr(text, CAST(x.i AS INT), 40) AS gram,
        |         doc_id*1000000000 + x.i AS key
        |  FROM d CROSS JOIN LATERAL
        |    UNNEST(RANGE(1, GREATEST(LENGTH(text)-39, 0)+1)) x(i)
        |),
        |firsts AS (SELECT gram, MIN(key) AS mk FROM occ GROUP BY gram),
        |dup AS (
        |  SELECT o.doc_id, o.pos FROM occ o
        |  JOIN firsts f ON o.gram = f.gram WHERE o.key > f.mk
        |),
        |sp AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM dup),
        |m AS (
        |  SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM sp
        |),
        |isl1 AS (
        |  SELECT doc_id, s, e, SUM(CASE WHEN pm IS NULL OR s > pm
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM m
        |),
        |islands AS (
        |  SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e
        |  FROM isl1 GROUP BY doc_id, isl
        |),
        |segs AS (
        |  SELECT doc_id, s, e,
        |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS p
        |  FROM islands
        |),
        |agg AS (
        |  SELECT i.doc_id, COUNT(*) AS n_spans, SUM(i.e - i.s) AS removed,
        |    STRING_AGG(substr(d.text, CAST(i.p AS INT),
        |      CAST(i.s - i.p AS INT)), '' ORDER BY i.s)
        |      || substr(ANY_VALUE(d.text), CAST(MAX(i.e) AS INT)) AS clean
        |  FROM segs i JOIN d ON i.doc_id = d.doc_id GROUP BY i.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(a.removed, 0) AS BIGINT) AS removed_chars,
        |  COALESCE(a.clean, d.text) AS clean_text
        |FROM d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.substringDedup(t(s, d, "documents"), "doc_id", "text", l = 40)
        .orderBy("doc_id")
    },

    // Exact dedup UNDER the CCNet normalization front-end (xd13): NFC
    // canonical composition (fused expression) → full-width fold
    // (shared translate table) → casefold → punctuation strip →
    // whitespace collapse, then keep-lowest-id per normalized key.
    // Cosmetic variants — composed vs decomposed accents, ＡＢＣ vs
    // ABC, spacing/punct noise — collapse to one survivor (the crafted
    // Unicode fixtures live in OperatorsSpec; the corpus entry proves
    // the chain is cross-engine identical char for char). Same
    // one-hash-shuffle scale shape as xd5; the key derivation is a
    // longer narrow map.
    Q("xd13_normalized_dedup",
      s"""WITH n AS (
        |  SELECT doc_id,
        |    ${Dedup.ccnetNormalizeSql("text")} AS k
        |  FROM documents
        |)
        |SELECT MIN(doc_id) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_forms
        |FROM n GROUP BY k ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.normalizedDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // xd15: content-defined-chunking dedup (the FastCDC/LBFS
    // storage-style block dedup — see operators.CdcChunks for the
    // boundary definition and Dedup.cdcDedupStats for the plan). The
    // oracle re-derives EVERYTHING relationally: the 44-bit md5 gear
    // table, the 16-codepoint windowed gear-sum hash (a 16-term
    // positional self-join standing in for the Spark side's O(1)
    // rolling update — identical mod 2^48), the cut positions, the
    // chunk substrings, and the global first-occurrence flags —
    // grouped on the REAL chunk text where Spark ships sha256, so the
    // hash gate also proves the hash stand-in loses nothing.
    Q("xd15_cdc_dedup", cdcOracleSql()) { (s, d) =>
      Dedup.cdcDedupStats(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // xd16: Broder containment over CDC chunk sets — the asymmetric
    // overlap measure (|A∩B|/|A|) that catches a doc EMBEDDED in a
    // larger one where symmetric Jaccard decays with the size gap.
    // df-capped pair join (the xd3 discipline, cap in both engines);
    // the oracle re-derives chunk sets on REAL text and brute-counts
    // intersections.
    Q("xd16_cdc_containment",
      s"""WITH $cdcChunkCtes, sets AS (
         |  SELECT DISTINCT doc_id, chunk FROM occ
         |), sizes AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM sets GROUP BY doc_id
         |), ok AS (
         |  SELECT chunk FROM sets GROUP BY chunk
         |  HAVING COUNT(*) <= 100
         |), capped AS (
         |  SELECT s.doc_id, s.chunk FROM sets s JOIN ok USING (chunk)
         |), inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(COUNT(*) AS BIGINT) AS ix
         |  FROM capped x JOIN capped y
         |    ON y.chunk = x.chunk AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, ix, sa.n AS na, sb.n AS nb
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = a
         |JOIN sizes sb ON sb.doc_id = b
         |WHERE GREATEST(CAST(ix AS DOUBLE) / sa.n,
         |               CAST(ix AS DOUBLE) / sb.n) >= 0.5
         |ORDER BY a, b""".stripMargin) { (s, d) =>
      Dedup.cdcContainmentPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5, maxDocFreq = 100)
        .orderBy("a", "b")
    },

    // xd17: Bloom-filter paragraph dedup — the Dolma "BFF" pass
    // (fixed m-bit filter, k=3 md5-derived bit positions, global
    // (doc_id, idx) processing order). The relational model is EXACT
    // including false positives: a paragraph drops iff every one of
    // its bits was first carried by a STRICTLY earlier paragraph, the
    // precise behavior of the sequential check-then-insert filter
    // (bits are monotone, so insertion order beyond (doc_id, idx)
    // rank is irrelevant). m is pinned SMALL (2^18) so the fp path
    // actually fires on this corpus — n_fp counts it honestly; the
    // n_exact_dup column shows what a no-fp dedup would drop. See
    // Dedup.bloomParaDedup for the O(1)-state scale story.
    Q("xd17_bloom_dedup",
      raw"""WITH d0 AS (
        |  SELECT doc_id, LIST_FILTER(
        |    STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> t <> '') AS fw
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    ARRAY_TO_STRING(
        |      fw[(CAST(i AS INT)*12+1):(CAST(i AS INT)*12+12)], ' ')
        |      AS ptext
        |  FROM d0, UNNEST(RANGE(0,
        |    CAST(CEIL(LEN(fw)/12.0) AS BIGINT))) AS t(i)
        |), bits AS (
        |  SELECT doc_id, idx,
        |    ${hex32Sql("CAST(i AS VARCHAR) || ':' || ptext")} % 262144
        |      AS bit
        |  FROM paras, UNNEST(GENERATE_SERIES(0, 2)) AS u(i)
        |), bf AS (
        |  SELECT bit, MIN((doc_id, idx)) AS f FROM bits GROUP BY bit
        |), pb AS (
        |  SELECT b.doc_id, b.idx, MAX(f.f) AS mf
        |  FROM bits b JOIN bf f USING (bit) GROUP BY b.doc_id, b.idx
        |), ef AS (
        |  SELECT ptext, MIN((doc_id, idx)) AS f FROM paras
        |  GROUP BY ptext
        |), fl AS (
        |  SELECT p.doc_id, p.idx,
        |    pb.mf < (p.doc_id, p.idx) AS dropped,
        |    e.f < (p.doc_id, p.idx) AS exdup
        |  FROM paras p
        |  JOIN pb ON pb.doc_id = p.doc_id AND pb.idx = p.idx
        |  JOIN ef e USING (ptext)
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_para,
        |  CAST(COALESCE(SUM(CASE WHEN dropped THEN 1 END), 0)
        |    AS BIGINT) AS n_dropped,
        |  CAST(COALESCE(SUM(CASE WHEN exdup THEN 1 END), 0)
        |    AS BIGINT) AS n_exact_dup,
        |  CAST(COALESCE(SUM(CASE WHEN dropped AND NOT exdup THEN 1 END),
        |    0) AS BIGINT) AS n_fp
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        Dedup.bloomParaDedup(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id")
    },

    // Sorted-neighborhood dedup (xd18, Hernández & Stolfo SIGMOD'95
    // merge/purge): sort on the 12-char normalized prefix, compare
    // only within an 8-position sliding window (pair volume linear in
    // n, immune to hot-bucket skew — the record-linkage blocking
    // strategy the hash-blocked family lacks), verify by char-bigram
    // Dice ≥ 3/5 over the 128-char normalized prefix via float-free
    // integer cross-multiply, close pairs into components. The Spark
    // side ranks via the two-level distributed prefix sum (no
    // partition-less window) and turns the window range join into an
    // explode+equi-join on rank; the oracle replays the identical
    // sort/window/Dice/closure chain with ROW_NUMBER + recursive CTE.
    Q("xd18_sorted_neighborhood",
      """WITH RECURSIVE base AS (
        |  SELECT doc_id AS id,
        |    REGEXP_REPLACE(LOWER(text), '[^a-z0-9]', '', 'g') AS nrm
        |  FROM documents WHERE text IS NOT NULL
        |), rk AS (
        |  SELECT id, SUBSTR(nrm, 1, 128) AS fp,
        |    ROW_NUMBER() OVER (ORDER BY SUBSTR(nrm, 1, 12), id) AS rn
        |  FROM base
        |), bg AS (
        |  SELECT id, rn, CASE WHEN LENGTH(fp) < 2
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LENGTH(fp)),
        |      i -> SUBSTR(fp, CAST(i AS INT), 2))) END AS g
        |  FROM rk
        |), pairs AS (
        |  SELECT x.id AS a, y.id AS b FROM bg x JOIN bg y
        |    ON y.rn BETWEEN x.rn + 1 AND x.rn + 7
        |  WHERE 10 * LEN(LIST_FILTER(x.g, t -> LIST_CONTAINS(y.g, t)))
        |    >= 3 * (LEN(x.g) + LEN(y.g))
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION ALL SELECT b AS src, a AS dst FROM pairs
        |), reach AS (
        |  SELECT src AS id, src AS lab FROM edges
        |  UNION
        |  SELECT e.dst AS id, r.lab AS lab
        |  FROM reach r JOIN edges e ON e.src = r.id
        |), comp AS (
        |  SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id
        |)
        |SELECT b.id, COALESCE(c.cluster, b.id) AS cluster,
        |  CAST(COALESCE(c.cluster, b.id) = b.id AS INT) AS kept
        |FROM base b LEFT JOIN comp c ON c.id = b.id
        |ORDER BY b.id""".stripMargin) { (s, d) =>
      Dedup.sortedNeighborDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy("id")
    },

    // AllPairs/PPJoin prefix-filtered set-similarity join (xd19,
    // Bayardo WWW'07 + the PPJoin positional filter, Xiao WWW'08) —
    // the third Jaccard technique beside xd1 (banded MinHash,
    // probabilistic recall) and xd3 (df-capped relational join, exact
    // over a FILTERED space): EXACT over the FULL shingle space with
    // no recall parameter and no cap, because the df-ascending prefix
    // order keeps hot stop-shingles out of the candidate join
    // entirely. Same brute-force oracle as xd1 (no cap) — the hash
    // match proves prefix+length+positional pruning loses nothing.
    Q("xd19_allpairs_ppjoin", jaccardOracleSql(0.5)) { (s, d) =>
      Dedup.allPairsJaccard(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy("a", "b")
    },

    // Incremental AllPairs/PPJoin (xd20) — the xd8 shape for the
    // prefix-filter family: delta docs (id ≥ 250) against the corpus
    // (id < 250) under the corpus's FROZEN df order (delta-only
    // shingles rank as df = 0). Staleness tunes pruning, never
    // correctness — the property that makes a prefix index
    // maintainable without global re-ranking as 100 TB of deltas
    // arrive. Oracle = the same brute-force SQL cross-restricted.
    Q("xd20_allpairs_incremental",
      jaccardOracleSql(0.5,
        pairCond = "x.doc_id < 250 AND y.doc_id >= 250")) { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.allPairsJaccardAgainst(
          docs.where(col("doc_id") >= 250),
          docs.where(col("doc_id") < 250),
          "doc_id", "text", threshold = 0.5)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy("a", "b")
    }
  )

  /** The xd15 replay, parameterized by a final-rollup restriction so
    * the qs19 stream face shares the ORACLE TEXT VERBATIM (contracts
    * cannot drift): flags are computed globally, the rollup is
    * restricted to the delta slice.
    */
  /** The shared gear→chars→hash→cuts→spans→occ CTE chain (chunk
    * derivation) — used by the xd15/qs19 replay and xd16's
    * containment oracle.
    */
  private def cdcChunkCtes: String =
    s"""gear AS (
         |  SELECT b, ${gear44Sql("CAST(b AS VARCHAR)")} AS g
         |  FROM RANGE(256) t(b)
         |), chars AS (
         |  SELECT doc_id, i,
         |    UNICODE(SUBSTR(text, CAST(i AS INT), 1)) % 256 AS b
         |  FROM documents,
         |    UNNEST(GENERATE_SERIES(1, LENGTH(text))) AS u(i)
         |), gch AS MATERIALIZED (
         |  SELECT c.doc_id, c.i, gear.g FROM chars c
         |  JOIN gear ON gear.b = c.b
         |), h AS (
         |  SELECT a.doc_id, a.i,
         |    CAST(SUM(CAST(b.g AS HUGEINT)
         |        * CAST(1::BIGINT << CAST(a.i - b.i AS INT) AS HUGEINT))
         |      % (CAST(1::BIGINT << 48 AS HUGEINT)) AS BIGINT) AS h
         |  FROM gch a JOIN gch b
         |    ON b.doc_id = a.doc_id AND b.i BETWEEN a.i - 15 AND a.i
         |  WHERE a.i >= 16 GROUP BY a.doc_id, a.i
         |), cuts AS (
         |  SELECT doc_id, i FROM h WHERE (h >> 42) = 0
         |  UNION
         |  SELECT doc_id, LENGTH(text) FROM documents WHERE LENGTH(text) > 0
         |), spans AS (
         |  SELECT doc_id,
         |    COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS s,
         |    i AS e
         |  FROM cuts
         |), occ AS (
         |  SELECT sp.doc_id, sp.s AS pos,
         |    SUBSTR(d.text, CAST(sp.s + 1 AS INT), CAST(sp.e - sp.s AS INT))
         |      AS chunk
         |  FROM spans sp JOIN documents d USING (doc_id)
         |  WHERE sp.e > sp.s
         |)""".stripMargin

  private[queries] def cdcOracleSql(finalWhere: String = ""): String =
    s"""WITH $cdcChunkCtes, flag AS (
         |  SELECT doc_id, CAST(LENGTH(chunk) AS BIGINT) AS clen,
         |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) > 1
         |      AS dup
         |  FROM occ
         |)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(COALESCE(SUM(CASE WHEN dup THEN 1 END), 0) AS BIGINT)
         |    AS dup_chunks,
         |  CAST(COALESCE(SUM(CASE WHEN dup THEN clen END), 0) AS BIGINT)
         |    AS dup_chars
         |FROM flag $finalWhere GROUP BY doc_id ORDER BY doc_id"""
      .stripMargin

  /** 44-bit md5-prefix integer in DuckDB SQL — the hb16Sql nibble
    * expansion widened to 11 nibbles (= CdcChunks.Gear's
    * parseLong(md5hex.take(11), 16)).
    */
  private def gear44Sql(x: String): String = {
    def nib(i: Int) =
      s"(STRPOS('0123456789abcdef', SUBSTR(MD5($x), $i, 1)) - 1)"
    (2 to 11).foldLeft(s"CAST(${nib(1)} AS BIGINT)")((acc, i) =>
      s"($acc * 16 + ${nib(i)})")
  }

  /** 32-bit md5-prefix integer in DuckDB SQL (8 nibbles) — the Spark
    * side's `conv(substring(md5(x), 1, 8), 16, 10)` (xd17 Bloom bit
    * derivation).
    */
  private def hex32Sql(x: String): String = {
    def nib(i: Int) =
      s"(STRPOS('0123456789abcdef', SUBSTR(MD5($x), $i, 1)) - 1)"
    (2 to 8).foldLeft(s"CAST(${nib(1)} AS BIGINT)")((acc, i) =>
      s"($acc * 16 + ${nib(i)})")
  }
}
