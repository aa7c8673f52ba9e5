package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import T._

/** Similarity-search entries (SURVEY §2.11). The brute-force batch
  * top-k is oracle-checked; the IVF ANN variant is approximate by
  * design → no SQL oracle (driver rows-only check) but its recall vs
  * the exact baseline is asserted in SimilaritySpec.
  */
object SimilarityQueries {

  val all: Seq[Q] = Seq(
    // Batch exact top-3 neighbors for 10 query vectors.
    Q("xs1_ann_brute_topk",
      """SELECT qid, rank, id, sim FROM (
        |  SELECT qid, id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY raw DESC, id) AS INT) AS rank,
        |    ROUND(raw, 4) AS sim
        |  FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS id,
        |      LIST_INNER_PRODUCT(c.embedding::DOUBLE[],
        |                         q.embedding::DOUBLE[]) /
        |        (SQRT(LIST_INNER_PRODUCT(c.embedding::DOUBLE[],
        |                                  c.embedding::DOUBLE[])) *
        |         SQRT(LIST_INNER_PRODUCT(q.embedding::DOUBLE[],
        |                                  q.embedding::DOUBLE[]))) AS raw
        |    FROM embeddings c,
        |         (SELECT * FROM embeddings WHERE vec_id < 10) q
        |    WHERE c.vec_id <> q.vec_id
        |  )
        |) WHERE rank <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // IVF ANN (approximate; no SQL oracle — recall asserted in tests).
    Q.noOracle("xs2_ann_ivf") { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, nlist = 16, nprobe = 4)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Hash-gated IVF ANN twin (xs2b, VERDICT r9 #5 — the xs10
    // precedent transferred): same assignment → probe → within-cell
    // exact-cosine → top-k machinery as xs2 (ivfTopKWith is the
    // shared body), but with cells PINNED to the SQL-derivable
    // label centroids instead of Lloyd-trained ones, so the oracle
    // re-derives the entire chain — decimal-mean centroids, the
    // dot·(1/‖c‖) assignment with its exact IEEE order and
    // ties-to-smaller-label, top-nprobe probes, exact cosine within
    // probed cells, (sim DESC, id) ranking. xs2's Lloyd production
    // config stays recall-gated ≥0.9 in OperatorsSpec.
    Q("xs2b_ann_ivf_pinned", ivfOracleSql(nQ = 10, nprobe = 3, k = 3)) {
      (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(row => (row.getLong(0), row.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      Similarity.ivfTopKWith(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, cents, nprobe = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs11: per-query ATTRIBUTE-FILTERED ANN (the filtered vector
    // search every vector store ships): each query retrieves top-3
    // among probed-cell vectors sharing ITS label — in-search
    // filtering as a join-residual equality evaluated before any
    // dim-length dot product, not post-filtering (which silently
    // under-returns under selective predicates). Pinned label-centroid
    // cells (the xs2b discipline) make the whole chain SQL-replayable;
    // the oracle is ivfOracleSql with the same-label condition in the
    // candidate join.
    Q("xs11_ann_filtered",
      ivfOracleSql(nQ = 10, nprobe = 3, k = 3, sameLabel = true)) {
      (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(row => (row.getLong(0), row.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      Similarity.ivfTopKFilteredWith(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 3, cents, nprobe = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Symmetric int8 quantization of the embedding column (the
    // storage-side op for embedding corpora: 4× smaller than f32,
    // 8× smaller than f64). Entirely per-row higher-order functions —
    // a narrow map, zero shuffle — and every step is exact IEEE
    // arithmetic (divide / floor(x+0.5) half-up / multiply / abs /
    // max / integer sum), so no cross-engine transcendental risk.
    // Output: per-vector scale, quantized checksum, max dequant error.
    Q("xs3_quantize",
      // Degenerate-input contract aligned in BOTH engines: null
      // elements are filtered before anything else (Spark's aggregate
      // would null-poison the sum where LIST_SUM skips), and empty /
      // all-zero vectors short-circuit to (0, 0, 0) (array_max of
      // empty is NULL in Spark, LIST_MAX NULL in DuckDB).
      s"""WITH e AS (
         |  SELECT vec_id,
         |    LIST_FILTER(embedding::DOUBLE[], x -> x IS NOT NULL) AS v
         |  FROM embeddings
         |), s AS (
         |  SELECT vec_id, v,
         |    LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) / 127.0 AS sc
         |  FROM e
         |)
         |SELECT vec_id,
         |  CASE WHEN sc IS NULL OR sc = 0 THEN 0.0
         |       ELSE ${r4Sql("sc")} END AS scale,
         |  CASE WHEN sc IS NULL OR sc = 0 THEN 0 ELSE
         |    CAST(LIST_SUM(LIST_TRANSFORM(v,
         |      x -> CAST(FLOOR(x / sc + 0.5) AS BIGINT))) AS BIGINT)
         |  END AS qsum,
         |  CASE WHEN sc IS NULL OR sc = 0 THEN 0.0 ELSE
         |    ${r4Sql("LIST_MAX(LIST_TRANSFORM(v," +
              " x -> ABS(x - FLOOR(x / sc + 0.5) * sc)))")}
         |  END AS max_err
         |FROM s ORDER BY vec_id""".stripMargin) { (s, d) =>
      val v = filter(transform(col("embedding"), x => x.cast("double")),
        x => x.isNotNull)
      val degenerate = col("sc").isNull || col("sc") === 0
      t(s, d, "embeddings")
        .select(col("vec_id"), v.as("v"),
          (array_max(transform(v, x => abs(x))) / 127.0).as("sc"))
        .select(col("vec_id"),
          when(degenerate, 0.0).otherwise(r4(col("sc"))).as("scale"),
          when(degenerate, 0L).otherwise(
            aggregate(col("v"), lit(0L), (acc, x) =>
              acc + floor(x / col("sc") + 0.5).cast("long")))
            .as("qsum"),
          when(degenerate, 0.0).otherwise(
            r4(array_max(transform(col("v"), x =>
              abs(x - floor(x / col("sc") + 0.5) * col("sc"))))))
            .as("max_err"))
        .orderBy("vec_id")
    },

    // Distributed per-label centroid + nearest-centroid assignment
    // (the embedding-clustering shape WITHOUT driver-side k-means —
    // contrast Similarity.ivfTopK's bounded-sample Lloyd training):
    // element-wise label means via one (label,pos) agg — labels×dim
    // rows out, corpus-size-independent — decimal-accumulated so the
    // centroid doubles are add-order-exact in both engines; then every
    // vector scores against the ≤labels broadcast centroids (narrow
    // map) and takes its argmax by a struct-max aggregate (max cosine,
    // ties to the smaller label — the oracle's ROW_NUMBER tie-break).
    // Output is the label×assigned confusion matrix.
    Q("xs5_centroid_assign",
      """WITH comp AS (
        |  SELECT label, UNNEST(embedding::DOUBLE[]) AS x,
        |    GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |  FROM embeddings
        |), cm AS (
        |  SELECT label AS clabel, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        |      AS m
        |  FROM comp GROUP BY 1, 2
        |), cent AS (
        |  SELECT clabel, LIST(m ORDER BY pos) AS centroid
        |  FROM cm GROUP BY 1
        |), sc AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    LIST_INNER_PRODUCT(e.embedding::DOUBLE[], c.centroid) /
        |      (SQRT(LIST_INNER_PRODUCT(e.embedding::DOUBLE[],
        |                               e.embedding::DOUBLE[])) *
        |       SQRT(LIST_INNER_PRODUCT(c.centroid, c.centroid)))
        |      AS cos
        |  FROM embeddings e CROSS JOIN cent c
        |), a AS (
        |  SELECT vec_id, label, clabel, ROW_NUMBER() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
        |  FROM sc
        |)
        |SELECT label, clabel AS assigned, COUNT(*) AS n
        |FROM a WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cent = Similarity.labelCentroids(emb, "label", "embedding")
      Similarity.assignNearestCentroid(emb, Seq("vec_id", "label"),
          "embedding", cent)
        .groupBy("label", "assigned")
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "assigned")
    },

    // Product-quantization ANN (xs6): decimal-exact label-mean
    // codebooks sliced into 8 subspaces, corpus encoded to 8 argmin
    // codes per vector (the 64x-compression step), per-query ADC
    // lookup tables, neighbors ranked by the asymmetric distance.
    // Every double is computed by the SAME IEEE op sequence in both
    // engines: in-order subspace SSDs (pivoted CASE-SUM chains here,
    // sequential fused loops in Spark) and fixed-subspace-order ADC
    // addition — the xs3/xt10 exactness discipline, so this
    // approximate-search operator is still hash-gated end to end.
    Q("xs6_pq_adc_topk",
      s"""WITH comp AS (
        |  SELECT vec_id, label, UNNEST(embedding::DOUBLE[]) AS x,
        |    GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |  FROM embeddings
        |), cm AS (
        |  SELECT label AS clabel, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        |      AS m
        |  FROM comp GROUP BY 1, 2
        |), ed AS (
        |  SELECT c.vec_id, w.clabel, (c.pos-1)//8 AS j,
        |    ${pivotSum("(c.pos-1)%8", "(c.x-w.m)*(c.x-w.m)", 8)} AS d2
        |  FROM comp c JOIN cm w ON w.pos = c.pos
        |  GROUP BY 1, 2, 3
        |), enc AS (
        |  SELECT vec_id, j, clabel AS code FROM (
        |    SELECT vec_id, j, clabel, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, j ORDER BY d2, clabel) AS rn
        |    FROM ed)
        |  WHERE rn = 1
        |), lut AS (
        |  SELECT vec_id AS qid, j, clabel, d2 FROM ed WHERE vec_id < 10
        |), adc AS (
        |  SELECT l.qid, e.vec_id AS id,
        |    ${pivotSum("e.j", "l.d2", 8)} AS adc
        |  FROM enc e JOIN lut l ON l.j = e.j AND l.clabel = e.code
        |  WHERE e.vec_id <> l.qid
        |  GROUP BY 1, 2
        |)
        |SELECT qid, rank, id, adc FROM (
        |  SELECT qid, id, CAST(ROW_NUMBER() OVER (
        |      PARTITION BY qid ORDER BY adc, id) AS INT) AS rank,
        |    ${r4Sql("adc")} AS adc
        |  FROM adc)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5, m = 8)
        .select(col("qid"), col("rank"), col("id"),
          r4(col("adc")).as("adc"))
        .orderBy("qid", "rank")
    },

    // PQ shortlist + exact rerank (the production PQ pattern): stage 1
    // shortlists 30 candidates per query by ADC over the codes, stage
    // 2 reranks only those with exact cosine. The oracle replays both
    // stages — the shortlist SET depends only on xs6's hash-gated ADC
    // values (ties to smaller id in both engines), and the rerank is
    // xs1's exact-cosine arithmetic on that set. The oracle text is
    // shared with xt22's dense arm via pqRerankOracleSql.
    Q("xs7_pq_rerank", pqRerankOracleSql(nQ = 10, shortlist = 30, k = 5)) {
      (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.pqRerankTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5, m = 8, shortlist = 30)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Johnson–Lindenstrauss random projection d→16 (the dimensionality
    // reduction that feeds cheaper downstream blocking/clustering).
    // The ±1 Achlioptas sign matrix regenerates from md5(i_j) parity
    // in BOTH engines — no matrix is stored or shipped — and each
    // signed term quantizes to DECIMAL(28,12) before an order-free
    // exact sum (the xt11 discipline), so the fused single-pass
    // expression and the oracle's exploded relational replay produce
    // bit-identical doubles. Long format (vec_id, j, p) keeps the
    // comparison row-shaped. Scale: narrow per-row map, zero shuffle.
    Q("xs8_random_projection",
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), term AS (
         |  SELECT vec_id, j,
         |    CAST(CASE WHEN SUBSTR(MD5(i || '_' || j), 1, 1) IN
         |        ('0','2','4','6','8','a','c','e')
         |      THEN v[i + 1] ELSE -v[i + 1] END AS DECIMAL(28,12)) AS t
         |  FROM e,
         |    UNNEST(RANGE(0, LEN(v))) AS ti(i),
         |    UNNEST(RANGE(0, 16)) AS tj(j)
         |)
         |SELECT vec_id, CAST(j AS INT) AS j,
         |  ${r4Sql("CAST(SUM(t) AS DOUBLE) / SQRT(16.0)")} AS p
         |FROM term GROUP BY vec_id, j
         |ORDER BY vec_id, j""".stripMargin) { (s, d) =>
      Similarity.randomProject(t(s, d, "embeddings"), "embedding", k = 16)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("j", "p")))
        .select(col("vec_id"), col("j"), r4(col("p")).as("p"))
        .orderBy("vec_id", "j")
    },

    // Thresholded kNN graph (xs9): per-vector top-3 neighbors among
    // cosine ≥0.9 pairs on the planted corpus — the similarity-graph
    // op feeding SNN clustering / graph dedup. Spark derives edges
    // from LSH-blocked pairs + the bounded TopKPairs aggregate (k
    // edges per vector cross the shuffle, never the full edge list
    // per reducer); the oracle brute-forces all ≥0.9 pairs and ranks
    // with ROW_NUMBER — the hash match proves blocking+bounded-top-k
    // == exact. Tie-break: sim DESC then neighbor id, both engines.
    Q("xs9_knn_graph",
      """WITH base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), corpus AS (
        |  SELECT vec_id AS id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000 AS id,
        |         LIST_TRANSFORM(v, x -> x + 0.05) AS v FROM base
        |), pairs AS (
        |  SELECT a, b, c FROM (
        |    SELECT x.id AS a, y.id AS b,
        |      LIST_INNER_PRODUCT(x.v, y.v) /
        |        (SQRT(LIST_INNER_PRODUCT(x.v, x.v)) *
        |         SQRT(LIST_INNER_PRODUCT(y.v, y.v))) AS c
        |    FROM corpus x JOIN corpus y ON x.id < y.id
        |  ) WHERE c >= 0.9
        |), sym AS (
        |  SELECT a AS id, b AS nb, c FROM pairs
        |  UNION ALL
        |  SELECT b AS id, a AS nb, c FROM pairs
        |)
        |SELECT id, CAST(rnk AS INT) AS rank, nb, ROUND(c, 4) AS sim
        |FROM (
        |  SELECT id, nb, c, ROW_NUMBER() OVER (
        |    PARTITION BY id ORDER BY c DESC, nb) AS rnk
        |  FROM sym
        |) WHERE rnk <= 3 ORDER BY id, rank""".stripMargin) { (s, d) =>
      Similarity.knnGraph(
          DedupQueries.plantedEmbeddingCorpus(t(s, d, "embeddings")),
          "id", "v", threshold = 0.9, k = 3)
        .select(col("qid").as("id"), col("rank"), col("id").as("nb"),
          round(col("sim"), 4).as("sim"))
        .orderBy("id", "rank")
    },

    // IVF×PQ composed ANN (xs10): cells + per-cell residual PQ codes
    // + per-probe-cell ADC shortlists + exact rerank — the production
    // billion-vector layout (IVFADC) that xs2 (IVF, full vectors) and
    // xs6/xs7 (PQ, full code scan) each give only half of. HASH-GATED
    // since r9 (VERDICT r8 #7) via the xd11 precedent: the gated
    // entry feeds SQL-derivable label-centroid cells + per-label
    // residual codebooks through the UNCHANGED IVFADC machinery
    // (ivfPqTopKWith), and the oracle re-derives the entire chain —
    // centroids, dot·(1/‖c‖) assignment with its exact IEEE order,
    // residuals, decimal-mean codebooks, argmin encode, per-probed-
    // cell LUTs, fixed-order ADC, shortlist, exact-cosine rerank.
    // The Lloyd-trained production config stays recall-gated ≥0.9 in
    // OperatorsSpec, which also grades its probe-proportional volume.
    Q("xs10_ivfpq_ann", ivfPqOracleSql(nQ = 10, nprobe = 3,
      shortlist = 30, k = 3)) { (s, d) =>
      val (cents, books) = xs10PrepModel(s, d)
      xs10QueryWith(s, d, cents, books)
    },

    // xs13: binary-quantization ANN — the "BQ" fast path modern
    // vector stores ship beside PQ: vectors compress to per-dimension
    // SIGN BITS (64 dims → 8 bytes, 32× smaller than f64; cosine is
    // scale-invariant and so are signs), the shortlist ranks by pure
    // integer Hamming distance (bit_count(xor), the xm6 arithmetic,
    // 32-bit hi/lo halves so bit 63 never lands on the sign bit), and
    // only queries×shortlist survivors pay the exact-cosine rerank
    // (the xs7 two-stage discipline with a one-popcount stage 1).
    // Every stage is deterministic and SQL-replayable, so the
    // approximate operator is hash-gated end to end.
    Q("xs13_binary_quant",
      s"""WITH e AS (
         |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
         |), sg AS (
         |  SELECT id, v,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32),
         |      i -> CASE WHEN v[CAST(i AS INT) + 1] > 0.0
         |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
         |        ELSE 0 END)), 0) AS BIGINT) AS lo,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(RANGE(32, 64),
         |      i -> CASE WHEN v[CAST(i AS INT) + 1] > 0.0
         |        THEN (CAST(1 AS BIGINT) << CAST(i - 32 AS INT))
         |        ELSE 0 END)), 0) AS BIGINT) AS hi
         |  FROM e
         |), q AS (
         |  SELECT id AS qid, v AS qv, lo AS qlo, hi AS qhi FROM sg
         |  WHERE id < 10
         |), hd AS (
         |  SELECT q.qid, s.id,
         |    BIT_COUNT(XOR(s.lo, q.qlo)) + BIT_COUNT(XOR(s.hi, q.qhi))
         |      AS hd
         |  FROM sg s CROSS JOIN q WHERE s.id <> q.qid
         |), short AS (
         |  SELECT qid, id, CAST(hd AS BIGINT) AS hd FROM (
         |    SELECT qid, id, hd, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY hd, id) AS rn FROM hd) WHERE rn <= 30
         |), rr AS (
         |  SELECT sh.qid, sh.id, sh.hd,
         |    LIST_INNER_PRODUCT(e.v, qq.qv)
         |      / (SQRT(LIST_INNER_PRODUCT(e.v, e.v))
         |         * SQRT(LIST_INNER_PRODUCT(qq.qv, qq.qv))) AS sim
         |  FROM short sh
         |  JOIN e ON e.id = sh.id
         |  JOIN q qq ON qq.qid = sh.qid
         |)
         |SELECT qid, rank, id, hd, ${r4Sql("sim")} AS sim FROM (
         |  SELECT qid, id, hd, sim, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, id) AS INT) AS rank
         |  FROM rr) WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.binaryQuantTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, shortlist = 30)
        .select(col("qid"), col("rank"), col("id"), col("hd"),
          r4(col("sim")).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs14: scalar-quantization (SQ8) ANN — completes the quantizer
    // triptych beside PQ (xs6/xs7, codebook subspaces) and BQ (xs13,
    // sign bits): per-DIMENSION affine signed-byte codes around the
    // corpus midpoint (8× compression, no codebook training — the
    // faiss ScalarQuantizer layout), integer code-dot shortlist (a
    // scaled covariance-dot, honestly a coarse cosine surrogate),
    // exact-cosine rerank on queries×shortlist survivors. The (min,
    // max) stats are exact aggregates the oracle re-derives
    // bit-identically; the quantizer is one pinned IEEE op sequence;
    // codes/scores are integers — hash-gated end to end.
    Q("xs14_sq8_ann",
      s"""WITH e AS (
         |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
         |), st AS (
         |  SELECT dd.d AS d, MIN(e.v[dd.d]) AS mn, MAX(e.v[dd.d]) AS mx
         |  FROM e, UNNEST(GENERATE_SERIES(1, 64)) dd(d) GROUP BY 1
         |), qc AS (
         |  SELECT e.id, LIST(CASE WHEN st.mx = st.mn THEN 0
         |    ELSE CAST(FLOOR((e.v[CAST(st.d AS INT)]
         |      - (st.mn + st.mx) / 2.0) * 254.0
         |      / (st.mx - st.mn) + 0.5) AS BIGINT) END
         |    ORDER BY st.d) AS qs
         |  FROM e CROSS JOIN st GROUP BY e.id
         |), sc AS (
         |  SELECT qq.id AS qid, s.id,
         |    CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
         |      i -> s.qs[CAST(i AS INT)] * qq.qs[CAST(i AS INT)]))
         |      AS BIGINT) AS score
         |  FROM qc s CROSS JOIN (SELECT * FROM qc WHERE id < 10) qq
         |  WHERE s.id <> qq.id
         |), short AS (
         |  SELECT qid, id, score FROM (
         |    SELECT qid, id, score, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, id) AS rn FROM sc) WHERE rn <= 30
         |), rr AS (
         |  SELECT sh.qid, sh.id, sh.score,
         |    LIST_INNER_PRODUCT(e.v, eq.v)
         |      / (SQRT(LIST_INNER_PRODUCT(e.v, e.v))
         |         * SQRT(LIST_INNER_PRODUCT(eq.v, eq.v))) AS sim
         |  FROM short sh
         |  JOIN e ON e.id = sh.id
         |  JOIN e eq ON eq.id = sh.qid
         |)
         |SELECT qid, rank, id, score, ${r4Sql("sim")} AS sim FROM (
         |  SELECT qid, id, score, sim, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, id) AS INT) AS rank
         |  FROM rr) WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.sq8TopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, shortlist = 30)
        .select(col("qid"), col("rank"), col("id"), col("score"),
          r4(col("sim")).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs12: MMR diversified rerank (Carbonell & Goldstein SIGIR'98)
    // over the brute top-20 shortlist of 3 queries — the result-
    // diversification pass after any shortlist stage (plain top-k
    // returns k near-copies of the best hit). Greedy, but every pick
    // is a deterministic argmax over pinned IEEE scores (λ·sim −
    // μ·max-pair-sim, explicit μ — 1−λ in Scala is NOT the literal
    // 0.3), so the whole selection ORDER is hash-gated: the oracle
    // replays shortlist, pairwise cosines, and all 5 unrolled greedy
    // steps. All post-shortlist work is queries×shortlist²-bounded.
    Q("xs12_mmr_rerank",
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id IN (1, 2, 3)
         |), e AS (
         |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
         |), sims AS (
         |  SELECT q.qid, e.id,
         |    LIST_INNER_PRODUCT(e.v, q.qv)
         |      / (SQRT(LIST_INNER_PRODUCT(e.v, e.v))
         |         * SQRT(LIST_INNER_PRODUCT(q.qv, q.qv))) AS sim
         |  FROM e CROSS JOIN q WHERE e.id <> q.qid
         |), cand AS MATERIALIZED (
         |  SELECT qid, id, sim FROM (
         |    SELECT qid, id, sim, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, id) AS rn
         |    FROM sims) WHERE rn <= 20
         |), pairs AS MATERIALIZED (
         |  SELECT x.qid, x.id AS a, y.id AS b,
         |    LIST_INNER_PRODUCT(ea.v, eb.v)
         |      / (SQRT(LIST_INNER_PRODUCT(ea.v, ea.v))
         |         * SQRT(LIST_INNER_PRODUCT(eb.v, eb.v))) AS psim
         |  FROM cand x JOIN cand y ON y.qid = x.qid AND y.id <> x.id
         |  JOIN e ea ON ea.id = x.id
         |  JOIN e eb ON eb.id = y.id
         |), sel0 AS (
         |  SELECT qid, id, sim, 0.0 AS score, 0 AS step
         |  FROM cand WHERE FALSE
         |),
         |${(1 to 5).map(mmrStepSql).mkString(",\n")}
         |SELECT qid, CAST(step AS INT) AS step, id,
         |  ${r4Sql("sim")} AS sim, ${r4Sql("score")} AS score
         |FROM sel5 ORDER BY qid, step""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id").isin(1L, 2L, 3L))
      val cand = Similarity
        .bruteForceTopK(emb, q, "vec_id", "embedding", 20)
        .select(col("qid"), col("id"), col("sim"))
      Similarity.mmrRerank(cand, emb, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("step"), col("id"),
          r4(col("sim")).as("sim"), r4(col("score")).as("score"))
        .orderBy("qid", "step")
    },

    // xs15: graph-traversal ANN (the NSW/HNSW family — the production
    // default of most vector stores, completing the ANN matrix beside
    // the quantizer suite IVF/PQ/BQ/SQ8/IVFPQ): round-synchronous
    // beam search from 8 pinned entry points over the exact 10-NN
    // graph of the planted corpus, ef=24, ≤10 rounds. Approximate by
    // design → rows-only here; recall ≥0.9 vs bruteForceTopK is
    // OperatorsSpec-gated (the xs2 discipline), the traversal itself
    // hash-gates through the pinned twin xs15b (the xs2b discipline),
    // and `ScaleStress` leg xs15 carries the touched-node law (visited
    // set bounded by entries + rounds·ef·deg, corpus-independent — brute force
    // pays |corpus| per query).
    Q.noOracle("xs15_ann_beam") { (s, d) =>
      val corpus = DedupQueries
        .plantedEmbeddingCorpus(t(s, d, "embeddings"))
        .localCheckpoint(true)
      val graph = Similarity.knnGraphExact(corpus, "id", "v", k = 10)
      Similarity.beamSearchTopK(corpus, corpus.where(col("id") < 10),
          graph, "id", "v", entryIds = 0L to 7L, ef = 24, rounds = 10,
          k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Hash-gated beam-search twin (xs15b): the SAME knnGraphExact +
    // beamSearchTopK machinery with every knob pinned small enough
    // for full SQL replay — deg=6 graph, 4 entry points, ef=8, 6
    // UNROLLED rounds (the traversal is round-synchronous with set
    // semantics, so a fixed unrolling replays it exactly; Spark's
    // early exit on an empty frontier only skips no-op rounds). The
    // oracle re-derives the entire chain: all-pairs cosine →
    // (sim DESC, id) rank ≤ deg edges → per-round top-ef beam →
    // neighbor expansion minus visited → final top-k excluding self.
    // The hash match proves the distributed traversal — bounded
    // top-ef aggregate, edge equi-join, anti-join, fresh sims —
    // visits EXACTLY the nodes the sequential definition visits, in
    // every round, for every query.
    Q("xs15b_ann_beam_pinned",
      beamOracleSql(deg = 6, nEntries = 4, ef = 8, rounds = 6,
        nQ = 5, k = 3)) { (s, d) =>
      val corpus = DedupQueries
        .plantedEmbeddingCorpus(t(s, d, "embeddings"))
        .localCheckpoint(true)
      val graph = Similarity.knnGraphExact(corpus, "id", "v", k = 6)
      Similarity.beamSearchTopK(corpus, corpus.where(col("id") < 5),
          graph, "id", "v", entryIds = 0L to 3L, ef = 8, rounds = 6,
          k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs16: Hamming-guided beam search — the xs15 × xs13 composition
    // the ANN family map row promises (traversal picks candidates,
    // integer sign-bit Hamming steers each round at popcount cost,
    // exact cosine only reranks the visited set). Rows-only;
    // navigation recall ≥0.9 OperatorsSpec-gated (measured 1.0 at
    // both bench SFs), the traversal hash-gates through xs16b.
    Q.noOracle("xs16_ann_beam_bq") { (s, d) =>
      val corpus = DedupQueries
        .plantedEmbeddingCorpus(t(s, d, "embeddings"))
        .localCheckpoint(true)
      val graph = Similarity.knnGraphExact(corpus, "id", "v", k = 10)
      Similarity.beamSearchTopKBQ(corpus, corpus.where(col("id") < 10),
          graph, "id", "v", entryIds = 0L to 7L, ef = 24, rounds = 10,
          k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs17: the BLOCKED-construction traversal, HASH-GATED end to end
    // (beyond the r17 spec gate): label-centroid cells (the xs2b
    // SQL-replayable quantizer) → probe-2 assignment → ivfSeededGraph
    // edges (candidates only from shared cells — the linear-law
    // construction `ScaleStress` leg xs17 grades; never all-pairs) →
    // cellMedoids entry points (one per cell, the two-layer HNSW shape) → the
    // xs15 traversal → exact top-3. Every stage is deterministic SQL
    // arithmetic, so the oracle replays the ENTIRE production stack:
    // a blocked build feeding the construction-agnostic beam search.
    Q("xs17_ann_beam_blocked",
      blockedBeamOracleSql(deg = 6, probe = 2, ef = 8, rounds = 6,
        nQ = 5, k = 3)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val corpus = emb.select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .localCheckpoint(true)
      val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
        probe = 2, k = 6)
      val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
      Similarity.beamSearchTopK(corpus, corpus.where(col("id") < 5),
          graph, "id", "v", entryIds = entries, ef = 8, rounds = 6,
          k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs18: the HIERARCHICAL descent — the two-layer half of the HNSW
    // analogy completed: instead of starting every query at EVERY
    // cell's medoid (xs17's flat tier), each query first searches the
    // medoid LAYER (one tiny exact top-m over nlist rows) and
    // descends into the base graph from its own 3 nearest medoids.
    // Per-query seeds drop from nlist to 3 — the visited set shrinks
    // accordingly (OperatorsSpec gates hier ⊂ flat AND recall). Same
    // blocked construction as xs17; hash-gated via one more
    // ROW_NUMBER in the v0 CTE.
    Q("xs18_ann_beam_hier",
      blockedBeamOracleSql(deg = 6, probe = 2, ef = 8, rounds = 6,
        nQ = 5, k = 3, seedM = 3)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val corpus = emb.select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .localCheckpoint(true)
      val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
        probe = 2, k = 6)
      val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
      Similarity.beamSearchTopKHier(corpus, corpus.where(col("id") < 5),
          graph, "id", "v", entryIds = entries, seedM = 3, ef = 8,
          rounds = 6, k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs19: ATTRIBUTE-FILTERED traversal serve — xs11's filtered
    // vector search on the graph read path (the other half of every
    // production vector store's filtered-query surface). Navigation is
    // PREDICATE-INDEPENDENT: the beam walks the full blocked graph
    // exactly as xs17 does (filtering the frontier would disconnect
    // the graph under selective predicates — a query's label-mates
    // may only be reachable through off-label hops); the filter
    // applies at HARVEST over the visited set, with ef over-fetched
    // 8→16 so enough same-label nodes are visited (each label is
    // ~1/10 of the corpus; ef ≳ k/selectivity). Deterministic end to
    // end
    // ⇒ hash-gated: the oracle replays the full blocked stack with
    // the label equality in the final rank only. Recall vs filtered
    // brute force + the naive-post-filter under-return are
    // OperatorsSpec-gated.
    Q("xs19_ann_beam_filtered",
      blockedBeamOracleSql(deg = 6, probe = 2, ef = 16, rounds = 6,
        nQ = 5, k = 3, filterLabel = true)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val corpus = emb.select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"),
          col("label"))
        .localCheckpoint(true)
      val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
        probe = 2, k = 6)
      val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
      Similarity.beamSearchTopKFiltered(corpus,
          corpus.where(col("id") < 5), graph, "id", "v", "label",
          entryIds = entries, ef = 16, rounds = 6, k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // xs20: RANGE-filtered traversal serve — the other predicate
    // class real vector stores ship beside xs19's equality (price
    // bands, time windows, version ranges): top-3 among visited
    // nodes whose label sits within ±1 of the query's. Same
    // predicate-independent navigation, same harvest machinery with
    // the predicate generalized (beamSearchTopKFilteredBy); ~3/10
    // selectivity needs less over-fetch than xs19's 1/10, ef=16
    // kept for the family's shared dial. Deterministic integer
    // arithmetic ⇒ hash-gated via the same CTE with the band
    // predicate in the final rank.
    Q("xs20_ann_beam_range",
      blockedBeamOracleSql(deg = 6, probe = 2, ef = 16, rounds = 6,
        nQ = 5, k = 3,
        filterPred = "ABS(c.label - q.qlabel) <= 1")) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val corpus = emb.select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"),
          col("label"))
        .localCheckpoint(true)
      val graph = Similarity.ivfSeededGraph(corpus, "id", "v", cents,
        probe = 2, k = 6)
      val entries = Similarity.cellMedoids(corpus, "id", "v", cents)
      Similarity.beamSearchTopKFilteredBy(corpus,
          corpus.where(col("id") < 5), graph, "id", "v", "label",
          (a, q) => abs(a - q) <= 1, entryIds = entries, ef = 16,
          rounds = 6, k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Hash-gated Hamming-beam twin (xs16b, the xs15b discipline): the
    // SAME machinery pinned small — deg-6 graph, 4 entries, ef=8, 6
    // unrolled rounds — with the beam ordered by the INTEGER sign
    // Hamming distance (exact in both engines, boundary ties
    // included) and the final top-k reranked by exact cosine over the
    // visited set. The hash match proves the integer-guided traversal
    // visits exactly the sequential definition's nodes AND that the
    // rerank contract matches xs15's.
    Q("xs16b_ann_beam_bq_pinned",
      beamBqOracleSql(deg = 6, nEntries = 4, ef = 8, rounds = 6,
        nQ = 5, k = 3)) { (s, d) =>
      val corpus = DedupQueries
        .plantedEmbeddingCorpus(t(s, d, "embeddings"))
        .localCheckpoint(true)
      val graph = Similarity.knnGraphExact(corpus, "id", "v", k = 6)
      Similarity.beamSearchTopKBQ(corpus, corpus.where(col("id") < 5),
          graph, "id", "v", entryIds = 0L to 3L, ef = 8, rounds = 6,
          k = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    }
  )

  /** The xs16b Hamming-beam replay — [[beamOracleSql]]'s chain with
    * the round score swapped to the integer sign-Hamming distance
    * (`hsim`: per-dim sign-disagreement count — exact integers, no
    * IEEE care) and the final top-k reranked by exact cosine (`csim`)
    * over the final visited set.
    */
  private[queries] def beamBqOracleSql(deg: Int, nEntries: Int,
      ef: Int, rounds: Int, nQ: Int, k: Int): String = {
    val roundCtes = (0 until rounds).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT qid, id FROM (
         |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY hd ASC, id) AS rn FROM v$r) WHERE rn <= $ef
         |), f$r AS MATERIALIZED (
         |  SELECT DISTINCT b.qid, e.nb AS id
         |  FROM b$r b JOIN edges e ON e.id = b.id
         |  WHERE NOT EXISTS (SELECT 1 FROM v$r v
         |    WHERE v.qid = b.qid AND v.id = e.nb)
         |), v${r + 1} AS MATERIALIZED (
         |  SELECT * FROM v$r UNION ALL
         |  SELECT s.qid, s.id, s.hd FROM hsim s
         |  JOIN f$r USING (qid, id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), corpus AS (
       |  SELECT vec_id AS id, v FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000 AS id,
       |         LIST_TRANSFORM(v, x -> x + 0.05) AS v FROM base
       |), nrm AS MATERIALIZED (
       |  SELECT id, v, SQRT(LIST_INNER_PRODUCT(v, v)) AS n FROM corpus
       |), edges AS MATERIALIZED (
       |  SELECT id, nb FROM (
       |    SELECT x.id AS id, y.id AS nb, ROW_NUMBER() OVER (
       |      PARTITION BY x.id
       |      ORDER BY LIST_INNER_PRODUCT(x.v, y.v) / (x.n * y.n) DESC,
       |        y.id) AS rn
       |    FROM nrm x JOIN nrm y ON x.id <> y.id
       |  ) WHERE rn <= $deg
       |), q AS (
       |  SELECT id AS qid, v AS qv, n AS nq FROM nrm WHERE id < $nQ
       |), hsim AS MATERIALIZED (
       |  SELECT q.qid, c.id,
       |    CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
       |      i -> CASE WHEN (c.v[CAST(i AS INT)] > 0)
       |                  <> (q.qv[CAST(i AS INT)] > 0)
       |           THEN 1 ELSE 0 END)) AS BIGINT) AS hd
       |  FROM nrm c, q
       |), csim AS MATERIALIZED (
       |  SELECT q.qid, c.id,
       |    LIST_INNER_PRODUCT(c.v, q.qv) / (c.n * q.nq) AS sim
       |  FROM nrm c, q
       |), v0 AS MATERIALIZED (
       |  SELECT qid, id, hd FROM hsim
       |  WHERE id IN (${(0 until nEntries).mkString(", ")})
       |),
       |$roundCtes
       |SELECT qid, CAST(rn AS INT) AS rank, id, ROUND(sim, 4) AS sim
       |FROM (
       |  SELECT s.qid, s.id, s.sim, ROW_NUMBER() OVER (
       |    PARTITION BY s.qid ORDER BY s.sim DESC, s.id) AS rn
       |  FROM csim s JOIN v$rounds USING (qid, id)
       |  WHERE s.id <> s.qid
       |) WHERE rn <= $k ORDER BY qid, rank""".stripMargin
  }

  /** The xs15b beam-search replay: planted corpus → exact deg-NN
    * graph (all-pairs cosine, ROW_NUMBER (sim DESC, id) ≤ deg — the
    * xs9 edge discipline with no threshold) → `rounds` UNROLLED
    * beam/frontier/visited CTE triples → top-k of the final visited
    * set excluding the query node. Every selection (beam top-ef,
    * final top-k, edge rank) orders by raw-double sim DESC then id —
    * [[graft.operators.TopK.TopKPairs]]' exact comparator, boundary
    * ties included. MATERIALIZED is load-bearing: the visited chain
    * references each v_r three times, and inlining would re-evaluate
    * the whole prefix exponentially.
    *
    * `corpusCtes` pins the corpus the graph is built over: xs15b's
    * planted corpus by default; qs35 passes the raw embeddings table
    * (the qs34 store corpus) so the SAME unrolled traversal replays
    * the serve-while-ingest composition's FINAL serve.
    */
  private[queries] def beamOracleSql(deg: Int, nEntries: Int, ef: Int,
      rounds: Int, nQ: Int, k: Int,
      corpusCtes: String =
        """base AS (
          |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          |), corpus AS (
          |  SELECT vec_id AS id, v FROM base
          |  UNION ALL
          |  SELECT vec_id + 100000 AS id,
          |         LIST_TRANSFORM(v, x -> x + 0.05) AS v FROM base
          |)""".stripMargin): String = {
    val roundCtes = (0 until rounds).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT qid, id FROM (
         |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, id) AS rn FROM v$r) WHERE rn <= $ef
         |), f$r AS MATERIALIZED (
         |  SELECT DISTINCT b.qid, e.nb AS id
         |  FROM b$r b JOIN edges e ON e.id = b.id
         |  WHERE NOT EXISTS (SELECT 1 FROM v$r v
         |    WHERE v.qid = b.qid AND v.id = e.nb)
         |), v${r + 1} AS MATERIALIZED (
         |  SELECT * FROM v$r UNION ALL
         |  SELECT s.qid, s.id, s.sim FROM qsim s
         |  JOIN f$r USING (qid, id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $corpusCtes, nrm AS MATERIALIZED (
       |  SELECT id, v, SQRT(LIST_INNER_PRODUCT(v, v)) AS n FROM corpus
       |), edges AS MATERIALIZED (
       |  SELECT id, nb FROM (
       |    SELECT x.id AS id, y.id AS nb, ROW_NUMBER() OVER (
       |      PARTITION BY x.id
       |      ORDER BY LIST_INNER_PRODUCT(x.v, y.v) / (x.n * y.n) DESC,
       |        y.id) AS rn
       |    FROM nrm x JOIN nrm y ON x.id <> y.id
       |  ) WHERE rn <= $deg
       |), q AS (
       |  SELECT id AS qid, v AS qv, n AS nq FROM nrm WHERE id < $nQ
       |), qsim AS MATERIALIZED (
       |  SELECT q.qid, c.id,
       |    LIST_INNER_PRODUCT(c.v, q.qv) / (c.n * q.nq) AS sim
       |  FROM nrm c, q
       |), v0 AS MATERIALIZED (
       |  SELECT qid, id, sim FROM qsim
       |  WHERE id IN (${(0 until nEntries).mkString(", ")})
       |),
       |$roundCtes
       |SELECT qid, CAST(rn AS INT) AS rank, id, ROUND(sim, 4) AS sim
       |FROM (
       |  SELECT qid, id, sim, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, id) AS rn
       |  FROM v$rounds WHERE id <> qid
       |) WHERE rn <= $k ORDER BY qid, rank""".stripMargin
  }

  /** The xs17 blocked-construction replay: label-centroid cells
    * (decimal means — the xs2b quantizer SQL verbatim), probe-`probe`
    * assignment under the dot·(1/‖c‖) metric with ties to the smaller
    * label ([[graft.operators.HashFns.nearestCentroids]]' exact IEEE
    * sequence), [[Similarity.ivfSeededGraph]]'s edge derivation (a
    * node's candidates = nodes whose probe set contains its PRIMARY
    * cell — never all-pairs; rank (sim DESC, id) ≤ deg),
    * [[Similarity.cellMedoids]] (per-cell argmax dot/‖v‖, ties to the
    * lower id) as the entry tier, then [[beamOracleSql]]'s unrolled
    * round CTEs and final top-k. The hash match proves the BLOCKED
    * production stack — quantizer, blocked edges, medoid entries,
    * traversal — end to end, not just the exact-graph traversal.
    *
    * `seedM` > 0 switches v0 to the HIERARCHICAL descent (xs18): each
    * query scores the medoid layer and keeps only its own top-seedM
    * (sim DESC, id) as seeds — the per-query upper-layer search of
    * the HNSW analogy, replayed by one more ROW_NUMBER.
    *
    * `filterLabel` restricts the FINAL rank to visited nodes sharing
    * the query's label (xs19 — navigation stays unfiltered, the
    * harvest filters: the predicate-independent-traversal design
    * [[graft.operators.Similarity.beamSearchTopKFiltered]] documents);
    * `filterPred` generalizes it to any SQL predicate over
    * (`c.label`, `q.qlabel`) — xs20's range band.
    */
  private[queries] def blockedBeamOracleSql(deg: Int, probe: Int,
      ef: Int, rounds: Int, nQ: Int, k: Int, seedM: Int = 0,
      filterLabel: Boolean = false, filterPred: String = ""): String = {
    val pred =
      if (filterPred.nonEmpty) filterPred
      else if (filterLabel) "c.label = q.qlabel"
      else ""
    val roundCtes = (0 until rounds).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT qid, id FROM (
         |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, id) AS rn FROM v$r) WHERE rn <= $ef
         |), f$r AS MATERIALIZED (
         |  SELECT DISTINCT b.qid, e.nb AS id
         |  FROM b$r b JOIN edges e ON e.id = b.id
         |  WHERE NOT EXISTS (SELECT 1 FROM v$r v
         |    WHERE v.qid = b.qid AND v.id = e.nb)
         |), v${r + 1} AS MATERIALIZED (
         |  SELECT * FROM v$r UNION ALL
         |  SELECT s.qid, s.id, s.sim FROM qsim s
         |  JOIN f$r USING (qid, id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH comp AS (
       |  SELECT vec_id, label, UNNEST(embedding::DOUBLE[]) AS x,
       |    GENERATE_SUBSCRIPTS(embedding, 1) AS pos
       |  FROM embeddings
       |), cm AS (
       |  SELECT label AS clabel, pos,
       |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
       |      AS m
       |  FROM comp GROUP BY 1, 2
       |), cent AS MATERIALIZED (
       |  SELECT clabel, LIST(m ORDER BY pos) AS centroid
       |  FROM cm GROUP BY 1
       |), nrm AS MATERIALIZED (
       |  SELECT vec_id AS id, label, embedding::DOUBLE[] AS v,
       |    SQRT(LIST_INNER_PRODUCT(embedding::DOUBLE[],
       |      embedding::DOUBLE[])) AS n
       |  FROM embeddings
       |), rnk AS MATERIALIZED (
       |  SELECT id, clabel, ROW_NUMBER() OVER (PARTITION BY id
       |    ORDER BY s DESC, clabel) AS rn
       |  FROM (
       |    SELECT c.id, t.clabel,
       |      LIST_INNER_PRODUCT(c.v, t.centroid) *
       |        (1.0 / SQRT(LIST_INNER_PRODUCT(t.centroid, t.centroid)))
       |        AS s
       |    FROM nrm c CROSS JOIN cent t)
       |), asg AS (SELECT id, clabel AS cell FROM rnk WHERE rn = 1),
       |prb AS (SELECT id, clabel AS cell FROM rnk WHERE rn <= $probe),
       |edges AS MATERIALIZED (
       |  SELECT id, nb FROM (
       |    SELECT a.id AS id, b.id AS nb, ROW_NUMBER() OVER (
       |      PARTITION BY a.id
       |      ORDER BY LIST_INNER_PRODUCT(x.v, y.v) / (x.n * y.n) DESC,
       |        b.id) AS rn
       |    FROM asg a JOIN prb b USING (cell)
       |    JOIN nrm x ON x.id = a.id
       |    JOIN nrm y ON y.id = b.id
       |    WHERE a.id <> b.id
       |  ) WHERE rn <= $deg
       |), med AS MATERIALIZED (
       |  SELECT id FROM (
       |    SELECT a.id, ROW_NUMBER() OVER (PARTITION BY a.cell
       |      ORDER BY LIST_INNER_PRODUCT(x.v, t.centroid) / x.n DESC,
       |        a.id) AS rn
       |    FROM asg a
       |    JOIN nrm x ON x.id = a.id
       |    JOIN cent t ON t.clabel = a.cell
       |  ) WHERE rn = 1
       |), q AS (
       |  SELECT id AS qid, label AS qlabel, v AS qv, n AS nq
       |  FROM nrm WHERE id < $nQ
       |), qsim AS MATERIALIZED (
       |  SELECT q.qid, c.id,
       |    LIST_INNER_PRODUCT(c.v, q.qv) / (c.n * q.nq) AS sim
       |  FROM nrm c, q
       |), v0 AS MATERIALIZED (
       |${if (seedM <= 0)
        """  SELECT qid, id, sim FROM qsim
          |  WHERE id IN (SELECT id FROM med)""".stripMargin
      else
        s"""  SELECT qid, id, sim FROM (
           |    SELECT qid, id, sim, ROW_NUMBER() OVER (
           |      PARTITION BY qid ORDER BY sim DESC, id) AS rn
           |    FROM qsim WHERE id IN (SELECT id FROM med)
           |  ) WHERE rn <= $seedM""".stripMargin}
       |),
       |$roundCtes
       |SELECT qid, CAST(rn AS INT) AS rank, id, ROUND(sim, 4) AS sim
       |FROM (
       |${if (pred.isEmpty)
        s"""  SELECT qid, id, sim, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, id) AS rn
           |  FROM v$rounds WHERE id <> qid""".stripMargin
      else
        s"""  SELECT w.qid, w.id, w.sim, ROW_NUMBER() OVER (
           |    PARTITION BY w.qid ORDER BY w.sim DESC, w.id) AS rn
           |  FROM v$rounds w
           |  JOIN nrm c ON c.id = w.id
           |  JOIN q ON q.qid = w.qid
           |  WHERE w.id <> w.qid AND ($pred)""".stripMargin}
       |) WHERE rn <= $k ORDER BY qid, rank""".stripMargin
  }

  /** One unrolled MMR greedy step (see [[Similarity.mmrRerank]]):
    * remaining candidates score λ·sim − μ·max(pair-sim to selected)
    * with the empty-selection penalty COALESCE'd to 0 (step 1 is pure
    * relevance), argmax by (score DESC, id) per query.
    */
  private def mmrStepSql(j: Int): String = {
    val prev = s"sel${j - 1}"
    s"""m$j AS MATERIALIZED (
       |  SELECT c.qid, c.id, c.sim,
       |    0.7 * c.sim - 0.3 * COALESCE(px.mx, 0.0) AS score
       |  FROM cand c
       |  LEFT JOIN (
       |    SELECT p.qid, p.a AS id, MAX(p.psim) AS mx
       |    FROM pairs p JOIN $prev s ON s.qid = p.qid AND s.id = p.b
       |    GROUP BY p.qid, p.a) px ON px.qid = c.qid AND px.id = c.id
       |  WHERE (c.qid, c.id) NOT IN (SELECT (qid, id) FROM $prev)
       |), pick$j AS MATERIALIZED (
       |  SELECT qid, id, sim, score, $j AS step FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score DESC, id) AS rn FROM m$j) WHERE rn = 1
       |), sel$j AS MATERIALIZED (
       |  SELECT * FROM $prev UNION ALL SELECT * FROM pick$j
       |)""".stripMargin
  }

  /** xs10 bench attribution split (VERDICT r9 #4): the GATED entry
    * above folds model training (two corpus aggregations: decimal-mean
    * label centroids + per-label residual codebooks) and the IVFADC
    * probe chain into one timed unit — correct for the oracle, opaque
    * for benchmarking (the r9 2.8×/6.5× "regression" was the entry
    * definition absorbing training, not the operator). These two
    * expose the same computation split at the training/query boundary
    * so Bench can time `prep` (corpus-scale, amortized once per model
    * in production) and `query` (probe-proportional, the recurring
    * cost) separately. The gated entry composes exactly these —
    * oracle unchanged.
    */
  private[graft] def xs10PrepModel(s: org.apache.spark.sql.SparkSession,
      d: String)
      : (Seq[(Long, Seq[Double])], Seq[Seq[Seq[Double]]]) = {
    val emb = t(s, d, "embeddings")
    val cents = Similarity.labelCentroids(emb, "label", "embedding")
      .select(col("clabel").cast("long"), col("centroid"))
      .collect()
      .map(row => (row.getLong(0), row.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq
    val books = Similarity.residualCodebooksByLabel(emb, "vec_id",
      "label", "embedding", cents, m = 8)
    (cents, books)
  }

  private[graft] def xs10QueryWith(s: org.apache.spark.sql.SparkSession,
      d: String, cents: Seq[(Long, Seq[Double])],
      books: Seq[Seq[Seq[Double]]])
      : org.apache.spark.sql.DataFrame = {
    val emb = t(s, d, "embeddings")
    Similarity.ivfPqTopKWith(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, cents, books,
        nprobe = 3, shortlist = 30)
      .select(col("qid"), col("rank"), col("id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rank")
  }

  /** The xs2b pinned-cell IVF replay: decimal-mean label centroids →
    * dot·(1/‖c‖) assignment (exact IEEE order, ties to smaller label
    * — NearestCentroids' sequence) → top-nprobe probes per query →
    * exact cosine within probed cells → (sim DESC, id) top-k. The
    * front half (cent/sc/asg/probes) is the same chain
    * [[ivfPqOracleSql]] replays; here the probed cells rerank with
    * FULL vectors instead of ADC codes.
    */
  private[queries] def ivfOracleSql(nQ: Int, nprobe: Int,
      k: Int, sameLabel: Boolean = false): String =
    s"""WITH comp AS (
      |  SELECT vec_id, label, UNNEST(embedding::DOUBLE[]) AS x,
      |    GENERATE_SUBSCRIPTS(embedding, 1) AS pos
      |  FROM embeddings
      |), cm AS (
      |  SELECT label AS clabel, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
      |      AS m
      |  FROM comp GROUP BY 1, 2
      |), cent AS (
      |  SELECT clabel, LIST(m ORDER BY pos) AS centroid
      |  FROM cm GROUP BY 1
      |), vv AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |), sc AS (
      |  SELECT vv.vec_id, vv.label, vv.v, t.clabel,
      |    LIST_INNER_PRODUCT(vv.v, t.centroid) *
      |      (1.0 / SQRT(LIST_INNER_PRODUCT(t.centroid, t.centroid)))
      |      AS s
      |  FROM vv CROSS JOIN cent t
      |), asg AS (
      |  SELECT vec_id, label, v, clabel AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY s DESC, clabel) AS rn
      |    FROM sc) WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS qid, label AS qlabel, clabel AS cell FROM (
      |    SELECT vec_id, label, clabel, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY s DESC, clabel) AS rn
      |    FROM sc WHERE vec_id < $nQ) WHERE rn <= $nprobe
      |)
      |SELECT qid, rank, id, sim FROM (
      |  SELECT c.qid, c.id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c.qid
      |      ORDER BY raw DESC, c.id) AS INT) AS rank,
      |    ROUND(raw, 4) AS sim
      |  FROM (
      |    SELECT p.qid, a.vec_id AS id,
      |      LIST_INNER_PRODUCT(a.v, q.v) /
      |        (SQRT(LIST_INNER_PRODUCT(a.v, a.v)) *
      |         SQRT(LIST_INNER_PRODUCT(q.v, q.v))) AS raw
      |    FROM probes p
      |    JOIN asg a ON a.cell = p.cell${
        if (sameLabel) " AND a.label = p.qlabel" else ""}
      |    JOIN vv q ON q.vec_id = p.qid
      |    WHERE a.vec_id <> p.qid
      |  ) c
      |) WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** The full xs10 IVFADC replay: label-centroid cells → assignment
    * (dot·(1/‖c‖), ties to smaller label — NearestCentroids' exact
    * IEEE sequence) → residuals → per-label decimal-mean residual
    * codebooks → argmin encode → top-nprobe probes with per-cell
    * query-residual LUTs → fixed-order ADC → shortlist → exact
    * rerank.
    */
  private[queries] def ivfPqOracleSql(nQ: Int, nprobe: Int,
      shortlist: Int, k: Int): String =
    s"""WITH comp AS (
      |  SELECT vec_id, label, UNNEST(embedding::DOUBLE[]) AS x,
      |    GENERATE_SUBSCRIPTS(embedding, 1) AS pos
      |  FROM embeddings
      |), cm AS (
      |  SELECT label AS clabel, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
      |      AS m
      |  FROM comp GROUP BY 1, 2
      |), cent AS (
      |  SELECT clabel, LIST(m ORDER BY pos) AS centroid
      |  FROM cm GROUP BY 1
      |), vv AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |), sc AS (
      |  SELECT vv.vec_id, vv.label, vv.v, t.clabel,
      |    LIST_INNER_PRODUCT(vv.v, t.centroid) *
      |      (1.0 / SQRT(LIST_INNER_PRODUCT(t.centroid, t.centroid)))
      |      AS s
      |  FROM vv CROSS JOIN cent t
      |), asg AS (
      |  SELECT vec_id, label, v, clabel AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY s DESC, clabel) AS rn
      |    FROM sc) WHERE rn = 1
      |), rescomp AS (
      |  SELECT a.vec_id, a.label, a.cell, g.pos,
      |    a.v[g.pos] - t.centroid[g.pos] AS rx
      |  FROM asg a JOIN cent t ON t.clabel = a.cell,
      |  LATERAL UNNEST(RANGE(1, LEN(a.v)+1)) g(pos)
      |), rbm AS (
      |  SELECT label AS clabel, pos,
      |    CAST(SUM(CAST(rx AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
      |      AS bm
      |  FROM rescomp GROUP BY 1, 2
      |), ed AS (
      |  SELECT rc.vec_id, w.clabel, (rc.pos-1)//8 AS j,
      |    ${pivotSum("(rc.pos-1)%8", "(rc.rx-w.bm)*(rc.rx-w.bm)", 8)}
      |      AS d2
      |  FROM rescomp rc JOIN rbm w ON w.pos = rc.pos
      |  GROUP BY 1, 2, 3
      |), enc AS (
      |  SELECT e0.vec_id, a.cell, e0.j, e0.clabel AS code FROM (
      |    SELECT vec_id, j, clabel, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id, j ORDER BY d2, clabel) AS rn
      |    FROM ed) e0 JOIN asg a USING (vec_id)
      |  WHERE e0.rn = 1
      |), probes AS (
      |  SELECT vec_id AS qid, clabel AS cell FROM (
      |    SELECT vec_id, clabel, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY s DESC, clabel) AS rn
      |    FROM sc WHERE vec_id < $nQ) WHERE rn <= $nprobe
      |), qres AS (
      |  SELECT p.qid, p.cell, g.pos, q.v[g.pos] - t.centroid[g.pos]
      |    AS rx
      |  FROM probes p JOIN vv q ON q.vec_id = p.qid
      |  JOIN cent t ON t.clabel = p.cell,
      |  LATERAL UNNEST(RANGE(1, LEN(q.v)+1)) g(pos)
      |), lut AS (
      |  SELECT qr.qid, qr.cell, w.clabel, (qr.pos-1)//8 AS j,
      |    ${pivotSum("(qr.pos-1)%8", "(qr.rx-w.bm)*(qr.rx-w.bm)", 8)}
      |      AS d2
      |  FROM qres qr JOIN rbm w ON w.pos = qr.pos
      |  GROUP BY 1, 2, 3, 4
      |), adc AS (
      |  SELECT l.qid, e.vec_id AS id,
      |    ${pivotSum("e.j", "l.d2", 8)} AS adc
      |  FROM enc e JOIN lut l ON l.cell = e.cell AND l.j = e.j
      |    AND l.clabel = e.code
      |  WHERE e.vec_id <> l.qid
      |  GROUP BY 1, 2
      |), cand AS (
      |  SELECT qid, id FROM (
      |    SELECT qid, id, ROW_NUMBER() OVER (
      |      PARTITION BY qid ORDER BY adc, id) AS rn
      |    FROM adc)
      |  WHERE rn <= $shortlist
      |)
      |SELECT qid, rank, id, sim FROM (
      |  SELECT c.qid, c.id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c.qid
      |      ORDER BY raw DESC, c.id) AS INT) AS rank,
      |    ROUND(raw, 4) AS sim
      |  FROM (
      |    SELECT c0.qid, c0.id,
      |      LIST_INNER_PRODUCT(x.embedding::DOUBLE[],
      |                         q.embedding::DOUBLE[]) /
      |        (SQRT(LIST_INNER_PRODUCT(x.embedding::DOUBLE[],
      |                                  x.embedding::DOUBLE[])) *
      |         SQRT(LIST_INNER_PRODUCT(q.embedding::DOUBLE[],
      |                                  q.embedding::DOUBLE[]))) AS raw
      |    FROM cand c0
      |    JOIN embeddings x ON x.vec_id = c0.id
      |    JOIN embeddings q ON q.vec_id = c0.qid
      |  ) c
      |) WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Fixed-order pivoted sum: n CASE-SUM terms added left-to-right —
    * the same IEEE addition sequence as a sequential Scala fold, so
    * both engines produce bit-identical doubles (each CASE bucket
    * holds exactly one row by construction).
    */
  private def pivotSum(cond: String, term: String, n: Int): String =
    (0 until n).map(k => s"SUM(CASE WHEN $cond = $k THEN $term END)")
      .mkString(" + ")

  /** The full xs7 PQ-rerank replay (decimal codebooks → argmin
    * encoding → pivoted ADC → shortlist → exact-cosine rerank),
    * parameterized so xs7 (queries vec_id < 10, top-5) and xt22's
    * dense arm (vec_id < 5, top-10) share one SQL source.
    */
  private[queries] def pqRerankOracleSql(nQ: Int, shortlist: Int,
      k: Int): String =
    s"""WITH comp AS (
      |  SELECT vec_id, label, UNNEST(embedding::DOUBLE[]) AS x,
      |    GENERATE_SUBSCRIPTS(embedding, 1) AS pos
      |  FROM embeddings
      |), cm AS (
      |  SELECT label AS clabel, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
      |      AS m
      |  FROM comp GROUP BY 1, 2
      |), ed AS (
      |  SELECT c.vec_id, w.clabel, (c.pos-1)//8 AS j,
      |    ${pivotSum("(c.pos-1)%8", "(c.x-w.m)*(c.x-w.m)", 8)} AS d2
      |  FROM comp c JOIN cm w ON w.pos = c.pos
      |  GROUP BY 1, 2, 3
      |), enc AS (
      |  SELECT vec_id, j, clabel AS code FROM (
      |    SELECT vec_id, j, clabel, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id, j ORDER BY d2, clabel) AS rn
      |    FROM ed)
      |  WHERE rn = 1
      |), lut AS (
      |  SELECT vec_id AS qid, j, clabel, d2 FROM ed WHERE vec_id < $nQ
      |), adc AS (
      |  SELECT l.qid, e.vec_id AS id,
      |    ${pivotSum("e.j", "l.d2", 8)} AS adc
      |  FROM enc e JOIN lut l ON l.j = e.j AND l.clabel = e.code
      |  WHERE e.vec_id <> l.qid
      |  GROUP BY 1, 2
      |), cand AS (
      |  SELECT qid, id FROM (
      |    SELECT qid, id, ROW_NUMBER() OVER (
      |      PARTITION BY qid ORDER BY adc, id) AS rn
      |    FROM adc)
      |  WHERE rn <= $shortlist
      |)
      |SELECT qid, rank, id, sim FROM (
      |  SELECT c.qid, c.id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c.qid
      |      ORDER BY raw DESC, c.id) AS INT) AS rank,
      |    ROUND(raw, 4) AS sim
      |  FROM (
      |    SELECT c0.qid, c0.id,
      |      LIST_INNER_PRODUCT(x.embedding::DOUBLE[],
      |                         q.embedding::DOUBLE[]) /
      |        (SQRT(LIST_INNER_PRODUCT(x.embedding::DOUBLE[],
      |                                  x.embedding::DOUBLE[])) *
      |         SQRT(LIST_INNER_PRODUCT(q.embedding::DOUBLE[],
      |                                  q.embedding::DOUBLE[]))) AS raw
      |    FROM cand c0
      |    JOIN embeddings x ON x.vec_id = c0.id
      |    JOIN embeddings q ON q.vec_id = c0.qid
      |  ) c
      |) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
}
