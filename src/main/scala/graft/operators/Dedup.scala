package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns

/** Near-duplicate detection operators (SURVEY §2.11; the LLM-pipeline
  * dedup suite). All are DataFrame→DataFrame transformers designed for
  * the 100TB shape:
  *
  *  - candidate generation is always *blocked* (LSH bands / SimHash
  *    bands), never an all-pairs product: the shuffle key is the band,
  *    so cost scales with Σ bucket² instead of n²;
  *  - verification (exact Jaccard / Hamming) runs only on candidates;
  *  - no driver-side collection anywhere.
  */
object Dedup {

  /** Connected components over an undirected pair graph (the step that
    * turns near-dup PAIRS into dedup CLUSTERS: keep one representative
    * per component). Iterative min-label propagation: each round every
    * node takes the minimum label among itself and its neighbors;
    * converges in O(component diameter) rounds — near-dup components
    * are shallow (a dup cluster is almost a clique), so a handful of
    * rounds suffices at any corpus size.
    *
    * Scale shape: each round is one equi-join + one min-aggregation on
    * the node id — no driver-side graph. The driver sees only the
    * convergence counter, and `localCheckpoint` cuts the growing
    * lineage so round N's plan does not replay rounds 1..N-1.
    * Output: (id, component) where component = min node id reachable.
    *
    * `pointerJump = true` adds bidirectional SHORTCUT EDGES `(id ↔
    * label)` to each round's propagation (the Hash-to-Min move,
    * Rastogi et al. ICDE'13): minima then travel the pointer graph as
    * well as the input graph, which compounds reach geometrically —
    * REQUIRED for long-chain pair graphs (xd18's sorted-neighborhood
    * windows chain a~b~c~… along the sort order, so component
    * diameter grows with cluster size; near-dup cliques stay shallow
    * and don't need it). Two propagation passes run per edge vintage:
    * pointer edges built from the SAME labels they deliver are no-ops
    * (the reverse edge (label→id) hands the dst its own label), so
    * the second pass — new labels over the now-stale pointer edges —
    * is what lets a local minimum LEARN a better label from its
    * pointees and fan it out next round. Plain label←label(label)
    * compression lacks exactly that learning step and crawls at hop
    * speed through thick-path regions (measured on the sf0.1 xd18
    * graph: 36 rounds single-compression vs 8 with this scheme).
    * Shortcut edges connect only nodes whose labels already witnessed
    * the same component, so the fixed point is the same component-min
    * labeling.
    *
    * With `pointerJump`, round frames are rebuilt via
    * [[org.apache.spark.sql.graftbridge.Bridge.freshStats]]: the
    * pointer edges reference the label frame twice more per round and
    * checkpointing preserves size ESTIMATES, so the join planner's
    * BigInt size product would otherwise grow its bit-length
    * geometrically and hang planning around round 25 (observed).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, pointerJump: Boolean = false): DataFrame =
    componentsWithRounds(pairs, aCol, bCol, maxIter, pointerJump)._1

  /** [[connectedComponents]] and the rounds it took to converge — the
    * O(log n) pointer-jump claim as a number (OperatorsSpec grades its
    * growth on a doubling chain).
    */
  private[graft] def componentsWithRounds(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int, pointerJump: Boolean)
      : (DataFrame, Int) = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    if (pointerJump)
      labels = org.apache.spark.sql.graftbridge.Bridge.freshStats(labels)
    var changed = 1L
    var i = 0
    LoopTuning.withLoopShuffle(pairs.sparkSession, edges.count()) {
    while (changed > 0 && i < maxIter) {
      // With pointerJump, augment the graph with this round's
      // bidirectional shortcut edges (id ↔ label); the frame is
      // checkpointed (it feeds one join) and stats-reset (it
      // references `labels` twice — see scaladoc).
      val edgesAll =
        if (!pointerJump) edges
        else org.apache.spark.sql.graftbridge.Bridge.freshStats(edges
          .unionAll(labels.where(col("id") =!= col("label"))
            .select(col("id").as("src"), col("label").as("dst")))
          .unionAll(labels.where(col("id") =!= col("label"))
            .select(col("label").as("src"), col("id").as("dst")))
          .localCheckpoint(true))
      // Carry the node's OWN previous label through the aggregation
      // (every id has exactly one self row) so convergence is decided
      // inside the same pass: `improved` = the min over neighbors beat
      // the old label. The count() below then scans the checkpointed
      // blocks — a narrow cached read, NOT the shuffle join per round
      // this used to cost.
      changed = 0L
      var pass = 0
      val passes = if (pointerJump) 2 else 1
      while (pass < passes) {
        val neighborLabels = edgesAll
          .join(labels, edgesAll("src") === labels("id"))
          .select(col("dst").as("id"), col("label"),
            lit(false).as("self"))
        val next = labels
          .select(col("id"), col("label"), lit(true).as("self"))
          .unionAll(neighborLabels)
          .groupBy("id")
          .agg(min("label").as("label"),
            (min("label") < max(when(col("self"), col("label"))))
              .as("improved"))
          .localCheckpoint(true)
        changed += next.where(col("improved")).count()
        labels = next.select(col("id"), col("label"))
        if (pointerJump)
          labels =
            org.apache.spark.sql.graftbridge.Bridge.freshStats(labels)
        pass += 1
      }
      i += 1
    }
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still improving) — a component with " +
          "diameter > maxIter exists; raise maxIter")
    (labels.select(col("id"), col("label").as("component")), i)
  }

  /** Cluster-level near-dup dedup: survivors = one representative (the
    * min id) per connected component of the pair graph, plus every
    * document that appears in no near-dup pair.
    */
  def dedupByComponents(docs: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String = "a", bCol: String = "b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val dropped = comps.where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Full-width → ASCII fold: U+FF01–U+FF5E are the width variants of
    * 0x21–0x7E (offset 0xFEE0), U+3000 is the ideographic space. NFC
    * does NOT touch these (compatibility, not canonical, equivalence —
    * NFKC territory), and DuckDB has no NFKC, so both engines fold
    * them with the SAME `translate` table instead.
    */
  val FullwidthFrom: String =
    (0x21 to 0x7e).map(c => (0xFEE0 + c).toChar).mkString + "　"
  val FullwidthTo: String = (0x21 to 0x7e).map(_.toChar).mkString + " "

  /** CCNet-style dedup-key normalization (Wenzek et al. 2020 §3.1
    * shape): NFC canonical composition ([[HashFns.nfcNormalize]] —
    * composed and decomposed accents become one string) → full-width
    * fold → casefold → strip ASCII punctuation → collapse whitespace
    * runs → trim. Every step is a narrow per-row map; feed the result
    * to [[exactDedup]] / MinHash / paragraph keys so cosmetic variants
    * (é vs e+◌́, ＡＢＣ vs ABC, spacing/punctuation noise) land in one
    * dedup bucket. The DuckDB replay is the same chain over
    * `nfc_normalize`/`translate`/`lower`/`regexp_replace` (xd13's
    * oracle); `[[:punct:]]` and `\s` denote the identical ASCII sets
    * in Java regex and RE2. Known edge: Java lowercases U+0130 (İ) to
    * i+combining-dot where DuckDB folds to plain i — Turkish-İ corpora
    * would need a pre-fold, documented rather than papered over.
    */
  def ccnetNormalize(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        lower(translate(HashFns.nfcNormalize(c),
          FullwidthFrom, FullwidthTo)),
        "[\\p{Punct}]+", ""),
      "\\s+", " "))

  /** The same chain in DuckDB SQL over expression `x`. */
  def ccnetNormalizeSql(x: String): String =
    "TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(TRANSLATE(" +
      s"NFC_NORMALIZE($x), '$FullwidthFrom', " +
      // ASCII punctuation inside a SQL string: escape the quote
      s"'${FullwidthTo.replace("'", "''")}')), " +
      "'[[:punct:]]+', '', 'g'), '\\s+', ' ', 'g'))"

  /** Exact dedup UNDER the CCNet normalization (xd13): keep the lowest
    * id per normalized key, with the number of collapsed variants.
    * Same one-hash-shuffle scale shape as [[exactDedup]]; only the key
    * derivation differs (a longer narrow map). Output: (idCol,
    * n_forms), survivors only.
    */
  def normalizedDedup(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k"))
    df.withColumn("__k", sha2(ccnetNormalize(col(textCol)), 256))
      .withColumn("__rn", row_number().over(w.orderBy(col(idCol))))
      .withColumn("n_forms", count(lit(1)).over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("n_forms"))
  }

  /** Exact dedup on normalized text: keep the lowest id per normalized
    * sha256 — one hash-shuffle, the 100TB-safe exact dedup.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = sha2(lower(trim(col(textCol))), 256)
    df.withColumn("__k", key)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__k")).orderBy(col(idCol))))
      .where(col("__rn") === 1)
      .drop("__k", "__rn")
  }

  /** MinHash+LSH candidate pairs (a < b) from a (id, shingles) frame.
    * bands*rowsPerBand must equal the signature width k. Recall for a
    * pair with Jaccard j is 1-(1-j^r)^b — with the default 32×4 a
    * j=0.9 pair is missed with probability ~1.5e-15.
    */
  def minhashCandidates(
      docs: DataFrame, idCol: String, shinglesCol: String,
      bands: Int = 32, rowsPerBand: Int = 4,
      maxBucket: Int = Int.MaxValue): DataFrame =
    // localCheckpoint: the banded rows feed BOTH sides of the bucket
    // self-join (and the cap's occupancy count) — without it each
    // reference replays the scan + shingle + 128-perm signature
    // chain, the dominant per-row cost. One banded materialization
    // (32 small rows/doc) vs 2-3 signature passes over the corpus.
    joinBuckets(capBuckets(
      minhashBanded(docs, idCol, shinglesCol, bands, rowsPerBand)
        .localCheckpoint(true),
      maxBucket))

  /** One row per (band index, band-slice bucket key) per document.
    * posexplode_outer: band arrays are fixed-length, never empty, and
    * the outer variant skips the size>0/isnotnull pre-filter that
    * would re-evaluate the signature expression twice more per row.
    *
    * The bucket key is xxhash64 of the band's minhash slice, NOT the
    * raw array: every downstream operation shuffles, sorts, windows or
    * joins on this key, and array<long> keys force interpreted
    * per-element ordering everywhere (measured: the occupancy window
    * over 16M array-keyed rows burned 6.7k CPU-seconds at 10× scale;
    * long keys radix-sort). A 64-bit collision can only ADD a spurious
    * candidate pair, which the exact-Jaccard verify step then
    * discards — the final output is collision-immune.
    */
  private[graft] def minhashBanded(docs: DataFrame, idCol: String,
      shinglesCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val sig = docs.select(col(idCol).as("__id"),
      HashFns.minhashSignature(col(shinglesCol), k).as("__sig"))
    sig.select(col("__id"),
      posexplode_outer(transform(sequence(lit(0), lit(bands - 1)),
        i => slice(col("__sig"), i * rowsPerBand + 1, lit(rowsPerBand))))
        .as(Seq("__band", "__k0")))
      .select(col("__id"), col("__band"), xxhash64(col("__k0")).as("__key"))
  }

  /** Candidate join over banded rows: a-b pairs sharing a bucket. */
  private def joinBuckets(banded: DataFrame): DataFrame =
    banded.as("x").join(banded.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
      .distinct()

  /** LSH bucket-size skew guard: a bucket of m members contributes
    * m²/2 candidate pairs — a mass-duplicated document (boilerplate,
    * crawler artifacts) lands its whole clique in EVERY band's bucket
    * and a single hot key dominates the join. Buckets above maxBucket
    * contribute no candidates (the standard pathological-bucket skip);
    * their members still pair through any non-hot bucket they share.
    * Default = uncapped (exact oracle parity).
    *
    * Occupancy via hash-aggregate + join-back with a `shuffle_hash`
    * hint on the ok-list side. Both alternatives fail at 10× scale:
    * unhinted, AQE broadcast the multi-million-row ok-list and ran the
    * driver out of memory; a window count pays WindowExec's per-group
    * buffering over millions of 1-row (band, key) groups (measured:
    * ~1.9k CPU-seconds of overhead at 16M banded rows). Hash agg +
    * hash join handle micro-groups at streaming cost.
    */
  private[graft] def capBuckets(banded: DataFrame, maxBucket: Int)
      : DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else banded.join(
      banded.groupBy("__band", "__key").agg(count(lit(1)).as("__bc"))
        .where(col("__bc") <= maxBucket).select("__band", "__key")
        .hint("shuffle_hash"),
      Seq("__band", "__key"))

  /** MinHash near-dup pairs, verified by exact Jaccard ≥ threshold on
    * the candidate set. With blocked candidates + exact verification the
    * output is deterministic (it equals the exact all-pairs answer
    * whenever the LSH recall at `threshold` is ~1, which the 32×4
    * parameters guarantee for any data whose near-dup pairs sit well
    * above the threshold).
    */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 4,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // localCheckpoint: the shingled corpus feeds the signature pass
    // AND both exact-verify join sides — the first-cut plan scanned
    // the source parquet 8× per run (shingling it each time); with
    // the two materializations (shingles here, banded rows in
    // minhashCandidates) the corpus is scanned and shingled ONCE.
    val sh = docs.select(col(idCol).as("__id"),
      TextFns.wordShingles(col(textCol), shingleN).as("__sh"))
      .localCheckpoint(true)
    val cand = minhashCandidates(
      sh.withColumnRenamed("__id", "id"), "id", "__sh", bands, rowsPerBand,
      maxBucket)
    verifyJaccard(cand, sh, sh, threshold)
  }

  /** Incremental near-dup: pairs between a NEW batch and an EXISTING
    * corpus only — the continuous-ingestion shape. The delta's banded
    * signatures join the corpus's banded signatures on (band, key), so
    * cost is Σ bucket_new × bucket_corpus per key — never corpus², and
    * nothing about the historical corpus is recomputed pairwise.
    * Output: (a = corpus id, b = new id, j). Caller contract: id
    * spaces are disjoint.
    */
  def minhashNearDupsAgainst(
      newDocs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleN: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 4,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // same materialization story as minhashNearDups: each shingled
    // side feeds its signature pass + one verify join; each banded
    // side feeds the cap count + the cross join
    def shingled(df: DataFrame) = df.select(col(idCol).as("__id"),
      TextFns.wordShingles(col(textCol), shingleN).as("__sh"))
      .localCheckpoint(true)
    val shN = shingled(newDocs)
    val shC = shingled(corpus)
    var bandedC = minhashBanded(shC, "__id", "__sh", bands, rowsPerBand)
      .localCheckpoint(true)
    var bandedN = minhashBanded(shN, "__id", "__sh", bands, rowsPerBand)
      .localCheckpoint(true)
    if (maxBucket != Int.MaxValue) {
      // cap on the COMBINED bucket population so the result equals the
      // cross-slice of a capped full run (a hot bucket is hot no
      // matter which side its members arrive on); shuffle_hash for the
      // same no-broadcast / no-window reasons as capBuckets — the two
      // joins share the agg subplan, so the shuffle stage is reused
      val ok = bandedC.select("__band", "__key")
        .unionAll(bandedN.select("__band", "__key"))
        .groupBy("__band", "__key").agg(count(lit(1)).as("__bc"))
        .where(col("__bc") <= maxBucket).select("__band", "__key")
        .hint("shuffle_hash")
      bandedC = bandedC.join(ok, Seq("__band", "__key"))
      bandedN = bandedN.join(ok, Seq("__band", "__key"))
    }
    val cand = bandedC.as("x").join(bandedN.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
      .distinct()
    verifyJaccard(cand, shC, shN, threshold)
  }

  /** Exact-Jaccard verification of candidate (a, b) pairs: a's
    * shingles from `shA`, b's from `shB` (both keyed `__id`/`__sh`).
    */
  private def verifyJaccard(cand: DataFrame, shA: DataFrame,
      shB: DataFrame, threshold: Double): DataFrame =
    cand
      .join(shA.select(col("__id").as("a"), col("__sh").as("__sa")), "a")
      .join(shB.select(col("__id").as("b"), col("__sh").as("__sb")), "b")
      .select(col("a"), col("b"),
        TextFns.jaccard(col("__sa"), col("__sb")).as("j"))
      .where(col("j") >= threshold)

  /** SimHash near-dup pairs: 60-bit signatures, banded into `bands`
    * equal bit-slices for candidate blocking. By pigeonhole, any pair
    * with Hamming distance ≤ bands-1 shares at least one exact band, so
    * for maxHamming ≤ bands-1 the blocked result equals brute force.
    */
  def simhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= bands - 1,
      s"recall guarantee needs maxHamming <= bands-1")
    val bits = 60 / bands
    val mask = (1L << bits) - 1
    val sh = docs.select(col(idCol).as("__id"),
      HashFns.simhash60(TextFns.tokenSet(col(textCol))).as("__s"))
    // localCheckpoint: the banded rows (which carry the signature)
    // feed the cap's occupancy count and both self-join sides; the
    // md5-based simhash is computed once, not per reference
    val banded = capBuckets(sh.select(col("__id"), col("__s"),
      posexplode_outer(array((0 until bands).map(i =>
        shiftright(col("__s"), i * bits).bitwiseAND(mask)): _*))
        .as(Seq("__band", "__key"))).localCheckpoint(true), maxBucket)
    banded.as("x").join(banded.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"),
        bit_count(col("x.__s").bitwiseXOR(col("y.__s"))).as("hd"))
      .distinct()
      .where(col("hd") <= maxHamming)
  }

  /** Exact n-gram Jaccard pairs via the relational formulation:
    * explode shingles → equi-join on shingle → intersection counts →
    * Jaccard. Shuffles on the shingle value; the LSH variant is the
    * scale path, this is the audit/oracle path.
    *
    * `maxDocFreq` is the skew guard: a stop-shingle appearing in d
    * documents contributes d² join rows (one hot bucket — AQE splits
    * it but cannot shrink it), while carrying ~no Jaccard signal. Any
    * shingle with document frequency > maxDocFreq is dropped from BOTH
    * the per-doc sizes and the join, so Jaccard stays exact over the
    * filtered shingle space and per-key join fanout is bounded by
    * maxDocFreq² regardless of corpus size.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      maxDocFreq: Int = 1000): DataFrame = {
    // localCheckpoint: the exploded shingles feed the df count, both
    // self-join sides and the per-doc sizes (5 references) — shingle
    // once, read cached blocks after (materialize-once policy)
    val shAll = docs.select(col(idCol).as("__id"),
      explode(TextFns.wordShingles(col(textCol), shingleN)).as("__s"))
      .localCheckpoint(true)
    // wordShingles dedups per doc, so count(*) per shingle = doc freq
    val sh =
      if (maxDocFreq == Int.MaxValue) shAll
      else shAll.join(
        shAll.groupBy("__s").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxDocFreq).select("__s"),
        "__s")
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("__n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.__s") === col("y.__s") && col("x.__id") < col("y.__id"))
      .groupBy(col("x.__id").as("a"), col("y.__id").as("b"))
      .agg(count(lit(1)).as("__ix"))
    inter
      .join(sizes.select(col("__id").as("a"), col("__n").as("__na")), "a")
      .join(sizes.select(col("__id").as("b"), col("__n").as("__nb")), "b")
      .select(col("a"), col("b"),
        (col("__ix").cast(DoubleType) /
          (col("__na") + col("__nb") - col("__ix"))).as("j"))
      .where(col("j") >= threshold)
  }

  /** Exact all-pairs set-similarity join via PREFIX FILTERING
    * (AllPairs, Bayardo et al. WWW'07; the positional refinement from
    * PPJoin, Xiao et al. WWW'08) — the third independent technique in
    * the Jaccard family beside banded MinHash (xd1, probabilistic
    * recall) and the df-capped relational join (xd3, exact over a
    * filtered shingle space): prefix filtering is EXACT over the FULL
    * shingle space with no recall parameter and no lossy cap.
    *
    * Theorem (prefix filter): order the shingle universe totally by
    * (document frequency asc, shingle asc) and give each document's
    * sorted shingle list a prefix of length p = n − ⌈t·n⌉ + 1. If
    * J(x,y) ≥ t then |x∩y| ≥ ⌈t·max(nx,ny)⌉, so the first (smallest)
    * common shingle w must sit inside BOTH prefixes: were w outside
    * x's prefix, all |x∩y| common shingles would live in x's last
    * ⌈t·nx⌉ − 1 positions — fewer slots than members. Hence joining
    * prefixes only loses nothing. Two further lossless prunes:
    *  - length filter: J ≥ t ⇒ t·max(nx,ny) ≤ min(nx,ny);
    *  - positional filter (PPJoin): for the shared prefix shingle at
    *    positions (px, py), |x∩y| ≤ 1 + min(nx−px, ny−py), and J ≥ t
    *    ⇒ |x∩y| ≥ ⌈t/(1+t)·(nx+ny)⌉ — a candidate whose upper bound
    *    misses that lower bound for SOME shared prefix shingle may
    *    still survive via another (we keep a pair if ANY shared prefix
    *    occurrence passes; the first-common-shingle occurrence always
    *    does for a true pair, so exactness is preserved).
    * All three prunes run in exact integer arithmetic: the threshold
    * is pinned to the e4 rational tNum/10000 (= round(t·10⁴)), so
    * ⌈t·n⌉ = (tNum·n + 9999) DIV 10000 — no float ceil near integral
    * t·n can shrink a prefix below the theorem's length (0.3·10 = 3
    * binary-rounds UP; a float ceil would cut the prefix one short and
    * silently drop true pairs).
    *
    * Scale shape: one df count (map-side combined), one shuffle join
    * shingle⋈df, one PER-DOC window for (pos, n) — sort-based, spills,
    * never corpus-wide — then the candidate join shuffles only PREFIX
    * rows on the shingle value. The df-ascending order puts the
    * corpus's RAREST shingles in every prefix, so hot stop-shingles
    * (the xd3 d² blowup) never enter the join; candidate volume is
    * Σ_w prefix-df(w)² over rare-w only (measured: 27 candidates for
    * 25 true pairs at sf0.01; 9× under the
    * share-any-shingle join at sf0.1, 100× under brute n²/2).
    * Verification is exact Jaccard on candidates only.
    *
    * Output: (a, b, j) with a < b and j ≥ threshold — equals the
    * brute-force all-pairs answer exactly.
    */
  def allPairsJaccard(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    // arrays once (verify joins), exploded once (df + rank + join) —
    // the materialize-once policy: the corpus is shingled a single time
    val shArr = docs.select(col(idCol).as("__id"),
      TextFns.wordShingles(col(textCol), shingleN).as("__sh"))
      .localCheckpoint(true)
    val cand = allPairsCandidates(shArr, threshold)
    val (tNum, tDen) = ppjoinRational(threshold)
    ppjoinVerify(cand, shArr, shArr, tNum, tDen, batchBounded = false)
  }

  /** The xd19 candidate stage (prefix + length + positional filters)
    * over a pre-shingled corpus (`__id`, `__sh` distinct-shingle
    * array) — exposed for the spec/SCALE candidate-volume counters.
    * Output: distinct (a, b), a < b — a SUPERSET of the J ≥ t pairs.
    */
  private[graft] def allPairsCandidates(shArr: DataFrame,
      threshold: Double): DataFrame = {
    val (tNum, tDen) = ppjoinRational(threshold)
    // explode is a narrow op over the checkpointed arrays — cheaper to
    // recompute per consumer than to checkpoint 50× the bytes
    val sh = shArr.select(col("__id"), explode(col("__sh")).as("__s"))
    val dfreq = sh.groupBy("__s").agg(count(lit(1)).as("__df"))
    val pref = ppjoinPrefixes(sh, dfreq, tNum, tDen)
      .localCheckpoint(true) // both candidate-join sides
    ppjoinCandidateJoin(pref, pref, tNum, tDen,
      extraCond = col("x.__id") < col("y.__id"))
  }

  /** Incremental AllPairs/PPJoin (xd20) — the xd8 continuous-ingestion
    * shape for the prefix-filter family: pairs between a NEW batch and
    * an EXISTING corpus only, under the corpus's FROZEN df order.
    * Exactness does not need fresh document frequencies: the prefix
    * theorem requires one consistent TOTAL order over the shingle
    * universe, not any particular one — so the index built under the
    * corpus's (df asc, shingle asc) order stays valid as deltas
    * arrive, with delta-only shingles ordered as df = 0 (rarest
    * first: maximal pruning for exactly the shingles most likely to
    * identify a delta doc's near-dup). df only TUNES pruning power;
    * staleness can never lose a pair — the production property that
    * makes the prefix index maintainable without global re-ranking.
    * Cost: delta prefixes ⋈ corpus prefixes on the shingle — never
    * corpus². Output: (a = corpus id, b = new id, j ≥ threshold);
    * caller contract: id spaces are disjoint.
    */
  def allPairsJaccardAgainst(
      newDocs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleN: Int = 3)
      : DataFrame = {
    val (tNum, tDen) = ppjoinRational(threshold)
    def shingled(df: DataFrame) = df.select(col(idCol).as("__id"),
      TextFns.wordShingles(col(textCol), shingleN).as("__sh"))
      .localCheckpoint(true)
    val shC = shingled(corpus)
    val shN = shingled(newDocs)
    def exploded(sh: DataFrame) =
      sh.select(col("__id"), explode(col("__sh")).as("__s"))
    val exC = exploded(shC)
    val exN = exploded(shN)
    // the frozen order: corpus df only (delta shingles unseen → 0)
    val dfreq = exC.groupBy("__s").agg(count(lit(1)).as("__df"))
      .localCheckpoint(true) // ranks both sides
    val cand = ppjoinCandidateJoin(
      ppjoinPrefixes(exC, dfreq, tNum, tDen),
      ppjoinPrefixes(exN, dfreq, tNum, tDen), tNum, tDen)
    ppjoinVerify(cand, shC, shN, tNum, tDen, batchBounded = true)
  }

  /** Exact-Jaccard verification of candidate (a, b) pairs via the
    * EXPLODED equi-join (count shared shingles per pair), not the
    * array-carrying join [[verifyJaccard]] uses: the prefix filter
    * admits ~10³× more candidates than LSH banding does (it is exact,
    * not probabilistic), and at that volume dragging two full shingle
    * arrays through a join doubles the stage cost (measured 3.9–4.5 s
    * vs 2.3 s on 125k candidates at sf0.1) — and at 100 TB the
    * exploded form is the only shape that never puts document-sized
    * payloads on the wire per pair.
    *
    * The accept test is the SAME e4 rational the prefix/length/
    * positional filters prune with, cross-multiplied in exact integer
    * arithmetic: j = ix/(na+nb−ix) ≥ tNum/tDen ⟺ ix·(tNum+tDen) ≥
    * tNum·(na+nb). Filtering on the raw double instead would admit a
    * sliver [t, tNum/tDen) the filters already pruned whenever t
    * rounds UP to the grid — making the output depend on which stage
    * saw a boundary pair first, and silently breaking the
    * equals-brute-force contract for off-grid thresholds.
    *
    * `batchBounded`: every candidate pairs with a batch-sized `shB`
    * (a delta against a store), so the candidate a-ids are bounded by
    * the batch and their semi-join broadcasts. On the full all-pairs
    * path they grow with the corpus, and Spark picks the join by size.
    */
  private def ppjoinVerify(cand0: DataFrame, shA: DataFrame,
      shB: DataFrame, tNum: Long, tDen: Long,
      batchBounded: Boolean): DataFrame = {
    // Candidate-proportional verify (guide §2.3 — filter before the
    // explode): the a-side store grows with the corpus, and exploding
    // ALL of it per verify made the stage store-proportional — at
    // 100 TB every ingested batch would re-scan-and-explode the whole
    // accumulated shingle store. The candidate a-ids are bounded by
    // the candidate join's output (the prefix filter's whole point),
    // so a SEMI join cuts the explode to candidate docs only.
    // `cand0` materializes once (it is read twice: ids + join); the
    // b side is left as is.
    val cand = cand0.localCheckpoint(true)
    val aIds = cand.select(col("a").as("__id")).distinct()
    val shAc = shA.join(if (batchBounded) broadcast(aIds) else aIds,
      Seq("__id"), "left_semi")
    def ex(sh: DataFrame, id: String) =
      sh.select(col("__id").as(id), explode(col("__sh")).as("__s"))
    def sizes(sh: DataFrame, id: String, n: String) =
      sh.select(col("__id").as(id), size(col("__sh")).cast(LongType).as(n))
    cand
      .join(ex(shAc, "a"), "a")
      .join(ex(shB, "b"), Seq("b", "__s"))
      .groupBy("a", "b").agg(count(lit(1)).as("__ix"))
      .join(sizes(shAc, "a", "__na"), "a")
      .join(sizes(shB, "b", "__nb"), "b")
      .where(col("__ix") * lit(tNum + tDen) >=
        lit(tNum) * (col("__na") + col("__nb")))
      .select(col("a"), col("b"),
        (col("__ix").cast(DoubleType) /
          (col("__na") + col("__nb") - col("__ix"))).as("j"))
  }

  private def ppjoinRational(threshold: Double): (Long, Long) = {
    require(threshold > 0 && threshold <= 1,
      s"allPairsJaccard: threshold=$threshold outside (0, 1]")
    val tNum = math.round(threshold * 10000)
    require(tNum > 0, s"allPairsJaccard: threshold=$threshold rounds to 0")
    (tNum, 10000L)
  }

  /** Rank one side's exploded shingles under the given df order
    * (missing df = 0 — the frozen-index contract) and keep each doc's
    * prefix: p = n − ⌈t·n⌉ + 1, integer-exact over the e4 rational (a
    * float ceil at integral t·n would cut the prefix one short and
    * silently drop boundary pairs). One groupBy + per-doc array sort +
    * prefix slice — no window functions (the first cut ran TWO window
    * nodes, a row_number sort plus an unordered count frame, and paid
    * ~2× this stage's time in extra passes; a doc's shingle list is
    * per-doc bounded, so the in-task sort is the cheap path).
    */
  private def ppjoinPrefixes(ex: DataFrame, dfreq: DataFrame,
      tNum: Long, tDen: Long): DataFrame =
    ex.join(dfreq, Seq("__s"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__s"))))
        .as("__arr"))
      .select(col("__id"),
        size(col("__arr")).cast(LongType).as("__n"),
        posexplode(expr(("slice(__arr, 1, size(__arr) - " +
          s"(CAST(size(__arr) AS BIGINT) * $tNum + ${tDen - 1}) " +
          s"DIV $tDen + 1)"))))
      .select(col("__id"), col("col.__s").as("__s"),
        (col("pos") + 1).cast(LongType).as("__pos"), col("__n"))

  /** The candidate join: shared prefix shingle + length filter +
    * PPJoin positional filter, all integer cross-multiplied.
    */
  private def ppjoinCandidateJoin(prefA: DataFrame, prefB: DataFrame,
      tNum: Long, tDen: Long, extraCond: Column = lit(true))
      : DataFrame =
    prefA.as("x").join(prefB.as("y"),
        col("x.__s") === col("y.__s") && extraCond &&
          // length filter: t·max ≤ min, cross-multiplied
          lit(tDen) * least(col("x.__n"), col("y.__n")) >=
            lit(tNum) * greatest(col("x.__n"), col("y.__n")) &&
          // positional filter: ubound ≥ ceil(t/(1+t)·(nx+ny)),
          // cross-multiplied by (tNum + tDen)
          (lit(1L) + least(col("x.__n") - col("x.__pos"),
            col("y.__n") - col("y.__pos"))) * lit(tNum + tDen) >=
            lit(tNum) * (col("x.__n") + col("y.__n")))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
      .distinct()

  /** Evolving frozen-order prefix index for STREAMING AllPairs/PPJoin
    * (qs32) — the xd20 incremental join as a maintained store. The df
    * order is FROZEN from the initial corpus (delta-only shingles rank
    * as df = 0, the [[allPairsJaccardAgainst]] contract: staleness
    * tunes pruning power, never correctness), so appending a batch is
    * one prefix derivation under the frozen order — no global
    * re-ranking, ever. State per document: its prefix rows
    * (n − ⌈t·n⌉ + 1 of them) plus its shingle array for exact verify —
    * both linear in corpus size, appended incrementally and
    * LSM-compacted like the qs19 chunk store.
    */
  final case class PrefixIndex private[operators] (
      dfreq: DataFrame, pref: DataFrame, sh: DataFrame,
      tNum: Long, tDen: Long, shingleN: Int)

  def prepareAllPairsIndex(corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleN: Int = 3)
      : PrefixIndex = {
    val (tNum, tDen) = ppjoinRational(threshold)
    val shC = corpus.select(col(idCol).as("__id"),
      TextFns.wordShingles(col(textCol), shingleN).as("__sh"))
      .localCheckpoint(true)
    val exC = shC.select(col("__id"), explode(col("__sh")).as("__s"))
    val dfreq = exC.groupBy("__s").agg(count(lit(1)).as("__df"))
      .localCheckpoint(true)
    val pref = ppjoinPrefixes(exC, dfreq, tNum, tDen)
      .localCheckpoint(true)
    PrefixIndex(dfreq, pref, shC, tNum, tDen, shingleN)
  }

  /** One ingested batch of the AllPairs stream: all pairs (a, b) with
    * J ≥ t, b in THIS batch, and a.__id < b.__id over corpus ∪
    * deltas-so-far ∪ batch — so under the monotone doc_id-arrival
    * contract the union of per-batch outputs equals the brute-force
    * all-pairs answer restricted to pairs whose LARGER id is a delta
    * doc (later deltas pair against earlier deltas too — the evolving
    * story, strictly more than xd20's static corpus-vs-delta join).
    * Exactness: the prefix theorem needs one consistent total order
    * over the shingle universe; every side ranks under the index's
    * frozen (corpus-df asc, shingle asc) order, so prefix + length +
    * positional pruning stays lossless across batches. `appended` is
    * the batch's (__id, __sh) rows — the durable unit: prefixes are
    * deterministic under the frozen order, so a restart replays them
    * through [[appendShinglesToIndex]] into an equivalent store.
    */
  def allPairsIngest(batch: DataFrame, ix: PrefixIndex,
      idCol: String, textCol: String): Ingest[PrefixIndex] = {
    val shB = batch.select(col(idCol).as("__id"),
      TextFns.wordShingles(col(textCol), ix.shingleN).as("__sh"))
      .localCheckpoint(true)
    val exB = shB.select(col("__id"), explode(col("__sh")).as("__s"))
    val prefB = ppjoinPrefixes(exB, ix.dfreq, ix.tNum, ix.tDen)
      .localCheckpoint(true)
    val prefAll = ix.pref.unionByName(prefB)
    val cand = ppjoinCandidateJoin(prefAll, prefB, ix.tNum, ix.tDen,
      extraCond = col("x.__id") < col("y.__id"))
    val shAll = ix.sh.unionByName(shB)
    val result = ppjoinVerify(cand, shAll, shB, ix.tNum, ix.tDen,
      batchBounded = true)
    Ingest(result, shB,
      ix.copy(pref = prefAll, sh = shAll))
  }

  /** Replay durable store deltas (crash recovery): prefixes re-derive
    * deterministically from the replayed shingle arrays under the
    * frozen order, so the rebuilt index equals the crashed run's.
    */
  def appendShinglesToIndex(ix: PrefixIndex,
      appended: DataFrame): PrefixIndex = {
    val sh = appended.select(col("__id"), col("__sh"))
    val ex = sh.select(col("__id"), explode(col("__sh")).as("__s"))
    val pref = ppjoinPrefixes(ex, ix.dfreq, ix.tNum, ix.tDen)
    ix.copy(pref = ix.pref.unionByName(pref),
      sh = ix.sh.unionByName(sh))
  }

  /** LSM-style rewrite — the [[compactGramStore]] contract. EVERY
    * frame re-checkpoints, the prepare-era `dfreq` included: the
    * runner's unpersist-after-compaction bookkeeping releases every
    * block not created BY the compaction, and the next batch ranks its
    * shingles against `dfreq` (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the
    * first batch after a compaction otherwise — caught by the
    * StreamingSpec crash-window table).
    */
  def compactAllPairsIndex(ix: PrefixIndex): PrefixIndex =
    ix.copy(dfreq = ix.dfreq.localCheckpoint(true),
      pref = ix.pref.localCheckpoint(true),
      sh = ix.sh.localCheckpoint(true))

  /** RE-BLOCKING EPOCH for the prefix index (qs40) — the
    * [[graft.operators.Similarity.reblockGraphStore]] discipline
    * applied to the set-similarity store: recompute document
    * frequencies over the ACCUMULATED shingle arrays and re-derive
    * every document's prefix under the fresh (df asc, shingle asc)
    * order. One blocked rebuild over the store — the df count is one
    * map-side-combined aggregate and the prefix derivation is the
    * same per-doc groupBy the initial prepare pays; never store².
    *
    * The theorem this entry gates: df is a pruning MODEL, not an
    * answer input ([[allPairsJaccardAgainst]] — any one consistent
    * total order over the shingle universe keeps prefix + length +
    * positional pruning lossless), so an epoch placed ANYWHERE in the
    * stream leaves every emitted pair IDENTICAL; what changes is
    * candidate volume. Under drift the frozen order degrades pruning
    * POWER: a shingle that was rare (or absent, df = 0) at prepare
    * but becomes delta-era boilerplate stays in every new document's
    * prefix and generates Σ prefix-df² candidate fanout — the exact
    * analogue of the stale-centroid hot cell `ScaleStress` leg qs36
    * measures. The refresh ranks it common, it leaves the prefixes,
    * and pruning is restored (OperatorsSpec's "allpairs re-blocking
    * epoch" test counts both sides and gates volume-drop,
    * output-equality and the one-pass epoch cost).
    */
  def reprepareAllPairsIndex(ix: PrefixIndex): PrefixIndex = {
    val sh = ix.sh.localCheckpoint(true)
    val ex = sh.select(col("__id"), explode(col("__sh")).as("__s"))
    val dfreq = ex.groupBy("__s").agg(count(lit(1)).as("__df"))
      .localCheckpoint(true)
    val pref = ppjoinPrefixes(ex, dfreq, ix.tNum, ix.tDen)
      .localCheckpoint(true)
    PrefixIndex(dfreq, pref, sh, ix.tNum, ix.tDen, ix.shingleN)
  }

  /** Deterministic candidate-pair count of ONE [[allPairsIngest]]
    * batch against the index — the pruning-power counter the epoch
    * law is graded on (a recount of the exact candidate join the
    * ingest would run, ids only; never part of the hot path).
    */
  private[graft] def allPairsIngestCandidates(batch: DataFrame,
      ix: PrefixIndex, idCol: String, textCol: String): Long = {
    val exB = batch.select(col(idCol).as("__id"),
        explode(TextFns.wordShingles(col(textCol), ix.shingleN))
          .as("__s"))
    val prefB = ppjoinPrefixes(exB, ix.dfreq, ix.tNum, ix.tDen)
      .localCheckpoint(true)
    ppjoinCandidateJoin(ix.pref.unionByName(prefB), prefB,
      ix.tNum, ix.tDen, extraCond = col("x.__id") < col("y.__id"))
      .count()
  }

  /** Document TAKEDOWN in the evolving prefix index (qs39) — the
    * deletion story for the set-similarity store, and a deliberately
    * DIFFERENT theorem class from the kNN stores'
    * ([[graft.operators.Similarity.blockedGraphDelete]]): the index
    * holds every document's prefix rows and shingle array VERBATIM
    * (nothing lossy — no top-k list ever forgot a displaced entry),
    * so deletion is pure row removal with NOTHING to repair. Two
    * broadcast anti-joins drop the tombstoned docs' prefix and
    * shingle rows; every future [[allPairsIngest]] then pairs its
    * batch against exactly the survivors — equal to brute-force
    * all-pairs over survivors ∪ batch, because prefix pruning is
    * LOSSLESS under any one consistent shingle order and the verify
    * stage reads only surviving arrays.
    *
    * The frozen df order deliberately KEEPS the deleted documents'
    * contributions: df is a pruning MODEL frozen at prepare (the
    * [[allPairsJaccardAgainst]] contract — staleness tunes pruning
    * power, never correctness), and a takedown must not re-rank every
    * survivor's prefix. Re-deriving df after mass deletion is an
    * offline re-prepare (the re-blocking-epoch discipline), not part
    * of the delete.
    *
    * Tombstones must be indexed (the loud-guard discipline shared
    * with the vector stores; probe shape: one broadcast SEMI join
    * against a scan of the store's id column — no store shuffle).
    */
  def allPairsDelete(tombstones: DataFrame, ix: PrefixIndex)
      : PrefixIndex = {
    val del = tombstones.select(col("id").as("__id"))
      .distinct().localCheckpoint(true)
    Ingest.requireAllLive(del, ix.sh.select("__id"), "allPairsDelete",
      "index")
    ix.copy(pref = ix.pref.join(broadcast(del), Seq("__id"), "left_anti"),
      sh = ix.sh.join(broadcast(del), Seq("__id"), "left_anti"))
  }

  /** Embedding near-dup pairs with cosine ≥ threshold — EXACT pairwise
    * join. Exact cosine self-join is inherently O(n²) compute (no
    * blocking scheme is simultaneously exact and subquadratic on
    * arbitrary data at moderate thresholds), so the scale question is
    * the *shape* of the n² work, not its existence:
    *
    *  - `shuffle_replicate_nl` forces CartesianProductExec instead of
    *    BroadcastNestedLoopJoin: no corpus-sized broadcast, and memory
    *    per task is one (spillable) tile, not the whole table;
    *  - both sides are round-robin repartitioned into `tiles` chunks,
    *    so the product runs as tiles² evenly-sized tasks — each task a
    *    tile×tile block of the pair matrix;
    *  - norms are computed once per vector, not once per pair.
    *
    * For corpora where O(n²) is unaffordable, use
    * [[embeddingNearDupsLSH]] (blocked candidates + exact verify) at a
    * realistic near-dup threshold.
    */
  def embeddingNearDups(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tiles: Int = 8): DataFrame = {
    val e = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      TextFns.l2norm(col(vecCol)).as("__n")).repartition(tiles)
    e.as("x").hint("shuffle_replicate_nl")
      .join(e.as("y").hint("shuffle_replicate_nl"),
        col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"),
        (TextFns.dot(col("x.__v"), col("y.__v")) /
          (col("x.__n") * col("y.__n"))).as("c"))
      .where(col("c") >= threshold)
  }

  /** Embedding near-dup pairs via random-hyperplane LSH blocking +
    * exact cosine verification — the 100TB path, same shape as
    * [[minhashNearDups]]: banded candidate generation (shuffle key =
    * (band, sign-pattern key), cost Σ bucket² instead of n²), exact
    * cosine only on candidates. With the (96,12) defaults a pair at
    * cosine 0.9165 is missed with probability ~8e-9 (see
    * [[HyperplaneBands]]); false candidates are eliminated by the
    * verify step, so precision is exact.
    *
    * SCALING THE PARAMETERS: Σ bucket² grows ~quadratically in corpus
    * size at FIXED band width, so `bitsPerBand` must grow with the
    * corpus (keep n/2^bits bounded) and `bands` re-derived from the
    * recall target: for sign-agreement probability p = 1 − acos(t)/π
    * at threshold t, a pair is missed with (1 − p^bits)^bands.
    * Measured on the 40k-vector scale corpus (10× sf0.1): (96,12)
    * → 38M candidate-join rows, (128,16) → ~5M, identical output
    * (miss bound 6e-7 per pair at cosine 0.9165). Callers with a known
    * corpus size should prefer [[embeddingNearDupsLSHAuto]], which
    * derives the parameters with [[lshParams]] (the rule as code) —
    * `graft.tools.ScaleStress` leg xd6 grades the resulting pair
    * volume across a corpus and its 2×.
    */
  def embeddingNearDupsLSH(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 96, bitsPerBand: Int = 12,
      seed: Int = 0x5eed, maxBucket: Int = Int.MaxValue): DataFrame = {
    // localCheckpoint: `e` carries the hyperplane signature — at auto
    // params that is bands·bits (thousands of) sign dot-products per
    // vector — and feeds the banding AND both exact-verify sides;
    // `banded` feeds the cap count and both self-join sides. Without
    // the two materializations the first-cut xd6 plan scanned the
    // source parquet 16× and recomputed every signature 3-4×.
    val e = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      TextFns.l2norm(col(vecCol)).as("__n"),
      HashFns.hyperplaneBands(col(vecCol), bands, bitsPerBand, seed)
        .as("__bk"))
      .localCheckpoint(true)
    val banded = e.select(col("__id"),
      posexplode_outer(col("__bk")).as(Seq("__band", "__key")))
      .localCheckpoint(true)
    val cand = joinBuckets(capBuckets(banded, maxBucket))
    cand
      .join(e.select(col("__id").as("a"), col("__v").as("__va"),
        col("__n").as("__na")), "a")
      .join(e.select(col("__id").as("b"), col("__v").as("__vb"),
        col("__n").as("__nb")), "b")
      .select(col("a"), col("b"),
        (TextFns.dot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb"))).as("c"))
      .where(col("c") >= threshold)
  }

  /** Incremental embedding near-dup (the xd8 shape on vectors): new
    * vectors vs an existing corpus — band BOTH sides with the same
    * hyperplane keys, join delta bands × corpus bands (cost
    * delta-bucket × corpus-bucket overlap, never corpus² and never
    * delta×corpus raw), exact-cosine verify the candidates. The
    * continuous-ingestion path: at 100 TB you never re-run the full
    * self-join for a day's crawl — each delta costs its own size times
    * bucket occupancy. Output: (a = corpus id, b = new id, c),
    * [[minhashNearDupsAgainst]]'s convention.
    */
  def embeddingNearDupsLSHAgainst(
      newEmb: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, bands: Int = 96,
      bitsPerBand: Int = 12, seed: Int = 0x5eed): DataFrame =
    embeddingNearDupsLSHAgainstPrepped(newEmb,
      lshPrep(corpus, idCol, vecCol, bands, bitsPerBand, seed),
      idCol, vecCol, threshold, bands, bitsPerBand, seed)

  /** Materialize one side's LSH frame (l2 norm + hyperplane band
    * keys) ONCE, for reuse across many
    * [[embeddingNearDupsLSHAgainstPrepped]] calls. The streaming
    * QS16 runner preps its frozen corpus with this before `start()`
    * so each micro-batch pays only the delta's signatures, not a
    * full corpus re-materialization per batch.
    */
  def lshPrep(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, bitsPerBand: Int, seed: Int = 0x5eed): DataFrame =
    df.select(col(idCol).as("__id"),
      col(vecCol).as("__v"), TextFns.l2norm(col(vecCol)).as("__n"),
      HashFns.hyperplaneBands(col(vecCol), bands, bitsPerBand, seed)
        .as("__bk"))
      .localCheckpoint(true)

  /** [[embeddingNearDupsLSHAgainst]] where the corpus side is already
    * a [[lshPrep]] frame (columns __id/__v/__n/__bk) — the per-batch
    * streaming face. `bands`/`bitsPerBand`/`seed` MUST match the ones
    * the corpus was prepped with (same hyperplanes on both sides or
    * the band join is meaningless).
    */
  def embeddingNearDupsLSHAgainstPrepped(
      newEmb: DataFrame, preppedCorpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, bands: Int = 96,
      bitsPerBand: Int = 12, seed: Int = 0x5eed): DataFrame = {
    def banded(e: DataFrame) = e.select(col("__id"),
      posexplode_outer(col("__bk")).as(Seq("__band", "__key")))
    val eC = preppedCorpus
    val eN = lshPrep(newEmb, idCol, vecCol, bands, bitsPerBand, seed)
    val cand = banded(eC).as("x").join(banded(eN).as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
      .distinct()
    cand
      .join(eC.select(col("__id").as("a"), col("__v").as("__va"),
        col("__n").as("__na")), "a")
      .join(eN.select(col("__id").as("b"), col("__v").as("__vb"),
        col("__n").as("__nb")), "b")
      .select(col("a"), col("b"),
        (TextFns.dot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb"))).as("c"))
      .where(col("c") >= threshold)
  }

  /** [[embeddingNearDupsLSHAgainst]] with band parameters derived
    * from the COMBINED population (a hot bucket is hot no matter
    * which side its members arrive on — the capped-xd8 discipline).
    */
  def embeddingNearDupsLSHAgainstAuto(
      newEmb: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, missProb: Double = 1e-6,
      seed: Int = 0x5eed): DataFrame = {
    val n = corpus.count() + newEmb.count()
    val (bands, bits) = lshParams(math.max(1L, n), threshold, missProb)
    embeddingNearDupsLSHAgainst(newEmb, corpus, idCol, vecCol,
      threshold, bands, bits, seed)
  }

  /** [[embeddingNearDupsLSH]] with (bands, bitsPerBand) derived from
    * the ACTUAL corpus size via [[lshParams]] — the production default
    * for embedding near-dup at any scale. Fixed-width banding is
    * quadratic in n once buckets saturate (measured on the 20×
    * scale corpus: (96,12) 197s vs auto 57s, identical output; the
    * `ScaleStress` xd6 leg grades the volume law), so the width must
    * track log2(n). Costs one count() job up front — metadata-cheap on columnar sources and
    * amortized over the banded self-join it right-sizes.
    */
  def embeddingNearDupsLSHAuto(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, missProb: Double = 1e-6,
      seed: Int = 0x5eed, maxBucket: Int = Int.MaxValue): DataFrame = {
    val n = emb.count()
    val (bands, bits) = lshParams(math.max(1L, n), threshold, missProb)
    embeddingNearDupsLSH(emb, idCol, vecCol, threshold, bands, bits,
      seed, maxBucket)
  }

  /** SemDedup-shape semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings, then search for
    * near-duplicate pairs ONLY within each cluster — the
    * cluster-blocked alternative to [[embeddingNearDupsLSH]]'s
    * hyperplane blocking. Cross-cluster duplicates are missed BY
    * DESIGN (the SemDeDup trade-off; recall vs the exact pair set is
    * what a caller tunes with the cluster count).
    *
    * This overload clusters by deterministic per-label centroids
    * ([[Similarity.labelCentroids]] + argmax-cosine assignment) so the
    * whole operator is exact-replayable by the SQL oracle (xd11). The
    * label-centroid variant has a FIXED cluster count, so within-
    * cluster pair volume is Σ cluster² ≈ n²/k — fine for classifier-
    * style label spaces, quadratic at corpus scale. The production
    * path at 100TB is [[semDedupAssigned]] fed by
    * [[Similarity.kmeansCentroids]] with nlist ∝ n/target: then each
    * cluster holds ~target rows and Σ cluster² ≈ n·target — linear in
    * the corpus (the same occupancy law as [[lshParams]]).
    *
    * Dedup rule: a row is dropped iff a lower-id row in the SAME
    * cluster has cosine ≥ threshold (the deterministic keep-first
    * rule, chain-independent — same contract as [[paragraphDedup]]'s
    * exact stage, not the paper's keep-farthest-from-centroid, which
    * is sample-order-dependent). Output: (idCol, assigned, kept).
    */
  def semDedup(corpus: DataFrame, idCol: String, labelCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val cents = Similarity.labelCentroids(corpus, labelCol, vecCol)
    semDedupAssigned(
      Similarity.assignNearestCentroid(corpus, Seq(idCol), vecCol,
        cents),
      idCol, vecCol, "assigned", threshold)
  }

  /** Within-cluster near-dup marking over a pre-clustered corpus (the
    * composable core of [[semDedup]] — plug in ANY cluster assignment:
    * label centroids, k-means cells, even an LSH bucket). The self-
    * join shuffles both sides on the cluster id only; exact cosine
    * runs on within-cluster pairs alone. Norms are precomputed per row
    * (not per pair). Keeps every input row, flagged: (idCol,
    * clusterCol, kept).
    */
  def semDedupAssigned(asg: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    // materialize once: the assignment plan above this (centroid agg +
    // argmax) would otherwise re-run for each of the three consumers
    val e = asg.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        col(clusterCol).as("__cl"))
      .withColumn("__n", TextFns.l2norm(col("__v")))
      .localCheckpoint(true)
    // sort-merge, NOT shuffle-hash: every probe row matches ~load
    // (occupancy-law ~target≈500) build rows, so the join's cost is
    // the pair ENUMERATION, not the per-side sort. SMJ walks each
    // equal-key range sequentially (cache-friendly); a hash join
    // chases ~load scattered build rows per probe — measured 13×
    // CPU on the isotropic f10 leg (671 vs ~50 cpu-s) when a
    // shuffle_hash hint was tried here. High-multiplicity pair
    // joins are the one place the sort pays for itself.
    val dropped = e.as("x")
      .join(e.as("y"), col("x.__cl") === col("y.__cl") &&
        col("x.__id") < col("y.__id"))
      .where((TextFns.dot(col("x.__v"), col("y.__v")) /
        (col("x.__n") * col("y.__n"))) >= threshold)
      .select(col("y.__id").as("__id")).distinct()
    e.join(dropped.withColumn("__dup", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cl").as(clusterCol),
        col("__dup").isNull.as("kept"))
  }

  /** Frozen-side prep for streaming SemDedup (qs17): assign the
    * corpus to the given centroids ONCE, norms precomputed,
    * materialized — per micro-batch only the delta pays assignment
    * (the [[lshPrep]] discipline on the cluster-blocked path).
    */
  def semDedupPrep(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    Similarity.assignNearestCentroid(corpus, Seq(idCol), vecCol, cents)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        col("assigned").as("__cl"))
      .withColumn("__n", TextFns.l2norm(col("__v")))
      .localCheckpoint(true)

  /** Delta-vs-frozen-corpus SemDedup (the xd14 shape on the
    * cluster-blocked path): delta rows are assigned to the SAME
    * frozen centroids, then a delta row is kept iff NO corpus row in
    * its assigned cluster reaches cosine ≥ threshold. Each delta
    * row's fate depends only on the frozen corpus — stateless per
    * batch, so any chunking equals the one-shot BY CONSTRUCTION
    * (the qs16 frozen-params discipline). Join cost: Σ over clusters
    * of delta-load × corpus-load — never delta × corpus raw. Output:
    * (idCol, assigned, kept) for delta rows.
    */
  def semDedupAgainstPrepped(delta: DataFrame, prepped: DataFrame,
      cents: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val d = Similarity
      .assignNearestCentroid(delta, Seq(idCol), vecCol, cents)
      .select(col(idCol).as("__did"), col(vecCol).as("__dv"),
        col("assigned").as("__dcl"))
      .withColumn("__dn", TextFns.l2norm(col("__dv")))
    val dropped = d.join(prepped, col("__dcl") === col("__cl"))
      .where((TextFns.dot(col("__dv"), col("__v")) /
        (col("__dn") * col("__n"))) >= threshold)
      .select(col("__did")).distinct()
    d.join(dropped.withColumn("__dup", lit(true)), Seq("__did"), "left")
      .select(col("__did").as(idCol), col("__dcl").as("assigned"),
        col("__dup").isNull.as("kept"))
  }

  /** Multi-probe SemDedup: [[semDedupAssigned]] finds a near-dup pair
    * only when both rows share a PRIMARY cell, which at k-means-cell
    * granularity misses boundary-straddling pairs — measured co-cluster
    * recall at 0.20–0.22, an unusable operating point (the
    * `ScaleStress` xd11 leg gates ≥ 0.9 for this operator). Here each
    * row carries `probes` (its p nearest cells,
    * [[Similarity.assignCellsTwoLevel]] with probe ≥ 2); a candidate
    * pair is generated when EITHER row's probe list contains the
    * other's primary cell. Probing is candidate generation only: the
    * corpus is still indexed (shuffled) by single cells, each row still
    * has one primary cell, and the keep-first rule is unchanged — a row
    * is dropped iff a lower-id candidate partner has cosine ≥
    * threshold.
    *
    * Cost: the probe side explodes to n·p rows against the n-row
    * primary side, so candidate volume is ~p × the single-cell volume
    * (NOT p²: probes never join probes) — still Σ cell·load ≈ n·target
    * ·p, linear in the corpus under the occupancy law. With probe = 1
    * this reduces exactly to [[semDedupAssigned]] (probes = [primary]).
    * Output: (idCol, cluster = primary cell, kept).
    */
  def semDedupMultiProbe(asg: DataFrame, idCol: String, vecCol: String,
      probesCol: String, primaryCol: String,
      threshold: Double): DataFrame = {
    val e = asg.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        col(probesCol).as("__probes"), col(primaryCol).as("__cl"))
      .withColumn("__n", TextFns.l2norm(col("__v")))
      .localCheckpoint(true)
    val probed = e.select(col("__id"), col("__v"), col("__n"),
      explode(col("__probes")).as("__cell"))
    val primary = e.select(col("__id").as("__pid"), col("__v").as("__pv"),
      col("__n").as("__pn"), col("__cl").as("__cell"))
    // sort-merge, not shuffle-hash: each probe row matches ~load
    // (≈target) primary rows, so enumeration dominates and SMJ's
    // sequential equal-key ranges beat per-probe hash-bucket chasing
    // (a shuffle_hash hint here measured 13× CPU on the isotropic
    // f10 leg — the sorts are amortized over ~load× more pair work)
    val dropped = probed.join(primary,
        probed("__cell") === primary("__cell") &&
          col("__id") =!= col("__pid"))
      .where((TextFns.dot(col("__v"), col("__pv")) /
        (col("__n") * col("__pn"))) >= threshold)
      .select(greatest(col("__id"), col("__pid")).as("__id")).distinct()
    e.join(dropped.withColumn("__dup", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cl").as(primaryCol),
        col("__dup").isNull.as("kept"))
  }

  /** Derive (bands, bitsPerBand) for [[embeddingNearDupsLSH]] from the
    * corpus size and recall target — the measured scaling rule on that
    * method's Scaladoc, as code:
    *
    *  - `bitsPerBand` keeps the expected bucket load n/2^bits ≈ 1
    *    (floor 12, the small-corpus default). Candidate volume per
    *    band is ~Σ bucket² ≈ n²/2^bits + n, so load-1 buckets make the
    *    total ~bands·2n instead of quadratic at fixed width. Since
    *    bits ≈ log2 n, the per-band match probability p^bits =
    *    n^(log2 p) shrinks as a small power of n, so `bands` (and with
    *    it signature cost and candidate volume per row) grows
    *    ~n^(−log2 p) — e.g. n^0.22 at t=0.9. Sub-linear, not constant:
    *    total candidate volume is ~n^1.22 there, vs n² at fixed width.
    *  - `bands` is the smallest B with (1 − p^bits)^B ≤ missProb,
    *    where p = 1 − acos(t)/π is the per-hyperplane sign-agreement
    *    probability at cosine threshold t.
    *
    * Low thresholds at large n make that band count explode (p^bits →
    * 0, B → ∞, previously saturating Int silently); the require below
    * turns that into an explicit error. When it fires: raise the
    * threshold, relax missProb, or block on MinHash/SimHash shingles
    * instead — hyperplane LSH is the wrong tool for loose cosine
    * matching at corpus scale.
    *
    * Reproduces the measured 10×-sf0.1 point (OperatorsSpec "lshParams
    * reproduces the measured scaling points"): (40000, 0.9165) → 16-bit
    * bands, ~7× less candidate-join volume than the (96,12) default at
    * identical output (miss bound ≤1e-6 per pair).
    */
  def lshParams(n: Long, threshold: Double,
      missProb: Double = 1e-6): (Int, Int) = {
    require(n > 0 && threshold > 0 && threshold < 1, "n>0, 0<t<1")
    require(missProb > 0 && missProb < 1, "0<missProb<1")
    // exact integer ceil(log2 n): the floating form log(n)/log(2)
    // returns k+1 for several exact powers of two (2^29, 2^31, ...)
    val bits = math.max(12,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)))
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, bits)
    val bandsD = math.ceil(math.log(missProb) / math.log1p(-pBand))
    // 16384 comfortably covers every documented operating point
    // (t=0.9 at n=1e12 needs 6795) while rejecting the runaway regime
    // before it becomes a 2^31-band signature job.
    val maxBands = 16384
    require(bandsD.isFinite && bandsD <= maxBands,
      f"lshParams(n=$n, t=$threshold, missProb=$missProb) needs " +
        f"$bandsD%.3g bands (> $maxBands): raise threshold, relax " +
        "missProb, or use MinHash/SimHash blocking for loose matching")
    val bands = math.max(1, bandsD.toInt)
    (bands, bits)
  }

  /** Sentinel for `maxBucket`: derive the hot-bucket cap from the
    * actual near-stage population via [[autoMaxBucket]]. -1, not 0:
    * maxBucket = 0 has a meaning of its own (every bucket exceeds it,
    * suppressing the near stage entirely), and repurposing it would
    * silently change that caller's output.
    */
  val AutoBucket: Int = -1

  /** Occupancy-law default for the paragraph-dedup hot-bucket cap.
    * MinHash band keys are rowsPerBand-tuples of 64-bit minima, so the
    * RANDOM expected bucket load is ~0 at any corpus size
    * ([[lshParams]] keeps load ≈ 1 by widening keys with log₂ n;
    * minhash keys are born wider than that). A bucket of size m ≫ 1 is
    * therefore a real near-identical shingle-set class: small classes
    * are the true near-dup clusters the operator must keep, unbounded
    * classes are mass boilerplate that collides in EVERY band and
    * whose m² candidate volume is the measured superlinear term
    * (327s at 10× sf0.1, all in hot buckets; the `ScaleStress` xd10
    * leg grades the capped volume as sub-quadratic). The cap
    * grows with log₂ n so legit clusters sit far below it at any
    * plausible scale, while retained per-band volume is bounded by
    * cap·n — O(n log n) worst case, ~O(n) in practice.
    */
  def autoMaxBucket(n: Long): Int = {
    val log2n =
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.max(64, 16 * log2n)
  }

  /** Derive (bands, rowsPerBand) for the MinHash band join from corpus
    * size and the Jaccard level recall must hold at — [[lshParams]]'
    * occupancy/recall law transposed to shingle space:
    *
    *  - `rowsPerBand` grows with log₂ n: a background pair at Jaccard
    *    j collides per band with probability j^r, so expected
    *    background candidate volume ~n²·j^r stays ~linear only if r
    *    tracks log n. r = max(4, ceil(log₂ n / 4)) reproduces the
    *    long-validated small-corpus default (r=4 through n=64k) and
    *    adds one row per 16× growth.
    *  - `bands` is the smallest B with (1 − recallAt^r)^B ≤ missProb —
    *    the same closed form as the hyperplane law with p = recallAt.
    *
    * `recallAt` is the Jaccard AT WHICH the blocked result must equal
    * the exact result. [[minhashNearDupsAuto]] defaults it to (1+t)/2:
    * the "true duplicates sit well above the verify threshold" regime
    * every measured corpus exhibits (sf0.1 documents: min observed
    * pair j = 0.8 at t = 0.5), because a hard guarantee at loose t is
    * the expensive LSH regime (t=0.5 needs 214 bands at r=4).
    * [[paragraphDedup]] pins recallAt = t instead: span shingle sets
    * are tiny (5 bigrams per 6-word span), so pairs at EXACTLY t exist
    * by construction (measured: all 41 sf0.1 span pairs sit at
    * j = 0.8) and only the full guarantee keeps the oracle exact.
    *
    * Identical shingle SETS collide in every band at any (B, r) — that
    * pathology is [[autoMaxBucket]]'s to bound, not this law's.
    */
  def minhashParams(n: Long, recallAt: Double,
      missProb: Double = 1e-6): (Int, Int) = {
    // recallAt = 1 is the exact-duplicate limit: identical shingle
    // SETS have identical signatures, so one band suffices (the math
    // below degenerates to bands = 1 on its own) — threshold-1.0
    // callers (identical-set dedup, e.g. word-reordered spans) must
    // not be rejected.
    require(n > 0 && recallAt > 0 && recallAt <= 1, "n>0, 0<recallAt<=1")
    require(missProb > 0 && missProb < 1, "0<missProb<1")
    val log2n =
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    val r = math.max(4, math.ceil(log2n / 4.0).toInt)
    val pBand = math.pow(recallAt, r)
    val bandsD = math.ceil(math.log(missProb) / math.log1p(-pBand))
    val maxBands = 4096
    require(bandsD.isFinite && bandsD <= maxBands,
      f"minhashParams(n=$n, recallAt=$recallAt, missProb=$missProb) " +
        f"needs $bandsD%.3g bands (> $maxBands): raise recallAt or " +
        "relax missProb")
    (math.max(1, bandsD.toInt), r)
  }

  /** [[minhashNearDups]] with (bands, rowsPerBand) derived from the
    * actual corpus size via [[minhashParams]] — the production default
    * at any scale (the MinHash analogue of
    * [[embeddingNearDupsLSHAuto]]). Costs one count() up front,
    * amortized over the band join it right-sizes.
    */
  def minhashNearDupsAuto(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, missProb: Double = 1e-6,
      recallAt: Double = Double.NaN,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val n = math.max(1L, docs.count())
    val at = if (recallAt.isNaN) (1.0 + threshold) / 2.0 else recallAt
    val (bands, rows) = minhashParams(n, at, missProb)
    minhashNearDups(docs, idCol, textCol, threshold, shingleN, bands,
      rows, maxBucket)
  }

  /** Normalized word stream, identical to the oracle's
    * LIST_FILTER(STRING_SPLIT_REGEX(LOWER(x),'\s+'), t->t<>'').
    */
  private def normWords(c: Column): Column =
    filter(split(lower(c), "\\s+"), w => w =!= "")

  /** Explode documents into normalized spans per `splitter`:
    * (doc_id, idx, ptext, nw) — a stable in-document position (the
    * reassembly order), the normalized span text, and its word count.
    * The downstream exact/near stages are splitter-independent.
    */
  private[graft] def explodeSpans(docs: DataFrame, idCol: String,
      textCol: String, splitter: ParagraphSplitter): DataFrame =
    splitter match {
      case ParagraphSplitter.FixedWindow(pw) =>
        val words = normWords(col(textCol))
        docs.select(col(idCol).cast(LongType).as("doc_id"), words.as("__w"))
          .where(size(col("__w")) > 0) // sequence(0,-1) would count down
          .select(col("doc_id"), posexplode(transform(
            sequence(lit(0),
              ceil(size(col("__w")) / lit(pw.toDouble)).cast(IntegerType)
                - lit(1)),
            i => slice(col("__w"), i * pw + 1, lit(pw))))
            .as(Seq("idx", "__pw")))
          .select(col("doc_id"), col("idx").cast(LongType).as("idx"),
            array_join(col("__pw"), " ").as("ptext"),
            size(col("__pw")).as("nw"))
      case ParagraphSplitter.Delimiter(re) =>
        docs.select(col(idCol).cast(LongType).as("doc_id"),
            posexplode(split(col(textCol), re)).as(Seq("idx", "__p")))
          .select(col("doc_id"), col("idx").cast(LongType).as("idx"),
            normWords(col("__p")).as("__pw"))
          .where(size(col("__pw")) > 0) // empty paragraphs drop entirely
          .select(col("doc_id"), col("idx"),
            array_join(col("__pw"), " ").as("ptext"),
            size(col("__pw")).as("nw"))
    }

  /** Per-doc counted-span totals (`n_para`) straight from the text
    * column — a narrow scan, NOT a second explode+aggregate.
    */
  private[graft] def paraCounts(docs: DataFrame, idCol: String,
      textCol: String, splitter: ParagraphSplitter): DataFrame =
    splitter match {
      case ParagraphSplitter.FixedWindow(pw) =>
        docs.select(col(idCol).cast(LongType).as("__d"),
            normWords(col(textCol)).as("__w2"))
          .where(size(col("__w2")) > 0)
          .select(col("__d"),
            ceil(size(col("__w2")) / lit(pw.toDouble)).as("n_para"))
      case ParagraphSplitter.Delimiter(re) =>
        docs.select(col(idCol).cast(LongType).as("__d"),
            size(filter(transform(split(col(textCol), re),
              p => size(normWords(p))), n => n > 0))
              .cast(LongType).as("n_para"))
          .where(col("n_para") > 0)
    }

  /** Paragraph/line-level dedup (the CCNet/RefinedWeb boilerplate-
    * removal shape): corpus-wide removal of duplicated spans WITHIN
    * surviving documents, not whole-document dedup. Fixed-window
    * splitter entry point — see the [[ParagraphSplitter]] overload for
    * the full pipeline contract and the newline splitter.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      paraWords: Int = 6, threshold: Double = 0.8,
      shingleN: Int = 2, maxBucket: Int = AutoBucket): DataFrame =
    paragraphDedup(docs, idCol, textCol,
      ParagraphSplitter.FixedWindow(paraWords), threshold, shingleN,
      maxBucket)

  /** Paragraph/line-level dedup over an arbitrary [[ParagraphSplitter]]:
    *
    *  1. Explode each document into spans with a stable (doc_id, idx)
    *     identity — fixed word windows or blank-line paragraphs; both
    *     feed the identical downstream contract.
    *  2. Exact stage: a span duplicated ANYWHERE in the corpus
    *     survives only at its globally-first occurrence (min pid) —
    *     one hash shuffle on the span text.
    *  3. Near stage: banded MinHash over word-`shingleN` shingles of
    *     the exact-stage survivors (same [[minhashNearDups]] machinery
    *     as xd1 — Σ bucket² candidates, never spans²), exact Jaccard ≥
    *     `threshold` verification; every pair's LATER member (greater
    *     pid) is dropped. Band parameters derive from the ACTUAL
    *     survivor count via [[minhashParams]] anchored at the verify
    *     threshold (span pairs sit at exactly t by construction), and
    *     the default hot-bucket cap from [[autoMaxBucket]] — identical
    *     shingle-set classes collide in every band, so without the cap
    *     boilerplate-heavy corpora go superlinear (measured 327s at
    *     10× sf0.1 uncapped; `ScaleStress` leg xd10). Non-recursive
    *     by design: p drops iff SOME earlier exact-survivor is near-identical, whether or not
    *     that survivor itself drops — deterministic without a
    *     fixpoint, and exactly replayable in SQL.
    *  4. Reassemble: surviving spans re-concatenate in idx order with
    *     the splitter's separator; documents whose every span dropped
    *     disappear (they are pure boilerplate).
    *
    * Output: (doc_id, clean_text, n_para, n_kept) — one row per doc
    * with ≥1 surviving span.
    *
    * pid = struct(doc_id, idx): struct ordering is lexicographic, so
    * "earlier" means (smaller doc, then smaller position) with NO
    * bound on paragraphs per document or on the doc-id range (the
    * former doc_id·100000+idx encoding hard-failed ≥100k-span docs).
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      splitter: ParagraphSplitter, threshold: Double,
      shingleN: Int, maxBucket: Int): DataFrame = {
    val paras = explodeSpans(docs, idCol, textCol, splitter)
      .withColumn("pid", struct(col("doc_id"), col("idx")))
    // exact stage: globally-first occurrence per span text.
    // localCheckpoint: the survivors are referenced SIX times below
    // (the near-stage population count, banded signatures, both
    // exact-verify sides, the anti-join left, reassembly); without
    // materialization each reference replays the scan → explode →
    // window-shuffle chain — the unoptimized plan showed 12 parquet
    // scans of the corpus. One span-table materialization beats five
    // corpus re-scans at any scale (same trade connectedComponents
    // makes).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ptext")
    val s1 = paras.withColumn("__fp", min(col("pid")).over(w))
      .where(col("pid") === col("__fp")).drop("__fp")
      .localCheckpoint(true)
    val nearInput = s1.where(col("nw") >= shingleN).select("pid", "ptext")
    // size the near stage from its ACTUAL population — one count over
    // the checkpointed blocks, amortized over the band join it sizes
    val n = math.max(1L, nearInput.count())
    val cap = if (maxBucket == AutoBucket) autoMaxBucket(n) else maxBucket
    val (bands, rows) = minhashParams(n, recallAt = threshold)
    val nearDrops = minhashNearDups(nearInput, "pid", "ptext", threshold,
        shingleN, bands, rows, maxBucket = cap)
      .select(col("b").as("pid")).distinct()
    val s2 = s1.join(nearDrops, Seq("pid"), "left_anti")
    val nPara = paraCounts(docs, idCol, textCol, splitter)
    s2.groupBy("doc_id")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("idx"), col("ptext")))),
          x => x.getField("ptext")), splitter.joinSep).as("clean_text"),
        count(lit(1)).as("n_kept"))
      .join(nPara, col("__d") === col("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("n_para"),
        col("n_kept"))
      .orderBy("doc_id")
  }

  /** Incremental paragraph dedup (the qs7 continuous-ingestion shape,
    * fixed-window splitter): see the [[ParagraphSplitter]] overload.
    */
  def paragraphDedupAgainst(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, paraWords: Int = 6,
      threshold: Double = 0.8, shingleN: Int = 2,
      maxBucket: Int = AutoBucket): DataFrame =
    paragraphDedupAgainst(newDocs, corpus, idCol, textCol,
      ParagraphSplitter.FixedWindow(paraWords), threshold, shingleN,
      maxBucket)

  /** The corpus span store for [[paragraphDedupAgainst]]: the corpus's
    * exact-stage survivors (min-pid per span text), checkpointed —
    * exactly the reference universe [[paragraphDedup]] checks spans
    * against. Build ONCE and reuse across delta batches (the
    * streaming runner does): rebuilding it per micro-batch would put
    * corpus-sized work on every batch.
    */
  def paragraphSpanStore(corpus: DataFrame, idCol: String,
      textCol: String, splitter: ParagraphSplitter): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ptext")
    explodeSpans(corpus, idCol, textCol, splitter)
      .withColumn("pid", struct(col("doc_id"), col("idx")))
      .withColumn("__fp", min(col("pid")).over(w))
      .where(col("pid") === col("__fp")).drop("__fp")
      .localCheckpoint(true)
  }

  /** Incremental paragraph dedup: spans of NEWLY-ARRIVING documents
    * drop when they exactly match, or are near-duplicates (J ≥
    * `threshold`) of, the CORPUS SPAN STORE. Per-batch cost is
    * delta-bands × matching store buckets (the
    * [[minhashNearDupsAgainst]] shape) — never store².
    *
    * Chunked == batch BY CONSTRUCTION: delta spans are not checked
    * against each other, and the band parameters AND the hot-bucket
    * cap occupancy derive from the STORE side alone — nothing about
    * the result of a delta span depends on what else arrived in its
    * chunk. (Deriving either from the combined population would make
    * a hot boilerplate class's fate depend on chunk size.) Store-side
    * occupancy is also the right cost bound for a long-running
    * stream: a hot DELTA class against small store buckets costs only
    * store-bucket × delta-bucket — linear in the delta — while hot
    * STORE buckets would be re-paid by every batch, and those are
    * exactly what the cap skips. StreamingSpec asserts the parity;
    * the qs7 oracle replays the semantics in SQL. Caller contract:
    * doc-id spaces are disjoint. Output: one row per delta doc with
    * ≥1 surviving span, same schema as [[paragraphDedup]].
    */
  def paragraphDedupAgainst(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, splitter: ParagraphSplitter,
      threshold: Double, shingleN: Int, maxBucket: Int): DataFrame =
    paragraphDedupAgainstStore(newDocs,
      prepareParagraphStore(corpus, idCol, textCol, splitter, threshold,
        shingleN, maxBucket),
      idCol, textCol)

  /** Prebuilt, fully-materialized near-stage state for
    * [[paragraphDedupAgainstStore]]: the span store, its shingled and
    * banded-and-capped forms, and the store-derived parameters. Build
    * ONCE per corpus via [[prepareParagraphStore]] — every frame here
    * is checkpointed, so per-batch work touches the corpus only
    * through cached blocks (no re-shingling, no re-banding, no
    * occupancy shuffle per micro-batch).
    */
  final case class ParagraphStore private[operators] (
      store: DataFrame, shingled: DataFrame, banded: DataFrame,
      bands: Int, rowsPerBand: Int, cap: Int,
      splitter: ParagraphSplitter, threshold: Double, shingleN: Int)

  /** Build the [[ParagraphStore]] for a corpus: exact-survivor spans,
    * their shingle sets, and the capped banded rows, with (bands,
    * rowsPerBand, cap) derived from the STORE population — the
    * chunk-invariance anchor of [[paragraphDedupAgainst]].
    */
  def prepareParagraphStore(corpus: DataFrame, idCol: String,
      textCol: String, splitter: ParagraphSplitter, threshold: Double,
      shingleN: Int, maxBucket: Int): ParagraphStore = {
    val store = paragraphSpanStore(corpus, idCol, textCol, splitter)
    val storeN = store.where(col("nw") >= shingleN).select("pid", "ptext")
    val n = math.max(1L, storeN.count())
    val cap = if (maxBucket == AutoBucket) autoMaxBucket(n) else maxBucket
    val (bands, rows) = minhashParams(n, recallAt = threshold)
    val shS = storeN.select(col("pid").as("__id"),
      TextFns.wordShingles(col("ptext"), shingleN).as("__sh"))
      .localCheckpoint(true)
    // store-only occupancy cap: hot STORE buckets contribute no
    // candidates no matter what any delta holds (chunk-invariant)
    val bandedS = capBuckets(
      minhashBanded(shS, "__id", "__sh", bands, rows)
        .localCheckpoint(true), cap)
      .localCheckpoint(true)
    ParagraphStore(store, shS, bandedS, bands, rows, cap, splitter,
      threshold, shingleN)
  }

  /** [[paragraphDedupAgainst]] against a prebuilt [[ParagraphStore]] —
    * the per-micro-batch entry point: all per-batch frames are
    * delta-sized except the exact-stage anti-join and the verify
    * join, which read the store's cached blocks.
    */
  def paragraphDedupAgainstStore(newDocs: DataFrame,
      ps: ParagraphStore, idCol: String, textCol: String): DataFrame = {
    // exact stage: a delta span whose text exists in the store drops.
    // e1 feeds the near-stage banding + verify and the reassembly —
    // materialize once.
    val e1 = explodeSpans(newDocs, idCol, textCol, ps.splitter)
      .withColumn("pid", struct(col("doc_id"), col("idx")))
      .join(ps.store.select("ptext"), Seq("ptext"), "left_anti")
      .localCheckpoint(true)
    val deltaN = e1.where(col("nw") >= ps.shingleN).select("pid", "ptext")
    val shD = deltaN.select(col("pid").as("__id"),
      TextFns.wordShingles(col("ptext"), ps.shingleN).as("__sh"))
      .localCheckpoint(true)
    val bandedD = minhashBanded(shD, "__id", "__sh", ps.bands,
      ps.rowsPerBand)
    val cand = ps.banded.as("x").join(bandedD.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
      .distinct()
    val nearDrops = verifyJaccard(cand, ps.shingled, shD, ps.threshold)
      .select(col("b").as("pid")).distinct()
    val s2 = e1.join(nearDrops, Seq("pid"), "left_anti")
    val nPara = paraCounts(newDocs, idCol, textCol, ps.splitter)
    s2.groupBy("doc_id")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("idx"), col("ptext")))),
          x => x.getField("ptext")), ps.splitter.joinSep).as("clean_text"),
        count(lit(1)).as("n_kept"))
      .join(nPara, col("__d") === col("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("n_para"),
        col("n_kept"))
      .orderBy("doc_id")
  }

  /** EVOLVING-store incremental paragraph dedup (the qs8 continuous-
    * ingestion shape): each batch's spans dedup against everything
    * seen so far — the initial corpus plus every earlier batch — and
    * the store then absorbs the batch's exact-stage survivors,
    * INCLUDING near-dropped ones, which one-shot semantics keep as
    * candidate killers (a span drops when ANY earlier exact survivor
    * verifies, whether or not that survivor itself dropped).
    *
    * Drop rule, arrival-order-wins: a store span kills a batch span it
    * verifies against unconditionally (the store is strictly earlier);
    * within a batch, struct (doc_id, idx) order decides — exactly
    * [[paragraphDedup]]'s rule. So when arrival order is monotone in
    * doc_id, ANY chunking reproduces the one-shot batch answer over
    * corpus ∪ deltas restricted to the delta docs (StreamingSpec
    * asserts 1-chunk == 3-chunk == one-shot); out-of-order arrival
    * stays well-defined, first-arrival wins. Caller contract: each doc
    * arrives in exactly one batch.
    *
    * Per-batch cost is delta-sized everywhere except the exact-stage
    * anti-join, the store-vs-delta band join, and the verify join,
    * which read the store's checkpointed blocks (and broadcast the
    * delta side when it is small). Band parameters and the hot-bucket
    * cap stay FROZEN from [[prepareParagraphStore]] — deriving them
    * from the evolving population would make a span's fate depend on
    * when it arrived; re-derive by re-preparing the store at
    * compaction cadence if the corpus grows far past its initial size.
    * Batch appends bypass the cap until then (a delta-sized batch
    * cannot make a bucket hot faster than the re-preparation cadence
    * bounds).
    *
    * Returns the cleaned batch documents, the spans the store absorbed
    * (the batch's exact-stage survivors — the delta a restart
    * replays), and the evolved store.
    */
  def paragraphDedupIngest(batch: DataFrame, ps: ParagraphStore,
      idCol: String, textCol: String): Ingest[ParagraphStore] = {
    val spans = explodeSpans(batch, idCol, textCol, ps.splitter)
      .withColumn("pid", struct(col("doc_id"), col("idx")))
    // exact stage vs everything seen: first-in-batch per span text
    // (window min), and absent from the store — the store holds every
    // distinct span text seen so far, so one anti-join covers the
    // whole history
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ptext")
    val e1 = spans.withColumn("__fp", min(col("pid")).over(w))
      .where(col("pid") === col("__fp")).drop("__fp")
      .join(ps.store.select("ptext"), Seq("ptext"), "left_anti")
      .localCheckpoint(true)
    val shD = e1.where(col("nw") >= ps.shingleN)
      .select(col("pid").as("__id"),
        TextFns.wordShingles(col("ptext"), ps.shingleN).as("__sh"))
      .localCheckpoint(true)
    val bandedD = minhashBanded(shD, "__id", "__sh", ps.bands,
      ps.rowsPerBand).localCheckpoint(true)
    // near stage: store-vs-batch pairs carry no pid condition (earlier
    // by construction); batch-vs-batch pairs order by pid
    val candS = ps.banded.as("x").join(bandedD.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
    val candD = bandedD.as("x").join(bandedD.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
    val nearDrops = verifyJaccard(candS.unionAll(candD).distinct(),
        ps.shingled.unionByName(shD), shD, ps.threshold)
      .select(col("b").as("pid")).distinct()
    val s2 = e1.join(nearDrops, Seq("pid"), "left_anti")
    val nPara = paraCounts(batch, idCol, textCol, ps.splitter)
    val cleaned = s2.groupBy("doc_id")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("idx"), col("ptext")))),
          x => x.getField("ptext")), ps.splitter.joinSep).as("clean_text"),
        count(lit(1)).as("n_kept"))
      .join(nPara, col("__d") === col("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("n_para"),
        col("n_kept"))
      .orderBy("doc_id")
    Ingest(cleaned, e1, appendFrames(ps, e1, shD, bandedD))
  }

  /** Absorb already-determined exact-survivor spans — e.g. the durable
    * `appended` parquet of committed batches, replayed after a restart
    * — into the store: their shingles and banded rows recompute under
    * the store's FROZEN parameters (MinHash signatures are
    * deterministic per span text, so the rebuilt store is
    * block-for-block equivalent to the one the crashed stream held).
    * Appended span texts are globally distinct by construction (each
    * batch's survivors were anti-joined against the store of their
    * day), so all committed batches can replay in one append.
    */
  def appendSpansToStore(ps: ParagraphStore, spans: DataFrame)
      : ParagraphStore = {
    val sp = spans.localCheckpoint(true)
    val sh = sp.where(col("nw") >= ps.shingleN)
      .select(col("pid").as("__id"),
        TextFns.wordShingles(col("ptext"), ps.shingleN).as("__sh"))
      .localCheckpoint(true)
    val banded = minhashBanded(sh, "__id", "__sh", ps.bands,
      ps.rowsPerBand).localCheckpoint(true)
    appendFrames(ps, sp, sh, banded)
  }

  private def appendFrames(ps: ParagraphStore, sp: DataFrame,
      sh: DataFrame, banded: DataFrame): ParagraphStore =
    ps.copy(store = ps.store.unionByName(
        sp.select(ps.store.columns.map(col).toSeq: _*)),
      shingled = ps.shingled.unionByName(sh),
      banded = ps.banded.unionByName(banded))

  /** Rewrite the store's accumulated per-batch unions as single
    * checkpointed frames. Correctness never needs this — but after
    * many [[paragraphDedupIngest]] batches the store frames are unions
    * of N checkpoints, so plan depth and block count grow with batch
    * count. The streaming runner compacts every `compactEvery` batches
    * and releases the superseded blocks — the LSM amortization:
    * delta-sized appends between store-sized rewrites. Parameters stay
    * frozen (compaction is a physical rewrite, not a re-preparation).
    */
  def compactParagraphStore(ps: ParagraphStore): ParagraphStore =
    ps.copy(store = ps.store.localCheckpoint(true),
      shingled = ps.shingled.localCheckpoint(true),
      banded = ps.banded.localCheckpoint(true))

  /** Deterministic work counters for one qs8 evolving-store ingest
    * step, with the evolved store for the next step. Returns
    * (storeProbePairs, lawProbePairs, intraBatchPairs, next):
    * storeProbePairs counts the store-vs-delta band join's enumerated
    * rows; lawProbePairs derives the SAME number independently from
    * the two sides' (band, key) occupancy aggregates
    * (Σ storeCount × deltaCount over matched keys) — two derivations,
    * one number, asserted equal by the caller. The construction
    * mirrors [[paragraphDedupIngest]] exactly (same exact stage, same
    * frozen params, same append), minus the reassembly.
    */
  private[graft] def paragraphIngestWork(batch: DataFrame,
      ps: ParagraphStore, idCol: String, textCol: String)
      : (Long, Long, Long, ParagraphStore) = {
    val spans = explodeSpans(batch, idCol, textCol, ps.splitter)
      .withColumn("pid", struct(col("doc_id"), col("idx")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ptext")
    val e1 = spans.withColumn("__fp", min(col("pid")).over(w))
      .where(col("pid") === col("__fp")).drop("__fp")
      .join(ps.store.select("ptext"), Seq("ptext"), "left_anti")
      .localCheckpoint(true)
    val shD = e1.where(col("nw") >= ps.shingleN)
      .select(col("pid").as("__id"),
        TextFns.wordShingles(col("ptext"), ps.shingleN).as("__sh"))
      .localCheckpoint(true)
    val bandedD = minhashBanded(shD, "__id", "__sh", ps.bands,
      ps.rowsPerBand).localCheckpoint(true)
    val probe = ps.banded.as("x").join(bandedD.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key")).count()
    val law = ps.banded.groupBy("__band", "__key")
      .agg(count(lit(1)).as("__cs"))
      .join(bandedD.groupBy("__band", "__key")
        .agg(count(lit(1)).as("__cd")), Seq("__band", "__key"))
      .agg(coalesce(sum(col("__cs") * col("__cd")), lit(0L))).head
      .getLong(0)
    val intra = bandedD.as("x").join(bandedD.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key") &&
          col("x.__id") < col("y.__id")).count()
    (probe, law, intra, appendFrames(ps, e1, shD, bandedD))
  }

  /** EXACT substring dedup — the span-level "no L-gram occurs twice in
    * the training set" operator (the suffix-array dedup of the
    * deduplicating-training-data literature, re-expressed relationally;
    * cf. paragraphDedup for the CCNet paragraph-level analog). Any
    * `l`-codepoint gram that already occurred EARLIER in the corpus —
    * global (doc_id, pos) order, first occurrence kept — marks its
    * `[pos, pos+l)` span as duplicated; per doc the duplicated spans
    * merge into maximal islands (touching spans merge) and are cut
    * out of the text.
    *
    * Output: one row per input doc — (id, n_spans, removed_chars,
    * clean_text), where removed_chars == length(text) -
    * length(clean_text) always (islands are disjoint).
    *
    * Scale shape (100 TB honesty): the corpus-wide shuffle is the
    * (key62, doc_id, pos) occurrence stream — ~24 bytes per character
    * position, the intrinsic cost of exact substring dedup (the
    * suffix-array literature pays a comparable global sort; there is
    * no sublinear exact formulation). Everything downstream of the
    * first group-by is linear in the DUPLICATED volume only:
    *
    *  1. rolling 62-bit gram keys ([[GramKeys]], one fused pass per
    *     doc — gram TEXT never materializes here);
    *  2. per-key df + min-occurrence — map-side combine collapses hot
    *     grams before the shuffle, so a million-occurrence boilerplate
    *     gram costs its occurrence count, never a pair blowup (this
    *     op never joins occurrence×occurrence);
    *  3. only occurrences whose key has df>1 (true dups + ~2^-62 hash
    *     collisions) re-attach their gram text — a doc_id equi-join —
    *     and regroup on the REAL gram, making the result exact under
    *     any collision;
    *  4. span island-merge per doc (window partitioned on doc_id) and
    *     a single-pass fold rebuilds the cleaned text.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 40): DataFrame = {
    require(l >= 2, s"substringDedup: window $l")
    val d = docs.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__txt"))
    // every join below pairs two CORPUS-SCALE relations (the dup-gram
    // table, the doc table, the candidate stream) — none may ever
    // broadcast: their sizes are data-dependent (a boilerplate-heavy
    // corpus makes the df>1 table ~the whole gram table), and the f20
    // stress leg OOM'd the driver when AQE broadcast one. hint("merge")
    // pins sort-merge — the scale-safe shape at any corpus size
    val occ = gramOcc(d, l)
    val firsts = occ.groupBy("__gk")
      .agg(count(lit(1)).as("__df"), min("__key").as("__mk"))
    val cand = occ.join(firsts.where(col("__df") > 1L).hint("merge"),
      "__gk")
    val candTxt = cand.join(d.hint("merge"), "__id")
      .select(col("__id"), col("__pos"), col("__key"),
        expr(s"substring(__txt, __pos, $l)").as("__gram"))
    val exact = candTxt.groupBy("__gram").agg(min("__key").as("__mk2"))
    val dup = candTxt.join(exact.hint("merge"), "__gram")
      .where(col("__key") > col("__mk2"))
      .select("__id", "__pos")
    spansToClean(d, dup, l, idCol)
  }

  /** Deterministic work profile of [[substringDedup]] — the counters
    * the scale gates ratio instead of cpu-seconds (which measured up
    * to 12× session-to-session swings on the bench host; the WORK a
    * plan does is a property of the data, not the scheduler):
    *  - `occRows`: gram occurrences shuffled (the intrinsic corpus-
    *    scale exchange) — must equal Σ max(len−l+1, 0) computed from
    *    lengths alone (asserted here: two derivations, one number);
    *  - `candRows`: occurrences of duplicated grams (df > 1) — the
    *    rows entering the gram-text verify join;
    *  - `dupRows`: verified duplicate positions (the span stream).
    * Counts replay the operator's own intermediates, so the published
    * work units are exactly what the plan enumerates.
    */
  private[graft] def substringDedupWork(docs: DataFrame, idCol: String,
      textCol: String, l: Int = 40): (Long, Long, Long) = {
    val d = docs.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__txt"))
    val occ = gramOcc(d, l)
    val occRows = occ.count()
    val occFromLen = d.agg(sum(greatest(
      length(col("__txt")) - (l - 1), lit(0)))).head.getLong(0)
    require(occRows == occFromLen,
      s"occurrence-count derivations disagree: $occRows != $occFromLen")
    val firsts = occ.groupBy("__gk")
      .agg(count(lit(1)).as("__df"), min("__key").as("__mk"))
    val cand = occ.join(firsts.where(col("__df") > 1L).hint("merge"),
      "__gk")
    val candRows = cand.count()
    val candTxt = cand.join(d.hint("merge"), "__id")
      .select(col("__id"), col("__pos"), col("__key"),
        expr(s"substring(__txt, __pos, $l)").as("__gram"))
    val exact = candTxt.groupBy("__gram").agg(min("__key").as("__mk2"))
    val dupRows = candTxt.join(exact.hint("merge"), "__gram")
      .where(col("__key") > col("__mk2")).count()
    (occRows, candRows, dupRows)
  }

  /** Rolling-key gram occurrences of `d` = (__id, __txt): one row per
    * position — (__id, __pos 1-based, __gk 62-bit key, __key global
    * (doc_id, pos) order as one comparable long). 1e9 bounds positions
    * (a single 1 GB+ document should be chunked upstream).
    */
  private def gramOcc(d: DataFrame, l: Int): DataFrame =
    d.select(col("__id"),
        posexplode(HashFns.gramKeys(col("__txt"), l)))
      .select(col("__id"), (col("pos") + 1).as("__pos"),
        col("col").as("__gk"),
        (col("__id") * 1000000000L + col("pos") + 1).as("__key"))

  /** Duplicated-position set → per-doc output: island-merge the
    * [pos, pos+l) spans (touching merge; window partitioned per doc)
    * and rebuild the cleaned text with a single-pass fold. Output:
    * (idCol, n_spans, removed_chars, clean_text) for EVERY doc in `d`.
    */
  private def spansToClean(d: DataFrame, dup: DataFrame, l: Int,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__id").orderBy("__s")
    val islands = dup
      .select(col("__id"), col("__pos").as("__s"),
        (col("__pos") + l).as("__e"))
      .withColumn("__pm", max("__e")
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        (col("__pm").isNull || col("__s") > col("__pm")).cast("int"))
      .withColumn("__isl", sum("__new").over(w))
      .groupBy("__id", "__isl")
      .agg(min("__s").as("__s"), max("__e").as("__e"))
    val perDoc = islands.groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__spans"))
    // perDoc is corpus-scale on dup-heavy corpora — never broadcast
    d.join(perDoc.hint("merge"), Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(size(col("__spans")), lit(0)).cast(LongType)
          .as("n_spans"),
        coalesce(expr("aggregate(__spans, 0L, (a, sp) -> a + sp.__e - sp.__s)"),
          lit(0L)).as("removed_chars"),
        coalesce(expr("""aggregate(__spans,
            named_struct('t', '', 'p', 1L),
            (acc, sp) -> named_struct(
              't', concat(acc.t, substring(__txt, acc.p, sp.__s - acc.p)),
              'p', CAST(sp.__e AS BIGINT)),
            acc -> concat(acc.t, substring(__txt, acc.p, 2147483647)))"""),
          col("__txt")).as("clean_text"))
  }

  /** Evolving gram store for STREAMING substring dedup (qs10): the
    * per-gram-key first-occurrence table (__gk → __mk). Hash-only —
    * the store keeps 62-bit keys, not gram text, so a double-modulus
    * collision (P ≈ 2^-62 per gram pair) could merge two distinct
    * grams; the batch twin and the qs10 oracle replay on REAL grams,
    * so any corpus where that ever mattered would fail the gate.
    */
  final case class GramStore private[operators] (grams: DataFrame, l: Int)

  def prepareGramStore(corpus: DataFrame, idCol: String,
      textCol: String, l: Int = 40): GramStore = {
    require(l >= 2, s"prepareGramStore: window $l")
    val d = corpus.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__txt"))
    GramStore(gramOcc(d, l).groupBy("__gk").agg(min("__key").as("__mk"))
      .localCheckpoint(true), l)
  }

  /** One ingested batch: per-doc dedup output for the batch, the
    * store delta (gram keys first seen in THIS batch), and the
    * evolved store. CONTRACT: batches arrive in ascending doc_id
    * order (the qs9 monotone-arrival contract) — then any chunking
    * reproduces the one-shot [[substringDedup]] over corpus ∪ deltas
    * restricted to the delta docs, because every store key is smaller
    * than every batch key and min-merge is associative.
    */
  def substringDedupIngest(batch: DataFrame, store: GramStore,
      idCol: String, textCol: String): Ingest[GramStore] = {
    val l = store.l
    val d = batch.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__txt")).localCheckpoint(true)
    val occ = gramOcc(d, l).localCheckpoint(true)
    val bmin = occ.groupBy("__gk").agg(min("__key").as("__bmk"))
    // effective first occurrence = min(store, batch) per key —
    // least() is null-poisoning on the left-join miss, hence coalesce.
    // The store is corpus-scale (it grows with everything ever
    // streamed) — hint("merge") keeps it out of broadcasts, same
    // rationale as substringDedup's joins
    val eff = bmin.join(store.grams.hint("merge"), Seq("__gk"), "left")
      .select(col("__gk"),
        coalesce(least(col("__mk"), col("__bmk")), col("__bmk"))
          .as("__emk"))
    val dup = occ.join(eff.hint("merge"), "__gk")
      .where(col("__key") > col("__emk"))
      .select("__id", "__pos")
    val appended = bmin.join(store.grams.hint("merge"),
        Seq("__gk"), "left_anti")
      .select(col("__gk"), col("__bmk").as("__mk"))
      .localCheckpoint(true)
    Ingest(spansToClean(d, dup, l, idCol), appended,
      GramStore(store.grams.unionByName(appended), l))
  }

  /** Replay durable store deltas (crash recovery): signatures are
    * deterministic, so a store rebuilt from the per-batch appended
    * frames equals the one the crashed run held.
    */
  def appendGramsToStore(store: GramStore, appended: DataFrame): GramStore =
    GramStore(store.grams.unionByName(
      appended.select(col("__gk"), col("__mk"))), store.l)

  /** LSM-style rewrite of the store's accumulated per-batch unions —
    * same amortization contract as [[compactParagraphStore]].
    */
  def compactGramStore(store: GramStore): GramStore =
    store.copy(grams = store.grams.localCheckpoint(true))

  /** Tier the gram store to DISK (the qs10 retention story, VERDICT
    * r11 #8): compaction bounds plan depth and REWRITE cost but not
    * store SIZE — the store grows with the stream's distinct content
    * (store-size law: rows = distinct l-gram keys ∝ distinct corpus
    * chars; re-streamed duplicate content adds zero rows, published
    * as the SCALE gram-store leg). A long-running stream therefore
    * outgrows executor memory eventually no matter the compaction
    * cadence. Tiering rewrites the whole store into a parquet COLD
    * tier and re-reads it lazily: between tierings only the per-batch
    * delta frames occupy block-manager memory, while cold lookups
    * stream from disk through the same merge join — at 100 TB the
    * cold tier is object-store parquet and memory residency stays
    * O(delta), not O(corpus). Results are BIT-identical to the flat
    * store (a physical representation change only; StreamingSpec
    * asserts tiered == flat).
    */
  def tierGramStore(store: GramStore, dir: String): GramStore = {
    store.grams.write.mode("overwrite").parquet(dir)
    store.copy(
      grams = store.grams.sparkSession.read.parquet(dir))
  }

  /** DOCUMENT TAKEDOWN in the evolving gram store (qs43) — the
    * deletion theorem for a LOSSY store, completing the family's
    * third repair class. The store keeps only each gram's MINIMUM
    * occurrence key: when the owner of that minimum is deleted, the
    * surviving runner-up occurrence is recorded NOWHERE — it was
    * marked duplicate at its own ingest (emitted output, which
    * stands: takedowns never rewrite history, the qs39 discipline)
    * and only first-seen keys were appended. Dropping the dead rows
    * without repair silently un-deduplicates the future: a later
    * occurrence of that gram would be treated as first even though a
    * live earlier occurrence exists (OperatorsSpec plants exactly
    * this case and proves repair is NECESSARY, not hygiene).
    *
    * Repair therefore RE-DERIVES the surviving minimum: one pass
    * over the surviving corpus restricted (semi-join) to the
    * AFFECTED grams — the grams whose stored owner died. Honest cost
    * statement, the contrast the store family documents: the
    * verbatim prefix index deletes for free (qs39 — nothing lossy),
    * the top-k vector stores repair delta-proportionally (qs38/qs41
    * — the candidate generator re-ranks affected nodes), and the
    * lossy min-store pays one survivor SCAN per takedown batch —
    * scan cost O(surviving corpus) map-side, but shuffle volume only
    * the affected grams' occurrences (the semi-join runs before the
    * aggregate). Batch takedowns to amortize the scan; at 100 TB the
    * scan is the same pass a re-prepare pays, restricted map-side.
    *
    * `corpus` must be the full live document set BEFORE this
    * takedown (the harness maintains it — it is also the loud
    * guard's witness: tombstones not in the live corpus refuse, the
    * family discipline).
    */
  def gramStoreDelete(tombstones: DataFrame, store: GramStore,
      corpus: DataFrame, idCol: String, textCol: String): GramStore = {
    val del = tombstones
      .select(col("id").cast(LongType).as("__did")).distinct()
      .localCheckpoint(true)
    Ingest.requireAllLive(del,
      corpus.select(col(idCol).cast(LongType).as("__did")),
      "gramStoreDelete", "live corpus")
    val surv = corpus.join(
      broadcast(del).select(col("__did").cast(LongType).as("__sid")),
      col(idCol).cast(LongType) === col("__sid"), "left_anti")
    // affected grams: store rows whose owning doc (key div 1e9) died
    val aff = store.grams
      .join(broadcast(del),
        (col("__mk") / lit(1000000000L)).cast(LongType) ===
        col("__did"), "left_semi")
      .select("__gk").localCheckpoint(true)
    // re-derived surviving minima, restricted to the affected grams
    // (grams with no surviving occurrence drop entirely — a future
    // occurrence is then genuinely first among the live corpus)
    val d = surv.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__txt"))
    val survMins = gramOcc(d, store.l)
      .join(broadcast(aff), Seq("__gk"), "left_semi")
      .groupBy("__gk").agg(min("__key").as("__mk"))
    val kept = store.grams.join(broadcast(aff), Seq("__gk"),
      "left_anti")
    GramStore(kept.unionByName(survMins).localCheckpoint(true),
      store.l)
  }

  /** Content-defined-chunking dedup statistics (the storage-style
    * block-dedup primitive — see [[CdcChunks]] for the boundary
    * definition and why content-defined beats fixed-size blocks).
    * Each doc splits into CDC chunks; a chunk INSTANCE is a duplicate
    * iff the identical chunk text occurs at a globally earlier
    * (doc_id, pos) (xd12's first-kept discipline, at chunk rather
    * than gram granularity). Output per doc: total chunks, duplicate
    * chunks, duplicate chars.
    *
    * Scale shape: chunking is a join-free narrow map (one fused
    * expression pass per doc); the corpus-wide work is ONE shuffle on
    * sha256(chunk) — ~1/64th the key count of xd12's per-position
    * gram keys (that is CDC's point: boundaries re-sync, so chunk
    * keys suffice) — followed by a same-key first-occurrence join
    * (AQE reuses the exchange). sha256 stands in for the chunk text
    * on the wire (the qx1 contract: 2^-128 collisions; the oracle
    * groups on the REAL text, so the gate also proves the hash
    * stand-in loses nothing).
    */
  def cdcDedupStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val occ = cdcOcc(docs, idCol, textCol)
      .localCheckpoint(true) // feeds both sides of the firsts join
    val firsts = occ.groupBy("k")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    cdcRollup(occ.join(firsts, "k")
      .select(col("doc_id"), col("clen"),
        (col("first.doc_id") =!= col("doc_id") ||
          col("first.pos") =!= col("pos")).as("dup")))
  }

  /** Chunk occurrences of a corpus: (doc_id, pos, k=sha256(chunk),
    * clen) — the shared derivation of [[cdcDedupStats]] and the
    * streaming ingest.
    */
  private def cdcOcc(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol).cast(LongType).as("doc_id"),
        explode(HashFns.cdcChunks(col(textCol))).as("ck"))
      .select(col("doc_id"), col("ck.pos").as("pos"),
        sha2(col("ck.chunk"), 256).as("k"),
        length(col("ck.chunk")).cast(LongType).as("clen"))

  private def cdcRollup(flagged: DataFrame): DataFrame =
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("dup"), col("clen")).otherwise(0L)).as("dup_chars"))

  /** Broder CONTAINMENT pairs over CDC chunk sets (Broder SEQUENCES
    * '97 §2): c(A,B) = |S(A) ∩ S(B)| / |S(A)| — the asymmetric
    * overlap measure that catches a document EMBEDDED in a larger
    * one, which symmetric Jaccard under-scores as sizes diverge
    * (|A∩B|/|A∪B| → |A|/|B| → 0 while containment stays 1). Chunk
    * sets come from [[CdcChunks]] (distinct chunk texts per doc), so
    * an edit anywhere shifts at most the two adjacent chunks and the
    * rest still match — the property word-shingles lack at block
    * granularity.
    *
    * Emits pairs (a < b) whose MAX one-sided containment ≥
    * `threshold`, with both direction values. Scale shape: one
    * distinct-chunk shuffle, a per-key pair join capped by
    * `maxDocFreq` (boilerplate chunks shared by thousands of docs
    * would otherwise square — the xd3 df-cap discipline, applied in
    * the oracle in lockstep), one pair rollup.
    */
  def cdcContainmentPairs(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5,
      maxDocFreq: Int = 100): DataFrame = {
    val sets = docs
      .select(col(idCol).cast(LongType).as("doc_id"),
        explode(HashFns.cdcChunks(col(textCol))).as("ck"))
      .select(col("doc_id"), sha2(col("ck.chunk"), 256).as("k"))
      .distinct()
      .localCheckpoint(true)
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ok = sets.groupBy("k").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq).select("k")
    val capped = sets.join(ok, "k")
    val inter = capped.select(col("k"), col("doc_id").as("a"))
      .join(capped.select(col("k"), col("doc_id").as("b")), "k")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("ix"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .where(greatest(
        col("ix").cast(DoubleType) / col("na"),
        col("ix").cast(DoubleType) / col("nb")) >= threshold)
      .select(col("a"), col("b"), col("ix"), col("na"), col("nb"))
  }

  /** Evolving first-occurrence chunk store for STREAMING CDC dedup
    * (qs19): sha256(chunk) → min (doc_id, pos). Unlike [[GramStore]]
    * this keys on a 256-bit hash (the qx1/xd15 collision contract),
    * and the batch twin + oracle group on REAL chunk text, so a
    * collision that ever mattered fails the gate.
    */
  final case class ChunkStore private[operators] (chunks: DataFrame)

  def prepareChunkStore(corpus: DataFrame, idCol: String,
      textCol: String): ChunkStore =
    ChunkStore(cdcOcc(corpus, idCol, textCol)
      .groupBy("k")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__mk"))
      .localCheckpoint(true))

  /** One ingested batch of the CDC stream: per-doc dedup stats for
    * the batch (identical to the one-shot [[cdcDedupStats]] row for
    * those docs over corpus ∪ deltas-so-far), the store delta (chunk
    * keys first seen in THIS batch), and the evolved store. Same
    * monotone doc_id-arrival contract as [[substringDedupIngest]]:
    * store firsts are all smaller than batch positions, min-merge is
    * associative, so ANY chunking equals the one-shot run restricted
    * to the delta docs.
    */
  def cdcDedupIngest(batch: DataFrame, store: ChunkStore,
      idCol: String, textCol: String): Ingest[ChunkStore] = {
    val occ = cdcOcc(batch, idCol, textCol).localCheckpoint(true)
    val bmin = occ.groupBy("k")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__bmk"))
    // store is corpus-scale: keep it out of broadcasts (merge hint,
    // the substringDedupIngest rationale)
    val eff = bmin.join(store.chunks.hint("merge"), Seq("k"), "left")
      .select(col("k"),
        coalesce(least(col("__mk"), col("__bmk")), col("__bmk"))
          .as("__emk"))
    val result = cdcRollup(occ.join(eff.hint("merge"), "k")
      .select(col("doc_id"), col("clen"),
        (struct(col("doc_id"), col("pos")) > col("__emk")).as("dup")))
    val appended = bmin.join(store.chunks.hint("merge"),
        Seq("k"), "left_anti")
      .select(col("k"), col("__bmk").as("__mk"))
      .localCheckpoint(true)
    Ingest(result, appended,
      ChunkStore(store.chunks.unionByName(appended)))
  }

  /** Replay durable store deltas (crash recovery) — chunk keys are
    * deterministic, so a rebuilt store equals the crashed run's.
    */
  def appendChunksToStore(store: ChunkStore,
      appended: DataFrame): ChunkStore =
    ChunkStore(store.chunks.unionByName(
      appended.select(col("k"), col("__mk"))))

  /** LSM-style rewrite — the [[compactGramStore]] contract. */
  def compactChunkStore(store: ChunkStore): ChunkStore =
    store.copy(chunks = store.chunks.localCheckpoint(true))

  /** Bloom-filter paragraph dedup (the Dolma "BFF" shape — Soldaini
    * et al. 2024; Allen AI runs exactly this at trillion-token scale):
    * paragraphs stream through a FIXED m-bit Bloom filter in global
    * (doc_id, idx) order; a paragraph whose k bits are all already set
    * is dropped. The state is m BITS — constant, however large the
    * corpus — which is the entire point: exact paragraph dedup (xd10)
    * carries an unbounded text/hash store, BFF trades a quantified
    * false-positive rate for O(1) memory.
    *
    * EXACT relational model (what makes this batch-gateable): bits are
    * monotone — "bit b is set when paragraph p is processed" ⟺ some
    * paragraph q with (q.doc_id, q.idx) < (p.doc_id, p.idx) has b
    * among its k bits (a dropped paragraph's bits were already set, so
    * insert-after-check changes nothing). Hence
    * {{{
    *   dropped(p) ⟺ max over p's k bits of
    *                  (first (doc_id, idx) to carry that bit) < p
    * }}}
    * — false positives INCLUDED, exactly as the sequential filter
    * would produce them. Exact duplicates are never missed (an
    * earlier identical paragraph set exactly p's bits), spec-gated.
    * The n_fp column counts dropped-but-not-exact-dup paragraphs —
    * the honesty metric a production run sizes m against (Dolma sizes
    * for fp ≈ 1e-6; the declared query pins a small m so the fp path
    * is EXERCISED, not vacuous).
    *
    * Scale shape: window split is a narrow map; one shuffle of k·n
    * (bit, para) tuples groups by bit — the bit domain is m, bounded,
    * so `bitFirst` is an m-row frame joined back BROADCAST; the exact
    * first-occurrence join (diagnostic only — production BFF does not
    * need it) is the one ptext-keyed shuffle; one doc_id rollup.
    * Output per doc: (doc_id, n_para, n_dropped, n_exact_dup, n_fp).
    */
  def bloomParaDedup(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 12, mBits: Int = 1 << 18, k: Int = 3): DataFrame = {
    val paras = docs
      .select(col(idCol).cast(LongType).as("doc_id"),
        TextFns.tokens(col(textCol)).as("__fw"))
      .where(size(col("__fw")) > 0) // the c4Clean empty-doc guard
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          ceil(size(col("__fw")) / lit(window.toDouble)) - 1)).as("idx"),
        col("__fw"))
      .select(col("doc_id"), col("idx"),
        array_join(slice(col("__fw"),
          (col("idx") * window + 1).cast(IntegerType), lit(window)), " ")
          .as("ptext"))
      .localCheckpoint(true) // feeds bits AND the exact/rollup joins
    // k md5-derived bit positions per paragraph (32-bit prefix mod m —
    // the hashBucket16 idiom widened; both engines parse the same 8
    // hex nibbles)
    val bits = paras
      .select(col("doc_id"), col("idx"), col("ptext"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .select(col("doc_id"), col("idx"),
        pmod(conv(substring(md5(concat(col("i").cast(StringType),
            lit(":"), col("ptext"))), 1, 8), 16, 10).cast(LongType),
          lit(mBits.toLong)).as("bit"))
    val bitFirst = bits.groupBy("bit")
      .agg(min(struct(col("doc_id"), col("idx"))).as("bf"))
    val dropped = bits
      .join(broadcast(bitFirst), "bit") // ≤ m rows, fixed
      .groupBy("doc_id", "idx")
      .agg(max(col("bf")).as("mf"))
      .select(col("doc_id"), col("idx"),
        (col("mf") < struct(col("doc_id"), col("idx"))).as("dropped"))
    val exactFirst = paras.groupBy("ptext")
      .agg(min(struct(col("doc_id"), col("idx"))).as("ef"))
    paras
      .join(exactFirst, "ptext")
      .select(col("doc_id"), col("idx"),
        (col("ef") < struct(col("doc_id"), col("idx"))).as("exdup"))
      .join(dropped, Seq("doc_id", "idx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_para"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("exdup"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("dropped") && !col("exdup"), 1L).otherwise(0L))
          .as("n_fp"))
  }

  /** Sorted-neighborhood near-dup pairs (xd18) — the Hernández &
    * Stolfo SIGMOD'95 merge/purge blocking strategy, the classic
    * RECORD-LINKAGE move the hash-blocked family (MinHash bands /
    * SimHash / CDC keys) lacks: sort the corpus on a normalized key
    * and compare only records within a sliding window of `window`
    * positions — pair volume is EXACTLY n·(window−1)/…, linear in n
    * by construction and immune to hot-key blocking skew (a
    * degenerate key that would put 10^6 docs in one LSH bucket still
    * yields only window-bounded pairs here; the trade, documented and
    * spec-gated, is that near-dups sorted further than `window` apart
    * are missed — SNM's known blind spot, mitigated in practice by
    * multi-pass runs over different keys).
    *
    * Chain: normalize (lower, strip non-alphanumerics) → sort key =
    * 12-char normalized prefix → GLOBAL rank under (key, id) via
    * [[Scale.runningSum]] (two-level distributed prefix sum — never a
    * partition-less window) → window pairs as an EQUI-join on
    * rank+delta (delta exploded 1..window−1, so the range join is a
    * shuffle on integer rank, no range-join fallback) → verification
    * by character-bigram Dice over the 128-char normalized prefix
    * (set semantics, distinct bigrams; bounded per-row state at any
    * doc length). The threshold compare is float-free integer
    * cross-multiplication: keep iff 2·thDen·|A∩B| ≥ thNum·(|A|+|B|)
    * — two empty fingerprints (0 ≥ 0) pair as exact dups. Everything
    * is exact integers/strings, so the operator hash-gates.
    *
    * Output: (a, b, inter, na, nb) with a earlier in sort order.
    */
  def sortedNeighborPairs(docs: DataFrame, idCol: String,
      textCol: String, window: Int = 8, thNum: Int = 3, thDen: Int = 5,
      fpChars: Int = 128): DataFrame = {
    require(window >= 2, "sortedNeighborPairs: window >= 2")
    val base = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        regexp_replace(lower(col(textCol)), "[^a-z0-9]", "").as("__nrm"))
      .select(col("id"), substring(col("__nrm"), 1, 12).as("__key"),
        substring(col("__nrm"), 1, fpChars).as("__fp"))
      .withColumn("__bg",
        when(length(col("__fp")) < 2,
          array().cast(ArrayType(StringType, containsNull = false)))
          .otherwise(array_distinct(expr(
            "transform(sequence(1, length(__fp) - 1)," +
              " i -> substring(__fp, CAST(i AS INT), 2))"))))
      // first key char as the monotone numeric bucket coarsening of
      // the (key, id) order ([a-z0-9] first chars: ASCII order ==
      // string order; the empty key's 0 sorts below them all)
      .withColumn("__bkt", ascii(substring(col("__key"), 1, 1)))
      .withColumn("__one", lit(1L))
    val ranked = Scale.runningSum(base, "__bkt",
        Seq("__key", "id"), "__one", "rn")
      .select(col("id"), col("__bg"), col("rn"))
      .localCheckpoint(true) // both join sides read it
    ranked
      .select(col("id").as("a"), col("__bg").as("__bga"), col("rn"))
      .withColumn("__d",
        explode(sequence(lit(1), lit(window - 1))))
      .withColumn("__rnb", col("rn") + col("__d"))
      .join(ranked.select(col("id").as("b"), col("__bg").as("__bgb"),
        col("rn").as("__rnb")), "__rnb")
      .select(col("a"), col("b"),
        size(array_intersect(col("__bga"), col("__bgb")))
          .cast(LongType).as("inter"),
        size(col("__bga")).cast(LongType).as("na"),
        size(col("__bgb")).cast(LongType).as("nb"))
      .where(lit(2L * thDen) * col("inter") >=
        lit(thNum.toLong) * (col("na") + col("nb")))
  }

  /** [[sortedNeighborPairs]] closed into dedup clusters: connected
    * components over the pair graph ([[connectedComponents]]), every
    * unpaired doc its own singleton. Output: (id, cluster, kept) with
    * cluster = min reachable id, kept = (id == cluster).
    */
  def sortedNeighborDedup(docs: DataFrame, idCol: String,
      textCol: String, window: Int = 8, thNum: Int = 3,
      thDen: Int = 5): DataFrame = {
    val pairs = sortedNeighborPairs(docs, idCol, textCol, window,
      thNum, thDen)
    // pointer-jumping: window pairs chain along the sort order, so
    // component diameter grows with dup-cluster size — O(log d)
    // hop+compress rounds instead of O(d) plain propagation
    val comps = connectedComponents(pairs, "a", "b", maxIter = 30,
      pointerJump = true)
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster"))
      .withColumn("kept", (col("id") === col("cluster")).cast(IntegerType))
  }
}

/** Paragraph-splitting strategies for [[Dedup.paragraphDedup]] /
  * [[Dedup.paragraphDedupAgainst]]. Both produce the same downstream
  * span contract — (doc_id, idx, ptext, nw) — so the exact/near stages
  * are splitter-independent; only span boundaries and the clean_text
  * separator differ.
  */
sealed trait ParagraphSplitter {
  /** Separator re-joining surviving spans into clean_text. */
  def joinSep: String
}

object ParagraphSplitter {
  /** Fixed `words`-word windows over the normalized word stream — the
    * fallback for corpora without newline structure (the synthetic
    * testdata shape). Surviving spans re-join with a single space.
    */
  final case class FixedWindow(words: Int = 6) extends ParagraphSplitter {
    require(words > 0, "words > 0")
    val joinSep: String = " "
  }

  /** Delimiter-separated paragraphs (the real-corpus CCNet default:
    * blank lines): text splits on `regex`, each paragraph normalizes
    * to its word stream. Paragraphs with no words drop entirely and
    * are not counted in n_para; surviving paragraphs re-join with a
    * blank line.
    */
  final case class Delimiter(regex: String = "\\n{2,}")
      extends ParagraphSplitter {
    val joinSep: String = "\n\n"
  }
}
