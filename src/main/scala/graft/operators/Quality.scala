package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns

/** Quality-classifier scoring (SURVEY §2.11, the GPT-3/LLaMA "trained
  * classifier" filter with a deterministic stand-in model): multinomial
  * Naive Bayes fit on two labeled source slices, scoring any document
  * set by token log-likelihood ratio plus the doc-count prior.
  *
  * Factored out of the xt18 declared query so the SAME model/scoring
  * code serves the batch entry and the qs11 stream (score the incoming
  * crawl with a FROZEN model — the model frames are fit once on the
  * static corpus and broadcast into every micro-batch's scoring join).
  *
  * Exactness contract (both engines replay it): integer counts → LN
  * doubles → DECIMAL(28,12) per-token quantization → order-free exact
  * sum; unknown tokens take the symmetric add-1 floor via LEFT join +
  * COALESCE (never silently dropped by an inner join).
  *
  * Scale shape: one token explode over the training slices feeds the
  * per-word count table (vocab-sized — broadcast when small, a plain
  * equi-join at 100TB vocabularies); scoring is explode → model join →
  * one doc_id rollup shuffle. Nothing ever collects to the driver.
  */
object Quality {

  /** Frozen NB model: per-word class counts + token totals + doc-count
    * prior inputs. All three frames are tiny relative to any corpus
    * (vocab / 1 / 1 rows) and deterministic given the corpus slice.
    */
  final case class NbModel(cw: DataFrame, tot: DataFrame, dc: DataFrame)

  /** Fit on `corpus` rows whose `source` is `posSrc` (positive class)
    * or `negSrc` (negative class); other rows are unlabeled and
    * ignored by the fit (but still scorable).
    */
  def fitNb(corpus: DataFrame, posSrc: String = "src0",
      negSrc: String = "src1"): NbModel = {
    val tr = corpus.where(col("source").isin(posSrc, negSrc))
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
    val cw = tr.groupBy("w").agg(
      count(when(col("source") === posSrc, 1)).as("cp"),
      count(when(col("source") === negSrc, 1)).as("cn"))
    val tot = tr.agg(
      count(when(col("source") === posSrc, 1)).as("np"),
      count(when(col("source") === negSrc, 1)).as("nn"),
      countDistinct(col("w")).as("v"))
    val dc = corpus.where(col("source").isin(posSrc, negSrc)).agg(
      count(when(col("source") === posSrc, 1)).as("dp"),
      count(when(col("source") === negSrc, 1)).as("dn"))
    NbModel(cw, tot, dc)
  }

  /** Freeze a fitted model: materialize the three frames so a long
    * stream does not re-aggregate the training corpus per batch.
    */
  def freeze(m: NbModel): NbModel =
    NbModel(m.cw.localCheckpoint(true), m.tot.localCheckpoint(true),
      m.dc.localCheckpoint(true))

  /** Score `docs`: (doc_id, n_tok, log_odds r4-rounded, pred 0/1),
    * ordered by doc_id. Docs with zero tokens produce no row (no
    * token evidence — same contract in the SQL replay).
    */
  def scoreNb(docs: DataFrame, m: NbModel): DataFrame = {
    val tk = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("w"))
    val lp = tk.join(m.cw, Seq("w"), "left").crossJoin(broadcast(m.tot))
      .select(col("doc_id"),
        (log((coalesce(col("cp"), lit(0L)) + 1).cast(DoubleType)
            / (col("np") + col("v")))
          - log((coalesce(col("cn"), lit(0L)) + 1).cast(DoubleType)
            / (col("nn") + col("v"))))
          .cast(DecimalType(28, 12)).as("l"))
    val lo = log(col("dp").cast(DoubleType) / col("dn")) +
      col("sl").cast(DoubleType)
    lp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("l")).as("sl"))
      .crossJoin(broadcast(m.dc))
      .select(col("doc_id"), col("n_tok"),
        // the r4 grain (queries.T.r4) inlined — operators must not
        // depend back on the query layer
        (floor(lo * 10000 + 0.5) / 10000.0).as("log_odds"),
        (lo > 0).cast(IntegerType).as("pred"))
      .orderBy("doc_id")
  }

  /** C4-style cleaning composite (Raffel et al. JMLR'20 §2.2,
    * adapted to the corpus's line-free text the way xd10 adapts
    * paragraphs — `window`-word fixed windows stand in for lines):
    *
    *  1. LINE rules: ≥ `minWords` words (real C4: ≥3 words; fires on
    *     tail windows here); no line containing "javascript" (real
    *     C4 rule; the synthetic corpus never triggers it — the
    *     crafted-fixture spec does, the xt15 vacuous-rule precedent);
    *  2. CORPUS-level line dedup: any rule-surviving line text
    *     occurring more than once corpus-wide keeps only its first
    *     occurrence in lexicographic (doc_id, idx) order (a STRUCT
    *     min — an arithmetic doc_id·K+idx key would collide across
    *     docs once one doc has ≥K windows) — C4's across-corpus span
    *     dedup at window granularity (xd10's exact stage, composed
    *     here under the rule filter);
    *  3. PAGE rules: drop docs containing "lorem ipsum" or "{"
    *     anywhere (real C4), and docs with fewer than `minKept`
    *     surviving lines (C4's ≥N-sentence floor).
    *
    * Pinned evaluation order: line rules, then dedup among the
    * survivors, then page rules — the oracle replays the same order.
    * Scale shape: window explosion is a narrow map; the single
    * corpus-wide shuffle is the dedup groupBy on line text (the qx1
    * one-hash-shuffle class); page rules and reassembly ride the
    * per-doc rollup.
    *
    * Output per input doc: (doc_id, n_lines, dropped_rule,
    * dropped_dup, n_kept, kept, clean_text) — clean_text is the
    * surviving lowercased windows rejoined in idx order ('' when
    * nothing survives).
    */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 12, minWords: Int = 3, minKept: Int = 3)
      : DataFrame = {
    val d0 = c4D0(docs, idCol, textCol)
    val lines = c4Lines(d0, window, minWords)
    // First occurrence by the lexicographic (doc_id, idx) STRUCT —
    // an arithmetic doc_id·K+idx encoding collides once a doc has ≥K
    // windows, silently corrupting "first occurrence wins" at scale.
    val firsts = lines.where(col("pass"))
      .groupBy("ptext")
      .agg(min(struct(col("doc_id"), col("idx"))).as("__fp"))
    val flagged = lines
      .join(firsts, Seq("ptext"), "left")
      .select(col("doc_id"), col("idx"), col("ptext"),
        (!col("pass")).as("dropr"),
        (col("pass") &&
          struct(col("doc_id"), col("idx")) =!= col("__fp")).as("dropd"),
        (col("pass") &&
          struct(col("doc_id"), col("idx")) === col("__fp")).as("keep"))
    c4Rollup(flagged, d0, minKept)
  }

  private def c4D0(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast(LongType).as("doc_id"),
      lower(col(textCol)).as("__lt"),
      TextFns.tokens(col(textCol)).as("__fw"))

  /** Rule-flagged line windows of `d0` — checkpointed (feeds the
    * dedup groupBy AND the rollup). Empty/whitespace-only docs emit
    * ZERO windows (and drop from the output via the inner rollup
    * join, matching the oracle's empty RANGE); without the guard,
    * ceil(0/w)-1 = -1 and sequence(0,-1) runs DESCENDING, fabricating
    * two phantom rows.
    */
  private def c4Lines(d0: DataFrame, window: Int,
      minWords: Int): DataFrame =
    d0.where(size(col("__fw")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          ceil(size(col("__fw")) / lit(window.toDouble)) - 1))
          .as("idx"),
        col("__fw"))
      .select(col("doc_id"), col("idx"),
        array_join(slice(col("__fw"),
          (col("idx") * window + 1).cast(IntegerType), lit(window)), " ")
          .as("ptext"),
        size(slice(col("__fw"),
          (col("idx") * window + 1).cast(IntegerType), lit(window)))
          .as("nw"))
      .withColumn("pass",
        col("nw") >= minWords && !col("ptext").contains("javascript"))
      .localCheckpoint(true)

  private def c4Rollup(flagged: DataFrame, d0: DataFrame,
      minKept: Int): DataFrame =
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("dropr"), 1L).otherwise(0L)).as("dropped_rule"),
        sum(when(col("dropd"), 1L).otherwise(0L)).as("dropped_dup"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("ptext"))))),
          x => x.getField("ptext")), " ").as("clean_text"))
      .join(d0.select(col("doc_id"), col("__lt")), "doc_id")
      .select(col("doc_id"), col("n_lines"), col("dropped_rule"),
        col("dropped_dup"), col("n_kept"),
        (col("n_kept") >= minKept &&
          !col("__lt").contains("lorem ipsum") &&
          !col("__lt").contains("{")).as("kept"),
        col("clean_text"))

  /** Evolving first-occurrence LINE store for STREAMING C4 cleaning
    * (qs20): rule-passing line text → min (doc_id, idx) among
    * passing occurrences — the qs19 ChunkStore shape at line
    * granularity. Monotone doc_id arrival + associative min-merge ⇒
    * ANY chunking equals one-shot [[c4Clean]] restricted to the
    * delta (page rules and counts are per-doc local; only the dedup
    * stage is global, and it reduces to this store).
    */
  final case class LineStore private[operators] (lines: DataFrame)

  def prepareLineStore(corpus: DataFrame, idCol: String,
      textCol: String, window: Int = 12, minWords: Int = 3): LineStore =
    LineStore(c4Lines(c4D0(corpus, idCol, textCol), window, minWords)
      .where(col("pass"))
      .groupBy("ptext")
      .agg(min(struct(col("doc_id"), col("idx"))).as("__mk"))
      .localCheckpoint(true))

  /** One streaming ingest step: clean `batch` against the evolving
    * store (store ∪ batch minima decide first occurrence — the
    * cdcDedupIngest discipline), emit the per-doc result for the
    * batch, the store delta for durability, and the advanced store.
    */
  def c4CleanIngest(batch: DataFrame, store: LineStore, idCol: String,
      textCol: String, window: Int = 12, minWords: Int = 3,
      minKept: Int = 3): Ingest[LineStore] = {
    val d0 = c4D0(batch, idCol, textCol)
    val lines = c4Lines(d0, window, minWords)
    val bmin = lines.where(col("pass"))
      .groupBy("ptext")
      .agg(min(struct(col("doc_id"), col("idx"))).as("__bmk"))
    // store is corpus-scale: keep it out of broadcasts (merge hint)
    val eff = bmin.join(store.lines.hint("merge"), Seq("ptext"), "left")
      .select(col("ptext"),
        coalesce(least(col("__mk"), col("__bmk")), col("__bmk"))
          .as("__emk"))
    val flagged = lines
      .join(eff.hint("merge"), Seq("ptext"), "left")
      .select(col("doc_id"), col("idx"), col("ptext"),
        (!col("pass")).as("dropr"),
        (col("pass") &&
          struct(col("doc_id"), col("idx")) =!= col("__emk")).as("dropd"),
        (col("pass") &&
          struct(col("doc_id"), col("idx")) === col("__emk")).as("keep"))
    val result = c4Rollup(flagged, d0, minKept)
    val appended = bmin.join(store.lines.hint("merge"),
        Seq("ptext"), "left_anti")
      .select(col("ptext"), col("__bmk").as("__mk"))
      .localCheckpoint(true)
    Ingest(result, appended,
      LineStore(store.lines.unionByName(appended)))
  }

  /** Replay durable store deltas (crash recovery) — line keys are
    * deterministic, so a rebuilt store equals the crashed run's.
    */
  def appendLinesToStore(store: LineStore, appended: DataFrame)
      : LineStore =
    LineStore(store.lines.unionByName(
      appended.select(col("ptext"), col("__mk"))))

  /** LSM-style rewrite — the compactChunkStore contract. */
  /** Realistic PII redaction (xt29; the C4/Dolma-style scrub list —
    * the r14 verdict's "xt6 is a digit-run toy" wishlist item): four
    * pattern classes replaced in a PINNED order (email → UUID → IPv4 →
    * phone — later classes scan the PREVIOUS step's output, so the
    * chain is order-dependent and both engines replay it verbatim)
    * with per-class match counts emitted BEFORE that class's replace.
    *
    * Exactness contract: every pattern is in the RE2 ∩ java.util.regex
    * common dialect — no backreferences, no lookaround, no alternation
    * whose leftmost-first vs leftmost-longest semantics could differ,
    * ASCII `\b` only against ASCII letters/digits (both engines'
    * default `\w` is ASCII) — so non-overlapping leftmost scans match
    * identically and the redacted TEXT hash-gates, not just counts.
    * Patterns are defined ONCE here and interpolated into the oracle
    * SQL (no drift).
    *
    * Scale shape: a narrow per-row map (regexp_replace/regexp_count
    * are codegen'd expressions — no UDF, no shuffle); the 100 TB run
    * is embarrassingly parallel over document partitions.
    *
    * Output: (idCol, n_email, n_uuid, n_ip, n_phone, red).
    */
  object Pii {
    val Email: String =
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val Uuid: String = "\\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-" +
      "[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\\b"
    val Ipv4: String = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val Phone: String =
      "(?:\\+1[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b"
    /** (class name, pattern, replacement) in the pinned chain order. */
    val Chain: Seq[(String, String, String)] = Seq(
      ("email", Email, "<EMAIL>"), ("uuid", Uuid, "<UUID>"),
      ("ip", Ipv4, "<IP>"), ("phone", Phone, "<PHONE>"))
  }

  def redactPii(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val start = df.select(col(idCol), col(textCol).as("red"))
    Pii.Chain.foldLeft(start) { case (acc, (name, pat, rep)) =>
      acc
        .withColumn(s"n_$name", regexp_count(col("red"), lit(pat)))
        .withColumn("red", regexp_replace(col("red"), pat, rep))
    }.select(col(idCol), col("n_email"), col("n_uuid"), col("n_ip"),
      col("n_phone"), col("red"))
  }

  def compactLineStore(store: LineStore): LineStore =
    store.copy(lines = store.lines.localCheckpoint(true))
}

/** Char-n-gram Naive-Bayes language ID (xt23) — the fastText-shaped
  * upgrade of xt1's stopword argmax: multinomial NB over CHARACTER
  * trigrams of the lowercased text, trained on the labeled slice.
  * Character features are the load-bearing choice — word tokenization
  * breaks on unsegmented scripts (the corpus's zh slice has no
  * word boundaries to tokenize), while char n-grams work uniformly
  * across scripts.
  *
  * Exactness contract (the xt18 discipline): integer counts → LN
  * doubles → DECIMAL(28,12) per-gram quantization → order-free exact
  * sum; unknown grams take the add-1 floor via LEFT join + COALESCE;
  * argmax ties go to the lexicographically smaller language.
  *
  * Scale shape: the model is (langs × gram-vocab) rows — broadcast at
  * bench scale, a plain equi-join at web-scale vocabularies; scoring
  * is one trigram explode × |langs| (a constant ≤ dozens), a model
  * join, one (doc, lang) rollup and a |langs|-wide argmax window.
  */
object LangId {

  /** Char trigrams of lower(`textCol`), exploded: (carryCols..., g).
    * Docs shorter than 3 chars contribute no row (no evidence), same
    * contract as [[Quality.scoreNb]]'s empty docs.
    */
  private def grams(df: DataFrame, textCol: String,
      carry: Seq[String]): DataFrame =
    df.withColumn("__lt", lower(col(textCol)))
      .where(length(col("__lt")) >= 3)
      .select(carry.map(col) :+
        explode(HashFns.charGrams(col("__lt"), 3)).as("g"): _*)

  /** Frozen multiclass model: per-(lang, gram) counts, per-lang token
    * totals + shared vocab size, per-lang doc priors.
    */
  final case class Model(cwl: DataFrame, nl: DataFrame, dl: DataFrame)

  def fit(train: DataFrame, labelCol: String = "lang",
      textCol: String = "text"): Model = {
    val tg = grams(train, textCol, Seq(labelCol))
    val cwl = tg.groupBy(col(labelCol).as("__lang"), col("g"))
      .agg(count(lit(1)).as("__c"))
    val nl = tg.groupBy(col(labelCol).as("__lang"))
      .agg(count(lit(1)).as("__n"))
      .crossJoin(broadcast(tg.agg(countDistinct(col("g")).as("__v"))))
    val dl = train.groupBy(col(labelCol).as("__lang"))
      .agg(count(lit(1)).as("__d"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("__dt"))))
    Model(cwl, nl, dl)
  }

  def freeze(m: Model): Model =
    Model(m.cwl.localCheckpoint(true), m.nl.localCheckpoint(true),
      m.dl.localCheckpoint(true))

  /** Score + classify `docs`: (doc_id, n_grams, lang = predicted,
    * score r4) — argmax posterior, ties to the smaller language code.
    * Docs with < 3 chars produce no row.
    *
    * Sparse-NB plan: Σ_all-grams term(l,g) is decomposed as
    * n_grams·u_l + Σ_{(g,l) SEEN} (term(l,g) − u_l), with u_l the
    * per-lang quantized unseen term ln(1/(n_l+V)). Every operand is
    * DECIMAL at scale 12 and every op (subtract, sum, bounded-precision
    * multiply) is exact, so the quantized total — and the oracle hash —
    * is IDENTICAL to the dense form, while the joined volume drops from
    * stream × |langs| (the first-cut plan: 7M rows at sf0.1, measured
    * ~8s) to the model-HIT count: on a real multilingual corpus most
    * grams exist in one or two languages' vocabularies, so hits ≈ the
    * stream itself, not |langs|× it. The multiply types are pinned —
    * DECIMAL(10,0) × DECIMAL(16,12) → (27,12), inside Spark's 38-digit
    * cap — because an overflowing decimal product silently REDUCES
    * scale (allowPrecisionLoss) and would break bit-exactness.
    */
  def classify(docs: DataFrame, m: Model, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the gram stream once: it feeds the per-doc count AND
    // the model join — without this the explode runs per consumer
    // (the repo-wide materialize-once discipline)
    val tk = grams(docs, textCol, Seq(idCol)).localCheckpoint(true)
    val perDoc = tk.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val unseen = m.nl.select(col("__lang"), col("__n"), col("__v"),
      log(lit(1.0) / (col("__n") + col("__v")))
        .cast(DecimalType(16, 12)).as("__u"))
    // the per-(lang, gram) delta term is a function of the MODEL, not
    // the stream: quantize it once on the vocab×langs table (a few
    // thousand rows) instead of per hit row — the first cut paid a
    // log + two decimal casts on every one of the 6.7M hit rows
    // (measured ~4s of the ~8s total at sf0.1). A char-n-gram model
    // is charset^n-bounded (the fastText premise), so broadcasting
    // the scored term table is safe at any corpus size.
    val termTable = m.cwl.join(broadcast(unseen), Seq("__lang"))
      .select(col("__lang"), col("g"),
        (log((col("__c") + 1).cast(DoubleType)
            / (col("__n") + col("__v")))
          .cast(DecimalType(28, 12)) - col("__u")).as("__delta"))
    val sumD = tk.join(broadcast(termTable), Seq("g"))
      .groupBy(col(idCol), col("__lang"))
      .agg(sum(col("__delta")).as("__sd"))
    val scored = perDoc
      .crossJoin(broadcast(unseen.select(col("__lang"), col("__u"))))
      .join(sumD, Seq(idCol, "__lang"), "left")
      .join(broadcast(m.dl), Seq("__lang"))
      .select(col(idCol), col("__lang"), col("n_grams"),
        (log(col("__d").cast(DoubleType) / col("__dt")) +
          (coalesce(col("__sd"), lit(0).cast(DecimalType(38, 12))) +
            col("n_grams").cast(DecimalType(10, 0)) * col("__u"))
            .cast(DoubleType)).as("__score"))
    scored.withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("__score").desc, col("__lang"))))
      .where(col("__rn") === 1)
      .select(col(idCol), col("n_grams"), col("__lang").as("lang"),
        (floor(col("__score") * 10000 + 0.5) / 10000.0).as("score"))
      .orderBy(idCol)
  }


}
