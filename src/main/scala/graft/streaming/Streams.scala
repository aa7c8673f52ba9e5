package graft.streaming

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming layer (SURVEY §2.10): the reference's stdin
  * record stream maps to `readStream` file sources; windowed aggs +
  * watermarks + stateful ops are the declared streaming surface.
  *
  * The transformation logic is shared with the batch layer
  * (StreamBatchQueries QS1–QS3 oracle the same semantics over static
  * `events`); StreamingSpec asserts batch↔stream parity.
  */
object Streams {

  /** Streaming-readable view of an events parquet dir. The file-stream
    * source needs an explicit schema, and the driver testdata has shipped
    * `events.ts` both as TIMESTAMP(NANOS) (long under nanosAsLong) and
    * TIMESTAMP(MICROS) (TimestampNTZ) — so probe the on-disk type with a
    * schema-only batch read, then normalize exactly like the batch loader
    * (graft.queries.T.normalizeEventTs).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // events.parquet is a single file: stream the parent dir with a
    // glob filter (the file-stream source requires a directory path)
    graft.queries.T.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Tumbling 1h window agg with a 2h watermark (QS1 semantics; late
    * rows beyond the watermark are dropped in append mode).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("c"),
        round(sum(col("value").cast(DecimalType(28, 6))).cast(DoubleType), 4)
          .as("s"))
      .select(col("window.start").as("w"), col("c"), col("s"))

  /** Sliding 1h/15min window agg (QS2 semantics). */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("w"), col("c"))

  /** Session windows per user, 30min gap (QS3 semantics). */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n"))

  /** Stream-stream interval join (QS4): purchases within 1h after a
    * view by the same user. Both branches carry watermarks and the
    * join condition bounds event time on both sides, so Spark evicts
    * view-side state once the watermark passes vts + 1h — state stays
    * bounded no matter how long the stream runs.
    */
  def viewPurchaseJoin(events: DataFrame): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("vts"),
        col("event_id").as("view_id"))
    val purchases = events.where(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_uid"), col("ts").as("pts"),
        col("event_id").as("buy_id"))
    views.join(purchases,
      col("user_id") === col("p_uid") &&
        col("pts") > col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("buy_id"))
  }

  /** LEFT-OUTER stream-stream interval join (QS30): every view, with
    * its within-1h purchases or a NULL buy_id if none ever arrives.
    * The outer side is the semantics stress: Spark holds an unmatched
    * view in state and emits its null row only when the GLOBAL
    * watermark (the min over BOTH branches' watermark nodes) passes
    * its join window. A finite replay therefore needs end-of-stream
    * HEARTBEATS, and they must MATCH each branch's type filter:
    * Catalyst pushes a deterministic predicate that doesn't reference
    * the event-time column BELOW the EventTimeWatermark node, so a
    * neutral sentinel type is filtered at the source and advances
    * nothing (observed: the trailing 3h of unmatched views never
    * flushed, 10 rows short at sf0.01). The qs30 harness appends
    * far-future 'view'/'purchase' heartbeat pairs with user_id = -1
    * and the caller drops user_id < 0 from the materialized sink.
    * State is watermark-bounded exactly as the inner qs4 join.
    */
  def viewPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("vts"),
        col("event_id").as("view_id"))
    val purchases = events.where(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_uid"), col("ts").as("pts"),
        col("event_id").as("buy_id"))
    views.join(purchases,
      col("user_id") === col("p_uid") &&
        col("pts") > col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("user_id"), col("view_id"), col("buy_id"))
  }

  /** The qs30 replay harness: `ev` sliced into ts-range files with
    * ascending mod-times (the qs4b in-order-arrival stamping), plus
    * TWO far-future heartbeat pairs (see [[viewPurchaseLeftJoin]]:
    * per-branch 'view'/'purchase' heartbeats with user_id = -1 — the
    * pair-1 batch advances the global watermark, the pair-2 batch
    * performs the eviction that actually emits the trailing null
    * rows; heartbeat timestamps sit > 1h apart so they never join
    * each other). Returns the sink minus the heartbeat rows — equal
    * to the batch LEFT JOIN on the clean table.
    */
  def runViewPurchaseLeftJoinStream(spark: SparkSession, ev: DataFrame,
      inDir: String, sinkDir: String, ckDir: String,
      slices: Int = 8): DataFrame = {
    val in = java.nio.file.Paths.get(inDir)
    ev.repartitionByRange(slices, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    in.toFile.listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L)
      }
    // empty/all-null-ts input would otherwise NPE on getLong with an
    // opaque error (the cusumAnomalies isNullAt discipline)
    val maxRow = ev.agg(max(expr("unix_micros(ts)"))).head
    require(!maxRow.isNullAt(0),
      "runViewPurchaseLeftJoinStream: input has no non-null ts rows")
    val maxTsU = maxRow.getLong(0)
    val sentDir = in.resolve("__heartbeats")
    val hbs = Seq(("view", 10L), ("purchase", 12L),
      ("view", 20L), ("purchase", 22L))
    // ONE write job for all four heartbeat rows, pre-partitioned so
    // row i lands alone in partition i (repartition by the pinned id
    // would round-robin; partitionBy-style file-per-row via range on
    // the already-ordered index is deterministic). The per-row file
    // split and ascending mod-times reproduce the original one-file-
    // per-heartbeat arrival batching exactly; this replaces 4
    // single-row write jobs (the last measurable harness weight in
    // the qs30 prep) with 1.
    val hbDf = hbs.zipWithIndex.map { case ((tpe, hrs), i) =>
      (i, -1L - i, maxTsU + hrs * 3600000000L, tpe)
    }.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      case (acc, (i, eid, tsu, tpe)) =>
        val row = spark.range(1).select(
          lit(eid).as("event_id"),
          expr(s"timestamp_micros($tsu)").as("ts"),
          lit(-1L).as("user_id"), lit(tpe).as("event_type"),
          lit(null).cast("double").as("value"),
          lit(null).cast("string").as("props"),
          lit(i).as("__hb"))
        Some(acc.fold(row)(_.unionAll(row)))
    }.get
    hbDf.write.mode("overwrite").partitionBy("__hb")
      .parquet(sentDir.toString)
    for (i <- hbs.indices) {
      val part = sentDir.resolve(s"__hb=$i").toFile.listFiles
        .filter(_.getName.endsWith(".parquet")).head
      val dst = in.resolve(s"zz_heartbeat_$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + 60000L * (100 + i))
    }
    withStatefulShufflePartitions(spark, 8) {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(inDir)
      val q = viewPurchaseLeftJoin(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .format("parquet").option("path", sinkDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(sinkDir)
      .where(col("user_id") >= 0) // drop the heartbeat rows
  }

  /** Stream-static enrichment join (QS5): purchase events join a
    * static per-user profile. The static side is a plan-time
    * DataFrame broadcast into every micro-batch — the canonical
    * dimension-enrichment shape, completely stateless on the stream
    * side (no watermark needed; at scale persist() the dim so each
    * micro-batch re-broadcasts without recompute). Works identically
    * on a batch `events` frame, which is what the qs5 oracle entry
    * runs.
    */
  def enrichPurchases(events: DataFrame, profile: DataFrame): DataFrame =
    events.where(col("event_type") === "purchase")
      .join(broadcast(profile), "user_id")
      .select(col("event_id"), col("user_id"), col("first_event"),
        col("n_events"))

  /** Streaming incremental near-dup (QS6): newly-arriving documents
    * are checked against a STATIC corpus — continuous-ingestion dedup
    * as a stream. The per-batch transform is exactly
    * [[graft.operators.Dedup.minhashNearDupsAgainst]]: delta band rows
    * equi-join the corpus band rows on (band, key), so each
    * micro-batch costs delta-bands × matching corpus buckets — never
    * corpus² — and needs NO streaming state (the corpus is a static
    * side, the delta is fully processed within its batch).
    */
  def nearDupsAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame =
    graft.operators.Dedup.minhashNearDupsAgainst(
      newDocs, corpus, "doc_id", "text", threshold)

  /** Streaming incremental EMBEDDING near-dup (QS16, the xd14 stream
    * face): newly-arriving vectors screened against a STATIC vector
    * corpus through shared hyperplane bands — per batch exactly
    * [[graft.operators.Dedup.embeddingNearDupsLSHAgainst]], stateless
    * (the corpus is a static side; each delta vector's pairs depend
    * on nothing but itself and the corpus), so ANY chunking equals
    * the one-shot run BY CONSTRUCTION — provided the band parameters
    * are pinned once from the full population instead of re-derived
    * per batch (a per-batch Auto would re-size bands as the stream
    * grows and change which candidate pairs are generated; recall
    * bounds hold either way, but the chunked==one-shot contract is
    * exact only at fixed params). Chunk-emulation form for the oracle
    * gate; the file-stream runner is [[runEmbeddingNearDupStream]].
    */
  def embeddingNearDupsChunked(delta: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      bounds: Seq[Long]): DataFrame = {
    val n = corpus.count() + delta.count()
    val (bands, bits) = graft.operators.Dedup
      .lshParams(math.max(1L, n), threshold)
    chunks(delta, idCol, bounds).map { b =>
      graft.operators.Dedup.embeddingNearDupsLSHAgainst(b, corpus,
        idCol, vecCol, threshold, bands, bits)
    }.reduce(_.unionAll(_))
  }

  /** The real QS16 runner: delta vector parquet files → per-batch
    * frozen-corpus screening → parquet sink. Stateless per batch
    * (the qs5/qs13 frozen-side pattern); the corpus signature frame
    * and the band parameters are computed ONCE, not per batch.
    */
  def runEmbeddingNearDupStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, outDir: String, threshold: Double,
      totalHint: Long): Unit = {
    val (bands, bits) = graft.operators.Dedup
      .lshParams(math.max(1L, totalHint), threshold)
    // Prep (norms + hyperplane band keys + localCheckpoint) ONCE,
    // before start(): per batch only the delta pays signatures. The
    // prepped RDDs predate every batch, so the per-batch release never
    // touches them.
    val frozen = graft.operators.Dedup.lshPrep(
      corpus, "id", "v", bands, bits)
    runDocBatchStream(spark, deltaDir, outDir, idVecSchema)(
      graft.operators.Dedup.embeddingNearDupsLSHAgainstPrepped(_, frozen,
        "id", "v", threshold, bands, bits))
  }

  /** Chunked batch face of streaming SemDedup (QS17): id-sliced delta
    * chunks each dedup against the frozen corpus through centroids
    * and corpus assignment computed ONCE. Stateless per chunk (each
    * delta row's fate depends only on the frozen side), so any
    * chunking == one-shot by construction.
    */
  def semDedupChunked(delta: DataFrame, corpus: DataFrame,
      idCol: String, labelCol: String, vecCol: String,
      threshold: Double, bounds: Seq[Long]): DataFrame = {
    val cents = graft.operators.Similarity
      .labelCentroids(corpus, labelCol, vecCol).localCheckpoint(true)
    val frozen = graft.operators.Dedup
      .semDedupPrep(corpus, idCol, vecCol, cents)
    chunks(delta, idCol, bounds).map { b =>
      graft.operators.Dedup.semDedupAgainstPrepped(b, frozen, cents,
        idCol, vecCol, threshold)
    }.reduce(_.unionAll(_))
  }

  /** The real QS17 runner: delta vector parquet files → per-batch
    * assignment to FROZEN label centroids → within-cluster screen
    * against the frozen pre-assigned corpus → parquet sink. Corpus
    * centroids + assignment + norms materialized once before
    * start(); per batch only the delta pays assignment (the qs16
    * once-not-per-batch discipline).
    */
  def runSemDedupStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, outDir: String, threshold: Double): Unit = {
    val cents = graft.operators.Similarity
      .labelCentroids(corpus, "label", "v").localCheckpoint(true)
    val frozen = graft.operators.Dedup
      .semDedupPrep(corpus, "id", "v", cents)
    runDocBatchStream(spark, deltaDir, outDir, idVecSchema)(
      graft.operators.Dedup.semDedupAgainstPrepped(_, frozen, cents,
        "id", "v", threshold))
  }

  /** Streaming paragraph dedup (QS7): newly-arriving documents have
    * their SPANS deduped against a static corpus's span store — the
    * continuous-ingestion form of xd10's boilerplate removal. The
    * per-batch transform is exactly
    * [[graft.operators.Dedup.paragraphDedupAgainst]]: delta spans drop
    * on exact or near (J ≥ threshold) match with the corpus's
    * exact-stage survivor spans, then reassemble. Delta spans are
    * independent of each other (each new doc dedups against the
    * corpus alone), so a chunked stream reproduces the one-shot batch
    * result exactly and NO streaming state is needed.
    */
  def paragraphDedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame =
    graft.operators.Dedup.paragraphDedupAgainst(
      newDocs, corpus, "doc_id", "text", threshold = threshold)

  /** Run the QS6 stream: a file-source of delta document parquet files
    * → per-micro-batch banded near-dup vs `corpus` → parquet sink.
    * The composite transform (band join + candidate distinct + verify)
    * is not a single append-mode streaming plan, so it runs via
    * `foreachBatch` — the canonical Structured Streaming shape for
    * batch-composite logic; exactly-once comes from idempotent
    * per-batch overwrite into a batchId-named subdir. The corpus is
    * cached so its shingles/signatures are not recomputed per batch.
    */
  def runNearDupStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, threshold: Double, outDir: String): Unit = {
    // the corpus is cached once so its shingles/signatures are not
    // re-read from source per batch
    val cached = corpus.cache()
    try runDocBatchStream(spark, deltaDir, outDir)(
      nearDupsAgainstCorpus(_, cached, threshold))
    finally cached.unpersist()
  }

  /** Run the QS7 stream: delta document files → per-micro-batch span
    * dedup against `corpus`'s span store → parquet sink. Same
    * foreachBatch shape (and exactly-once story) as
    * [[runNearDupStream]]. The store (spans + shingles + capped
    * banded rows + derived parameters) is prepared ONCE before the
    * stream starts — per-batch work is delta-sized, reading the store
    * only through its checkpointed blocks.
    */
  def runParagraphDedupStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, threshold: Double, outDir: String): Unit = {
    val ps = graft.operators.Dedup.prepareParagraphStore(corpus,
      "doc_id", "text", graft.operators.ParagraphSplitter.FixedWindow(),
      threshold, shingleN = 2, maxBucket = graft.operators.Dedup.AutoBucket)
    runDocBatchStream(spark, deltaDir, outDir)(
      graft.operators.Dedup.paragraphDedupAgainstStore(_, ps,
        "doc_id", "text"))
  }

  /** Run the QS11 stream: delta document files scored per micro-batch
    * against a FROZEN NB quality model — the production "score the
    * incoming crawl with yesterday's classifier" op. The model frames
    * are fit ONCE on the static corpus and frozen (localCheckpoint)
    * before the stream starts, so per-batch work is a stateless
    * delta-sized scoring join; the training corpus is never
    * re-aggregated. Frozen model ⇒ a document's score is independent
    * of arrival time and chunking (StreamingSpec asserts chunked ==
    * one-shot batch scoring).
    */
  def runQualityScoreStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, outDir: String): Unit = {
    val m = graft.operators.Quality.freeze(
      graft.operators.Quality.fitNb(corpus))
    runDocBatchStream(spark, deltaDir, outDir)(
      graft.operators.Quality.scoreNb(_, m))
  }

  /** Run the QS13 stream: delta document files decontaminated per
    * micro-batch against a FROZEN benchmark Bloom index — the
    * "screen the incoming crawl against the eval-suite blocklist"
    * op. The index (bench shingle frame + its fixed-size bitset) is
    * built ONCE and frozen before the stream starts; per-batch work
    * is a narrow bitset prefilter over the delta's shingles plus an
    * exact verify join sized by the batch's CONTAMINATION, not the
    * batch — the benchmark is never re-aggregated. Stateless per
    * batch ⇒ a doc's report is independent of arrival time and
    * chunking (StreamingSpec asserts chunked == one-shot).
    */
  def runBloomDecontamStream(spark: SparkSession, deltaDir: String,
      bench: DataFrame, outDir: String, n: Int = 4): Unit = {
    val idx = graft.operators.Decontaminate
      .bloomIndex(bench, "doc_id", "text", n).freeze
    runDocBatchStream(spark, deltaDir, outDir)(
      graft.operators.Decontaminate.reportAgainst(idx, _,
        "doc_id", "text"))
  }

  /** Run the QS18 stream: delta document files tokenized per
    * micro-batch with a FROZEN byte-level BPE tokenizer — merges
    * trained once on the static corpus before the stream starts
    * ("tokenize the incoming crawl with yesterday's tokenizer", the
    * qs11 frozen-model pattern). The merges table ships as a plan
    * literal; per-batch work is a narrow join-free encode map, so a
    * document's tokenization is independent of arrival time and
    * chunking (StreamingSpec asserts chunked == one-shot).
    */
  def runBpeTokenizeStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, outDir: String): Unit = {
    val merges = graft.operators.Bpe.trainBytesOn(corpus, "text",
      maxWords = 256, numMerges = 16)
    runDocBatchStream(spark, deltaDir, outDir)(
      graft.operators.Bpe.tokenizeDocsBytes(_, merges, numMerges = 16))
  }

  /** Shared stateless runner (QS6/7/11/13/16/17/18): a file-source of
    * delta parquet files → `transform(batch)` per micro-batch →
    * parquet sink. The composite transforms (band joins + distinct +
    * verify) are not single append-mode streaming plans, so they run
    * via `foreachBatch` — the canonical Structured Streaming shape for
    * batch-composite logic; exactly-once comes from idempotent
    * per-batch overwrite into a batchId-named subdir. Each batch's
    * blocks are released after its write ([[releasing]]).
    */
  private def runDocBatchStream(spark: SparkSession, deltaDir: String,
      outDir: String, schema: StructType = docSchema)(
      transform: DataFrame => DataFrame): Unit =
    fileStream(spark, deltaDir, schema, outDir) { (batch, batchId) =>
      releasing(spark.sparkContext) {
        transform(batch)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
    }

  /** Run `body`; return its result and the ids of the RDDs it left
    * persisted (cached frames and localCheckpoint blocks). */
  private def created[A](sc: SparkContext)(body: => A): (A, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet.toSet
    val a = body
    (a, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** Unpersist those of `ids` that are still persisted. */
  private def release(sc: SparkContext, ids: Set[Int]): Unit =
    sc.getPersistentRDDs.filter { case (id, _) => ids(id) }
      .values.foreach(_.unpersist(blocking = false))

  /** Run `body` and release the blocks it created. Per-batch work
    * localCheckpoints its intermediates; left in place they
    * accumulate corpus-scale storage across a long stream. Blocks
    * that predate `body` — a cached corpus, a prepared store — survive.
    */
  private def releasing[A](sc: SparkContext)(body: => A): A = {
    val (a, ids) = created(sc)(body)
    release(sc, ids)
    a
  }

  /** Reconcile `outDir/store/batch=*` against the streaming
    * checkpoint's COMMIT log before a startup replay. A crash in the
    * window between the foreachBatch store write and the checkpoint
    * commit leaves a store batch the restarted stream will ALSO
    * reprocess (same batch id), so every store replays committed
    * batches only. Replaying an uncommitted dir double-ingests it
    * into a duplicate-sensitive fold (duplicated shingle rows inflate
    * ppjoinVerify's __ix overlap counts; a twice-ingested vector takes
    * two top-k slots), and a store that reads it lazily fails when the
    * reprocessed batch overwrites the dir under it. Uncommitted dirs
    * are DELETED — the restarted stream reprocesses that batch and
    * rewrites them (the idempotent-overwrite contract). Returns the
    * committed dirs, oldest first.
    */
  private def committedStoreBatches(spark: SparkSession,
      outDir: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val storeDir = new org.apache.hadoop.fs.Path(s"$outDir/store")
    val fs = storeDir.getFileSystem(conf)
    if (!fs.exists(storeDir)) return Seq.empty
    val batchDirs = fs.listStatus(storeDir).toSeq
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("batch="))
          scala.util.Try(name.stripPrefix("batch=").toLong).toOption
            .map(id => (id, st.getPath))
        else None
      }
    if (batchDirs.isEmpty) return Seq.empty
    val commitsDir =
      new org.apache.hadoop.fs.Path(s"$outDir/_checkpoint/commits")
    // ADVICE r17: store batches with NO commit log is not a fresh
    // start — it is a relocated/cleaned checkpoint or a mis-pointed
    // outDir, and "committed = empty" would silently destroy every
    // durable store batch. (A genuine crash inside the first batch's
    // write→commit window leaves the commits DIR in place — Structured
    // Streaming's CommitLog mkdirs it at stream start, before any
    // foreachBatch write — just with no entries, so that case still
    // reconciles below.) Fail loudly instead of wiping.
    if (!fs.exists(commitsDir))
      throw new IllegalStateException(
        s"$outDir/store holds ${batchDirs.size} durable batch dir(s) " +
          s"but no streaming commit log exists at $commitsDir — " +
          "refusing to reconcile (that would delete ALL store data " +
          "as 'uncommitted'); restore the matching checkpoint or " +
          "remove the store directory deliberately")
    val committed: Set[Long] =
      fs.listStatus(commitsDir).iterator
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
        .toSet
    val (keep, drop) = batchDirs
      .partition { case (id, _) => committed(id) }
    drop.foreach { case (_, p) => fs.delete(p, true) }
    keep.sortBy(_._1).map(_._2.toString)
  }

  /** Delta document files (the `documents` table's columns). */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Delta vector files of the QS16/QS17 screens. */
  private val idVecSchema = StructType(Seq(StructField("id", LongType),
    StructField("v", ArrayType(DoubleType))))

  /** Delta embedding files (the `embeddings` table's columns). */
  private val embeddingSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The file-source stream skeleton: delta parquet files of `schema`
    * under `deltaDir`, one file per trigger → `onBatch` per
    * micro-batch → stop when drained. The checkpoint lives in
    * `outDir/_checkpoint`.
    */
  private def fileStream(spark: SparkSession, deltaDir: String,
      schema: StructType, outDir: String)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(deltaDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(batch, batchId); ()
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** One micro-batch's durable outputs in a store stream. Each is an
    * idempotent overwrite keyed by the batch id, so a reprocessed
    * batch rewrites the same paths.
    */
  private final class StoreBatch(spark: SparkSession, outDir: String,
      batchId: Long) {
    private val storeDir = s"$outDir/store/batch=$batchId"

    /** Write the batch's store delta: what a restart replays. */
    def store(delta: DataFrame): Unit =
      delta.write.mode("overwrite").parquet(storeDir)

    /** The store delta as written, read back. */
    def stored: DataFrame = spark.read.parquet(storeDir)

    /** Write the batch's result to `batch=<id>`. */
    def result(out: DataFrame): Unit =
      out.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

    /** Write one serving pass to `serve/batch=<id>`. The pass's
      * scratch blocks (traversal visited frames, corpus/edge copies,
      * medoid probes) are per-batch artifacts, not store state: they
      * are released right after the write.
      */
    def serve(pass: => DataFrame): Unit =
      releasing(spark.sparkContext) {
        pass.write.mode("overwrite").parquet(s"$outDir/serve/batch=$batchId")
      }
  }

  /** The evolving-store runner behind QS8, QS10, QS19, QS20, QS32,
    * QS34, QS35 and QS37/QS38: delta files of `schema` → `ingest` per
    * micro-batch into a store of type `S`. It owns what every store
    * shares:
    *
    *  - Durability: `ingest` writes the batch's store delta to
    *    `outDir/store/batch=<id>` through its [[StoreBatch]]. On a
    *    (re)start the store is `prepare`d, then `replay`ed over the
    *    checkpoint-COMMITTED store dirs, oldest first
    *    ([[committedStoreBatches]]; `replay` is skipped when there
    *    are none).
    *  - Block ownership: the store owns every block that prepare,
    *    replay and ingest leave persisted. Blocks that predate the
    *    call (a cached corpus, a pinned query set) are never owned.
    *  - Maintenance: after the run's n-th batch `maintain(store, n)`
    *    may rewrite the store (compaction, re-preparation, tiering).
    *    The owned blocks the rewrite did not create are then released
    *    — delta-sized appends between store-sized rewrites (the LSM
    *    amortization), keeping plan depth and block count bounded.
    *
    * Returns the drained store.
    */
  private def runStoreStream[S](spark: SparkSession, deltaDir: String,
      schema: StructType, outDir: String)(prepare: => S)(
      replay: (S, Seq[String]) => S,
      ingest: (S, DataFrame, StoreBatch) => S,
      maintain: (S, Int) => Option[S]): S = {
    val sc = spark.sparkContext
    var (store, owned) = created(sc) {
      val prepared = prepare
      val dirs = committedStoreBatches(spark, outDir)
      if (dirs.isEmpty) prepared else replay(prepared, dirs)
    }
    var batches = 0
    fileStream(spark, deltaDir, schema, outDir) { (batch, batchId) =>
      val (next, made) = created(sc)(
        ingest(store, batch, new StoreBatch(spark, outDir, batchId)))
      store = next
      owned ++= made
      batches += 1
      val (rewritten, kept) = created(sc)(maintain(store, batches))
      rewritten match {
        case Some(s) =>
          store = s
          release(sc, owned -- kept)
          owned = kept
        case None => owned ++= kept
      }
    }
    store
  }

  /** `Some(rewrite)` after every `k`-th batch (`k` ≤ 0: never). */
  private def every[S](n: Int, k: Int)(rewrite: => S): Option[S] =
    if (k > 0 && n % k == 0) Some(rewrite) else None

  /** `df` sliced by `idCol` into the chunks that the ascending
    * upper-exclusive edges `bounds` cut: (-∞, b0), [b0, b1), …,
    * [b_last, ∞), in id order. The batch-shape harnesses fold these
    * exactly as the file-stream runners see their batches arrive.
    */
  private def chunks(df: DataFrame, idCol: String,
      bounds: Seq[Long]): Seq[DataFrame] =
    ((Long.MinValue +: bounds.sorted) :+ Long.MaxValue).sliding(2)
      .map { case Seq(lo, hi) =>
        df.where(col(idCol) >= lo && col(idCol) < hi)
      }.toSeq

  /** Run the QS8 stream: delta document files → per-micro-batch
    * EVOLVING-store span dedup → parquet sink. Unlike [[
    * runParagraphDedupStream]]'s static store, here the store absorbs
    * each batch's exact-survivor spans, so later documents dedup
    * against earlier STREAMED documents too — the full continuous-
    * ingestion story. Three structural pieces:
    *
    *  - Durability: each batch's absorbed spans also land in
    *    `outDir/store/batch=<id>` (idempotent overwrite, same
    *    exactly-once story as the result sink); a restarted stream
    *    rebuilds the store by replaying the checkpoint-committed ones
    *    through [[graft.operators.Dedup.appendSpansToStore]] —
    *    signatures are deterministic, so the rebuilt store is
    *    equivalent to the one the crashed run held.
    *  - Compaction: every `compactEvery` batches the store's
    *    accumulated union frames rewrite into single checkpoints and
    *    the superseded blocks release — delta-sized appends between
    *    store-sized rewrites (the LSM amortization), keeping plan
    *    depth and block count bounded on a long stream.
    *  - Frozen parameters: band params + hot-bucket cap derive from
    *    the INITIAL corpus and never move mid-stream (a span's fate
    *    must not depend on arrival time); re-prepare the store when
    *    the stream has grown the corpus far past its initial size.
    */
  def runEvolvingParagraphDedupStream(spark: SparkSession,
      deltaDir: String, corpus: DataFrame, threshold: Double,
      outDir: String, compactEvery: Int = 8): Unit = {
    import graft.operators.Dedup
    runStoreStream(spark, deltaDir, docSchema, outDir)(
      prepare = Dedup.prepareParagraphStore(corpus, "doc_id", "text",
        graft.operators.ParagraphSplitter.FixedWindow(), threshold,
        shingleN = 2, maxBucket = Dedup.AutoBucket))(
      replay = (ps, dirs) =>
        Dedup.appendSpansToStore(ps, spark.read.parquet(dirs: _*)),
      ingest = (ps, batch, out) => {
        val ing = Dedup.paragraphDedupIngest(batch, ps, "doc_id", "text")
        out.store(ing.appended)
        out.result(ing.cleaned)
        ing.next
      },
      maintain = (ps, n) =>
        every(n, compactEvery)(Dedup.compactParagraphStore(ps)))
  }

  /** Batch-shape QS8 harness (the oracle entry): ingest `newDocs`
    * through the evolving store in doc_id-ordered chunks split at
    * `bounds`, exactly as the streaming runner would see them arrive.
    * Monotone arrival makes the union of per-chunk outputs equal the
    * one-shot [[graft.operators.Dedup.paragraphDedup]] over
    * corpus ∪ newDocs restricted to newDocs — which is what the SQL
    * oracle replays.
    */
  def evolvingParagraphDedupChunked(newDocs: DataFrame,
      corpus: DataFrame, threshold: Double,
      bounds: Seq[Long]): DataFrame = {
    import graft.operators.Dedup
    var ps = Dedup.prepareParagraphStore(corpus, "doc_id", "text",
      graft.operators.ParagraphSplitter.FixedWindow(), threshold,
      shingleN = 2, maxBucket = Dedup.AutoBucket)
    val parts = chunks(newDocs, "doc_id", bounds).map { b =>
      val ing = Dedup.paragraphDedupIngest(b, ps, "doc_id", "text")
      ps = ing.next
      ing.cleaned
    }
    parts.reduce(_.unionAll(_)).orderBy("doc_id")
  }

  /** Run the QS10 stream: delta document files → per-micro-batch
    * EXACT SUBSTRING dedup against the evolving gram store → parquet
    * sink. The streaming face of xd12, with qs8's three structural
    * pieces: durability (each batch's appended gram keys land in
    * `outDir/store/batch=<id>`, idempotent overwrite; a restart
    * replays the checkpoint-committed ones through
    * [[graft.operators.Dedup.appendGramsToStore]]),
    * LSM compaction every `compactEvery` batches, and the monotone
    * doc_id-arrival contract that makes any chunking equal the
    * one-shot [[graft.operators.Dedup.substringDedup]] over
    * corpus ∪ deltas restricted to the delta docs.
    */
  def runSubstringDedupStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, outDir: String, l: Int = 40,
      compactEvery: Int = 4, tierEvery: Int = 0): Unit = {
    import graft.operators.Dedup
    // spill the whole store to the parquet cold tier: it holds no
    // in-memory block after, so memory residency drops to O(per-batch
    // delta) while cold lookups stream from disk (Dedup.tierGramStore
    // doc — the store-size retention story). The tier dir is
    // VERSIONED per tiering: the current store lazily reads the
    // previous cold tier, and Spark (correctly) refuses to overwrite a
    // path it is reading from — write the new tier beside it, then
    // drop the superseded one. Crash recovery is unchanged: the
    // batch=<id> delta frames remain the durable record, the cold tier
    // is a cache.
    def tier(gs: Dedup.GramStore, n: Int): Dedup.GramStore = {
      val next = Dedup.tierGramStore(gs, s"$outDir/store/cold_$n")
      val prev = new org.apache.hadoop.fs.Path(
        s"$outDir/store/cold_${n - tierEvery}")
      val fs = prev.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(prev)) fs.delete(prev, true)
      next
    }
    runStoreStream(spark, deltaDir, docSchema, outDir)(
      prepare = Dedup.prepareGramStore(corpus, "doc_id", "text", l))(
      replay = (gs, dirs) =>
        Dedup.appendGramsToStore(gs, spark.read.parquet(dirs: _*)),
      ingest = (gs, batch, out) => {
        val ing = Dedup.substringDedupIngest(batch, gs, "doc_id", "text")
        out.store(ing.appended)
        out.result(ing.result)
        ing.next
      },
      maintain = (gs, n) => every(n, tierEvery)(tier(gs, n))
        .orElse(every(n, compactEvery)(Dedup.compactGramStore(gs))))
  }

  /** Batch-shape QS10 harness (the oracle entry): ingest `newDocs`
    * through the evolving gram store in doc_id-ordered chunks split
    * at `bounds`. Monotone arrival makes the union of per-chunk
    * outputs equal the one-shot xd12 over corpus ∪ newDocs restricted
    * to newDocs — what the SQL oracle replays on real grams.
    */
  def substringDedupChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], l: Int = 40): DataFrame = {
    import graft.operators.Dedup
    var gs = Dedup.prepareGramStore(corpus, "doc_id", "text", l)
    val parts = chunks(newDocs, "doc_id", bounds).map { b =>
      val ing = Dedup.substringDedupIngest(b, gs, "doc_id", "text")
      gs = ing.next
      ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("doc_id")
  }

  /** Run the QS19 stream: delta document files → per-micro-batch CDC
    * block dedup against the evolving chunk store → parquet sink. The
    * streaming face of xd15 with qs10's structural pieces: durable
    * per-batch store deltas (`outDir/store/batch=<id>`, idempotent
    * overwrite; restart replays the checkpoint-committed ones through
    * [[graft.operators.Dedup.appendChunksToStore]]), LSM compaction
    * every `compactEvery` batches, and the monotone doc_id-arrival
    * contract that makes any chunking equal the one-shot
    * [[graft.operators.Dedup.cdcDedupStats]] over corpus ∪ deltas
    * restricted to the delta docs. The store is ~one row per 64 input
    * chars (the CDC compression), so state stays far below qs10's
    * per-position gram store for the same stream.
    */
  def runCdcDedupStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, outDir: String, compactEvery: Int = 4): Unit = {
    import graft.operators.Dedup
    runStoreStream(spark, deltaDir, docSchema, outDir)(
      prepare = Dedup.prepareChunkStore(corpus, "doc_id", "text"))(
      replay = (cs, dirs) =>
        Dedup.appendChunksToStore(cs, spark.read.parquet(dirs: _*)),
      ingest = (cs, batch, out) => {
        val ing = Dedup.cdcDedupIngest(batch, cs, "doc_id", "text")
        out.store(ing.appended)
        out.result(ing.result)
        ing.next
      },
      maintain = (cs, n) =>
        every(n, compactEvery)(Dedup.compactChunkStore(cs)))
  }

  /** Batch-shape QS19 harness (the oracle entry): ingest `newDocs`
    * through the evolving chunk store in doc_id-ordered chunks split
    * at `bounds` — union of per-chunk outputs == one-shot xd15 over
    * corpus ∪ newDocs restricted to newDocs.
    */
  def cdcDedupChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long]): DataFrame = {
    import graft.operators.Dedup
    var cs = Dedup.prepareChunkStore(corpus, "doc_id", "text")
    val parts = chunks(newDocs, "doc_id", bounds).map { b =>
      val ing = Dedup.cdcDedupIngest(b, cs, "doc_id", "text")
      cs = ing.next
      ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("doc_id")
  }

  /** Run the QS32 stream: delta document files → per-micro-batch
    * AllPairs/PPJoin set-similarity join against the evolving
    * frozen-order prefix index → parquet sink. The streaming face of
    * xd20 with the qs19 structural pieces: durable per-batch store
    * deltas (`outDir/store/batch=<id>` holds the batch's shingle
    * arrays, idempotent overwrite; a restart replays the checkpoint-
    * COMMITTED ones through
    * [[graft.operators.Dedup.appendShinglesToIndex]] — prefixes
    * re-derive deterministically under the frozen df order, and an
    * uncommitted dir from a crash inside the write→commit window is
    * deleted, not replayed: the stream reprocesses that batch), LSM
    * compaction every `compactEvery` batches, and the monotone
    * doc_id-arrival contract that makes any chunking equal the
    * brute-force all-pairs answer restricted to pairs whose larger id
    * is a delta doc. The df order freezes at `prepare` and never
    * moves mid-stream (an [[graft.operators.Dedup.allPairsJaccardAgainst]]
    * exactness property, not an approximation: staleness only tunes
    * pruning power) — THE property that makes a prefix index
    * maintainable on a 100 TB stream without global re-ranking.
    *
    * `reprepareEvery` > 0 schedules a RE-BLOCKING EPOCH
    * ([[graft.operators.Dedup.reprepareAllPairsIndex]] — fresh df
    * over the accumulated store, qs40's refresh) after every Nth
    * batch. Unlike the vector store's centroid epochs (which change
    * the GRAPH and therefore need the deterministic-schedule restart
    * discipline), a df epoch is ANSWER-INVARIANT — every per-batch
    * sink is identical with or without it, at any cadence, across
    * any crash/restart boundary (a restart replays committed
    * shingles under the prepare-era order and loses nothing but
    * pruning power until the next epoch). Crash-consistency for this
    * epoch is therefore free; it buys only cost, which SCALE_r18
    * leg D measures.
    */
  def runAllPairsStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, threshold: Double, outDir: String,
      compactEvery: Int = 4, reprepareEvery: Int = 0): Unit = {
    import graft.operators.Dedup
    runStoreStream(spark, deltaDir, docSchema, outDir)(
      prepare = Dedup.prepareAllPairsIndex(corpus, "doc_id", "text",
        threshold))(
      replay = (ix, dirs) =>
        Dedup.appendShinglesToIndex(ix, spark.read.parquet(dirs: _*)),
      ingest = (ix, batch, out) => {
        val ing = Dedup.allPairsIngest(batch, ix, "doc_id", "text")
        out.store(ing.appended)
        out.result(ing.result)
        ing.next
      },
      maintain = (ix, n) =>
        every(n, reprepareEvery)(Dedup.reprepareAllPairsIndex(ix))
          .orElse(every(n, compactEvery)(Dedup.compactAllPairsIndex(ix))))
  }

  /** Batch-shape QS32 harness (the oracle entry): ingest `newDocs`
    * through the evolving prefix index in doc_id-ordered chunks split
    * at `bounds` — union of per-chunk pair outputs == brute-force
    * all-pairs Jaccard over corpus ∪ newDocs restricted to pairs
    * whose larger id is a newDocs doc (each batch pairs against
    * corpus, earlier deltas, AND itself).
    */
  def allPairsChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], threshold: Double): DataFrame = {
    import graft.operators.Dedup
    var ix = Dedup.prepareAllPairsIndex(corpus, "doc_id", "text",
      threshold)
    val parts = chunks(newDocs, "doc_id", bounds).map { b =>
      val ing = Dedup.allPairsIngest(b, ix, "doc_id", "text")
      ix = ing.next
      ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("a", "b")
  }

  /** Batch-shape QS40 harness (the oracle entry): the qs32 stream
    * with a RE-BLOCKING EPOCH interleaved — after chunk i ∈
    * `reprepareAfter`, the index re-prepares under fresh document
    * frequencies over everything accumulated so far
    * ([[graft.operators.Dedup.reprepareAllPairsIndex]] — one blocked
    * rebuild, the reblockGraphStore discipline). The gate is the
    * strongest one available: the oracle is qs32's EXACT brute-force
    * replay, UNCHANGED — df is a pruning model, so an epoch placed
    * anywhere must leave every emitted pair identical; what it buys
    * is candidate volume under drift (R18Stress leg D measures it,
    * OperatorsSpec gates it).
    */
  def allPairsReprepareChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], reprepareAfter: Set[Int],
      threshold: Double): DataFrame = {
    import graft.operators.Dedup
    var ix = Dedup.prepareAllPairsIndex(corpus, "doc_id", "text",
      threshold)
    val parts = chunks(newDocs, "doc_id", bounds).zipWithIndex.map {
      case (b, i) =>
        val ing = Dedup.allPairsIngest(b, ix, "doc_id", "text")
        ix = ing.next
        if (reprepareAfter(i)) ix = Dedup.reprepareAllPairsIndex(ix)
        ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("a", "b")
  }

  /** Batch-shape QS39 harness (the oracle entry): the qs32 stream
    * with DOCUMENT TAKEDOWNS interleaved — after chunk i, the docs in
    * `deletesAfter(i)` leave the index
    * ([[graft.operators.Dedup.allPairsDelete]] — pure row removal,
    * nothing lossy to repair). A chunk's pairs are emitted OUTPUT the
    * moment it ingests (takedowns don't rewrite history — the emitted
    * stream is the contract; what changes is the index future batches
    * pair against), so the result is: for every chunk, brute-force
    * all-pairs J ≥ t pairs whose larger id is in that chunk and whose
    * smaller id was LIVE when the chunk ingested. The qs39 oracle
    * states exactly that predicate over the epochs.
    */
  def allPairsTakedownChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], deletesAfter: Map[Int, Seq[Long]],
      threshold: Double): DataFrame = {
    import graft.operators.Dedup
    val spark = newDocs.sparkSession
    import spark.implicits._
    var ix = Dedup.prepareAllPairsIndex(corpus, "doc_id", "text",
      threshold)
    val parts = chunks(newDocs, "doc_id", bounds).zipWithIndex.map {
      case (b, i) =>
        val ing = Dedup.allPairsIngest(b, ix, "doc_id", "text")
        ix = ing.next
        deletesAfter.get(i).filter(_.nonEmpty).foreach { ids =>
          ix = Dedup.allPairsDelete(ids.toDF("id"), ix)
        }
        ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("a", "b")
  }

  /** Batch-shape QS43 harness (the oracle entry): the qs10 substring
    * stream with DOCUMENT TAKEDOWNS — deletion for the LOSSY
    * first-occurrence gram store ([[graft.operators.Dedup
    * .gramStoreDelete]]'s survivor-scan repair; see its scaladoc for
    * why dropping dead rows without repair silently un-deduplicates
    * the future). Emitted per-batch outputs are history (the qs39
    * epoch discipline): a chunk's docs dedup against the first
    * occurrences among docs LIVE when that chunk ingested — exactly
    * the per-epoch predicate the oracle replays.
    */
  def substringTakedownChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], deletesAfter: Map[Int, Seq[Long]])
      : DataFrame = {
    import graft.operators.Dedup
    val spark = newDocs.sparkSession
    import spark.implicits._
    var gs = Dedup.prepareGramStore(corpus, "doc_id", "text")
    var live = corpus.select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val parts = chunks(newDocs, "doc_id", bounds).zipWithIndex.map {
      case (b, i) =>
        val ing = Dedup.substringDedupIngest(b, gs, "doc_id", "text")
        gs = ing.next
        live = live.unionByName(b.select("doc_id", "text"))
          .localCheckpoint(true)
        deletesAfter.get(i).filter(_.nonEmpty).foreach { ids =>
          gs = Dedup.gramStoreDelete(ids.toDF("id"), gs, live,
            "doc_id", "text")
          live = live.join(
            broadcast(ids.toDF("doc_id")), Seq("doc_id"), "left_anti")
            .localCheckpoint(true)
        }
        ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("doc_id")
  }

  /** Run the QS34 stream: delta embedding files → per-micro-batch
    * fold into the evolving EXACT kNN-graph store → the maintained
    * graph. The vector-store ingestion path for the xs15 traversal,
    * with the qs19 structural pieces: durable per-batch vector
    * appends (`outDir/store/batch=<id>`; the fold is ORDER-FREE —
    * top-k(top-k(S₁) ∪ S₂) == top-k(S₁ ∪ S₂) — so a restart
    * re-ingests every checkpoint-COMMITTED batch as ONE batch and
    * lands on the identical store; an uncommitted dir from a crash
    * inside the write→commit window is deleted, not replayed — the
    * stream reprocesses that batch, and the fold is duplicate-
    * sensitive, so replaying it would cost real edges), LSM
    * compaction, and equality with the
    * one-shot [[graft.operators.Similarity.knnGraphExact]] on ANY
    * chunking in ANY order (the qs21/qs22 order-free state class).
    */
  def runKnnGraphStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, k: Int, outDir: String,
      compactEvery: Int = 4): DataFrame = {
    import graft.operators.Similarity
    Similarity.knnGraphFromStore(
      runKnnGraphStore(spark, deltaDir, corpus, k, outDir, compactEvery)(
        (_, _) => ()))
  }

  /** The QS34 store stream that [[runKnnGraphStream]] and
    * [[runKnnGraphServeStream]] share: the exact kNN-graph store,
    * replayed as ONE batch of committed vector appends (the
    * order-free fold), compacted every `compactEvery` batches.
    * `afterIngest(store, out)` runs after each batch's fold.
    */
  private def runKnnGraphStore(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, k: Int, outDir: String, compactEvery: Int)(
      afterIngest: (graft.operators.Similarity.KnnGraphStore,
        StoreBatch) => Unit)
      : graft.operators.Similarity.KnnGraphStore = {
    import graft.operators.Similarity
    runStoreStream(spark, deltaDir, embeddingSchema, outDir)(
      prepare = Similarity.prepareKnnGraphStore(corpus, "vec_id",
        "embedding", k))(
      replay = (gs, dirs) =>
        Similarity.appendVectorsToStore(gs, spark.read.parquet(dirs: _*)),
      ingest = (gs, batch, out) => {
        val ing = Similarity.knnGraphIngest(batch, gs, "vec_id",
          "embedding")
        out.store(ing.appended)
        afterIngest(ing.next, out)
        ing.next
      },
      maintain = (gs, n) =>
        every(n, compactEvery)(Similarity.compactKnnGraphStore(gs)))
  }

  /** Batch-shape QS34 harness (the oracle entry): fold `newVecs` into
    * the evolving kNN-graph store in vec_id-ordered chunks, then emit
    * the maintained graph — the order-free top-k merge makes any
    * chunking in any order equal one-shot knnGraphExact over
    * corpus ∪ newVecs, for EVERY node's list (old nodes absorb new
    * arrivals exactly).
    */
  def knnGraphChunked(newVecs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], k: Int): DataFrame = {
    import graft.operators.Similarity
    var gs = Similarity.prepareKnnGraphStore(corpus, "vec_id",
      "embedding", k)
    chunks(newVecs, "vec_id", bounds).foreach { b =>
      gs = Similarity.knnGraphIngest(b, gs, "vec_id", "embedding").next
    }
    Similarity.knnGraphFromStore(gs)
  }

  /** Batch-shape QS41 harness (the oracle entry): the qs34 EXACT
    * kNN-graph stream with INTERLEAVED TOMBSTONE DELETES — qs38's
    * order-free-with-removals theorem on the exact store: after chunk
    * i the ids in `deletesAfter(i)` leave
    * ([[graft.operators.Similarity.knnGraphDelete]] — deleted lists
    * drop, survivors without a deleted neighbor are provably
    * untouched, survivors WITH one re-rank against ALL survivors: the
    * exact store's |affected|·N repair, its ingest cost class). The
    * live-set invariant ("every live node's list == top-k over the
    * live set") is maintained by prepare, ingest, and delete, so ANY
    * interleaving lands on one-shot
    * [[graft.operators.Similarity.knnGraphExact]] over exactly the
    * SURVIVORS — which the oracle replays by qs34's all-pairs rank
    * chain restricted to surviving ids.
    */
  def knnGraphMaintainChunked(newVecs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], deletesAfter: Map[Int, Seq[Long]],
      k: Int): DataFrame = {
    import graft.operators.Similarity
    val spark = newVecs.sparkSession
    import spark.implicits._
    var gs = Similarity.prepareKnnGraphStore(corpus, "vec_id",
      "embedding", k)
    chunks(newVecs, "vec_id", bounds).zipWithIndex.foreach { case (b, i) =>
      gs = Similarity.knnGraphIngest(b, gs, "vec_id", "embedding").next
      deletesAfter.get(i).filter(_.nonEmpty).foreach { ids =>
        gs = Similarity.knnGraphDelete(ids.toDF("id"), gs)
      }
    }
    Similarity.knnGraphFromStore(gs)
  }

  /** Batch-shape QS36 harness (the oracle entry): fold `newVecs` into
    * the evolving BLOCKED kNN-graph store ([[graft.operators.Similarity
    * .BlockedGraphStore]] — ivfSeededGraph's cell-blocked candidates
    * under centroids FROZEN at prepare) in vec_id-ordered chunks, then
    * emit the maintained graph. Each directed candidate x→y arises
    * exactly once (when the later vector ingests, iff x.primary ∈
    * y.probes), so the candidate set — and through the order-free
    * top-k merge, the GRAPH — equals the one-shot
    * [[graft.operators.Similarity.ivfSeededGraph]] over corpus ∪
    * newVecs on any chunking in any order. `vecs` frames must carry
    * (id-col, double-array vec-col).
    */
  def blockedGraphChunked(newVecs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], probe: Int, k: Int): DataFrame = {
    import graft.operators.Similarity
    var gs = Similarity.prepareBlockedGraphStore(corpus, idCol, vecCol,
      cents, probe, k)
    // delta-proportional maintenance rounds are fixed small plans over
    // checkpointed frames — AQE re-planning is pure driver latency
    // there (guide §1.2); the corpus-scale prepare above keeps AQE
    graft.operators.LoopTuning.withLoopAqeOff(newVecs.sparkSession) {
      chunks(newVecs, idCol, bounds).foreach { b =>
        gs = Similarity.blockedGraphIngest(b, gs, idCol, vecCol)
      }
    }
    Similarity.blockedGraphFromStore(gs)
  }

  /** One HIERARCHICAL serving pass over the evolving blocked store —
    * the production read path the qs35 exact-store loop approximates:
    * the medoid entry tier is RECOMPUTED over the store's CURRENT
    * vectors (the per-epoch refresh — entry points must track the
    * evolving corpus, or a query can only descend into the seed-era
    * region), then the xs18 two-layer descent (score the medoid
    * layer, descend from each query's own top-`seedM`) runs over the
    * store's maintained blocked graph. Eager traversal, so calling
    * this mid-stream genuinely serves a half-ingested store.
    */
  private def hierServeFromBlockedStore(
      gs: graft.operators.Similarity.BlockedGraphStore,
      queries: DataFrame, seedM: Int, ef: Int, rounds: Int,
      kq: Int): DataFrame = {
    import graft.operators.Similarity
    val entries = Similarity.cellMedoids(
      gs.vecs.select(col("id"), col("v")), "id", "v", gs.cents)
    Similarity.beamSearchTopKHier(gs.vecs.select(col("id"), col("v")),
      queries, Similarity.blockedGraphFromStore(gs), "id", "v",
      entries, seedM, ef, rounds, kq)
  }

  /** Batch-shape QS37 harness (the oracle entry): HIERARCHICAL SERVE
    * OVER THE EVOLVING BLOCKED STORE — the qs36 × xs18 composition,
    * i.e. the production vector-store loop end to end: cell-blocked
    * delta-proportional maintenance (never all-pairs) serving the
    * two-layer descent, with the medoid entry tier refreshed per
    * epoch over the store's current vectors. Fold `newVecs` into the
    * blocked store in id-ordered chunks; AFTER EACH chunk recompute
    * the medoid layer and hier-serve the pinned `queries`. Gate: the
    * FINAL serve — the final store == one-shot ivfSeededGraph on any
    * chunking (the qs36 theorem) and the final medoid tier == the
    * one-shot [[graft.operators.Similarity.cellMedoids]] over the
    * full corpus (medoids are a per-cell argmax over the accumulated
    * vectors, history-free), so the final serve == one-shot
    * [[graft.operators.Similarity.beamSearchTopKHier]] over the full
    * corpus — exactly xs18's gated shape, replayed by the same
    * blocked-beam CTE chain. Intermediate serves are chunking-
    * dependent by nature; StreamingSpec gates each as traversal-
    * identical to the one-shot hier beam over its own prefix store.
    */
  def blockedServeChunked(newVecs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], probe: Int, k: Int,
      queries: DataFrame, seedM: Int, ef: Int, rounds: Int,
      kq: Int): DataFrame = {
    import graft.operators.Similarity
    var gs = Similarity.prepareBlockedGraphStore(corpus, idCol, vecCol,
      cents, probe, k)
    val q = queries.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint(true)
    var serve: DataFrame = null
    // maintain+serve rounds: fixed small plans per chunk (ingest is
    // cell-blocked delta work, the serve a parameter-bounded descent)
    // — AQE waves are the profiled cost (194 jobs / 3.8s driver gap
    // on qs37 at sf0.1); prepare above keeps AQE
    graft.operators.LoopTuning.withLoopAqeOff(newVecs.sparkSession) {
      chunks(newVecs, idCol, bounds).foreach { b =>
        gs = Similarity.blockedGraphIngest(b, gs, idCol, vecCol)
        serve = hierServeFromBlockedStore(gs, q, seedM, ef, rounds, kq)
      }
    }
    serve
  }

  /** Batch-shape QS42 harness (the oracle entry): ATTRIBUTE-FILTERED
    * hierarchical serve over the evolving blocked store — qs37's
    * maintain+serve loop with xs19's filtered harvest: after each
    * ingested chunk the medoid tier recomputes and each pinned query
    * retrieves top-k among visited nodes sharing ITS `attrCol` value.
    * The attribute is static per-id metadata: navigation (including
    * the medoid-layer seed search) stays predicate-independent over
    * the evolving graph — only the harvest joins the attribute frame.
    * Gate: the FINAL serve — final store == one-shot blocked build
    * (qs36 theorem), medoid argmax history-free, harvest
    * deterministic — so it equals the one-shot filtered hier beam
    * over the full corpus, which the oracle replays by the
    * blocked-beam CTE chain with seedM ROW_NUMBER + the label
    * equality in the final rank.
    */
  def blockedServeFilteredChunked(newVecs: DataFrame,
      corpus: DataFrame, bounds: Seq[Long], idCol: String,
      vecCol: String, attrCol: String,
      cents: Seq[(Long, Seq[Double])], probe: Int, k: Int,
      queries: DataFrame, seedM: Int, ef: Int, rounds: Int,
      kq: Int): DataFrame = {
    import graft.operators.Similarity
    val attrs = corpus.select(col(idCol), col(attrCol))
      .unionByName(newVecs.select(col(idCol), col(attrCol)))
      .localCheckpoint(true)
    var gs = Similarity.prepareBlockedGraphStore(corpus, idCol, vecCol,
      cents, probe, k)
    val q = queries.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(attrCol)).localCheckpoint(true)
    var serve: DataFrame = null
    // same AQE-off fold scope as blockedServeChunked (qs37)
    graft.operators.LoopTuning.withLoopAqeOff(newVecs.sparkSession) {
      chunks(newVecs, idCol, bounds).foreach { b =>
        gs = Similarity.blockedGraphIngest(b, gs, idCol, vecCol)
        val live = gs.vecs.select(col("id"), col("v"))
        val entries = Similarity.cellMedoids(live, "id", "v", gs.cents)
        val corpusA = live.join(
          attrs.select(col(idCol).as("id"), col(attrCol)), "id")
        serve = Similarity.beamSearchTopKHierFiltered(corpusA, q,
          Similarity.blockedGraphFromStore(gs), "id", "v", attrCol,
          entries, seedM, ef, rounds, kq)
      }
    }
    serve
  }

  /** Batch-shape QS38 harness (the oracle entry): blocked-graph
    * maintenance with INTERLEAVED TOMBSTONE DELETES — ingest
    * id-ordered chunks and, after chunk i, delete `deletesAfter(i)`
    * (corpus-era ids, earlier-chunk ids, same-epoch ids — any mix).
    * The live-set invariant ("every live node's list == top-k of its
    * blocked candidates among the live set") is maintained by
    * prepare, ingest (qs36), and [[graft.operators.Similarity
    * .blockedGraphDelete]]'s exact repair, so ANY interleaving lands
    * on the one-shot ivfSeededGraph over exactly the SURVIVORS under
    * the frozen cells — the order-free theorem with removals, which
    * the oracle replays by the xs17 blocked-edge chain restricted to
    * surviving ids (centroids still derive from the FULL table: the
    * model froze before the deletes, and a takedown must not move
    * other vectors' cells).
    */
  def blockedGraphMaintainChunked(newVecs: DataFrame,
      corpus: DataFrame, bounds: Seq[Long],
      deletesAfter: Map[Int, Seq[Long]], idCol: String,
      vecCol: String, cents: Seq[(Long, Seq[Double])], probe: Int,
      k: Int): DataFrame = {
    import graft.operators.Similarity
    val spark = newVecs.sparkSession
    import spark.implicits._
    var gs = Similarity.prepareBlockedGraphStore(corpus, idCol, vecCol,
      cents, probe, k)
    // same AQE-off fold scope as blockedServeChunked (qs37): ingest
    // and delete-repair rounds are fixed delta-proportional plans
    graft.operators.LoopTuning.withLoopAqeOff(newVecs.sparkSession) {
      chunks(newVecs, idCol, bounds).zipWithIndex.foreach { case (b, i) =>
        gs = Similarity.blockedGraphIngest(b, gs, idCol, vecCol)
        deletesAfter.get(i).filter(_.nonEmpty).foreach { ids =>
          gs = Similarity.blockedGraphDelete(ids.toDF("id"), gs)
        }
      }
    }
    Similarity.blockedGraphFromStore(gs)
  }

  /** One serving pass over the evolving kNN-graph store: beam-search
    * the pinned query set against the store's CURRENT vectors and
    * edge lists. The traversal is EAGER ([[graft.operators.Similarity
    * .beamSearchVisited]]'s round loop executes at call time), so
    * invoking this mid-stream genuinely exercises serving against a
    * half-ingested store — the qs35 seam.
    */
  private def serveFromStore(
      gs: graft.operators.Similarity.KnnGraphStore, queries: DataFrame,
      entryIds: Seq[Long], ef: Int, rounds: Int, kq: Int): DataFrame = {
    import graft.operators.Similarity
    Similarity.beamSearchTopK(gs.vecs, queries,
      Similarity.knnGraphFromStore(gs), "id", "v",
      entryIds, ef, rounds, kq)
  }

  /** Batch-shape QS35 harness (the oracle entry): QUERY-WHILE-
    * INGESTING — the qs34 × xs15 composition, the vector-store serving
    * loop. Fold `newVecs` into the evolving exact kNN-graph store in
    * vec_id-ordered chunks, and AFTER EACH chunk beam-search the
    * pinned `queries` against the store's current graph (each serve
    * runs eagerly against a different prefix store — ingestion and
    * serving touch the same store mid-stream). Returns the FINAL
    * serve: the final store equals one-shot [[graft.operators
    * .Similarity.knnGraphExact]] over corpus ∪ newVecs on ANY chunking
    * (the qs34 order-free gate), so the final serve equals one-shot
    * [[graft.operators.Similarity.beamSearchTopK]] over that exact
    * graph — which the oracle replays with the xs15b unrolled-CTE
    * traversal. Intermediate serves are chunking-dependent by nature
    * (each sees a different prefix of the data); StreamingSpec gates
    * each of them as traversal-identical to the one-shot beam search
    * over its own prefix graph.
    */
  def knnGraphServeChunked(newVecs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], k: Int, queries: DataFrame,
      entryIds: Seq[Long], ef: Int, rounds: Int, kq: Int): DataFrame = {
    import graft.operators.Similarity
    var gs = Similarity.prepareKnnGraphStore(corpus, "vec_id",
      "embedding", k)
    val q = queries.select(col("vec_id").as("id"),
      col("embedding").as("v")).localCheckpoint(true)
    var serve: DataFrame = null
    chunks(newVecs, "vec_id", bounds).foreach { b =>
      gs = Similarity.knnGraphIngest(b, gs, "vec_id", "embedding").next
      serve = serveFromStore(gs, q, entryIds, ef, rounds, kq)
    }
    serve
  }

  /** Run the QS35 stream: delta embedding files → per-micro-batch
    * fold into the evolving kNN-graph store ([[runKnnGraphStream]]'s
    * store stream: durable committed-batch appends, order-free
    * restart re-ingest, LSM compaction) PLUS, after each ingested
    * batch, one serving pass of the pinned `queries` over the
    * just-updated store, landing in `outDir/serve/batch=<id>`
    * (idempotent overwrite — a reprocessed batch rebuilds the same
    * prefix store and re-serves identically). The serve's scratch
    * checkpoints release right after the write ([[StoreBatch.serve]]);
    * left in place they would accumulate a traversal's worth of
    * blocks every batch, forever. Returns the final serve over the
    * drained store.
    */
  def runKnnGraphServeStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, queries: DataFrame, k: Int,
      entryIds: Seq[Long], ef: Int, rounds: Int, kq: Int,
      outDir: String, compactEvery: Int = 4): DataFrame = {
    // the pinned query set checkpoints BEFORE the store stream starts:
    // it must survive every compaction (the store owns, and a rewrite
    // releases, only blocks created inside the stream — caught by the
    // QS35 restart spec)
    val qSet = queries.select(col("vec_id").as("id"),
      col("embedding").as("v")).localCheckpoint(true)
    val gs = runKnnGraphStore(spark, deltaDir, corpus, k, outDir,
        compactEvery) { (store, out) =>
      out.serve(serveFromStore(store, qSet, entryIds, ef, rounds, kq))
    }
    serveFromStore(gs, qSet, entryIds, ef, rounds, kq)
  }

  /** Run the QS37/QS38 stream: delta OP files (vec_id, embedding,
    * label, op ∈ {add, del}) → per-micro-batch blocked-store
    * maintenance (ingest the batch's adds through the cell-blocked
    * delta-proportional fold, then apply its tombstones through the
    * exact edge repair) → one HIERARCHICAL serving pass per batch
    * (medoid tier refreshed over the store's current vectors — the
    * per-epoch entry refresh — then the xs18 descent) landing in
    * `outDir/serve/batch=<id>`. Structural pieces:
    *
    *  - Durability: each batch's raw op rows land in
    *    `outDir/store/batch=<id>` (idempotent overwrite). Deletes are
    *    NOT order-free against adds of the same id, so a restart
    *    replays the checkpoint-COMMITTED batches SEQUENTIALLY, oldest
    *    first (within the add-only regime the qs36 order-free theorem
    *    still collapses the history; with tombstones the replay is
    *    deterministic batch order — same ops, same order, same
    *    store). An uncommitted dir from a crash inside the
    *    write→commit window is deleted, not replayed (the
    *    duplicate-sensitive fold + the loud tombstone guard both
    *    demand it).
    *  - Serve scratch (traversal visited frames, medoid probes)
    *    releases immediately after each sink write
    *    ([[StoreBatch.serve]], the qs35 lesson).
    *  - LSM compaction every `compactEvery` batches.
    *  - Scheduled RE-BLOCKING EPOCHS every `reblockEvery` applied
    *    batches (0 = never): the centroid refresh that keeps frozen
    *    cells from degrading under drift, inside the stream itself —
    *    deterministic in the committed batch sequence, so restarts
    *    re-derive the same epochs (spec-gated against a batch-shape
    *    replay of the same schedule).
    *
    * Returns the final store (graph + serve both derive from it; the
    * StreamingSpec restart gate reads both).
    */
  def runBlockedMaintainServeStream(spark: SparkSession,
      deltaDir: String, corpus: DataFrame, queries: DataFrame,
      cents: Seq[(Long, Seq[Double])], probe: Int, k: Int,
      seedM: Int, ef: Int, rounds: Int, kq: Int, outDir: String,
      compactEvery: Int = 4, reblockEvery: Int = 0)
      : graft.operators.Similarity.BlockedGraphStore = {
    import graft.operators.Similarity
    val asDouble = expr("transform(embedding, x -> cast(x as double))")
    // pinned query set checkpoints BEFORE the store stream starts — it
    // must survive every compaction (the qs35 restart-spec lesson)
    val qSet = queries.select(col("vec_id").as("id"), asDouble.as("v"))
      .localCheckpoint(true)
    val nlist0 = cents.length
    // `reblockEvery` > 0 schedules a RE-BLOCKING EPOCH (centroid
    // refresh — Similarity.reblockGraphStoreAuto, the load-aware
    // trainer over the accumulated store, back to the seed nlist)
    // after every Nth APPLIED batch. The counter includes replayed
    // batches: epochs are a deterministic function of the committed
    // batch sequence, so a restart re-derives the same cells at the
    // same points and lands on the identical store — the full
    // lifecycle (ingest, delete, refresh, serve) restartable in one
    // stream.
    var applied = 0
    def applyOps(store: Similarity.BlockedGraphStore,
        ops: DataFrame): Similarity.BlockedGraphStore = {
      var gs = store
      val adds = ops.where(col("op") === "add")
        .select(col("vec_id"), asDouble.as("v"))
      if (!adds.isEmpty)
        gs = Similarity.blockedGraphIngest(adds, gs, "vec_id", "v")
      val dels = ops.where(col("op") === "del")
        .select(col("vec_id").as("id"))
      if (!dels.isEmpty)
        gs = Similarity.blockedGraphDelete(dels, gs)
      applied += 1
      every(applied, reblockEvery)(
        Similarity.reblockGraphStoreAuto(gs, nlist0)).getOrElse(gs)
    }
    runStoreStream(spark, deltaDir,
        embeddingSchema.add("op", StringType), outDir)(
      prepare = Similarity.prepareBlockedGraphStore(
        corpus.select(col("vec_id"), asDouble.as("v")),
        "vec_id", "v", cents, probe, k))(
      // sequential replay, oldest first — see the durability note
      replay = (gs, dirs) => dirs.foldLeft(gs) { (g, dir) =>
        applyOps(g, spark.read.parquet(dir))
      },
      ingest = (gs, batch, out) => {
        out.store(batch)
        val next = applyOps(gs, out.stored)
        out.serve(hierServeFromBlockedStore(next, qSet, seedM, ef,
          rounds, kq))
        next
      },
      maintain = (gs, n) =>
        every(n, compactEvery)(Similarity.compactBlockedGraphStore(gs)))
  }

  /** Batch-shape QS20 harness (the oracle entry): C4-clean `newDocs`
    * through the evolving first-occurrence line store in
    * doc_id-ordered chunks — union of per-chunk outputs == one-shot
    * xt26 over corpus ∪ newDocs restricted to newDocs (page rules
    * and counts are per-doc local; the global dedup stage reduces to
    * the store's associative min-merge).
    */
  def c4CleanChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long]): DataFrame = {
    import graft.operators.Quality
    var ls = Quality.prepareLineStore(corpus, "doc_id", "text")
    val parts = chunks(newDocs, "doc_id", bounds).map { b =>
      val ing = Quality.c4CleanIngest(b, ls, "doc_id", "text")
      ls = ing.next
      ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("doc_id")
  }

  /** Batch-shape QS21 harness (the oracle entry): fold `newDocs` into
    * the evolving HLL register store in doc_id-ordered chunks, then
    * emit the final per-group estimates — register MAX-merge is
    * associative AND commutative, so any chunking in any order folds
    * to one-shot xk16 over corpus ∪ newDocs (the whole corpus, not a
    * delta slice: distinct estimates are global by nature).
    */
  def hllDistinctChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long]): DataFrame = {
    import graft.operators.Sketches
    var rs = Sketches.prepareRegStore(corpus, "source", col("text"))
    chunks(newDocs, "doc_id", bounds).foreach { b =>
      rs = Sketches.hllIngest(b, rs, "source", col("text"))
    }
    Sketches.hllEstimates(rs)
      .select(col("g").as("source"), col("v_zero"), col("s_sum"),
        col("est"))
      .orderBy("source")
  }

  /** Batch-shape QS22 harness (the oracle entry): fold `newDocs` into
    * the evolving fixed-k sample store in doc_id-ordered chunks, then
    * emit the final sample — md5-priority top-k merge is associative
    * AND commutative (the qs21 order-free class), so any chunking in
    * any order equals one-shot xk5 over corpus ∪ newDocs. State is k
    * rows forever — THE streaming-sample story (a counter-based
    * reservoir is order-dependent and ungateable).
    */
  def reservoirChunked(newDocs: DataFrame, corpus: DataFrame,
      bounds: Seq[Long], k: Int = 100): DataFrame = {
    import graft.operators.Scale
    val proj = (df: DataFrame) => df.select(col("doc_id"), col("lang"))
    var ss = Scale.prepareSampleStore(proj(corpus), col("doc_id"), k)
    chunks(newDocs, "doc_id", bounds).foreach { b =>
      ss = Scale.sampleIngest(proj(b), ss, col("doc_id"))
    }
    // orderBy + limit = TakeOrderedAndProject (single ordered
    // partition — the xk5 plan shape, so the parquet dump preserves
    // the oracle's row order)
    ss.sample.orderBy(md5(col("doc_id").cast(StringType)),
      col("doc_id")).limit(k)
  }

  /** Batch-shape QS23 harness (the oracle entry): fold `newEvents`
    * through the evolving per-key EWMA store in event_id-ordered
    * chunks — the xe1 stream face. The state is ONE scalar per key,
    * and resuming a sequential fold from carried state is exact under
    * (ts, id)-monotone chunking (event_id order IS ts order in the
    * driver log — spec-asserted), so the union of per-chunk outputs
    * == the one-shot xe1 trajectory restricted to the delta.
    */
  def ewmaChunked(newEvents: DataFrame, corpus: DataFrame,
      bounds: Seq[Long]): DataFrame = {
    import graft.operators.Events
    var st = Events.prepareEwmaStore(corpus, "user_id", "ts",
      "event_id", "value")
    val parts = chunks(newEvents, "event_id", bounds).map { b =>
      val ing = Events.ewmaIngest(b, st, "user_id", "ts", "event_id",
        "value")
      // stats reset per chunk (the xd18 lesson — a long-running
      // store-resumption loop multiplies checkpointed size estimates)
      st = Events.resetStoreStats(ing.next)
      ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("id")
  }

  /** Batch-shape QS29 harness: the xe7 CUSUM chart folded over
    * event_id-ordered chunks from a corpus-seeded store (the qs23
    * skeleton verbatim — per-key state here is THREE BIGINTs: the two
    * post-reset sums and the reference level).
    */
  def cusumChunked(newEvents: DataFrame, corpus: DataFrame,
      bounds: Seq[Long]): DataFrame = {
    import graft.operators.Events
    var st = Events.prepareCusumStore(corpus, "user_id", "ts",
      "event_id", "value")
    val parts = chunks(newEvents, "event_id", bounds).map { b =>
      val ing = Events.cusumIngest(b, st, "user_id", "ts", "event_id",
        "value")
      // stats reset per chunk (the xd18 lesson)
      st = Events.resetCusumStoreStats(ing.next)
      ing.result
    }
    parts.reduce(_.unionAll(_)).orderBy("id")
  }

  /** Batch-shape QS27 harness: the xe4 Markov-transition matrix folded
    * over event_id-ordered chunks (the qs23/qs24 monotone-resume
    * contract). State is (a) ONE carried last-event row per key — the
    * chunk-boundary bridge: it pairs with the key's first event of the
    * next chunk, exactly the bigram the one-shot corpus-wide lag would
    * form there — and (b) the types²-sized cell matrix, accumulated by
    * commutative sum. Both are bounded forever (keys + |types|²
    * rows), the per-chunk work is one key-partitioned lag window over
    * chunk ∪ carried. Union of per-chunk bigram deltas == the one-shot
    * [[graft.operators.Events.typeTransitions]] — gated against xe4's
    * oracle text VERBATIM.
    */
  def transitionsChunked(events: DataFrame, bounds: Seq[Long])
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id").as("key"), col("event_type").as("t"),
        col("ts"), col("event_id").as("id"))
      .localCheckpoint(true) // read once per chunk
    var last = ev.limit(0).localCheckpoint(true)
    var cells = ev.limit(0)
      .select(col("t").as("src"), col("t").as("dst"),
        lit(0L).as("n"))
      .localCheckpoint(true)
    val w = Window.partitionBy("key").orderBy("ts", "id")
    chunks(ev, "id", bounds).foreach { chunk =>
      val aug = chunk.withColumn("__carried", lit(false))
        .unionAll(last.withColumn("__carried", lit(true)))
      val delta = aug
        .withColumn("__prev", lag(col("t"), 1).over(w))
        // the pair's CURRENT event must be in this chunk — the carried
        // row only ever contributes as a predecessor
        .where(col("__prev").isNotNull && !col("__carried"))
        .groupBy(col("__prev").as("src"), col("t").as("dst"))
        .agg(count(lit(1)).as("n"))
      cells = cells.unionAll(delta)
        .groupBy("src", "dst").agg(sum("n").as("n"))
        .localCheckpoint(true)
      last = aug
        .groupBy("key")
        .agg(max(struct(col("ts"), col("id"), col("t"))).as("m"))
        .select(col("key"), col("m.t").as("t"), col("m.ts").as("ts"),
          col("m.id").as("id"))
        .localCheckpoint(true)
    }
    cells.where(col("n") > 0L)
      .join(cells.groupBy("src").agg(sum("n").as("src_total")), "src")
      .select(col("src"), col("dst"), col("n"), col("src_total"))
  }

  /** Run the QS20 stream: delta document files → per-micro-batch
    * evolving-line-store C4 cleaning → parquet sink, durable store
    * deltas under `outDir/store/batch=<id>` (restart re-folds the
    * checkpoint-committed appends instead of replaying data — the
    * [[runCdcDedupStream]] recovery contract), LSM compaction every
    * `compactEvery` batches. State is one row per DISTINCT
    * rule-passing line text — the C4 dedup state a trillion-token
    * crawl cleaner actually carries.
    */
  def runC4CleanStream(spark: SparkSession, deltaDir: String,
      corpus: DataFrame, outDir: String, compactEvery: Int = 4): Unit = {
    import graft.operators.Quality
    runStoreStream(spark, deltaDir, docSchema, outDir)(
      prepare = Quality.prepareLineStore(corpus, "doc_id", "text"))(
      replay = (ls, dirs) =>
        Quality.appendLinesToStore(ls, spark.read.parquet(dirs: _*)),
      ingest = (ls, batch, out) => {
        val ing = Quality.c4CleanIngest(batch, ls, "doc_id", "text")
        out.store(ing.appended)
        out.result(ing.result)
        ing.next
      },
      maintain = (ls, n) =>
        every(n, compactEvery)(Quality.compactLineStore(ls)))
  }

  /** Batch-shape QS24 harness (the oracle entry): fold `newEvents`
    * through the evolving per-key funnel automaton in
    * event_id-ordered chunks (the qs23 monotone contract), then emit
    * the per-step counts — scanning in order makes the first
    * qualifying event the min-anchor, so the automaton fold equals
    * the one-shot relational xe3 derivation AND its oracle.
    */
  def funnelChunked(newEvents: DataFrame, corpus: DataFrame,
      steps: Seq[String], bounds: Seq[Long],
      windowUs: Long = 86400000000L): DataFrame = {
    import graft.operators.Events
    var st = Events.prepareFunnelStore(corpus, "user_id", "ts",
      "event_id", "event_type", steps, windowUs)
    chunks(newEvents, "event_id", bounds).foreach { b =>
      st = Events.funnelIngest(b, st, "user_id", "ts", "event_id",
        "event_type", steps, windowUs)
    }
    Events.funnelCounts(st, steps).orderBy("step")
  }

  /** Batch-shape QS25 harness (the oracle entry): fold `newEvents`
    * into the evolving distinct-(key, week) cohort store in chunks,
    * then emit the retention matrix — distinct-union is associative
    * AND commutative and the cohort is a min over the final set, so
    * ANY chunking in ANY ORDER equals one-shot xe2 (the qs21/qs22
    * order-free class; no monotone-arrival contract needed).
    */
  def cohortChunked(newEvents: DataFrame, corpus: DataFrame,
      bounds: Seq[Long]): DataFrame = {
    import graft.operators.Events
    var st = Events.prepareCohortStore(corpus, "user_id", "ts")
    chunks(newEvents, "event_id", bounds).foreach { b =>
      st = Events.cohortIngest(b, st, "user_id", "ts")
    }
    Events.cohortCounts(st).orderBy("cohort_week", "week_offset")
  }

  /** Streaming token-budget shard packing (QS9): doc_id-ordered
    * batches are packed by [[graft.operators.Scale.packShards]] with
    * each batch's `base` = total tokens of all earlier batches — the
    * prefix sum is associative, so any chunking reproduces the
    * one-shot assignment exactly. The entire carried state is ONE
    * Long. Chunk-simulation form for the oracle gate; the file-stream
    * runner is [[runShardPackStream]].
    */
  def packShardsChunked(docs: DataFrame, budget: Long,
      bounds: Seq[Long]): DataFrame = {
    val withTok = docs.select(col("doc_id"),
      size(graft.functions.TextFns.tokens(col("text"))).as("n_tok"))
    var base = 0L
    val parts = chunks(withTok, "doc_id", bounds).map { chunk =>
      val packed = graft.operators.Scale.packShards(chunk, "doc_id",
        "n_tok", budget, base = base)
      base += chunk.agg(coalesce(sum("n_tok"), lit(0L)))
        .head.getLong(0)
      packed
    }
    parts.reduce(_.unionAll(_)).orderBy("doc_id")
  }

  /** Streaming fixed-length sample packing (QS12): doc_id-ordered
    * batches are cut by [[graft.operators.Scale.packSequences]] with
    * each batch's `base` = total tokens of all earlier batches. The
    * prefix sum is associative, so any chunking reproduces the
    * one-shot PIECE assignment exactly — a sample straddling a batch
    * boundary receives pieces from both batches, and sample-level
    * reassembly is a downstream groupBy over the unioned piece sink
    * (the honest streaming contract: pieces are the incremental
    * emission unit; a sample finalizes when the stream passes its
    * token range). Chunk-simulation form for the oracle gate; the
    * file-stream runner is [[runPackSequencesStream]].
    */
  def packSequencesChunked(docs: DataFrame, seqLen: Long,
      bounds: Seq[Long]): DataFrame = {
    val withTok = docs.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("fw"))
      .withColumn("w", size(col("fw")).cast("long"))
    var base = 0L
    val parts = chunks(withTok, "doc_id", bounds).map { chunk =>
      val packed = graft.operators.Scale.packSequences(chunk, "doc_id",
        "w", seqLen, base = base)
      base += chunk.agg(coalesce(sum("w"), lit(0L))).head.getLong(0)
      packed
    }
    val pieces = parts.reduce(_.unionAll(_))
      .select(col("sample"), col("doc_id"),
        array_join(slice(col("fw"), col("piece_from").cast("int"),
          col("piece_len").cast("int")), " ").as("piece"),
        col("piece_len"))
    pieces.groupBy("sample")
      .agg(count(lit(1)).as("n_docs"), sum("piece_len").as("n_tok"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("piece")))),
          x => x.getField("piece")), " ").as("text"))
      .orderBy("sample")
  }

  /** QS14: exact heavy hitters over doc_id-ordered chunks — the xk12
    * stream face. Per chunk, ONE bounded Misra-Gries summary (with its
    * lower-bound counters); the per-chunk summaries then fold through
    * [[graft.operators.MisraGriesMergeAgg]] — the summary-of-summaries
    * aggregate applying the SAME mergeable combine — so the whole
    * sketch phase is ONE plan (chunk-grouped partials → one combined
    * candidate list), not one job per chunk plus driver HashMap state
    * (the round-7 shape; the per-chunk job launches were pure overhead
    * and the driver fold, while bounded, lived outside the engine).
    * The exact recount then thresholds the accumulated candidates over
    * the archived corpus. Equal to one-shot xk12 on ANY chunking: the
    * mergeable-summaries bound holds on any merge tree (no heavy item
    * can be missing), and chunking-dependent extras die at the exact
    * threshold. State stays sketch-sized by construction: each chunk
    * contributes ≤ capacity counters, the fold buffer holds ≤ capacity.
    */
  /** Run the QS14 stream FOR REAL (the chunked form above is the
    * oracle-gated batch emulation): delta document parquet files →
    * per micro-batch ONE bounded MG summary (with its lower-bound
    * counters) plus the batch token count, persisted to
    * `outDir/state/batch=<id>` — the stream state IS the mergeable
    * summaries: sketch-sized however long the stream runs, durable
    * (idempotent per-batch overwrite), and restart-safe WITHOUT
    * replaying data, because folding committed summaries is valid on
    * any merge tree (Agarwal et al. 2012). After the stream drains,
    * one plan folds every batch summary through
    * [[graft.operators.MisraGriesMergeAgg]] and exactly recounts the
    * candidates over the archived delta corpus. Equal to one-shot
    * xk12 over the same corpus on ANY batching — the qs14 contract,
    * now through a real `readStream` file source.
    */
  def runHeavyHittersStream(spark: SparkSession, deltaDir: String,
      outDir: String, denom: Long = 1000L,
      capacity: Int = 4096): DataFrame = {
    require(capacity + 1 > denom,
      "runHeavyHittersStream: need capacity+1 > denom (MG no-miss)")
    fileStream(spark, deltaDir, docSchema, outDir) { (batch, batchId) =>
      batch.select(
          explode(graft.functions.TextFns.tokens(col("text"))).as("g"))
        .agg(graft.operators.Sketches
          .misraGriesCounters(col("g"), capacity).as("cs"),
          count(lit(1)).as("n"))
        .write.mode("overwrite")
        .parquet(s"$outDir/state/batch=$batchId")
    }
    val folded = spark.read.parquet(s"$outDir/state/batch=*")
      .agg(graft.operators.Sketches
        .misraGriesMerge(col("cs"), capacity).as("cands"),
        sum(col("n")).as("total"))
    val cand = folded.select(explode(col("cands")).as("g"), col("total"))
    spark.read.parquet(deltaDir)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("g"))
      .join(broadcast(cand), "g")
      .groupBy("g")
      .agg(count(lit(1)).as("n"), min(col("total")).as("total"))
      .where(col("n") * denom >= col("total"))
      .select(col("g"), col("n"))
      .orderBy(desc("n"), col("g"))
  }

  /** QS33: stateful streaming BIGRAM count through a GENUINE
    * update-mode sink — the §2.10 sink-mode row the qs26/qs31 automata
    * deliberately sidestep (their strictly-increasing emissions +
    * max-rollup work in append mode). Here the unwatermarked
    * `groupBy(g).count()` keeps every key's state forever and update
    * mode emits, per micro-batch, EXACTLY the keys whose count changed
    * — which for a counting aggregate means exactly the keys present
    * in that batch's input. Keys are word BIGRAMS, not unigrams: the
    * synthetic corpus's unigram vocabulary (~31 words) co-occurs in
    * every slice, which would make update and append sinks emit
    * identical key sets; the ~900-key bigram vocabulary is sparse
    * across slices, so the modes are distinguishable in the data.
    * `foreachBatch` lands each trigger's updated rows in
    * `outDir/upd/batch=<id>` stamped with the batch id, so the sink
    * discipline itself becomes data:
    *
    *  - final count per key = the row from the key's LAST update —
    *    must equal the batch count over the whole corpus;
    *  - `n_updates` per key = how many batches re-emitted it — must
    *    equal the number of doc_id slices containing the token. An
    *    append-style sink (emitting every key every batch) inflates
    *    it; a complete-style final-only sink deflates it; only real
    *    update semantics produce it.
    *
    * Both are SQL-replayable from the pinned slice bounds, so the
    * qs33 oracle hash-gates the update contract end to end. Slices
    * are written at fixed doc_id edges with ascending mod-times (the
    * qs4b in-order-arrival stamping) and `maxFilesPerTrigger = 1`, so
    * batch composition is deterministic. Stateful shuffle sized to
    * state volume (the qs4 lesson); RocksDB state store — the
    * off-heap configuration an unbounded-vocabulary stream needs.
    */
  def runWordCountUpdateStream(spark: SparkSession, docs: DataFrame,
      inDir: String, outDir: String, bounds: Seq[Long],
      minCount: Long = 10L): DataFrame = {
    val in = java.nio.file.Paths.get(inDir)
    java.nio.file.Files.createDirectories(in)
    for ((slice, i) <- chunks(docs, "doc_id", bounds).zipWithIndex) {
      val sliceDir = in.resolve(s"__slice_$i")
      slice.coalesce(1).write.mode("overwrite")
        .parquet(sliceDir.toString)
      val parts = sliceDir.toFile.listFiles
        .filter(_.getName.endsWith(".parquet"))
      // an empty doc_id slice writes no part file — name the slice
      // instead of throwing an opaque NoSuchElementException (the
      // isNullAt discipline of the qs30 watermark fix)
      require(parts.nonEmpty, s"runWordCountUpdateStream: doc_id " +
        s"slice $i of bounds ${bounds.sorted.mkString("[", ", ", "]")} " +
        "is empty — no parquet part written")
      val part = parts.head
      val dst = in.resolve(f"slice_$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    withStatefulShufflePartitions(spark, 8) {
      withRocksDBStateStore(spark) {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir)
        val counts = stream
          .select(explode(graft.functions.TextFns.bigrams(col("text")))
            .as("g"))
          .groupBy("g").count()
        val q = counts.writeStream.outputMode("update")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.withColumn("__b", lit(batchId))
              .write.mode("overwrite")
              .parquet(s"$outDir/upd/batch=$batchId")
            ()
          }
          .option("checkpointLocation", s"$outDir/_ck")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    val upd = spark.read.parquet(s"$outDir/upd/batch=*")
    upd.groupBy("g")
      .agg(max_by(col("count"), col("__b")).as("n"),
        count(lit(1)).as("n_updates"))
      .where(col("n") >= minCount)
      .orderBy("g")
  }

  /** Run the QS15 stream FOR REAL (the chunked form is the
    * oracle-gated emulation): per micro-batch one rank-bounded
    * quantile summary per group persisted to `outDir/state/batch=<id>`
    * (≤ s marks per group — sketch-sized durable state; folding
    * committed summaries is merge-tree-free, so a restart re-folds
    * instead of replaying data), then after the stream drains one
    * plan folds the summaries per group
    * ([[graft.operators.QuantileSketchMergeAgg]]) and runs the exact
    * bracket-recount pass over the archived delta corpus. Equal to
    * one-shot [[graft.operators.Quantiles.exactQuantiles]] on ANY
    * batching: brackets may differ, output never does.
    */
  def runQuantilesStream(spark: SparkSession, deltaDir: String,
      outDir: String, groupCol: String = "source",
      valueCol: String = "n_chars",
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99), s: Int = 512): DataFrame = {
    fileStream(spark, deltaDir, docSchema, outDir) { (batch, batchId) =>
      graft.operators.Quantiles
        .sketchByGroup(batch, Seq(groupCol), valueCol, s)
        .write.mode("overwrite")
        .parquet(s"$outDir/state/batch=$batchId")
    }
    graft.operators.Quantiles.exactQuantilesFromSketches(
      spark.read.parquet(deltaDir),
      spark.read.parquet(s"$outDir/state/batch=*"),
      Seq(groupCol), valueCol, ps, s)
  }

  /** id → chunk index for `bounds` ascending upper-exclusive edges:
    * id < bounds(0) → 0, bounds(0) ≤ id < bounds(1) → 1, …,
    * id ≥ last → bounds.length. Fold DESCENDING so the smallest
    * bound ends up the OUTERMOST `when` — a foldLeft over ascending
    * bounds would test the largest bound first and every id below it
    * would land in the last chunk (chunk 0 unreachable).
    */
  private[graft] def chunkIndexCol(id: Column,
      bounds: Seq[Long]): Column = {
    val edges = bounds.sorted
    edges.zipWithIndex.reverse.foldLeft(lit(edges.length)) {
      case (acc, (b, i)) => when(id < b, i).otherwise(acc)
    }
  }

  def heavyHittersChunked(docs: DataFrame, bounds: Seq[Long],
      denom: Long = 1000L, capacity: Int = 4096): DataFrame = {
    require(capacity + 1 > denom,
      "heavyHittersChunked: need capacity+1 > denom (MG no-miss)")
    val chunk = chunkIndexCol(col("doc_id"), bounds)
    val words = docs.select(chunk.as("__chunk"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("g"))
    val perChunk = words.groupBy("__chunk").agg(
      graft.operators.Sketches.misraGriesCounters(col("g"), capacity)
        .as("cs"),
      count(lit(1)).as("n"))
    val folded = perChunk.agg(
      graft.operators.Sketches.misraGriesMerge(col("cs"), capacity)
        .as("cands"),
      sum(col("n")).as("total"))
    val cand = folded.select(explode(col("cands")).as("g"), col("total"))
    words.select("g").join(broadcast(cand), "g")
      .groupBy("g")
      .agg(count(lit(1)).as("n"), min(col("total")).as("total"))
      .where(col("n") * denom >= col("total"))
      .select(col("g"), col("n"))
      .orderBy(desc("n"), col("g"))
  }

  /** Run the QS12 stream: delta document files → per-micro-batch
    * fixed-length sample packing continuing the global token prefix
    * sum → piece-level parquet sink. Same durable-offsets exactly-once
    * story as [[runShardPackStream]] (base rederived per batch from
    * committed earlier-batch token counts; idempotent overwrites);
    * the sink holds (doc_id, sample, piece, piece_len) rows — samples
    * reassemble downstream with a groupBy, straddling samples
    * combining pieces from adjacent batches.
    */
  def runPackSequencesStream(spark: SparkSession, deltaDir: String,
      seqLen: Long, outDir: String): Unit =
    fileStream(spark, deltaDir, docSchema, outDir) { (batch, batchId) =>
      releasing(spark.sparkContext) {
        val base = earlierTokens(spark, outDir, batchId)
        val withTok = batch.select(col("doc_id"),
          graft.functions.TextFns.tokens(col("text")).as("fw"))
          .withColumn("w", size(col("fw")).cast("long"))
        graft.operators.Scale
          .packSequences(withTok, "doc_id", "w", seqLen, base = base)
          .select(col("doc_id"), col("sample"),
            array_join(slice(col("fw"), col("piece_from").cast("int"),
              col("piece_len").cast("int")), " ").as("piece"),
            col("piece_len"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        recordTokens(spark, outDir, batchId,
          withTok.agg(coalesce(sum("w"), lit(0L))).head.getLong(0))
      }
    }

  /** The token count of every batch before `batchId`, summed from the
    * durable per-batch counts in `outDir/offsets/batch=<id>`: the
    * `base` a QS9/QS12 batch packs from. Hadoop FS, not java.io.File —
    * outDir may be HDFS/S3. Only COMMITTED offset dirs count (_SUCCESS
    * filter: a crash mid-write leaves a dir whose parquet read would
    * wedge every restart), and only strictly earlier batches (a
    * replayed batch must not see its own crashed attempt's offset).
    */
  private def earlierTokens(spark: SparkSession, outDir: String,
      batchId: Long): Long = {
    val offPath = new org.apache.hadoop.fs.Path(s"$outDir/offsets")
    val fs = offPath.getFileSystem(spark.sessionState.newHadoopConf())
    val committed =
      if (!fs.exists(offPath)) Array.empty[String]
      else fs.listStatus(offPath).filter(_.isDirectory).map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") &&
          p.getName.stripPrefix("batch=").toLong < batchId &&
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        .map(_.toString)
    if (committed.isEmpty) 0L
    else spark.read.parquet(committed.toIndexedSeq: _*)
      .agg(coalesce(sum("tok"), lit(0L))).head.getLong(0)
  }

  /** Record batch `batchId`'s token count (idempotent overwrite). */
  private def recordTokens(spark: SparkSession, outDir: String,
      batchId: Long, tok: Long): Unit = {
    import spark.implicits._
    Seq((batchId, tok)).toDF("batch_id", "tok")
      .write.mode("overwrite").parquet(s"$outDir/offsets/batch=$batchId")
  }

  /** Run the QS9 stream: delta document files → per-micro-batch shard
    * packing continuing the global token prefix sum → parquet sink.
    * Exactly-once without ANY in-memory carryover: each batch derives
    * its base offset by summing the durable per-batch token counts of
    * all EARLIER batches (`outDir/offsets/batch=<id>`), writes its
    * assignments, then its own offset row — both idempotent
    * overwrites, so a replayed batch recomputes the identical base
    * (its own offset file, even if already present from the crashed
    * attempt, is excluded by the `< batchId` filter). Requires
    * doc_id-monotone arrival across batches, the same contract as the
    * qs8 evolving store.
    */
  def runShardPackStream(spark: SparkSession, deltaDir: String,
      budget: Long, outDir: String): Unit =
    fileStream(spark, deltaDir, docSchema, outDir) { (batch, batchId) =>
      // releases the blocks packShards' materialize-once checkpoint
      // creates for THIS batch
      releasing(spark.sparkContext) {
        val base = earlierTokens(spark, outDir, batchId)
        val withTok = batch.select(col("doc_id"),
          size(graft.functions.TextFns.tokens(col("text"))).as("n_tok"))
        graft.operators.Scale
          .packShards(withTok, "doc_id", "n_tok", budget, base = base)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        recordTokens(spark, outDir, batchId,
          withTok.agg(coalesce(sum("n_tok"), lit(0L))).head.getLong(0))
      }
    }

  /** Stateful dedup bounded by the watermark (SURVEY §2.10). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Arbitrary stateful processing: running per-user event count +
    * value total via flatMapGroupsWithState (the §2.10 "arbitrary
    * state" surface).
    */
  def runningUserTotals(events: DataFrame): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)],
         state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n
          var tot = prev.total
          rows.foreach { case (_, v) => n += 1; tot += v }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator(next)
      }
  }

  case class SessState(lastTsu: Long, nSessions: Long, nEvents: Long,
      curLen: Long, maxLen: Long)
  case class SessStats(user_id: Long, n_sessions: Long, n_events: Long,
      max_session_events: Long)

  /** Per-key session-stats automaton via flatMapGroupsWithState
    * (qs26) — the §2.10 arbitrary-state primitive gated END-TO-END:
    * gap-based sessionization (gaps > `gapUs` under the (ts, id)
    * total order start a new session) carried as O(1) per-key state
    * (last event-ts + four counters, 40 bytes) across micro-batches.
    * The batch twin [[graft.operators.Events.sessionStats]] computes
    * the same rollup with windows — two independent implementations
    * against one oracle (the xe5/qs26 shared text).
    *
    * Monotone-resume contract (the qs23/qs24 state class): batches
    * must slice the log in ts order per key (time-range slices give
    * this globally — equal ts values land in one slice by range
    * partitioning); WITHIN a batch a key's iterator is unordered, so
    * the automaton sorts the key's batch events by (tsu, id) in
    * memory — bounded by the key's events per MICRO-BATCH, never its
    * history. Each batch that touches a key emits the key's stats so
    * far; n_events is strictly increasing per key, so the final
    * rollup keeps each key's max-n_events emission (append-sink
    * friendly — no update-mode sink needed).
    */
  def sessionStatsTransform(events: DataFrame,
      gapUs: Long = 14400000000L): Dataset[SessStats] = {
    import events.sparkSession.implicits._
    events
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessStats](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[SessState]) =>
          // (uid, event_id, tsu) → (tsu, event_id) sort: per-batch
          // per-key bounded
          val evs = rows.map { case (_, id, tsu) => (tsu, id) }
            .toArray.sorted
          if (evs.isEmpty) Iterator.empty
          else {
            var st = state.getOption
              .getOrElse(SessState(0L, 0L, 0L, 0L, 0L))
            evs.foreach { case (tsu, _) =>
              st =
                if (st.nEvents == 0L || tsu - st.lastTsu > gapUs)
                  SessState(tsu, st.nSessions + 1, st.nEvents + 1, 1L,
                    math.max(st.maxLen, 1L))
                else SessState(tsu, st.nSessions, st.nEvents + 1,
                  st.curLen + 1, math.max(st.maxLen, st.curLen + 1))
            }
            state.update(st)
            Iterator.single(
              SessStats(uid, st.nSessions, st.nEvents, st.maxLen))
          }
      }
  }

  /** The qs31 twin of [[sessionStatsTransform]] on Spark 4's
    * `transformWithState` — the successor arbitrary-state API
    * (StatefulProcessor + typed composite state handles, SPIP
    * SPARK-45939): the SAME gap-sessionization automaton, its per-key
    * scalar state in a named `ValueState[SessState]` under the
    * (required) RocksDB provider. Three implementations — window
    * derivation (xe5), flatMapGroupsWithState (qs26), StatefulProcessor
    * (qs31) — now gate against ONE oracle text.
    */
  class SessionStatsProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), SessStats] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[SessState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessState]("sess",
        org.apache.spark.sql.Encoders.product[SessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessStats] = {
      val evs = rows.map { case (_, id, tsu) => (tsu, id) }
        .toArray.sorted
      if (evs.isEmpty) Iterator.empty
      else {
        var s = if (st.exists()) st.get()
          else SessState(0L, 0L, 0L, 0L, 0L)
        evs.foreach { case (tsu, _) =>
          s =
            if (s.nEvents == 0L || tsu - s.lastTsu > gapUs)
              SessState(tsu, s.nSessions + 1, s.nEvents + 1, 1L,
                math.max(s.maxLen, 1L))
            else SessState(tsu, s.nSessions, s.nEvents + 1,
              s.curLen + 1, math.max(s.maxLen, s.curLen + 1))
        }
        st.update(s)
        Iterator.single(
          SessStats(uid, s.nSessions, s.nEvents, s.maxLen))
      }
    }
  }

  def sessionStatsTransformTws(events: DataFrame,
      gapUs: Long = 14400000000L): Dataset[SessStats] = {
    import events.sparkSession.implicits._
    events
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionStatsProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Run the qs31 transformWithState stream for real — the
    * [[runSessionStatsStream]] harness with the StatefulProcessor
    * automaton (RocksDB is mandatory for transformWithState).
    */
  def runSessionStatsStreamTws(spark: SparkSession, ev: DataFrame,
      inDir: String, sinkDir: String, ckDir: String,
      gapUs: Long = 14400000000L, slices: Int = 8,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    ev.repartitionByRange(slices, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    new java.io.File(inDir).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L)
      }
    withStatefulShufflePartitions(spark, 8) {
      withRocksDBStateStore(spark) {
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
          .parquet(inDir)
        val q = sessionStatsTransformTws(stream, gapUs).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckDir)
          .format("parquet").option("path", sinkDir)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    sessionStatsFinal(spark.read.parquet(sinkDir))
  }

  /** Run the qs26 session-stats stream for real: ts-range file slices
    * of `ev` → RocksDB-backed flatMapGroupsWithState micro-batches →
    * append parquet sink of per-batch emissions; the returned frame is
    * the final per-key rollup (max-n_events emission — see
    * [[sessionStatsTransform]]). `inDir`/`sinkDir`/`ckDir` must be
    * fresh; restart-with-same-checkpoint resumes exactly
    * (StreamingSpec crash/restart identity).
    */
  def runSessionStatsStream(spark: SparkSession, ev: DataFrame,
      inDir: String, sinkDir: String, ckDir: String,
      gapUs: Long = 14400000000L, slices: Int = 8,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    ev.repartitionByRange(slices, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    // modification-time stamping: FileStreamSource replays in mod-time
    // order but the writer tasks finish arbitrarily (the qs4b lesson)
    new java.io.File(inDir).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L)
      }
    withStatefulShufflePartitions(spark, 8) {
      withRocksDBStateStore(spark) {
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
          .parquet(inDir)
        val q = sessionStatsTransform(stream, gapUs).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckDir)
          .format("parquet").option("path", sinkDir)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    sessionStatsFinal(spark.read.parquet(sinkDir))
  }

  /** Final per-key rollup over the append-sink emissions: n_events is
    * strictly increasing per key, so max(struct(n_events, ...)) IS the
    * last emission.
    */
  def sessionStatsFinal(emissions: DataFrame): DataFrame =
    emissions.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_sessions"),
        col("max_session_events"))).as("f"))
      .select(col("user_id"), col("f.n_sessions").as("n_sessions"),
        col("f.n_events").as("n_events"),
        col("f.max_session_events").as("max_session_events"))

  /** The RocksDB state store provider (bundled with Spark 4): state
    * lives off-heap in a per-partition RocksDB instance instead of the
    * default in-memory HashMap — the required configuration once
    * stream-stream join / dedup state outgrows executor heap (the
    * 100 TB stream shape). Toggled per query via
    * `spark.sql.streaming.stateStore.providerClass`.
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the STATEFUL shuffle sized to state volume, not
    * CPU count (the qs4 bench lesson, 43d5f8c): a stateful operator
    * opens state-store instances per partition (4 per partition for a
    * stream-stream join), each paying open/commit/changelog-upload
    * PER BATCH while holding little state at bench SFs — fixed
    * overhead, not work. At 100 TB the same rule (state bytes /
    * target partition size) raises the count back; the partition
    * count is pinned into the checkpoint at first batch, so this is a
    * per-deployment sizing decision exactly like shuffle.partitions
    * for batch. Results are partition-count-invariant (oracle-gated).
    */
  def withStatefulShufflePartitions[A](spark: SparkSession, n: Int)(
      body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Run `body` with the RocksDB state store provider configured
    * (changelog checkpointing on — incremental commits instead of
    * full SST re-uploads), restoring the previous provider after.
    */
  def withRocksDBStateStore[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val ckey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    val prevC = spark.conf.getOption(ckey)
    spark.conf.set(key, RocksDBProvider)
    spark.conf.set(ckey, "true")
    try body
    finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevC match {
        case Some(v) => spark.conf.set(ckey, v)
        case None => spark.conf.unset(ckey)
      }
    }
  }

  /** Run a streaming transform of the events table to completion via
    * the memory sink and return the result (used by parity tests; the
    * file-source → transform → sink wiring is the production shape).
    */
  def runToMemory(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    val q = transform(eventsStream(spark, dir))
      .writeStream.outputMode(mode).format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
