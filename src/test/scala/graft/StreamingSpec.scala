package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Batch↔stream parity (SURVEY §2.10): the streaming runner must
  * produce exactly the batch answers the DuckDB oracle checks via
  * QS1–QS3.
  */
class StreamingSpec extends SparkSpec {

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.toSeq.head -> r.toSeq.tail).toMap

  test("streaming tumbling agg == batch QS1") {
    val streamed = Streams.runToMemory(spark, sf0001,
      Streams.tumblingCounts, "t_tumbling", mode = "complete")
    val batch = SparkEntry.queries("qs1_tumbling")(spark, sf0001)
    assert(asMap(streamed) == asMap(batch))
  }

  test("streaming session windows == batch QS3") {
    val streamed = Streams.runToMemory(spark, sf0001,
      Streams.sessionCounts, "t_session", mode = "complete")
      .select(concat_ws("|", col("user_id"), col("session_start")).as("k"),
        col("n"))
    val batch = SparkEntry.queries("qs3_session")(spark, sf0001)
      .select(concat_ws("|", col("user_id"), col("session_start")).as("k"),
        col("n"))
    assert(asMap(streamed) == asMap(batch))
  }

  test("streaming sliding windows == batch QS2") {
    val streamed = Streams.runToMemory(spark, sf0001,
      df => Streams.slidingCounts(df), "t_sliding", mode = "complete")
    val batch = SparkEntry.queries("qs2_sliding")(spark, sf0001)
      .select("w", "c")
    assert(asMap(streamed) == asMap(batch))
  }

  test("rq DSv2 source streams new files incrementally (micro-batch)") {
    val dir = java.nio.file.Files.createTempDirectory("rqstream")
    def addFile(n: Int): Unit =
      java.nio.file.Files.writeString(dir.resolve(s"f$n.json"),
        "{\"n\":" + n + "}\n")
    addFile(1); addFile(2)
    val q = spark.readStream
      .format(classOf[graft.sources.RqTableProvider].getName)
      .option("recordFormat", "json")
      .load(dir.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_rqstream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_rqstream").count() == 2)
      addFile(3)
      q.processAllAvailable()
      val got = spark.table("t_rqstream").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(got == Seq("{\"n\":1}", "{\"n\":2}", "{\"n\":3}"))
    } finally q.stop()
  }

  test("stream-stream interval join == batch QS4") {
    val streamed = Streams.runToMemory(spark, sf0001,
      Streams.viewPurchaseJoin, "t_ssjoin")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "view_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("qs4_stream_join")(spark, sf0001)
    assert(pairs(batch).nonEmpty, "join pairs must exist at sf0.001")
    assert(pairs(streamed) == pairs(batch))
  }

  test("qs4 under the RocksDB state store provider matches the " +
      "default provider (off-heap state toggle)") {
    val streamed = Streams.withRocksDBStateStore(spark) {
      assert(spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass") ==
        Streams.RocksDBProvider)
      Streams.runToMemory(spark, sf0001,
        Streams.viewPurchaseJoin, "t_ssjoin_rocks")
    }
    // toggle restored after the block
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
      .forall(_ != Streams.RocksDBProvider))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "view_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("qs4_stream_join")(spark, sf0001)
    assert(pairs(streamed) == pairs(batch))
  }

  test("stream-stream join state is bounded: watermark eviction " +
      "removes rows under RocksDB (state-store metrics)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, String, Long)]
    val events = mem.toDF()
      .toDF("sec", "user_id", "event_type", "event_id")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = Streams.withRocksDBStateStore(spark) {
      Streams.viewPurchaseJoin(events)
        .writeStream.outputMode("append")
        .format("memory").queryName("t_evict").start()
    }
    try {
      // batch 1: hour 0 — 200 view rows + 50 purchases enter state
      mem.addData((0L until 200L).map(u =>
        (u * 10, u, "view", u)) ++
        (0L until 50L).map(u => (u * 10 + 5, u, "purchase", 1000 + u)))
      q.processAllAvailable()
      // batches 2-3: jump to hour 20 — the 2h watermark passes far
      // beyond hour 0 + 1h join range, so ALL hour-0 state is evictable
      mem.addData(Seq((72000L, 9999L, "view", 5000L)))
      q.processAllAvailable()
      mem.addData(Seq((72060L, 9999L, "purchase", 5001L)))
      q.processAllAvailable()
      val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val totals = progs.map(_.stateOperators.map(_.numRowsTotal).sum)
      val removed = progs.map(_.stateOperators.map(_.numRowsRemoved).sum)
      assert(totals.max >= 250, s"state must hold batch-1 rows: " +
        totals.mkString(","))
      assert(removed.sum > 0, "watermark must evict join state")
      assert(totals.last < totals.max,
        s"final state must shrink after eviction: ${totals.mkString(",")}")
      // the join itself produced the hour-0 pairs before eviction
      assert(spark.table("t_evict").count() >= 50)
    } finally q.stop()
  }

  test("rq streaming sink: readStream rq -> writeStream rq round-trip") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("rq_ss_in")
    val outDir = Files.createTempDirectory("rq_ss_out").toString
    val ckpt = Files.createTempDirectory("rq_ss_ck").toString
    Files.writeString(inDir.resolve("a.json"),
      """{"k":1,"s":"x"} {"k":2,"s":"y"}""")
    val engine = new graft.RqEngine(spark)
    val q = spark.readStream
      .format(classOf[graft.sources.RqTableProvider].getName)
      .option("recordFormat", "json").load(inDir.toString)
      .writeStream.format(classOf[graft.sources.RqTableProvider].getName)
      .option("recordFormat", "msgpack").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // read back the msgpack shards through the batch source
    val back = engine.read("msgpack", outDir)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(back == Seq("""{"k":1,"s":"x"}""", """{"k":2,"s":"y"}"""))
  }

  test("stateful dedup within watermark keeps one row per key") {
    val deduped = Streams.runToMemory(spark, sf0001,
      Streams.dedupWithinWatermark, "t_dedup")
    val keys = deduped.select("user_id", "event_type").distinct().count()
    assert(deduped.count() == keys)
  }

  test("stream-static broadcast join == batch QS5") {
    val profile = graft.queries.T.t(spark, sf0001, "events")
      .groupBy("user_id").agg(min("event_id").as("first_event"),
        count(lit(1)).as("n_events"))
    val streamed = Streams.runToMemory(spark, sf0001,
      ev => Streams.enrichPurchases(ev, profile), "t_qs5")
    val batch = Streams.enrichPurchases(
      graft.queries.T.t(spark, sf0001, "events"), profile)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(batch).nonEmpty)
    assert(rows(streamed) == rows(batch))
  }

  test("update-mode aggregation: last emitted state per key == batch") {
    // complete/append modes are covered by QS1-QS3; update mode emits
    // one row per CHANGED key per micro-batch, so the latest row per
    // key must converge to the batch aggregate.
    val streamed = Streams.runToMemory(spark, sf0001,
      ev => ev.groupBy("user_id").agg(count(lit(1)).as("n")),
      "t_update", mode = "update")
    val finalState = streamed.groupBy("user_id").agg(max("n").as("n"))
    val batch = graft.queries.T.t(spark, sf0001, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(asMap(finalState) == asMap(batch))
  }

  test("QS6 chunked near-dup stream == batch delta-vs-corpus pairs") {
    // the arriving docs (≥400, the qs6 split) land as FOUR parquet
    // files so maxFilesPerTrigger=1 forces four micro-batches; the
    // production runner (foreachBatch → per-batch parquet dir +
    // checkpoint) must reproduce the one-shot batch answer exactly
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs6")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") >= 400).repartition(4)
      .write.parquet(deltaDir)
    Streams.runNearDupStream(spark, deltaDir,
      docs.where(col("doc_id") < 400), threshold = 0.5, outDir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = pairs(spark.read.parquet(s"$outDir/batch=*"))
    val batchPairs = pairs(Streams.nearDupsAgainstCorpus(
      docs.where(col("doc_id") >= 400), docs.where(col("doc_id") < 400),
      threshold = 0.5))
    assert(batchPairs.nonEmpty, "planted cross-half near-dups expected")
    assert(streamed == batchPairs)
  }

  test("QS11 chunked quality-score stream == batch frozen-model " +
      "scoring") {
    // frozen model + stateless per-batch scoring: four micro-batches
    // through the real file-stream runner must reproduce the one-shot
    // batch scoring row-for-row (scores independent of arrival time)
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs11")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") >= 400).repartition(4)
      .write.parquet(deltaDir)
    Streams.runQualityScoreStream(spark, deltaDir,
      docs.where(col("doc_id") < 400), outDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tok", "log_odds", "pred").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val batch = rows(graft.operators.Quality.scoreNb(
      docs.where(col("doc_id") >= 400),
      graft.operators.Quality.fitNb(docs.where(col("doc_id") < 400))))
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("QS18 chunked byte-BPE tokenize stream == batch frozen-" +
      "tokenizer encode") {
    // frozen merges + stateless narrow encode: four micro-batches
    // through the real file-stream runner must reproduce the one-shot
    // batch tokenization row-for-row (a doc's tokens independent of
    // arrival time and chunking)
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs18")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") >= 400).repartition(4)
      .write.parquet(deltaDir)
    Streams.runBpeTokenizeStream(spark, deltaDir,
      docs.where(col("doc_id") < 400), outDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_bpe", "seg").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val merges = graft.operators.Bpe.trainBytesOn(
      docs.where(col("doc_id") < 400), "text",
      maxWords = 256, numMerges = 16)
    val batch = rows(graft.operators.Bpe.tokenizeDocsBytes(
      docs.where(col("doc_id") >= 400), merges))
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("QS16 real file-stream embedding near-dup == one-shot xd14 " +
      "(frozen corpus, pinned band params, stateless batches)") {
    val planted = graft.queries.DedupQueries.plantedEmbeddingCorpus(
      graft.queries.T.t(spark, sf0001, "embeddings"))
    val corpus = planted.where(col("id") < 100000)
    val delta = planted.where(col("id") >= 100000)
    val base = java.nio.file.Files.createTempDirectory("qs16")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.repartition(3).write.parquet(deltaDir)
    val total = planted.count()
    Streams.runEmbeddingNearDupStream(spark, deltaDir, corpus, outDir,
      threshold = 0.9, totalHint = total)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a"), col("b"), round(col("c"), 4).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val oneShot = rows(graft.operators.Dedup
      .embeddingNearDupsLSHAgainstAuto(delta, corpus, "id", "v",
        threshold = 0.9))
    assert(oneShot.nonEmpty, "planted cross pairs expected")
    assert(streamed == oneShot)
  }

  test("QS17 real file-stream SemDedup == one-shot (frozen centroids " +
      "+ frozen corpus assignment, stateless batches)") {
    val base0 = graft.queries.T.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val corpus = base0.select(col("vec_id").as("id"), col("label"),
      col("v"))
    val delta = base0.select((col("vec_id") + 100000).as("id"),
      transform(col("v"), x => x + lit(0.05d)).as("v"))
    val base = java.nio.file.Files.createTempDirectory("qs17")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.repartition(3).write.parquet(deltaDir)
    Streams.runSemDedupStream(spark, deltaDir, corpus, outDir,
      threshold = 0.9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("assigned"), col("kept"))
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getBoolean(2))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val cents = graft.operators.Similarity
      .labelCentroids(corpus, "label", "v")
    val oneShot = rows(graft.operators.Dedup.semDedupAgainstPrepped(
      delta, graft.operators.Dedup.semDedupPrep(corpus, "id", "v",
        cents), cents, "id", "v", threshold = 0.9))
    assert(oneShot.nonEmpty && oneShot.exists(!_._3),
      "planted copies must produce drops")
    assert(streamed == oneShot)
  }

  test("chunkIndexCol assigns every chunk including chunk 0 (ADVICE " +
      "r8: ascending foldLeft made chunk 0 unreachable)") {
    import spark.implicits._
    val got = Seq(0L, 149L, 150L, 399L, 400L, 999L).toDF("doc_id")
      .select(col("doc_id"), graft.streaming.Streams
        .chunkIndexCol(col("doc_id"), Seq(150L, 400L)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 149L -> 0, 150L -> 1, 399L -> 1,
      400L -> 2, 999L -> 2), got.toString)
  }

  test("QS14 real file-stream heavy hitters == one-shot xk12 over the " +
      "archived deltas (durable per-batch MG summaries)") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs14s")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.repartition(4).write.parquet(deltaDir)
    val streamed = Streams.runHeavyHittersStream(spark, deltaDir,
        outDir, denom = 1000L, capacity = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val oneShot = graft.operators.Sketches.heavyHitters(
        docs.select(explode(
          graft.functions.TextFns.tokens(col("text"))).as("g")),
        "g", denom = 1000L, capacity = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(oneShot.nonEmpty)
    assert(streamed == oneShot)
    // the durable state is sketch-sized: every batch file holds ONE
    // summary row of <= capacity counters
    val st = spark.read.parquet(s"$outDir/state/batch=*")
    assert(st.count() == 4)
    assert(st.select(size(col("cs"))).collect()
      .forall(_.getInt(0) <= 4096))
  }

  test("QS14 stream resumes from its checkpoint: late files fold into " +
      "the committed summaries without reprocessing early batches") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs14r")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") < 250).repartition(2)
      .write.parquet(deltaDir)
    Streams.runHeavyHittersStream(spark, deltaDir, outDir).collect()
    val early = spark.read.parquet(s"$outDir/state/batch=*").count()
    assert(early == 2, s"first session must commit 2 summaries: $early")
    docs.where(col("doc_id") >= 250).repartition(2)
      .write.mode("append").parquet(deltaDir)
    // second session: the checkpoint resumes at the new files only;
    // the fold then reads ALL committed summaries (old + new)
    val resumed = Streams
      .runHeavyHittersStream(spark, deltaDir, outDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(spark.read.parquet(s"$outDir/state/batch=*").count() == 4)
    val oneShot = graft.operators.Sketches.heavyHitters(
        docs.select(explode(
          graft.functions.TextFns.tokens(col("text"))).as("g")),
        "g", denom = 1000L, capacity = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(resumed == oneShot)
  }

  test("QS15 real file-stream quantiles == one-shot exactQuantiles " +
      "over the archived deltas (durable per-batch sketches)") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs15s")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.repartition(3).write.parquet(deltaDir)
    val streamed = Streams.runQuantilesStream(spark, deltaDir, outDir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val oneShot = graft.operators.Quantiles.exactQuantiles(
        docs, Seq("source"), "n_chars", Seq(0.5, 0.9, 0.99), s = 512)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(oneShot.nonEmpty)
    assert(streamed == oneShot)
    // durable state: one <= s-mark summary per (batch, group)
    val st = spark.read.parquet(s"$outDir/state/batch=*")
    assert(st.select(size(col("__qs.marks"))).collect()
      .forall(_.getInt(0) <= 512))
  }

  test("QS15 stream resumes from its checkpoint: late files fold into " +
      "the committed per-group sketches without reprocessing") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs15r")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") < 250).repartition(2)
      .write.parquet(deltaDir)
    Streams.runQuantilesStream(spark, deltaDir, outDir).collect()
    docs.where(col("doc_id") >= 250).repartition(2)
      .write.mode("append").parquet(deltaDir)
    val resumed = Streams.runQuantilesStream(spark, deltaDir, outDir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val oneShot = graft.operators.Quantiles.exactQuantiles(
        docs, Seq("source"), "n_chars", Seq(0.5, 0.9, 0.99), s = 512)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(resumed == oneShot)
    // 4 batches' summaries committed across the two sessions
    assert(new java.io.File(s"$outDir/state").listFiles()
      .count(_.getName.startsWith("batch=")) == 4)
  }

  test("QS13 chunked bloom-decontam stream == batch frozen-index " +
      "report") {
    // frozen Bloom index + stateless per-batch screening: four
    // micro-batches through the real file-stream runner must
    // reproduce the one-shot batch report row-for-row
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs13")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") >= 400).repartition(4)
      .write.parquet(deltaDir)
    Streams.runBloomDecontamStream(spark, deltaDir,
      docs.where(col("doc_id") < 400), outDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("train_id", "n_shingles", "n_bench_docs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val batch = rows(graft.operators.Decontaminate.reportAgainst(
      graft.operators.Decontaminate.bloomIndex(
        docs.where(col("doc_id") < 400), "doc_id", "text", n = 4),
      docs.where(col("doc_id") >= 400), "doc_id", "text"))
    assert(batch.nonEmpty, "cross-slice contamination expected")
    assert(streamed == batch)
  }

  test("QS7 chunked paragraph-dedup stream == batch delta-vs-corpus " +
      "result") {
    // same 4-micro-batch shape as QS6; the per-batch transform is the
    // composite span pipeline (store anti-join + banded near + verify
    // + reassembly), so this is the chunked==batch proof for qs7
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs7")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") >= 400).repartition(4)
      .write.parquet(deltaDir)
    Streams.runParagraphDedupStream(spark, deltaDir,
      docs.where(col("doc_id") < 400), threshold = 0.8, outDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val batch = rows(Streams.paragraphDedupAgainstCorpus(
      docs.where(col("doc_id") >= 400), docs.where(col("doc_id") < 400),
      threshold = 0.8))
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("QS8 evolving-store ingest: any chunking == one-shot paragraph " +
      "dedup over corpus ∪ deltas restricted to deltas") {
    // the store absorbs every batch's exact survivors (including
    // near-dropped spans), so under monotone doc_id arrival the chunk
    // structure must be invisible: 1-chunk == 3-chunk == one-shot
    // xd10 over all docs restricted to the ≥400 slice
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val one = rows(Streams.evolvingParagraphDedupChunked(
      delta, corpus, 0.8, bounds = Seq.empty))
    val three = rows(Streams.evolvingParagraphDedupChunked(
      delta, corpus, 0.8, bounds = Seq(470L, 540L)))
    val oneShot = rows(graft.operators.Dedup.paragraphDedup(
        docs, "doc_id", "text")
      .where(col("doc_id") >= 400))
    assert(one.nonEmpty)
    assert(three == one)
    assert(one == oneShot)
    // the evolving store MUST differ from qs7's static store whenever
    // delta docs near-dup each other — otherwise this query is qs7
    val staticStore = rows(Streams.paragraphDedupAgainstCorpus(
      delta, corpus, threshold = 0.8))
    assert(staticStore != one,
      "testdata has no cross-delta span dups; evolving == static " +
        "makes qs8 indistinguishable from qs7")
  }

  test("QS8 runner: restart mid-stream rebuilds the store from the " +
      "durable span appends and finishes identically") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400).cache()
    val base = java.nio.file.Files.createTempDirectory("qs8")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    // chunk files written sequentially: the file-stream source orders
    // by mtime, so arrival is monotone in doc_id as the store requires
    delta.where(col("doc_id") < 470).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    // first run sees ONLY chunk 1, drains, stops — the "crash"
    Streams.runEvolvingParagraphDedupStream(spark, deltaDir, corpus,
      0.8, outDir, compactEvery = 2)
    Thread.sleep(20) // distinct mtimes for deterministic batch order
    delta.where(col("doc_id") >= 470 && col("doc_id") < 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    // restart: the checkpoint skips batch 0; the store rebuilds from
    // outDir/store/batch=0 before batches 1-2 process
    Streams.runEvolvingParagraphDedupStream(spark, deltaDir, corpus,
      0.8, outDir, compactEvery = 2)
    corpus.unpersist()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val oneShot = rows(graft.operators.Dedup.paragraphDedup(
      docs, "doc_id", "text").where(col("doc_id") >= 400))
    assert(streamed == oneShot)
  }

  test("QS10 chunked substring ingest: any chunking == one-shot xd12 " +
      "over corpus ∪ deltas restricted to deltas") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val one = rows(Streams.substringDedupChunked(delta, corpus,
      bounds = Seq.empty))
    val three = rows(Streams.substringDedupChunked(delta, corpus,
      bounds = Seq(470L, 540L)))
    val oneShot = rows(graft.operators.Dedup.substringDedup(
        docs, "doc_id", "text")
      .where(col("doc_id") >= 400))
    assert(one.nonEmpty)
    assert(three == one)
    assert(one == oneShot)
    // the delta must contain real dup spans, or this proves nothing
    assert(one.exists(_._2 > 0), "no dup spans in the delta slice")
  }

  test("QS19 CDC stream face: any chunking == one-shot xd15, and the " +
      "real runner restarts from the durable chunk-store appends") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val oneShot = rows(graft.operators.Dedup.cdcDedupStats(
        docs, "doc_id", "text")
      .where(col("doc_id") >= 400))
    // chunk-invariance of the batch harness
    val one = rows(Streams.cdcDedupChunked(delta, corpus, Seq.empty))
    val three = rows(Streams.cdcDedupChunked(delta, corpus,
      Seq(470L, 540L)))
    assert(one == oneShot && three == oneShot)
    assert(one.exists(_._3 > 0), "no dup chunks in the delta slice")
    // real file-stream runner across a mid-stream "crash": run 1 sees
    // only slice 1; the restart rebuilds the store from
    // outDir/store/batch=0 and must finish identically
    val base = java.nio.file.Files.createTempDirectory("qs19")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.where(col("doc_id") < 470).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runCdcDedupStream(spark, deltaDir, corpus, outDir,
      compactEvery = 2)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 470 && col("doc_id") < 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runCdcDedupStream(spark, deltaDir, corpus, outDir,
      compactEvery = 2)
    corpus.unpersist()
    assert(rows(spark.read.parquet(s"$outDir/batch=*")) == oneShot)
  }

  test("QS34 kNN-graph store: any chunking in ANY ORDER == one-shot " +
      "knnGraphExact, and the real runner restarts from the durable " +
      "vector appends") {
    import graft.operators.Similarity
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val delta = emb.where(col("vec_id") >= 250)
    val corpus = emb.where(col("vec_id") < 250).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    val oneShot = rows(Similarity.knnGraphExact(emb, "vec_id",
      "embedding", k = 6))
    val one = rows(Streams.knnGraphChunked(delta, corpus, Seq.empty,
      k = 6))
    val three = rows(Streams.knnGraphChunked(delta, corpus,
      Seq(350L, 430L), k = 6))
    assert(one == oneShot && three == oneShot)
    // ORDER-FREE (stronger than the monotone contracts): ingest the
    // chunks in reverse id order — the top-k merge is commutative,
    // so the store must land on the identical graph
    var gs = Similarity.prepareKnnGraphStore(corpus, "vec_id",
      "embedding", k = 6)
    for ((lo, hi) <- Seq((430L, Long.MaxValue), (350L, 430L),
        (Long.MinValue, 350L)))
      gs = Similarity.knnGraphIngest(
        delta.where(col("vec_id") >= lo && col("vec_id") < hi),
        gs, "vec_id", "embedding").next
    assert(rows(Similarity.knnGraphFromStore(gs)) == oneShot)
    // old nodes' lists must actually CHANGE when deltas arrive, or
    // the maintenance proves nothing: some corpus node's final list
    // contains a delta neighbor
    assert(oneShot.exists(e => e._1 < 250 && e._2 >= 250),
      "no corpus node has a delta neighbor")
    // real file-stream runner across a mid-stream "crash": run 1 sees
    // only slice 1; the restart re-ingests outDir/store/batch=* as
    // one batch (order-free fold) and must finish identically
    val base = java.nio.file.Files.createTempDirectory("qs34")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.where(col("vec_id") < 350).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    var got = Streams.runKnnGraphStream(spark, deltaDir, corpus, 6,
      outDir, compactEvery = 2)
    Thread.sleep(20)
    delta.where(col("vec_id") >= 350 && col("vec_id") < 430)
      .coalesce(1).write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("vec_id") >= 430).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    got = Streams.runKnnGraphStream(spark, deltaDir, corpus, 6,
      outDir, compactEvery = 2)
    corpus.unpersist()
    assert(rows(got) == oneShot)
    // a crash inside the write→commit window: the crash-window table
  }

  test("QS35 serve-while-ingest: final serve == one-shot beam search " +
      "over the exact graph on any chunking; every per-batch serve is " +
      "traversal-identical to the one-shot beam over its prefix graph; " +
      "the real runner restarts to the identical final serve") {
    import graft.operators.Similarity
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val delta = emb.where(col("vec_id") >= 250)
    val corpus = emb.where(col("vec_id") < 250).cache()
    val queries = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "id", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9))).toSet
    // one-shot serve over the exact graph of a given corpus prefix —
    // the reference every serve (intermediate AND final) must equal
    def oneShotServe(c: org.apache.spark.sql.DataFrame) =
      rows(Similarity.beamSearchTopK(c, queries,
        Similarity.knnGraphExact(c, "vec_id", "embedding", k = 6),
        "vec_id", "embedding", entryIds = 0L to 3L, ef = 8,
        rounds = 6, k = 3))
    val oneShot = oneShotServe(emb)
    assert(oneShot.nonEmpty)
    // a delta vector must actually reach some query's final top-k, or
    // serving over the EVOLVING store proves nothing beyond xs15
    assert(oneShot.exists(_._3 >= 250),
      "no delta vector in any final serve result")
    // chunked harness: final serve == one-shot on two chunkings
    def serve(bounds: Seq[Long]) =
      rows(Streams.knnGraphServeChunked(delta, corpus, bounds, k = 6,
        queries, entryIds = 0L to 3L, ef = 8, rounds = 6, kq = 3))
    assert(serve(Seq.empty) == oneShot)
    assert(serve(Seq(350L, 430L)) == oneShot)
    // real file-stream runner with a mid-stream restart: run 1 serves
    // batch 0 (prefix store), the restart resumes from the committed
    // vector appends and serves batches 1..2, final serve identical
    val base = java.nio.file.Files.createTempDirectory("qs35")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.where(col("vec_id") < 350).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    var got = Streams.runKnnGraphServeStream(spark, deltaDir, corpus,
      queries, 6, 0L to 3L, 8, 6, 3, outDir, compactEvery = 2)
    Thread.sleep(20)
    delta.where(col("vec_id") >= 350 && col("vec_id") < 430)
      .coalesce(1).write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("vec_id") >= 430).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    got = Streams.runKnnGraphServeStream(spark, deltaDir, corpus,
      queries, 6, 0L to 3L, 8, 6, 3, outDir, compactEvery = 2)
    assert(rows(got) == oneShot)
    // every per-batch serve sink must equal the one-shot beam search
    // over ITS prefix corpus — the mid-ingest serving contract
    // (deterministic traversal identity, stronger than a recall gate)
    for ((hi, b) <- Seq((350L, 0), (430L, 1), (Long.MaxValue, 2))) {
      val prefix = emb.where(col("vec_id") < 250 ||
        (col("vec_id") >= 250 && col("vec_id") < hi))
      val sunk = rows(spark.read
        .parquet(s"$outDir/serve/batch=$b"))
      assert(sunk == oneShotServe(prefix),
        s"serve/batch=$b diverges from the one-shot beam over its " +
          "prefix store")
    }
    corpus.unpersist()
  }

  test("QS36 blocked-graph store: any chunking in ANY ORDER == " +
      "one-shot ivfSeededGraph under centroids frozen at prepare") {
    import graft.operators.Similarity
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val delta = emb.where(col("vec_id") >= 250)
    val corpus = emb.where(col("vec_id") < 250).cache()
    // PRODUCTION shape: cells frozen from the INITIAL corpus — a
    // vector's cells must not depend on arrival time (the gated qs36
    // entry pins full-table label centroids instead, the xs17
    // replayable-model discipline; the theorem is cents-agnostic)
    val cents = Similarity.kmeansCentroidsSeq(corpus, "vec_id", "v", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    val oneShot = rows(Similarity.ivfSeededGraph(emb, "vec_id", "v",
      cents, probe = 2, k = 6))
    val one = rows(Streams.blockedGraphChunked(delta, corpus,
      Seq.empty, "vec_id", "v", cents, probe = 2, k = 6))
    val three = rows(Streams.blockedGraphChunked(delta, corpus,
      Seq(350L, 430L), "vec_id", "v", cents, probe = 2, k = 6))
    assert(one == oneShot && three == oneShot)
    // order-free: reversed chunk order lands on the identical graph
    var gs = Similarity.prepareBlockedGraphStore(corpus, "vec_id", "v",
      cents, probe = 2, k = 6)
    for ((lo, hi) <- Seq((430L, Long.MaxValue), (350L, 430L),
        (Long.MinValue, 350L)))
      gs = Similarity.blockedGraphIngest(
        delta.where(col("vec_id") >= lo && col("vec_id") < hi),
        gs, "vec_id", "v")
    assert(rows(Similarity.blockedGraphFromStore(gs)) == oneShot)
    // the maintenance must actually rewire OLD nodes: some corpus
    // node's final list contains a delta neighbor
    assert(oneShot.exists(e => e._1 < 250 && e._2 >= 250),
      "no corpus node gained a delta neighbor")
    // duplicate ids refuse loudly (duplicate-sensitive fold)
    val ex = intercept[IllegalArgumentException] {
      Similarity.blockedGraphIngest(delta.where(col("vec_id") < 260),
        gs, "vec_id", "v")
    }
    assert(ex.getMessage.contains("already in the store"))
    corpus.unpersist()
  }

  test("QS37/QS38 blocked maintain+serve stream: per-batch hier " +
      "serves == one-shot hier beam over each prefix live set, " +
      "tombstones repair exactly, and a restart (sequential committed " +
      "op replay) lands on the identical final store and serve") {
    import graft.operators.Similarity
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint(true)
    val corpus = emb.where(col("vec_id") < 250)
    // production shape: cells frozen from the initial corpus
    val cents = Similarity.kmeansCentroidsSeq(
      vv.where(col("vec_id") < 250), "vec_id", "v", 8)
    val queries = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "id", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9))).toSet
    def graphRows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    // one-shot hier serve over an arbitrary live set — the reference
    // for every per-batch serve AND the final one
    def oneShotHier(live: org.apache.spark.sql.DataFrame) = {
      val g = Similarity.ivfSeededGraph(live, "vec_id", "v", cents,
        probe = 2, k = 6)
      val entries = Similarity.cellMedoids(live, "vec_id", "v", cents)
      rows(Similarity.beamSearchTopKHier(live,
        vv.where(col("vec_id") < 5), g, "vec_id", "v", entries,
        seedM = 3, ef = 8, rounds = 6, k = 3))
    }
    // batch plan: 0 = adds [250,350) + del {10 (corpus-era), 300
    // (added THIS batch)}; 1 = adds [350,430) + del {311}; 2 = adds
    // [430,...). Net live set = everything minus {10, 300, 311}.
    def liveAt(hi: Long, dels: Seq[Long]) =
      vv.where((col("vec_id") < hi) && !col("vec_id").isin(dels: _*))
    val finalLive = liveAt(Long.MaxValue, Seq(10L, 300L, 311L))
    val oneShot = oneShotHier(finalLive)
    assert(oneShot.nonEmpty)
    assert(oneShot.exists(_._3 >= 250),
      "no delta vector in any final serve result")
    val base = java.nio.file.Files.createTempDirectory("qs3738")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    def opSlice(lo: Long, hi: Long, dels: Seq[Long]) = {
      val adds = emb
        .where(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding"), col("label"),
          lit("add").as("op"))
      val tomb = emb.where(col("vec_id").isin(dels: _*))
        .select(col("vec_id"), col("embedding"), col("label"),
          lit("del").as("op"))
      adds.unionByName(tomb).coalesce(1)
        .write.mode("append").parquet(deltaDir)
    }
    def run() = Streams.runBlockedMaintainServeStream(spark, deltaDir,
      corpus, queries, cents, probe = 2, k = 6, seedM = 3, ef = 8,
      rounds = 6, kq = 3, outDir, compactEvery = 2)
    opSlice(250L, 350L, Seq(10L, 300L))
    run()
    // RESTART: batch 0 (with its tombstones) replays from the
    // committed op log; batches 1-2 stream fresh
    Thread.sleep(20)
    opSlice(350L, 430L, Seq(311L))
    Thread.sleep(20)
    opSlice(430L, Long.MaxValue, Seq.empty)
    val gsFinal = run()
    // final store == one-shot blocked build over the SURVIVORS
    assert(graphRows(Similarity.blockedGraphFromStore(gsFinal)) ==
      graphRows(Similarity.ivfSeededGraph(finalLive, "vec_id", "v",
        cents, probe = 2, k = 6)),
      "restarted store diverges from the one-shot build over survivors")
    // every per-batch serve sink == the one-shot hier beam over ITS
    // prefix live set (per-epoch medoid refresh included)
    for ((hi, dels, b) <- Seq(
        (350L, Seq(10L, 300L), 0),
        (430L, Seq(10L, 300L, 311L), 1),
        (Long.MaxValue, Seq(10L, 300L, 311L), 2))) {
      val sunk = rows(spark.read.parquet(s"$outDir/serve/batch=$b"))
      assert(sunk == oneShotHier(liveAt(hi, dels)),
        s"serve/batch=$b diverges from the one-shot hier beam over " +
          "its prefix live set")
    }
  }

  test("QS42 filtered hier serve over the evolving blocked store: " +
      "any chunking's FINAL serve == the one-shot filtered hier " +
      "beam over the full corpus, all k slots filled") {
    import graft.operators.Similarity
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))
      .localCheckpoint(true)
    val cents = Similarity.kmeansCentroidsSeq(
      vv.where(col("vec_id") < 250), "vec_id", "v", 8)
    val queries = vv.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "id", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9))).toSet
    val g = Similarity.ivfSeededGraph(vv, "vec_id", "v", cents,
      probe = 2, k = 6)
    val entries = Similarity.cellMedoids(vv, "vec_id", "v", cents)
    val oneShot = rows(Similarity.beamSearchTopKHierFiltered(vv,
      queries, g, "vec_id", "v", "label", entries, seedM = 3,
      ef = 16, rounds = 6, k = 3))
    assert(oneShot.nonEmpty)
    // every returned id shares its query's label (the harvest
    // contract) and every query fills its k slots at this ef
    val lbl = vv.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(oneShot.forall { case (q, _, id, _) => lbl(q) == lbl(id) })
    assert(oneShot.groupBy(_._1).forall(_._2.size == 3),
      "under-filled k slots at the over-fetched ef")
    for (bounds <- Seq(Seq(400L), Seq(300L, 400L))) {
      val got = rows(graft.streaming.Streams.blockedServeFilteredChunked(
        vv.where(col("vec_id") >= 250), vv.where(col("vec_id") < 250),
        bounds, "vec_id", "v", "label", cents, probe = 2, k = 6,
        queries = queries, seedM = 3, ef = 16, rounds = 6, kq = 3))
      assert(got == oneShot,
        s"chunking $bounds diverges from the one-shot filtered serve")
    }
  }

  test("full lifecycle stream: scheduled re-blocking epochs between " +
      "ingests and tombstones restart to the identical store, and the " +
      "final store is coherent under its own final cells") {
    import graft.operators.Similarity
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint(true)
    val corpus = emb.where(col("vec_id") < 250)
    val cents = Similarity.kmeansCentroidsSeq(
      vv.where(col("vec_id") < 250), "vec_id", "v", 8)
    val queries = emb.where(col("vec_id") < 5)
    def graphRows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    val base = java.nio.file.Files.createTempDirectory("lifecycle")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    val plan = Seq(
      (250L, 350L, Seq(10L, 300L)),
      (350L, 430L, Seq(311L)),
      (430L, Long.MaxValue, Seq.empty[Long]))
    def opSlice(lo: Long, hi: Long, dels: Seq[Long]) = {
      val adds = emb.where(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding"), col("label"),
          lit("add").as("op"))
      val tomb = emb.where(col("vec_id").isin(dels: _*))
        .select(col("vec_id"), col("embedding"), col("label"),
          lit("del").as("op"))
      adds.unionByName(tomb).coalesce(1)
        .write.mode("append").parquet(deltaDir)
    }
    def run() = Streams.runBlockedMaintainServeStream(spark, deltaDir,
      corpus, queries, cents, probe = 2, k = 6, seedM = 3, ef = 8,
      rounds = 6, kq = 3, outDir, compactEvery = 2, reblockEvery = 2)
    // restart boundary after batch 0: the replay must re-derive the
    // SAME epoch schedule from the committed batch sequence
    opSlice(plan(0)._1, plan(0)._2, plan(0)._3)
    run()
    Thread.sleep(20)
    opSlice(plan(1)._1, plan(1)._2, plan(1)._3)
    Thread.sleep(20)
    opSlice(plan(2)._1, plan(2)._2, plan(2)._3)
    val gsFinal = run()
    // batch-shape replay of the identical schedule — prepare, then
    // per batch: ingest adds, delete dels, epoch after every 2nd
    var ref = Similarity.prepareBlockedGraphStore(
      vv.where(col("vec_id") < 250), "vec_id", "v", cents, 2, 6)
    for (((lo, hi, dels), i) <- plan.zipWithIndex) {
      ref = Similarity.blockedGraphIngest(
        vv.where(col("vec_id") >= lo && col("vec_id") < hi),
        ref, "vec_id", "v")
      if (dels.nonEmpty) {
        import spark.implicits._
        ref = Similarity.blockedGraphDelete(dels.toDF("id"), ref)
      }
      if ((i + 1) % 2 == 0)
        ref = Similarity.reblockGraphStoreAuto(ref, 8)
    }
    assert(graphRows(Similarity.blockedGraphFromStore(gsFinal)) ==
      graphRows(Similarity.blockedGraphFromStore(ref)),
      "restarted lifecycle stream diverges from the batch-shape replay")
    // cells actually moved at the epoch…
    assert(gsFinal.cents != cents,
      "the epoch never refreshed the cells — the gate is vacuous")
    // …and the store is COHERENT under its own final cells: the
    // maintained graph == the one-shot blocked build of the surviving
    // vectors under exactly those cells
    val live = vv.where(!col("vec_id").isin(10L, 300L, 311L))
    assert(graphRows(Similarity.blockedGraphFromStore(gsFinal)) ==
      graphRows(Similarity.ivfSeededGraph(live, "vec_id", "v",
        gsFinal.cents, probe = 2, k = 6)),
      "final store incoherent under its own final cells")
  }

  test("QS38 batch harness: any interleaving of ingests and deletes " +
      "== one-shot blocked build over the survivors") {
    import graft.operators.Similarity
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint(true)
    val delta = vv.where(col("vec_id") >= 250)
    val corpus = vv.where(col("vec_id") < 250)
    val cents = Similarity.kmeansCentroidsSeq(corpus, "vec_id", "v", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    val dels = Seq(2L, 10L, 310L, 450L)
    val oneShot = rows(Similarity.ivfSeededGraph(
      vv.where(!col("vec_id").isin(dels: _*)), "vec_id", "v", cents,
      probe = 2, k = 6))
    // interleaving A: deletes split across the stream
    val a = rows(Streams.blockedGraphMaintainChunked(delta, corpus,
      Seq(400L), Map(0 -> Seq(2L, 10L, 310L), 1 -> Seq(450L)),
      "vec_id", "v", cents, probe = 2, k = 6))
    // interleaving B: different chunking, all deletes at the end
    val b = rows(Streams.blockedGraphMaintainChunked(delta, corpus,
      Seq(300L, 400L), Map(2 -> dels),
      "vec_id", "v", cents, probe = 2, k = 6))
    assert(a == oneShot, "interleaving A diverges from one-shot")
    assert(b == oneShot, "interleaving B diverges from one-shot")
  }

  test("QS41 exact-store deletes: any delete/ingest interleaving == " +
      "one-shot knnGraphExact over the survivors, and a missing " +
      "tombstone refuses loudly") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val delta = emb.where(col("vec_id") >= 250)
    val corpus = emb.where(col("vec_id") < 250)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    val dels = Seq(2L, 10L, 310L, 450L)
    val survivors = emb.where(!col("vec_id").isin(dels: _*))
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val oneShot = rows(Similarity.knnGraphExact(survivors, "id", "v",
      k = 6))
    def got(bounds: Seq[Long], d: Map[Int, Seq[Long]]) =
      rows(Streams.knnGraphMaintainChunked(delta, corpus, bounds, d,
          k = 6)
        .select(col("qid"), col("id"), col("sim"), col("rank")))
    // A: deletes split across the stream; B: different chunking,
    // all deletes at the end
    assert(got(Seq(400L), Map(0 -> Seq(2L, 10L, 310L),
      1 -> Seq(450L))) == oneShot, "interleaving A diverges")
    assert(got(Seq(300L, 400L), Map(2 -> dels)) == oneShot,
      "interleaving B diverges")
    // missing tombstone refuses loudly
    val store = Similarity.prepareKnnGraphStore(corpus, "vec_id",
      "embedding", k = 6)
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnGraphDelete(Seq(999999L).toDF("id"), store)
    }
    assert(ex.getMessage.contains("not in the store"))
  }

  test("QS43 gram-store takedown: repair re-derives surviving " +
      "minima (a dead owner's runner-up still dedups the future), " +
      "unowned grams become fresh, missing tombstones refuse") {
    import graft.operators.Dedup
    import spark.implicits._
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa"
    val tU = "unique umbrella uniform ultra under urban ultimate " +
      "unit used user utility quebec romeo sierra tango"
    // corpus: doc 1 owns tA's grams, doc 2 is its survivor duplicate
    // (marked dup at prepare-era, its keys recorded NOWHERE — the k2
    // hole); doc 3 is tU's ONLY owner
    val corpus = Seq((1L, tA), (2L, tA), (3L, tU))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "filler content entirely different from all the other " +
        "documents here to pad chunk zero with text"),
      (20L, tA),   // after the takedown of 1: must STILL dedup vs 2
      (21L, tU))   // after the takedown of 3: genuinely fresh
      .toDF("doc_id", "text")
    val out = Streams.substringTakedownChunked(delta, corpus,
        bounds = Seq(15L), deletesAfter = Map(0 -> Seq(1L, 3L)))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(10L, 20L, 21L))
    // the repair theorem: tA's first owner died, but survivor 2's
    // occurrence (never stored — it was a duplicate at ITS ingest)
    // must be re-derived as the new minimum, so doc 20 still dedups
    assert(out(20L)._2 > 0,
      "k2-transfer failed: the dead owner's runner-up no longer " +
        "dedups the future — the survivor-scan repair is broken")
    // the reset direction: tU's ONLY owner died — doc 21 is the
    // first occurrence among the living and must come through clean
    assert(out(21L) == (0L, 0L, tU),
      s"unowned grams must become fresh, got ${out(21L)}")
    // missing tombstone refuses loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.gramStoreDelete(Seq(999L).toDF("id"),
        Dedup.prepareGramStore(corpus, "doc_id", "text"), corpus,
        "doc_id", "text")
    }
    assert(ex.getMessage.contains("not in the live corpus"))
  }

  test("QS39 all-pairs takedown: a deleted doc stops pairing with " +
      "every later batch (== brute force over the epoch live sets), " +
      "already-emitted pairs stand, missing tombstones refuse") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    // exact all-pairs over the FULL population — the epoch predicate
    // is applied to this reference (sf0.001 truth: (5,450), (45,487),
    // (328,428), (349,411) are live pairs the takedown must kill)
    val all = rows(Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5))
    val dels = Set(5L, 45L, 328L, 349L)
    val expected = all.filter { case (a, b, _) =>
      (b >= 250 && b < 400) || (b >= 400 && !dels(a)) }
    assert(all.exists { case (a, b, _) => dels(a) && b >= 400 },
      "no qualifying pair touches the takedown set — vacuous gate")
    val got = rows(graft.streaming.Streams.allPairsTakedownChunked(
      docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
      bounds = Seq(400L), deletesAfter = Map(0 -> dels.toSeq.sorted),
      threshold = 0.5))
    assert(got == expected,
      "takedown stream diverges from the epoch-predicate reference")
    // the takedown genuinely changed the output vs the no-delete run
    val noDel = rows(graft.streaming.Streams.allPairsChunked(
      docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
      bounds = Seq(400L), threshold = 0.5))
    assert(noDel != got && (noDel -- got).forall {
      case (a, _, _) => dels(a) },
      "takedown difference is not exactly the tombstoned docs' pairs")
    // missing tombstone refuses loudly
    val ix = Dedup.prepareAllPairsIndex(
      docs.where(col("doc_id") < 250), "doc_id", "text", 0.5)
    val ex = intercept[IllegalArgumentException] {
      Dedup.allPairsDelete(Seq(999999L).toDF("id"), ix)
    }
    assert(ex.getMessage.contains("not in the index"))
  }

  test("takedowns hint the tombstones at their joins, not before the " +
      "live guard: no HintErrorLogger WARN, and the takedown joins " +
      "plan as BroadcastHashJoin (qs37 blocked graph, qs32 all-pairs)") {
    import graft.operators.{Dedup, Similarity}
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .where(col("vec_id") < 250).localCheckpoint(true)
    val cents = Similarity.kmeansCentroidsSeq(vv, "vec_id", "v", 8)
    val gs = Similarity.prepareBlockedGraphStore(vv, "vec_id", "v",
      cents, probe = 2, k = 6)
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val ix = Dedup.prepareAllPairsIndex(docs.where(col("doc_id") < 250),
      "doc_id", "text", 0.5)
    val hints = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("hint-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.contains("HintErrorLogger"))
          hints.add(e.getMessage.getFormattedMessage)
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    spark.listenerManager.register(listener)
    val (fromTakedowns, ix2) = try {
      Similarity.blockedGraphDelete(Seq(2L, 10L, 200L).toDF("id"), gs)
      val ix2 = Dedup.allPairsDelete(Seq(5L, 45L).toDF("id"), ix)
      ix2.pref.count()
      val n = hints.size
      // control: a hint on no join does log
      broadcast(spark.range(3).toDF()).count()
      (n, ix2)
    } finally {
      spark.listenerManager.unregister(listener)
      root.removeAppender("hint-probe")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(hints.size > fromTakedowns,
      "the log capture saw no hint WARN at all")
    assert(fromTakedowns == 0, s"takedowns logged hint errors: $hints")
    // every semi/anti join the takedowns ran, and the all-pairs
    // index's lazy anti joins, plan as broadcast hash joins
    val deadline = System.nanoTime() + 10000000000L
    def semiAnti = (plans.toArray.map(_.toString) ++ Seq(
        ix2.pref.queryExecution.executedPlan.toString,
        ix2.sh.queryExecution.executedPlan.toString))
      .flatMap(_.split("\n"))
      .filter(l => l.contains("LeftSemi") || l.contains("LeftAnti"))
    while (!semiAnti.exists(_.contains("LeftSemi")) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(semiAnti.exists(_.contains("LeftSemi")) &&
      semiAnti.exists(_.contains("LeftAnti")), semiAnti.mkString("\n"))
    assert(semiAnti.forall(_.contains("BroadcastHashJoin")),
      semiAnti.filterNot(_.contains("BroadcastHashJoin")).mkString("\n"))
  }

  test("crash inside the write→commit window: every store-stream " +
      "runner (qs8, qs10, qs19, qs20, qs32, qs34, qs35, qs37/38) " +
      "restarts from the committed store batches to the one-shot answer") {
    import graft.operators.{Dedup, Quality, Similarity}
    type DF = org.apache.spark.sql.DataFrame
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val vv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint(true)
    val corpus400 = docs.where(col("doc_id") < 400).cache()
    val corpus250 = docs.where(col("doc_id") < 250).cache()
    val embCorpus = emb.where(col("vec_id") < 250).cache()
    val queries = emb.where(col("vec_id") < 5)
    def slices(df: DF, id: String, bounds: Seq[Long]) =
      ((Long.MinValue +: bounds) :+ Long.MaxValue).sliding(2).map {
        case Seq(lo, hi) => df.where(col(id) >= lo && col(id) < hi)
      }.toSeq
    val docSlices = slices(docs.where(col("doc_id") >= 400), "doc_id",
      Seq(470L, 540L))
    val vecSlices = slices(emb.where(col("vec_id") >= 250), "vec_id",
      Seq(350L, 430L))
    def sunk(o: String) = spark.read.parquet(s"$o/batch=*")
    def serveRows(df: DF) = df.select("qid", "rank", "id", "sim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    def graphRows(df: DF) = df.select("qid", "id", "sim", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    // the answer restricted to the delta docs, on the columns it has
    def docCheck(oneShotAll: DF)(got: DF): Unit = {
      val oneShot = oneShotAll.where(col("doc_id") >= 400)
      val n = oneShot.columns.length
      def rows(df: DF) = df.collect().map(_.toSeq.take(n)).toSet
      assert(rows(got) == rows(oneShot))
    }
    // qs35: the final serve and every per-batch serve == the one-shot
    // beam over the exact graph of its prefix corpus
    def beam(c: DF) = serveRows(Similarity.beamSearchTopK(c, queries,
      Similarity.knnGraphExact(c, "vec_id", "embedding", k = 6),
      "vec_id", "embedding", entryIds = 0L to 3L, ef = 8, rounds = 6,
      k = 3))
    // qs37/38: op batches 0 = adds [250,350) + del {10 (corpus-era),
    // 300 (added THIS batch)}; 1 = adds [350,430) + del {311}; 2 =
    // adds [430,...)
    val cents = Similarity.kmeansCentroidsSeq(
      vv.where(col("vec_id") < 250), "vec_id", "v", 8)
    val opPlan = Seq((350L, Seq(10L, 300L)), (430L, Seq(311L)),
      (Long.MaxValue, Seq.empty[Long]))
    val opSlices = vecSlices.zip(opPlan).map { case (adds, (_, dels)) =>
      adds.select(col("vec_id"), col("embedding"), col("label"),
          lit("add").as("op"))
        .unionByName(emb.where(col("vec_id").isin(dels: _*))
          .select(col("vec_id"), col("embedding"), col("label"),
            lit("del").as("op")))
    }
    def liveAt(b: Int) = vv.where(col("vec_id") < opPlan(b)._1 &&
      !col("vec_id").isin(opPlan.take(b + 1).flatMap(_._2): _*))
    def hier(live: DF) = serveRows(Similarity.beamSearchTopKHier(live,
      vv.where(col("vec_id") < 5),
      Similarity.ivfSeededGraph(live, "vec_id", "v", cents, probe = 2,
        k = 6), "vec_id", "v",
      Similarity.cellMedoids(live, "vec_id", "v", cents), seedM = 3,
      ef = 8, rounds = 6, k = 3))
    def servesMatch(o: String)(oneShot: Int => Set[_]): Unit =
      for (b <- 0 to 2)
        assert(serveRows(spark.read.parquet(s"$o/serve/batch=$b")) ==
          oneShot(b), s"serve/batch=$b diverges from the one-shot " +
            "serve over its prefix")
    // (runner and its store, delta slices in arrival order,
    //  run(deltaDir, outDir) → the runner's answer, check(outDir, answer))
    val runners: Seq[(String, Seq[DF], (String, String) => DF,
        (String, DF) => Unit)] = Seq(
      ("qs8 paragraphStore", docSlices, (d, o) => {
        Streams.runEvolvingParagraphDedupStream(spark, d, corpus400, 0.8,
          o, compactEvery = 2); sunk(o) },
        (_, got) => docCheck(Dedup.paragraphDedup(docs, "doc_id", "text"))(
          got)),
      ("qs10 gramStore", docSlices, (d, o) => {
        Streams.runSubstringDedupStream(spark, d, corpus400, o,
          compactEvery = 2); sunk(o) },
        (_, got) => docCheck(Dedup.substringDedup(docs, "doc_id", "text"))(
          got)),
      ("qs19 chunkStore", docSlices, (d, o) => {
        Streams.runCdcDedupStream(spark, d, corpus400, o,
          compactEvery = 2); sunk(o) },
        (_, got) => docCheck(Dedup.cdcDedupStats(docs, "doc_id", "text"))(
          got)),
      ("qs20 lineStore", docSlices, (d, o) => {
        Streams.runC4CleanStream(spark, d, corpus400, o,
          compactEvery = 2); sunk(o) },
        (_, got) => docCheck(Quality.c4Clean(docs, "doc_id", "text"))(got)),
      // a replayed uncommitted dir would ingest its shingles twice:
      // duplicated shingle rows inflate ppjoin's __ix overlap counts →
      // false-positive pairs above threshold
      ("qs32 prefixIndex", slices(docs.where(col("doc_id") >= 250),
        "doc_id", Seq(350L, 430L)), (d, o) => {
        Streams.runAllPairsStream(spark, d, corpus250, 0.5, o,
          compactEvery = 2); sunk(o) },
        (_, got) => {
          def rows(df: DF) = df.collect().map(r => (r.getLong(0),
            r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
          assert(rows(got) == rows(Dedup.allPairsJaccard(docs, "doc_id",
            "text", threshold = 0.5).where(col("b") >= 250)))
        }),
      // a replayed uncommitted dir would ingest its vectors twice into a
      // duplicate-sensitive fold, displacing real edges (the
      // knnGraphIngest disjointness guard would trip)
      ("qs34 knnStore", vecSlices, (d, o) => Streams.runKnnGraphStream(
        spark, d, embCorpus, 6, o, compactEvery = 2),
        (_, got) => assert(graphRows(got) == graphRows(
          Similarity.knnGraphExact(emb, "vec_id", "embedding", k = 6)))),
      ("qs35 knnStore + serve", vecSlices, (d, o) =>
        Streams.runKnnGraphServeStream(spark, d, embCorpus, queries, 6,
          0L to 3L, 8, 6, 3, o, compactEvery = 2),
        (o, got) => {
          assert(serveRows(got) == beam(emb))
          servesMatch(o)(b => beam(emb.where(col("vec_id") <
            Seq(350L, 430L, Long.MaxValue)(b))))
        }),
      ("qs37/38 blockedStore op log + serve", opSlices, (d, o) =>
        Similarity.blockedGraphFromStore(
          Streams.runBlockedMaintainServeStream(spark, d, embCorpus,
            queries, cents, probe = 2, k = 6, seedM = 3, ef = 8,
            rounds = 6, kq = 3, o, compactEvery = 2)),
        (o, got) => {
          assert(graphRows(got) == graphRows(Similarity.ivfSeededGraph(
            liveAt(2), "vec_id", "v", cents, probe = 2, k = 6)))
          servesMatch(o)(b => hier(liveAt(b)))
        }))
    def crashAndRestart(name: String, in: Seq[DF],
        run: (String, String) => DF, check: (String, DF) => Unit): Unit = {
      val base = java.nio.file.Files.createTempDirectory("crash")
      val deltaDir = base.resolve("delta").toString
      val outDir = base.resolve("out").toString
      // three slices with distinct mtimes: three batches, in id order
      for (slice <- in) {
        slice.coalesce(1).write.mode("append").parquet(deltaDir)
        Thread.sleep(20)
      }
      run(deltaDir, outDir)
      // the crash: the last batch's store dir is written, its
      // checkpoint commit is lost. The restart must NOT replay that dir
      // — the stream reprocesses the batch itself
      val commits = new java.io.File(s"$outDir/_checkpoint/commits")
      val lastCommit = commits.listFiles.map(_.getName)
        .filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(lastCommit == 2L, s"$name: expected three batches")
      assert(new java.io.File(s"$outDir/store/batch=$lastCommit").exists,
        s"$name: the last batch's store dir must exist")
      for (f <- commits.listFiles
          if f.getName == lastCommit.toString ||
            f.getName == s".$lastCommit.crc")
        assert(f.delete())
      check(outDir, run(deltaDir, outDir))
    }
    // every runner runs, so one failure does not hide another
    val failed = runners.flatMap { case (name, in, run, check) =>
      scala.util.Try(crashAndRestart(name, in, run, check)).failed
        .toOption.map(e => s"$name: $e")
    }
    Seq(corpus400, corpus250, embCorpus).foreach(_.unpersist())
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("store reconcile REFUSES to wipe durable batches when the " +
      "checkpoint commit log is missing (ADVICE r17: relocated/" +
      "mis-pointed outDir must not read as a fresh start)") {
    val emb = graft.queries.T.t(spark, sf0001, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("ckguard")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    emb.where(col("vec_id") >= 250 && col("vec_id") < 300)
      .coalesce(1).write.mode("append").parquet(deltaDir)
    // fabricate a durable store batch with NO checkpoint beside it
    emb.where(col("vec_id") >= 250 && col("vec_id") < 300)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .write.parquet(s"$outDir/store/batch=0")
    val ex = intercept[IllegalStateException] {
      Streams.runKnnGraphStream(spark, deltaDir,
        emb.where(col("vec_id") < 250), 6, outDir, compactEvery = 2)
    }
    assert(ex.getMessage.contains("refusing to reconcile"))
    // the durable data survived the refusal
    assert(new java.io.File(s"$outDir/store/batch=0").exists,
      "the guard deleted the store anyway")
  }

  test("QS33 update-mode sink: each batch emits exactly the changed " +
      "keys (not appends, not complete snapshots), counts cumulative") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs33spec")
    val bounds = Seq(100L, 200L, 300L, 400L)
    val fin = Streams.runWordCountUpdateStream(spark, docs,
      base.resolve("in").toString, base.resolve("out").toString,
      bounds, minCount = 1L)
    // final state == the batch bigram count over the whole corpus
    val expected = docs.select(explode(
        graft.functions.TextFns.bigrams(col("text"))).as("g"))
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = fin.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == expected.keySet)
    assert(got.forall { case (g, (n, _)) => expected(g) == n })
    // per-batch update files: batch b must emit EXACTLY the keys in
    // slice b's input (update semantics: a counting aggregate changes
    // iff the key appears), with CUMULATIVE counts
    val edges = (Long.MinValue +: bounds) :+ Long.MaxValue
    val slices = edges.sliding(2).toSeq
    var running = Map.empty[String, Long]
    for ((Seq(lo, hi), b) <- slices.zipWithIndex) {
      val sliceCounts = docs
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .select(explode(
          graft.functions.TextFns.bigrams(col("text"))).as("g"))
        .groupBy("g").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      running = (running.keySet ++ sliceCounts.keySet).map { g =>
        g -> (running.getOrElse(g, 0L) + sliceCounts.getOrElse(g, 0L))
      }.toMap
      val emitted = spark.read
        .parquet(base.resolve(s"out/upd/batch=$b").toString)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(emitted.keySet == sliceCounts.keySet,
        s"batch $b emitted ${emitted.size} keys, slice has " +
          s"${sliceCounts.size} — not update semantics")
      assert(emitted.forall { case (g, n) => running(g) == n },
        s"batch $b emissions are not cumulative state")
      // a genuine update batch (after the first) re-emits keys seen
      // before AND is smaller than the full state — i.e. neither
      // append-only nor a complete snapshot
      if (b > 0) {
        assert(emitted.keys.exists(g =>
          running(g) > sliceCounts(g)), s"batch $b: no key updated")
        assert(emitted.size < running.size,
          s"batch $b re-emitted the whole state (complete, not update)")
      }
    }
  }

  test("QS33 reads its update sink without a glob path: no " +
      "FileNotFoundException WARN from the file-sink metadata probe") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs33warn")
    val out = base.resolve("out").toString
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("qs33-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN && e.getThrown != null &&
            e.getThrown.isInstanceOf[java.io.FileNotFoundException])
          probes.add(e.getThrown.getMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    val (fromRun, fromGlob) = try {
      Streams.runWordCountUpdateStream(spark, docs,
        base.resolve("in").toString, out, Seq(200L, 400L)).collect()
      val n = probes.size
      // control: a single glob path does log the probe's WARN
      spark.read.parquet(s"$out/upd/batch=*").count()
      (n, probes.size - n)
    } finally {
      root.removeAppender("qs33-probe")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(fromGlob > 0, "the log capture saw no probe WARN at all")
    assert(fromRun == 0, s"qs33 logged $fromRun probe WARN(s): $probes")
  }

  test("QS32 AllPairs stream face: any chunking == one-shot xd19 " +
      "restricted to delta-max pairs, and the real runner restarts " +
      "from the durable shingle appends") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 250)
    val corpus = docs.where(col("doc_id") < 250).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    // one-shot = the xd19 exact full-space join over the WHOLE corpus
    // (global df order) restricted to pairs whose larger id is a
    // delta doc — the frozen-order chunked store must reproduce it
    // exactly, because both are exact regardless of ranking order
    val oneShot = rows(graft.operators.Dedup.allPairsJaccard(
        docs, "doc_id", "text", threshold = 0.5)
      .where(col("b") >= 250))
    val one = rows(Streams.allPairsChunked(delta, corpus, Seq.empty,
      threshold = 0.5))
    val three = rows(Streams.allPairsChunked(delta, corpus,
      Seq(350L, 430L), threshold = 0.5))
    assert(one == oneShot && three == oneShot)
    // the gate proves nothing unless all three pair classes occur:
    // corpus×delta (the xd20 join), delta×delta WITHIN a chunk, and
    // delta×delta ACROSS chunks (the evolving-store property)
    assert(oneShot.exists(_._1 < 250), "no corpus-delta pairs")
    assert(oneShot.exists(p => p._1 >= 250), "no delta-delta pairs")
    assert(oneShot.exists(p => p._1 >= 250 &&
      ((p._1 < 350 && p._2 >= 350) || (p._1 < 430 && p._2 >= 430))),
      "no delta-delta pairs across the chunk bounds")
    // real file-stream runner across a mid-stream "crash": run 1 sees
    // only slice 1; the restart replays outDir/store/batch=0 through
    // appendShinglesToIndex (prefixes re-derive under the frozen df
    // order) and must finish identically
    val base = java.nio.file.Files.createTempDirectory("qs32")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.where(col("doc_id") < 350).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runAllPairsStream(spark, deltaDir, corpus, 0.5, outDir,
      compactEvery = 2)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 350 && col("doc_id") < 430).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 430).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runAllPairsStream(spark, deltaDir, corpus, 0.5, outDir,
      compactEvery = 2)
    corpus.unpersist()
    assert(rows(spark.read.parquet(s"$outDir/batch=*")) == oneShot)
    // a crash inside the write→commit window: the crash-window table
  }

  test("QS40 runner face: df re-blocking epochs inside the real " +
      "runner are ANSWER-INVARIANT at any cadence and across a " +
      "crash/restart boundary — a df epoch needs no durability") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 250)
    val corpus = docs.where(col("doc_id") < 250).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val oneShot = rows(graft.operators.Dedup.allPairsJaccard(
        docs, "doc_id", "text", threshold = 0.5)
      .where(col("b") >= 250))
    val base = java.nio.file.Files.createTempDirectory("qs40run")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    // run 1: epoch after EVERY batch — the index the crash abandons
    // carries a refreshed df order
    delta.where(col("doc_id") < 350).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runAllPairsStream(spark, deltaDir, corpus, 0.5, outDir,
      compactEvery = 2, reprepareEvery = 1)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 350).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    // restart at a DIFFERENT cadence: the replay rebuilds the store
    // under the prepare-era order (the epoch was never persisted) —
    // a different pruning model over the same documents, and the
    // emitted pairs must not move (df is only pruning power)
    Streams.runAllPairsStream(spark, deltaDir, corpus, 0.5, outDir,
      compactEvery = 2, reprepareEvery = 2)
    corpus.unpersist()
    assert(rows(spark.read.parquet(s"$outDir/batch=*")) == oneShot,
      "epoch-scheduled runner diverged from the brute-force answer")
  }

  test("QS20 C4 stream face: any chunking == one-shot xt26, and the " +
      "real runner restarts from the durable line-store appends") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getString(6))).toSet
    val oneShot = rows(graft.operators.Quality.c4Clean(
        docs, "doc_id", "text")
      .where(col("doc_id") >= 400))
    val one = rows(Streams.c4CleanChunked(delta, corpus, Seq.empty))
    val three = rows(Streams.c4CleanChunked(delta, corpus,
      Seq(470L, 540L)))
    assert(one == oneShot && three == oneShot)
    // the dedup stage must fire ACROSS the corpus/delta boundary, or
    // the evolving store proves nothing
    assert(one.exists(_._4 > 0), "no cross-boundary dup lines")
    // real file-stream runner across a mid-stream "crash"
    val base = java.nio.file.Files.createTempDirectory("qs20")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.where(col("doc_id") < 470).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runC4CleanStream(spark, deltaDir, corpus, outDir,
      compactEvery = 2)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 470 && col("doc_id") < 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runC4CleanStream(spark, deltaDir, corpus, outDir,
      compactEvery = 2)
    corpus.unpersist()
    assert(rows(spark.read.parquet(s"$outDir/batch=*")) == oneShot)
  }

  test("QS21 HLL stream face: any chunking in ANY ORDER == one-shot " +
      "xk16 (register max-merge is commutative)") {
    import graft.operators.Sketches
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val oneShot = rows(Sketches.hllDistinct(docs, "source", col("text"))
      .select(col("g"), col("v_zero"), col("s_sum"), col("est")))
    val one = rows(Streams.hllDistinctChunked(delta, corpus, Seq.empty))
    val three = rows(Streams.hllDistinctChunked(delta, corpus,
      Seq(470L, 540L)))
    assert(one == oneShot && three == oneShot)
    // REVERSED arrival order — qs19/qs20's monotone contract is not
    // even needed here: fold the high slice first
    var rs = Sketches.prepareRegStore(corpus, "source", col("text"))
    for ((lo, hi) <- Seq((540L, Long.MaxValue), (470L, 540L),
        (Long.MinValue, 470L)))
      rs = Sketches.hllIngest(
        delta.where(col("doc_id") >= lo && col("doc_id") < hi),
        rs, "source", col("text"))
    val reversed = rows(Sketches.hllEstimates(rs)
      .select(col("g"), col("v_zero"), col("s_sum"), col("est")))
    corpus.unpersist()
    assert(reversed == oneShot, "reversed-order fold diverged")
  }

  test("QS22 reservoir stream face: any chunking in ANY ORDER == " +
      "one-shot xk5 (md5-priority top-k merge is commutative), state " +
      "is k rows") {
    import graft.operators.Scale
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val oneShot = rows(Scale.fixedSample(docs, col("doc_id"), 100)
      .select(col("doc_id"), col("lang")))
    val one = rows(Streams.reservoirChunked(delta, corpus, Seq.empty))
    val three = rows(Streams.reservoirChunked(delta, corpus,
      Seq(470L, 540L)))
    assert(one == oneShot && three == oneShot)
    // reversed arrival order
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("lang"))
    var ss = Scale.prepareSampleStore(proj(corpus), col("doc_id"), 100)
    for ((lo, hi) <- Seq((540L, Long.MaxValue), (470L, 540L),
        (Long.MinValue, 470L)))
      ss = Scale.sampleIngest(
        proj(delta.where(col("doc_id") >= lo && col("doc_id") < hi)),
        ss, col("doc_id"))
    assert(ss.sample.count() == 100, "state exceeded k rows")
    val reversed = rows(ss.sample.orderBy(
      md5(col("doc_id").cast(org.apache.spark.sql.types.StringType)),
      col("doc_id")))
    corpus.unpersist()
    assert(reversed == oneShot, "reversed-order fold diverged")
    // the sample must actually straddle the corpus/delta boundary
    assert(oneShot.exists(_._1 >= 400L) && oneShot.exists(_._1 < 400L),
      "sample does not cross the boundary — fixture too weak")
  }

  test("QS10 runner: restart rebuilds the gram store from the durable " +
      "appends and finishes identically") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400).cache()
    val base = java.nio.file.Files.createTempDirectory("qs10")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.where(col("doc_id") < 470).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    // first run sees ONLY chunk 1, drains, stops — the "crash"
    Streams.runSubstringDedupStream(spark, deltaDir, corpus, outDir,
      compactEvery = 2)
    Thread.sleep(20) // distinct mtimes for deterministic batch order
    delta.where(col("doc_id") >= 470 && col("doc_id") < 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    // restart: the checkpoint skips batch 0; the store rebuilds from
    // outDir/store/batch=0 before batches 1-2 process
    Streams.runSubstringDedupStream(spark, deltaDir, corpus, outDir,
      compactEvery = 2)
    corpus.unpersist()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val oneShot = rows(graft.operators.Dedup.substringDedup(
        docs, "doc_id", "text")
      .where(col("doc_id") >= 400))
    assert(streamed == oneShot)
  }

  test("QS10 runner: TIERED gram store (parquet cold tier) == flat " +
      "store == one-shot, with in-memory blocks released at tierings") {
    // VERDICT r11 #8: compaction bounds rewrite cost but not store
    // SIZE; tiering spills the store to a parquet cold tier so memory
    // residency is O(delta) between tierings. Representation change
    // only — results must be bit-identical, which this asserts across
    // three batches with a tiering after every batch (including the
    // versioned-dir handoff: tier 2 writes while lazily reading tier
    // 1, then tier 1 is dropped).
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val delta = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400).cache()
    val base = java.nio.file.Files.createTempDirectory("qs10t")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    delta.where(col("doc_id") < 470).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 470 && col("doc_id") < 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    delta.where(col("doc_id") >= 540).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    Streams.runSubstringDedupStream(spark, deltaDir, corpus, outDir,
      compactEvery = 2, tierEvery = 1)
    // every store block released: the last batch ends with a tiering,
    // so only pre-existing blocks (the cached corpus) may remain
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pre
    assert(leaked.isEmpty, s"tiering leaked ${leaked.size} store blocks")
    // the final cold tier exists on disk and holds the full store
    val coldRows = spark.read.parquet(s"$outDir/store/cold_3").count()
    assert(coldRows > 0)
    corpus.unpersist()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val tiered = rows(spark.read.parquet(s"$outDir/batch=*"))
    val oneShot = rows(graft.operators.Dedup.substringDedup(
        docs, "doc_id", "text")
      .where(col("doc_id") >= 400))
    assert(tiered == oneShot)
    assert(tiered.exists(_._2 > 0), "no dup spans crossed batches")
  }

  test("QS9 runner: shard packing across batches == one-shot, with " +
      "restart recovering the token offset from the durable counts") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs9")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") < 180).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    // first run drains batch 0 only, then stops — the "crash"
    Streams.runShardPackStream(spark, deltaDir, 4096L, outDir)
    Thread.sleep(20) // distinct mtimes keep arrival doc_id-monotone
    docs.where(col("doc_id") >= 180 && col("doc_id") < 330).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    docs.where(col("doc_id") >= 330).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    // restart: batches 1-2 must derive their base from offsets/batch=0
    Streams.runShardPackStream(spark, deltaDir, 4096L, outDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val oneShot = rows(graft.operators.Scale.packShards(
      docs.select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).as("n_tok")),
      "doc_id", "n_tok", 4096L))
    assert(streamed == oneShot)
    assert(streamed.nonEmpty && streamed.values.max > 0)
  }

  test("QS12 runner: sequence packing across batches == one-shot, " +
      "with restart recovering the token offset and straddling " +
      "samples reassembling from adjacent batches' pieces") {
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val base = java.nio.file.Files.createTempDirectory("qs12")
    val deltaDir = base.resolve("delta").toString
    val outDir = base.resolve("out").toString
    docs.where(col("doc_id") < 180).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runPackSequencesStream(spark, deltaDir, 64L, outDir)
    Thread.sleep(20)
    docs.where(col("doc_id") >= 180 && col("doc_id") < 330).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Thread.sleep(20)
    docs.where(col("doc_id") >= 330).coalesce(1)
      .write.mode("append").parquet(deltaDir)
    Streams.runPackSequencesStream(spark, deltaDir, 64L, outDir)
    // reassemble samples from the piece-level sink (straddling
    // samples combine pieces written by different batches)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .groupBy("sample")
      .agg(count(lit(1)).as("n_docs"), sum("piece_len").as("n_tok"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("piece")))),
          x => x.getField("piece")), " ").as("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("sample", "n_docs", "n_tok", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
    val oneShot = rows(
      graft.SparkEntry.queries("xk11_pack_sequences")(spark, sf0001))
    assert(rows(streamed) == oneShot)
    assert(oneShot.nonEmpty)
  }

  test("checkpoint restart: stateful dedup recovers state and the " +
      "file sink stays exactly-once") {
    // The 100 TB failure mode: an executor/driver dies mid-stream and
    // the job restarts from the checkpoint. If dedup state were lost,
    // keys seen before the kill would re-emit after it; if the file
    // sink replayed a committed batch, rows would double. Both show up
    // as duplicate user_ids in the output.
    val ev = graft.queries.T.t(spark, sf0001, "events")
    val in = java.nio.file.Files.createTempDirectory("g_restart_in")
    val out = java.nio.file.Files.createTempDirectory("g_restart_out")
    val ckpt = java.nio.file.Files.createTempDirectory("g_restart_ck")
    // 4 time-ordered files; the same user_ids recur across files, so
    // state from batch 0 is load-bearing for batches 1-3
    ev.repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(in.toString)
    def start() = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .select("user_id").dropDuplicates("user_id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()
    val q1 = start()
    try {
      // let at least one batch commit, then kill mid-stream
      val deadline = System.nanoTime() + 60e9.toLong
      while ((q1.lastProgress == null || q1.lastProgress.batchId < 1)
          && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(q1.lastProgress != null && q1.lastProgress.batchId >= 1,
        "first batch never committed")
    } finally q1.stop()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out.toString)
      .collect().map(_.getLong(0)).toSeq
    assert(got.distinct.sorted == got.sorted,
      "duplicate user_ids: state lost at restart or sink replayed a batch")
    val want = ev.select("user_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.sorted == want)
  }

  test("flatMapGroupsWithState running totals cover all users") {
    val streamed = Streams.runToMemory(spark, sf0001,
      df => Streams.runningUserTotals(df).toDF(), "t_state")
    // final state per user (last emitted row) must match batch totals
    val finalState = streamed.groupBy("user_id")
      .agg(max("n").as("n"))
    val batch = graft.queries.T.t(spark, sf0001, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(asMap(finalState) == asMap(batch))
  }

  test("QS28 streaming PII redaction: the stateless narrow scrub " +
      "through a REAL file stream == the batch xt29 result") {
    import graft.operators.Quality
    import graft.queries.TextAnalysisQueries
    val docs = graft.queries.T.t(spark, sf0001, "documents")
      .where(col("doc_id") >= 400)
    val base = java.nio.file.Files.createTempDirectory("qs28")
    val in = base.resolve("in").toString
    val sink = base.resolve("res").toString
    docs.repartition(4).write.parquet(in)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Quality.redactPii(
        TextAnalysisQueries.plantPii(stream), "doc_id", "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", base.resolve("_ck").toString)
      .format("parquet").option("path", sink).start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getString(5))).toSet
    val streamed = rows(spark.read.parquet(sink))
    val batch = rows(Quality.redactPii(
      TextAnalysisQueries.plantPii(docs), "doc_id", "text"))
    assert(streamed == batch,
      "streamed scrub diverged from the batch xt29 transform")
  }

  test("QS27 transitions stream face: chunked boundary pairs == " +
      "one-shot xe4; a crafted cross-chunk bigram is not lost") {
    import graft.operators.Events
    val ev = graft.queries.T.t(spark, sf0001, "events")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    val oneShot = rows(Events.typeTransitions(ev, "user_id", "ts",
      "event_id", "event_type"))
    val chunked = rows(Streams.transitionsChunked(ev,
      Seq(300L, 600L, 800L)))
    assert(chunked == oneShot, "chunked transitions diverged")
    // crafted: one user, events straddling the chunk edge — the
    // (view→purchase) bigram EXISTS ONLY across the boundary
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val crafted = Seq(
      (1L, ts(0), 5L, "view"), (2L, ts(1), 5L, "purchase"),
      (3L, ts(2), 5L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = rows(Streams.transitionsChunked(crafted, Seq(2L, 3L)))
    assert(got == Set(("view", "purchase", 1L, 1L),
      ("purchase", "view", 1L, 1L)), s"$got")
  }

  /** The QS26 crash/restart check: slices 0-3 stream and the query
    * stops (the "crash"), slices 4-7 arrive and the query restarts on
    * the same checkpoint; the answer must equal the one-shot batch xe5
    * rollup. `first` and `second` name the checkpoint file manager of
    * each run (None: the program's own, installed by
    * `withRocksDBStateStore`).
    */
  private def qs26CrashRestart(first: Option[String],
      second: Option[String]): Unit = {
    import graft.operators.Events
    val ev = graft.queries.T.t(spark, sf0001, "events")
    val base = java.nio.file.Files.createTempDirectory("qs26")
    val stage = base.resolve("stage").toString
    val in = base.resolve("in")
    val sink = base.resolve("res").toString
    val ck = base.resolve("_ck").toString
    // 8 ts-range slices staged, then delivered in two waves around a
    // "crash": slices 0-3 before, 4-7 after the restart
    ev.repartitionByRange(8, col("ts")).write.parquet(stage)
    val slices = new java.io.File(stage).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(in)
    def deliver(files: Seq[java.io.File], mt0: Long): Unit =
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = in.resolve(f.getName)
        java.nio.file.Files.copy(f.toPath, dst)
        dst.toFile.setLastModified(mt0 + i * 60000L)
      }
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    def runOnce(manager: Option[String]): Unit = {
      manager.foreach(spark.conf.set(key, _))
      try Streams.withRocksDBStateStore(spark) {
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "2").parquet(in.toString)
        val q = Streams.sessionStatsTransform(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ck)
          .format("parquet").option("path", sink).start()
        try q.processAllAvailable() finally q.stop()
      } finally manager.foreach(_ => spark.conf.unset(key))
    }
    deliver(slices.take(4).toSeq, 1700000000000L)
    runOnce(first) // drains 2 batches, stops — the "crash"
    val mid = Streams.sessionStatsFinal(spark.read.parquet(sink))
      .agg(sum("n_events")).head.getLong(0)
    deliver(slices.drop(4).toSeq, 1700000100000L)
    runOnce(second) // restart: RocksDB state + source offsets resume
    val got = Streams.sessionStatsFinal(spark.read.parquet(sink))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = Events.sessionStats(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(mid > 0 && mid < want.values.map(_._2).sum,
      s"crash was not mid-stream (saw $mid events before restart)")
    assert(got == want,
      "restarted automaton diverged from the one-shot batch rollup")
  }

  test("QS26 fMGWS session automaton: crash mid-stream + restart on " +
      "the same checkpoint == one-shot batch xe5 rollup") {
    qs26CrashRestart(None, None)
  }

  test("QS26 checkpoint written under Spark's default checkpoint " +
      "manager restarts under the fork-free one, and vice versa, to " +
      "the one-shot batch xe5 rollup") {
    val sparkDefault = classOf[org.apache.spark.sql.execution.streaming
      .checkpointing.FileContextBasedCheckpointFileManager].getName
    qs26CrashRestart(Some(sparkDefault), None)
    qs26CrashRestart(None, Some(sparkDefault))
  }

  test("QS31 transformWithState session automaton: crash mid-stream " +
      "+ restart on the same checkpoint == one-shot batch xe5 rollup") {
    import graft.operators.Events
    val ev = graft.queries.T.t(spark, sf0001, "events")
    val base = java.nio.file.Files.createTempDirectory("qs31")
    val stage = base.resolve("stage").toString
    val in = base.resolve("in")
    val sink = base.resolve("res").toString
    val ck = base.resolve("_ck").toString
    ev.repartitionByRange(8, col("ts")).write.parquet(stage)
    val slices = new java.io.File(stage).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(in)
    def deliver(files: Seq[java.io.File], mt0: Long): Unit =
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = in.resolve(f.getName)
        java.nio.file.Files.copy(f.toPath, dst)
        dst.toFile.setLastModified(mt0 + i * 60000L)
      }
    def runOnce(): Unit = Streams.withRocksDBStateStore(spark) {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(in.toString)
      val q = Streams.sessionStatsTransformTws(stream).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("parquet").option("path", sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    deliver(slices.take(4).toSeq, 1700000000000L)
    runOnce() // drains 2 batches, stops — the "crash"
    val mid = Streams.sessionStatsFinal(spark.read.parquet(sink))
      .agg(sum("n_events")).head.getLong(0)
    deliver(slices.drop(4).toSeq, 1700000100000L)
    runOnce() // restart: named ValueState + source offsets resume
    val got = Streams.sessionStatsFinal(spark.read.parquet(sink))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = Events.sessionStats(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(mid > 0 && mid < want.values.map(_._2).sum,
      s"crash was not mid-stream (saw $mid events before restart)")
    assert(got == want,
      "restarted StatefulProcessor diverged from the batch rollup")
  }

  test("QS23 EWMA stream face: (ts,id)-ordered chunking == one-shot " +
      "xe1 on the delta; driver log is ts-monotone in event_id") {
    import graft.operators.Events
    val ev = graft.queries.T.t(spark, sf0001, "events")
    // the chunking contract's precondition on the driver log
    import org.apache.spark.sql.expressions.Window
    val disorder = ev
      .withColumn("__p", lag(col("ts"), 1)
        .over(Window.partitionBy(lit(1)).orderBy("event_id")))
      .where(col("__p") > col("ts")).count()
    assert(disorder == 0, "event_id order is not ts order — the " +
      "event_id chunked harness would violate the monotone contract")
    val delta = ev.where(col("event_id") >= 600)
    val corpus = ev.where(col("event_id") < 600).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    val oneShot = rows(Events.ewmaAnomalies(ev, "user_id", "ts",
        "event_id", "value")
      .where(col("id") >= 600))
    val one = rows(Streams.ewmaChunked(delta, corpus, Seq.empty))
    val four = rows(Streams.ewmaChunked(delta, corpus,
      Seq(700L, 800L, 900L)))
    corpus.unpersist()
    assert(one == oneShot, "single-chunk resume diverged from one-shot")
    assert(four == oneShot, "4-chunk resume diverged from one-shot")
  }

  test("QS30 left-outer stream-stream join: real multi-batch replay " +
      "with heartbeats == batch LEFT JOIN (nulls flushed at eviction)") {
    val ev = graft.queries.T.t(spark, sf0001, "events")
    val in = java.nio.file.Files.createTempDirectory("graft_qs30s_in")
    val sink = java.nio.file.Files.createTempDirectory("graft_qs30s_out")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val got = rows(Streams.runViewPurchaseLeftJoinStream(spark, ev,
      in.toString, sink.resolve("res").toString,
      sink.resolve("_ck").toString))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"),
        col("event_id").as("view_id"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("pts"),
        col("event_id").as("buy_id"))
    val want = rows(v.join(p, col("user_id") === col("p_uid") &&
        col("pts") > col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"), "left_outer")
      .select(col("user_id"), col("view_id"), col("buy_id")))
    assert(got == want, "streamed left join diverged from batch")
    assert(want.exists(_._3 == -1L),
      "fixture has no unmatched views — the outer side is untested")
    assert(want.exists(_._3 != -1L),
      "fixture has no matches — the inner side is untested")
  }

  test("QS29 CUSUM stream face: (ts,id)-ordered chunking == one-shot " +
      "xe7 on the delta (resets straddle chunk boundaries)") {
    import graft.operators.Events
    val ev = graft.queries.T.t(spark, sf0001, "events")
    val delta = ev.where(col("event_id") >= 600)
    val corpus = ev.where(col("event_id") < 600).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5))).toSet
    val oneShot = rows(Events.cusumAnomalies(ev, "user_id", "ts",
        "event_id", "value")
      .where(col("id") >= 600))
    val one = rows(Streams.cusumChunked(delta, corpus, Seq.empty))
    val four = rows(Streams.cusumChunked(delta, corpus,
      Seq(700L, 800L, 900L)))
    corpus.unpersist()
    assert(one == oneShot, "single-chunk resume diverged from one-shot")
    assert(four == oneShot, "4-chunk resume diverged from one-shot")
  }

  test("QS24 funnel stream face: chunked automaton == one-shot " +
      "relational xe3 derivation") {
    import graft.operators.Events
    val ev = graft.queries.T.t(spark, sf0001, "events")
    val steps = Seq("view", "click", "purchase")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        .toSet
    val oneShot = rows(Events.funnel(ev, "user_id", "ts", "event_id",
      "event_type", steps))
    val delta = ev.where(col("event_id") >= 600)
    val corpus = ev.where(col("event_id") < 600).cache()
    val one = rows(Streams.funnelChunked(delta, corpus, steps,
      Seq.empty))
    val four = rows(Streams.funnelChunked(delta, corpus, steps,
      Seq(700L, 800L, 900L)))
    corpus.unpersist()
    assert(one == oneShot, s"single-chunk automaton != relational: " +
      s"$one vs $oneShot")
    assert(four == oneShot, s"4-chunk automaton != relational: $four")
  }

  test("QS25 cohort stream face: any chunking in ANY ORDER == " +
      "one-shot xe2 (distinct-union is commutative)") {
    import graft.operators.Events
    val ev = graft.queries.T.t(spark, sf0001, "events")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val oneShot = rows(Events.cohortRetention(ev, "user_id", "ts"))
    val delta = ev.where(col("event_id") >= 600)
    val corpus = ev.where(col("event_id") < 600).cache()
    val three = rows(Streams.cohortChunked(delta, corpus,
      Seq(700L, 800L)))
    assert(three == oneShot)
    // REVERSED arrival order — the order-free contract
    var st = Events.prepareCohortStore(corpus, "user_id", "ts")
    for ((lo, hi) <- Seq((800L, Long.MaxValue), (700L, 800L),
        (Long.MinValue, 700L)))
      st = Events.cohortIngest(
        delta.where(col("event_id") >= lo && col("event_id") < hi),
        st, "user_id", "ts")
    val reversed = rows(Events.cohortCounts(st))
    corpus.unpersist()
    assert(reversed == oneShot, "reversed-order fold diverged")
  }

  test("QS8 compaction is a physical rewrite: compacting every batch, " +
      "every 2 or never, over 3 chunks or 1, gives the same cleaned " +
      "output and the same final store") {
    import graft.operators.{Dedup, ParagraphSplitter}
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val corpus = docs.where(col("doc_id") < 400)
    def run(bounds: Seq[Long], compactEvery: Int) = {
      var ps = Dedup.prepareParagraphStore(corpus, "doc_id", "text",
        ParagraphSplitter.FixedWindow(), threshold = 0.8, shingleN = 2,
        maxBucket = Dedup.AutoBucket)
      val cleaned = ((400L +: bounds) :+ Long.MaxValue).sliding(2)
        .zipWithIndex.map { case (Seq(lo, hi), i) =>
          val ing = Dedup.paragraphDedupIngest(docs.where(
            col("doc_id") >= lo && col("doc_id") < hi), ps, "doc_id", "text")
          val rows = ing.result
            .select("doc_id", "clean_text", "n_para", "n_kept").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3))).toSet
          ps = ing.next
          if ((i + 1) % compactEvery == 0)
            ps = Dedup.compactParagraphStore(ps)
          rows
        }.reduce(_ ++ _)
      (cleaned, ps.store.count())
    }
    val base = run(Seq(470L, 540L), Int.MaxValue)
    assert(base._1.nonEmpty)
    assert(run(Seq(470L, 540L), 1) == base)
    assert(run(Seq(470L, 540L), 2) == base)
    assert(run(Seq.empty, 1) == base)
  }

  test("QS10 gram-store size law: after chunked ingest the store holds " +
      "exactly the one-shot distinct l-gram keys of corpus and deltas, " +
      "flat or tiered to parquet after every batch") {
    import graft.operators.{Dedup, HashFns}
    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("qs10law").toString
    def storeRows(tier: Boolean) = {
      var gs = Dedup.prepareGramStore(docs.where(col("doc_id") < 400),
        "doc_id", "text")
      for (((lo, hi), i) <- Seq((400L, 470L), (470L, 540L),
          (540L, Long.MaxValue)).zipWithIndex) {
        gs = Dedup.substringDedupIngest(docs.where(col("doc_id") >= lo &&
          col("doc_id") < hi), gs, "doc_id", "text").next
        if (tier) gs = Dedup.tierGramStore(gs, s"$dir/tier_$i")
      }
      gs.grams.count()
    }
    val law = docs.select(posexplode(HashFns.gramKeys(col("text"), 40)))
      .select("col").distinct().count()
    assert(storeRows(tier = false) == law)
    assert(storeRows(tier = true) == law)
  }
}
