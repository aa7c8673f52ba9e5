package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import T._

/** SURVEY.md §2.10 / Appendix A QS1–QS3: the windowing semantics of the
  * streaming layer, run over the static `events` table so the DuckDB
  * oracle applies. The streaming runner itself (graft.streaming) is
  * verified by parity with these batch plans.
  *
  * events.ts is parquet timestamp[ns]; Spark reads µs → the oracle casts
  * `ts::TIMESTAMP` (ns→µs truncation) so boundary comparisons agree.
  */
object StreamBatchQueries {

  val all: Seq[Q] = Seq(
    // Tumbling 1h window, epoch-aligned — window(ts, '1 hour').start ==
    // date_trunc('hour', ts).
    Q("qs1_tumbling",
      s"""SELECT CAST(DATE_TRUNC('hour', ts::TIMESTAMP) AS TIMESTAMP) AS w,
         |COUNT(*) AS c, ${dsumSql("value")} AS s
         |FROM events GROUP BY w ORDER BY w""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("c"), dsum(col("value")).as("s"))
        .select(col("window.start").as("w"), col("c"), col("s"))
        .orderBy("w")
    },

    // Sliding 1h window every 15min. Every event lands in exactly 4
    // windows; the oracle materializes them via a k∈{0..3} cross join on
    // the 15-min bucket (make_timestamp keeps it a naive TIMESTAMP).
    Q("qs2_sliding",
      s"""SELECT w, COUNT(*) AS c, ${dsumSql("value")} AS s FROM (
         |  SELECT MAKE_TIMESTAMP(
         |    (CAST(FLOOR(EPOCH(ts::TIMESTAMP) / 900) AS BIGINT) - t.k)
         |      * 900 * 1000000) AS w,
         |    value
         |  FROM events, RANGE(4) t(k)
         |) GROUP BY w ORDER BY w""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("c"), dsum(col("value")).as("s"))
        .select(col("window.start").as("w"), col("c"), col("s"))
        .orderBy("w")
    },

    // 30-min-gap sessionization per user. Spark side uses the native
    // session_window; the oracle replays the same semantics with the
    // LAG/cumulative-flag pattern (new session when gap >= 30min —
    // session_window treats [ts, ts+gap) as the extension window).
    Q("qs3_session",
      """SELECT user_id, session_start, n FROM (
        |  SELECT user_id, MIN(ts2) AS session_start, COUNT(*) AS n
        |  FROM (
        |    SELECT user_id, ts2, SUM(flag) OVER (PARTITION BY user_id
        |      ORDER BY ts2, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |    FROM (
        |      SELECT user_id, event_id, ts::TIMESTAMP AS ts2,
        |        CASE WHEN LAG(ts::TIMESTAMP) OVER (PARTITION BY user_id
        |               ORDER BY ts::TIMESTAMP, event_id) IS NULL
        |             OR ts::TIMESTAMP >= LAG(ts::TIMESTAMP) OVER (
        |               PARTITION BY user_id
        |               ORDER BY ts::TIMESTAMP, event_id)
        |               + INTERVAL 30 MINUTE
        |        THEN 1 ELSE 0 END AS flag
        |      FROM events
        |    )
        |  ) GROUP BY user_id, sid
        |) ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"), col("n"))
        .orderBy("user_id", "session_start")
    },

    // Stream-stream interval join semantics (QS4): purchases within 1h
    // AFTER a view by the same user. The streaming runner
    // (Streams.viewPurchaseJoin: two watermarked branches + event-time
    // range join, bounded state) is parity-tested against this batch
    // plan in StreamingSpec.
    Q("qs4_stream_join",
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
        |       p.event_id AS buy_id
        |FROM events v JOIN events p ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts::TIMESTAMP > v.ts::TIMESTAMP
        | AND p.ts::TIMESTAMP <= v.ts::TIMESTAMP + INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, buy_id""".stripMargin) { (s, d) =>
      val e = t(s, d, "events")
      val v = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"),
          col("event_id").as("view_id"))
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("ts").as("pts"),
          col("event_id").as("buy_id"))
      v.join(p, col("user_id") === col("p_uid") &&
          col("pts") > col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("view_id"), col("buy_id"))
        .orderBy("user_id", "view_id", "buy_id")
    },

    // QS4b (VERDICT r10 #8 / r11 #7): the SAME interval join executed
    // through the REAL streaming path — time-ordered file slices (the
    // slicing the Bench qs4_stream_rocksdb harness replays), RocksDB
    // state store with changelog checkpointing, multi-batch
    // micro-batch execution — materialized and hash-gated against the
    // identical DuckDB oracle as the batch twin qs4. An append-mode
    // stream-stream INNER join emits each match in the batch where
    // both sides have arrived, so a full replay reproduces the batch
    // join exactly; this entry turns that claim from a spec assertion
    // into an oracle row. Bench-EXCLUDED (Bench.benchExclude): the
    // dedicated qs4_stream_rocksdb harness already times this exact
    // pipeline once per session with a startup/steady-state split.
    Q("qs4b_stream_rocksdb_join",
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
        |       p.event_id AS buy_id
        |FROM events v JOIN events p ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts::TIMESTAMP > v.ts::TIMESTAMP
        | AND p.ts::TIMESTAMP <= v.ts::TIMESTAMP + INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, buy_id""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val in = java.nio.file.Files.createTempDirectory("graft_qs4b_in")
      val sink = java.nio.file.Files.createTempDirectory("graft_qs4b_out")
      val ck = sink.resolve("_ck")
      try {
        // same slice construction as the Bench streaming harness: 8
        // time-range files, 2 per trigger → a genuinely multi-batch
        // stream whose later batches match against RocksDB state built
        // by earlier ones
        ev.repartitionByRange(8, col("ts"))
          .write.mode("overwrite").parquet(in.toString)
        // FileStreamSource replays files in MODIFICATION-TIME order,
        // and the 8 writer tasks finish in arbitrary order — an
        // out-of-order slice arrives after the watermark already
        // passed its rows and gets dropped as late (observed: 19/40
        // joins lost at sf0.01). Stamp mod-times ascending in part-
        // file (= ts-range) order so the replay is the in-order
        // arrival a production time-ordered stream delivers.
        val parts = in.toFile.listFiles
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        parts.zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1700000000000L + i * 60000L)
        }
        graft.streaming.Streams.withRocksDBStateStore(s) {
          val stream = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "2").parquet(in.toString)
          val q = graft.streaming.Streams.viewPurchaseJoin(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ck.toString)
            .format("parquet").option("path", sink.resolve("res").toString)
            .start()
          try q.processAllAvailable() finally q.stop()
        }
      } finally {
        // drop the events copy eagerly (the big half); the small sink
        // stays for the caller's materialization of the returned frame
        try {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(in)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      s.read.parquet(sink.resolve("res").toString)
        .orderBy("user_id", "view_id", "buy_id")
    },

    // QS30: the LEFT-OUTER face of the stream-stream interval join —
    // every view, with its within-1h purchases or NULL if none ever
    // arrives — through the real multi-batch runner (time-ordered file
    // slices + far-future heartbeat slices so the trailing windows'
    // unmatched views actually flush; see
    // Streams.viewPurchaseLeftJoin). The heartbeats are REAL
    // 'view'/'purchase' rows (Catalyst pushes the type filters below
    // EventTimeWatermark, so a neutral type would be filtered before
    // it could advance anything) carrying user_id = -1; the sink's
    // user_id >= 0 filter drops them, so the output hash-gates
    // against the batch LEFT JOIN the oracle runs on the clean
    // table. Ordering pins nulls identically in both engines via
    // COALESCE(buy_id, -1).
    Q("qs30_stream_left_join",
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
        |       p.event_id AS buy_id
        |FROM events v LEFT JOIN events p ON p.user_id = v.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts::TIMESTAMP > v.ts::TIMESTAMP
        | AND p.ts::TIMESTAMP <= v.ts::TIMESTAMP + INTERVAL 1 HOUR
        |WHERE v.event_type = 'view'
        |ORDER BY user_id, view_id, COALESCE(buy_id, -1)""".stripMargin) {
      (s, d) =>
      val ev = t(s, d, "events")
      val in = java.nio.file.Files.createTempDirectory("graft_qs30_in")
      val sink = java.nio.file.Files.createTempDirectory("graft_qs30_out")
      val out =
        try graft.streaming.Streams.runViewPurchaseLeftJoinStream(s, ev,
          in.toString, sink.resolve("res").toString,
          sink.resolve("_ck").toString)
        finally {
          // drop the events copy eagerly (the qs4b hygiene); the sink
          // stays for the caller's materialization
          try {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(in)
            try walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
            finally walk.close()
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      out.orderBy(col("user_id"), col("view_id"),
        coalesce(col("buy_id"), lit(-1L)))
    },

    // Stream-static enrichment join (QS5): purchases pick up the
    // static per-user profile (first event id + lifetime count). Runs
    // the SAME Streams.enrichPurchases the streaming runner uses —
    // StreamingSpec asserts stream==batch parity on it.
    Q("qs5_stream_static",
      """WITH u AS (SELECT user_id, MIN(event_id) AS first_event,
        |            COUNT(*) AS n_events FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, u.first_event, u.n_events
        |FROM events e JOIN u USING (user_id)
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val e = t(s, d, "events")
      val profile = e.groupBy("user_id")
        .agg(min("event_id").as("first_event"),
          count(lit(1)).as("n_events"))
      graft.streaming.Streams.enrichPurchases(e, profile)
        .orderBy("event_id")
    },

    // Streaming incremental near-dup (QS6): docs ≥400 arrive as a
    // stream and are near-dup-checked against the static <400 corpus.
    // Runs the SAME Streams.nearDupsAgainstCorpus the foreachBatch
    // runner applies per micro-batch (StreamingSpec asserts the
    // chunked stream reproduces this batch result exactly); oracle =
    // independent exact cross-slice Jaccard SQL.
    Q("qs6_stream_neardup",
      DedupQueries.jaccardOracleSql(0.5,
        pairCond = "x.doc_id < 400 AND y.doc_id >= 400")) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.nearDupsAgainstCorpus(
          docs.where(col("doc_id") >= 400),
          docs.where(col("doc_id") < 400), threshold = 0.5)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy("a", "b")
    },

    // Streaming paragraph dedup (QS7): docs ≥400 arrive as a stream
    // and have their 6-word spans deduped against the <400 corpus's
    // span store (xd10's exact+near machinery in the qs6 delta-vs-
    // corpus shape). Runs the SAME Streams.paragraphDedupAgainstCorpus
    // the foreachBatch runner applies per micro-batch (StreamingSpec
    // asserts the chunked stream reproduces this batch result
    // exactly); oracle = full SQL replay of the cross-slice pipeline:
    // corpus window-min store → delta exact anti-join → inverted-index
    // bigram join vs the store (a superset of J≥0.8 candidates, so the
    // SQL answer is exact) → reassemble delta docs.
    Q("qs7_stream_paragraph_dedup",
      raw"""WITH d0 AS (
        |  SELECT doc_id, LIST_FILTER(
        |    STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> t <> '') AS fw
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    doc_id * 100000 + i AS pid,
        |    ARRAY_TO_STRING(
        |      fw[(CAST(i AS INT)*6+1):(CAST(i AS INT)*6+6)], ' ') AS ptext,
        |    LEN(fw[(CAST(i AS INT)*6+1):(CAST(i AS INT)*6+6)]) AS nw
        |  FROM d0, UNNEST(RANGE(0,
        |    CAST(CEIL(LEN(fw)/6.0) AS BIGINT))) AS t(i)
        |), store AS (
        |  SELECT * FROM (SELECT p.*,
        |    MIN(pid) OVER (PARTITION BY ptext) AS fp
        |    FROM p WHERE doc_id < 400)
        |  WHERE pid = fp
        |), e1 AS (
        |  SELECT * FROM p WHERE doc_id >= 400
        |    AND ptext NOT IN (SELECT ptext FROM store)
        |), toksq AS (
        |  SELECT pid, GENERATE_SUBSCRIPTS(fw2, 1) AS i, UNNEST(fw2) AS w
        |  FROM (SELECT pid, STRING_SPLIT(ptext, ' ') AS fw2
        |        FROM e1 WHERE nw >= 2)
        |), shq AS (
        |  SELECT DISTINCT a.pid, a.w || ' ' || b.w AS s
        |  FROM toksq a JOIN toksq b ON b.pid = a.pid AND b.i = a.i + 1
        |), tokss AS (
        |  SELECT pid, GENERATE_SUBSCRIPTS(fw2, 1) AS i, UNNEST(fw2) AS w
        |  FROM (SELECT pid, STRING_SPLIT(ptext, ' ') AS fw2
        |        FROM store WHERE nw >= 2)
        |), shs AS (
        |  SELECT DISTINCT a.pid, a.w || ' ' || b.w AS s
        |  FROM tokss a JOIN tokss b ON b.pid = a.pid AND b.i = a.i + 1
        |), sizesq AS (SELECT pid, COUNT(*) AS n FROM shq GROUP BY pid),
        |sizess AS (SELECT pid, COUNT(*) AS n FROM shs GROUP BY pid),
        |inter AS (
        |  SELECT q.pid AS qd, s.pid AS sd, COUNT(*) AS ix
        |  FROM shq q JOIN shs s ON q.s = s.s GROUP BY 1, 2
        |), drops AS (
        |  SELECT DISTINCT qd AS pid FROM inter
        |  JOIN sizesq sq ON sq.pid = qd JOIN sizess ss ON ss.pid = sd
        |  WHERE CAST(ix AS DOUBLE) / (sq.n + ss.n - ix) >= 0.8
        |), s2 AS (
        |  SELECT * FROM e1 WHERE pid NOT IN (SELECT pid FROM drops)
        |)
        |SELECT doc_id,
        |  ARRAY_TO_STRING(LIST(ptext ORDER BY idx), ' ') AS clean_text,
        |  np.n_para, COUNT(*) AS n_kept
        |FROM s2 JOIN (SELECT doc_id AS d2, COUNT(*) AS n_para
        |              FROM p WHERE doc_id >= 400 GROUP BY 1) np
        |  ON d2 = doc_id
        |GROUP BY doc_id, np.n_para
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.paragraphDedupAgainstCorpus(
        docs.where(col("doc_id") >= 400),
        docs.where(col("doc_id") < 400), threshold = 0.8)
    },

    // EVOLVING-store streaming paragraph dedup (QS8): docs ≥400 arrive
    // in three doc_id-ordered chunks; each chunk dedups against the
    // <400 corpus PLUS every earlier chunk's absorbed spans (near-
    // dropped spans stay in the store as candidate killers, exactly as
    // one-shot semantics keep them). Under monotone arrival the union
    // of chunk outputs equals the one-shot xd10 pipeline over ALL docs
    // restricted to the delta — so the oracle is xd10's full SQL
    // replay (span explosion → global window-min exact stage →
    // inverted-index bigram join → drop later members → reassemble)
    // with the output filtered to doc_id ≥ 400. StreamingSpec asserts
    // the chunked==one-shot identity and the runner's restart
    // recovery; the SQL here is chunk-count-blind, which is the point.
    Q("qs8_evolving_paragraph_dedup",
      raw"""WITH d0 AS (
        |  SELECT doc_id, LIST_FILTER(
        |    STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> t <> '') AS fw
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    doc_id * 100000 + i AS pid,
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
        |              FROM p WHERE doc_id >= 400 GROUP BY 1) np
        |  ON d2 = doc_id
        |WHERE doc_id >= 400
        |GROUP BY doc_id, np.n_para
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.evolvingParagraphDedupChunked(
        docs.where(col("doc_id") >= 400),
        docs.where(col("doc_id") < 400), threshold = 0.8,
        bounds = Seq(450L, 550L))
    },

    // Streaming shard packing (QS9): doc_id-ordered chunks continue
    // the global token prefix sum — each chunk packs with base =
    // tokens of all earlier chunks, so any chunking reproduces the
    // one-shot xk6 assignment (associativity; the carried state is
    // ONE Long). The oracle is chunk-count-blind: the naive global
    // running sum over the whole corpus, per doc.
    Q("qs9_stream_pack",
      raw"""WITH d AS (
        |  SELECT doc_id, LEN(LIST_FILTER(
        |    STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> t <> ''))
        |    AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tok AS c0
        |  FROM d
        |)
        |SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
        |  CAST(c0 // 4096 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.streaming.Streams.packShardsChunked(t(s, d, "documents"),
        budget = 4096, bounds = Seq(150L, 400L, 3000L))
    },

    // Streaming exact substring dedup (the xd12 stream face): docs
    // < 400 are the prepared gram store, docs >= 400 arrive in two
    // doc_id-ordered chunks through the evolving store. Monotone
    // arrival + associative min-merge make the chunked union equal
    // one-shot xd12 over the WHOLE corpus restricted to the delta —
    // which is exactly what the oracle replays (on real grams; the
    // stream store is hash-only, see Dedup.GramStore).
    Q("qs10_stream_substring_dedup",
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
        |WHERE d.doc_id >= 400
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.substringDedupChunked(
        docs.where(col("doc_id") >= 400),
        docs.where(col("doc_id") < 400),
        bounds = Seq(450L))
    },

    // qs43: qs10 with DOCUMENT TAKEDOWNS — deletion for the LOSSY
    // first-occurrence gram store, the third repair class of the
    // evolving-store family (verbatim prefix store: free; top-k
    // vector stores: delta-proportional re-rank; lossy min-store:
    // survivor-scan re-derivation — gramStoreDelete's scaladoc holds
    // the why). Chunks [250,400) then [400,∞); after chunk 0 docs
    // 70, 98 (corpus-era) and 297, 393 (ingested IN chunk 0) are
    // taken down — chosen so the takedown MOVES chunk-2's answer at
    // BOTH gated SFs (70/393 own later-duplicated first occurrences
    // at sf0.01, 98/297 at sf0.1 — DuckDB-probed; the sets are
    // disjoint per SF, so the union exercises repair at each). Emitted outputs are history (the qs39 epoch
    // discipline), so the oracle replays the first-occurrence island
    // chain TWICE: chunk-1 docs dedup against everything live at
    // their ingest (doc_id < 400, pre-takedown), chunk-2 docs
    // against the surviving population — including the k2-TRANSFER
    // case the repair exists for (a gram whose dead owner's
    // runner-up lives in a survivor must still dedup future
    // occurrences).
    Q("qs43_stream_substring_takedown", {
      val dels = Seq(70L, 98L, 297L, 393L).mkString(", ")
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |${substringEpochSql("1", "doc_id < 400", 250, 400)},
         |${substringEpochSql("2", s"doc_id NOT IN ($dels)", 400,
             Long.MaxValue)}
         |SELECT * FROM (
         |  SELECT * FROM out1 UNION ALL SELECT * FROM out2
         |) ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.substringTakedownChunked(
        docs.where(col("doc_id") >= 250),
        docs.where(col("doc_id") < 250),
        bounds = Seq(400L),
        deletesAfter = Map(0 -> Seq(70L, 98L, 297L, 393L)))
    },

    // qs19: streaming CDC block dedup (the xd15 stream face): the
    // <400 corpus seeds the first-occurrence chunk store, docs >= 400
    // ingest in doc_id-ordered chunks; monotone arrival + associative
    // min-merge make the chunked union equal one-shot xd15 over the
    // whole corpus restricted to the delta — the oracle IS xd15's
    // replay text (shared verbatim via cdcOracleSql, contracts cannot
    // drift) with the rollup restricted to the delta slice. The real
    // file-stream runner (Streams.runCdcDedupStream: durable store
    // deltas, LSM compaction) is StreamingSpec-gated against this.
    Q("qs19_stream_cdc_dedup",
      DedupQueries.cdcOracleSql("WHERE doc_id >= 400")) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.cdcDedupChunked(
        docs.where(col("doc_id") >= 400),
        docs.where(col("doc_id") < 400),
        bounds = Seq(450L))
    },

    // qs32: streaming AllPairs/PPJoin (the xd20 stream face — the
    // prefix-filter dedup family's entry in the qs matrix): the <250
    // corpus freezes the df order and seeds the prefix index, docs
    // >= 250 ingest in doc_id-ordered chunks, each batch pairing
    // against corpus ∪ earlier deltas ∪ itself — so the union equals
    // brute-force all-pairs restricted to pairs whose LARGER id is a
    // delta doc. The oracle is xd20's jaccardOracleSql text with only
    // the pair restriction widened to the evolving contract (x < y
    // instead of x < 250): the hash match proves the frozen-order
    // prefix pruning loses nothing ACROSS batches, delta-delta pairs
    // included. The real file-stream runner
    // (Streams.runAllPairsStream: durable shingle deltas, LSM
    // compaction, restart identity) is StreamingSpec-gated against
    // this chunked twin.
    Q("qs32_stream_allpairs",
      DedupQueries.jaccardOracleSql(0.5,
        pairCond = "x.doc_id < y.doc_id AND y.doc_id >= 250")) {
      (s, d) =>
        val docs = t(s, d, "documents")
        graft.streaming.Streams.allPairsChunked(
            docs.where(col("doc_id") >= 250),
            docs.where(col("doc_id") < 250),
            bounds = Seq(400L), threshold = 0.5)
          .select(col("a"), col("b"), round(col("j"), 4).as("j"))
          .orderBy("a", "b")
    },

    // qs39: qs32 with DOCUMENT TAKEDOWNS — deletion for the
    // set-similarity store, completing the evolving-store deletion
    // family beside qs38's vector stores. A different theorem class:
    // the prefix index holds every doc's rows VERBATIM (nothing
    // lossy), so a takedown is pure row removal with nothing to
    // repair, and every later batch pairs against exactly the
    // survivors (prefix pruning is lossless under the one frozen
    // shingle order; df keeps the deleted docs' contributions — a
    // frozen pruning model, the allPairsJaccardAgainst contract).
    // Chunks: [250,400) then [400,∞); after chunk 0 docs 26, 45
    // (corpus-era) and 267, 393 (ingested IN chunk 0) are taken
    // down. Emitted pairs are output, not state — the oracle states
    // the epoch predicate directly: pairs with larger id in chunk 0
    // are over the full pre-takedown population; pairs with larger
    // id ≥ 400 exclude any takedown doc as the smaller side (at
    // sf0.01 this removes 4 real pairs: (26,455), (45,413),
    // (267,413), (393,420); at sf0.1 the same takedown set happens
    // to touch no qualifying pair — the theorem gates either way).
    Q("qs39_stream_allpairs_takedown",
      DedupQueries.jaccardOracleSql(0.5,
        pairCond = "x.doc_id < y.doc_id AND ((y.doc_id >= 250 AND " +
          "y.doc_id < 400) OR (y.doc_id >= 400 AND " +
          "x.doc_id NOT IN (26, 45, 267, 393)))")) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.allPairsTakedownChunked(
          docs.where(col("doc_id") >= 250),
          docs.where(col("doc_id") < 250),
          bounds = Seq(400L),
          deletesAfter = Map(0 -> Seq(26L, 45L, 267L, 393L)),
          threshold = 0.5)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy("a", "b")
    },

    // qs40: qs32 with a RE-BLOCKING EPOCH — the vector store's
    // centroid-refresh discipline (reblockGraphStore / `ScaleStress`
    // leg qs36) applied to the prefix index: after chunk 0 the index
    // re-prepares under FRESH document frequencies over everything
    // accumulated so far (one blocked rebuild — df recount +
    // per-doc prefix re-derivation, never store²). The oracle is
    // qs32's exact brute-force replay UNCHANGED: df is a pruning
    // model, not an answer input (any one consistent shingle order
    // keeps prefix pruning lossless — the allPairsJaccardAgainst
    // theorem), so the epoch must leave every emitted pair
    // IDENTICAL. What it buys is pruning power under drift: a
    // delta-era boilerplate shingle frozen at df=0 sits in every new
    // doc's prefix (Σ prefix-df² fanout, the stale-hot-cell
    // analogue); refreshed df ranks it common and it leaves the
    // prefixes — the volume law OperatorsSpec's "allpairs re-blocking
    // epoch" test counts and gates.
    Q("qs40_stream_allpairs_reprepare",
      DedupQueries.jaccardOracleSql(0.5,
        pairCond = "x.doc_id < y.doc_id AND y.doc_id >= 250")) {
      (s, d) =>
        val docs = t(s, d, "documents")
        graft.streaming.Streams.allPairsReprepareChunked(
            docs.where(col("doc_id") >= 250),
            docs.where(col("doc_id") < 250),
            bounds = Seq(400L), reprepareAfter = Set(0),
            threshold = 0.5)
          .select(col("a"), col("b"), round(col("j"), 4).as("j"))
          .orderBy("a", "b")
    },

    // qs20: streaming C4 cleaning (the xt26 stream face, on the qs19
    // skeleton): the <400 corpus seeds the first-occurrence LINE
    // store, docs >= 400 clean in doc_id-ordered chunks; page rules
    // and counts are per-doc local, the corpus-wide line dedup
    // reduces to the store's associative min-merge, so any chunking
    // == one-shot xt26 over the whole corpus restricted to the delta
    // — the oracle IS xt26's replay text (shared verbatim via
    // c4OracleSql) with the rollup restricted. The real file-stream
    // runner (Streams.runC4CleanStream: durable store deltas, LSM
    // compaction) is StreamingSpec-gated against this.
    Q("qs20_stream_c4_clean",
      TextAnalysisQueries.c4OracleSql("WHERE doc_id >= 400")) {
      (s, d) =>
        val docs = t(s, d, "documents")
        graft.streaming.Streams.c4CleanChunked(
          docs.where(col("doc_id") >= 400),
          docs.where(col("doc_id") < 400),
          bounds = Seq(450L))
    },

    // qs21: streaming approximate distinct (the xk16 stream face):
    // the <400 corpus seeds the HLL register store, docs >= 400 fold
    // in chunks. Register MAX-merge is associative AND commutative —
    // STRONGER than qs19/qs20's monotone-arrival contracts: any
    // chunking in ANY ORDER equals the one-shot sketch (spec-gated
    // incl. a reversed-order replay). State is <= groups x 256 rows
    // forever; the oracle is xk16's replay verbatim minus the
    // exact-distinct rider (exact streaming distinct would carry the
    // whole value set — the sketch is the point).
    Q("qs21_stream_hll_distinct",
      ScaleQueries.hllOracleSql(withExact = false)) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.streaming.Streams.hllDistinctChunked(
        docs.where(col("doc_id") >= 400),
        docs.where(col("doc_id") < 400),
        bounds = Seq(450L))
    },

    // qs22: streaming fixed-k reservoir sample (the xk5 stream face):
    // the <400 corpus seeds the k-row sample store, docs >= 400 fold
    // in chunks. The md5-priority formulation makes the reservoir
    // MERGEABLE — top-k(top-k(A) ∪ top-k(B)) == top-k(A ∪ B),
    // associative and commutative (the qs21 order-free class; a
    // counter-based reservoir is order-dependent and ungateable) — so
    // any chunking in any order equals one-shot xk5 over the whole
    // corpus, and the state is k rows forever. Oracle = xk5's replay
    // verbatim (shared via reservoirOracleSql).
    Q("qs22_stream_reservoir", ScaleQueries.reservoirOracleSql) {
      (s, d) =>
        val docs = t(s, d, "documents")
        graft.streaming.Streams.reservoirChunked(
          docs.where(col("doc_id") >= 400),
          docs.where(col("doc_id") < 400),
          bounds = Seq(450L))
    },

    // Streaming quality-classifier scoring (QS11, the xt18 stream
    // face): the NB model is fit ONCE on the <400 static corpus and
    // FROZEN; docs >= 400 arrive as the stream and are scored against
    // it — the "score the incoming crawl with yesterday's classifier"
    // op. Frozen model + stateless scoring ⇒ any chunking equals this
    // one-shot batch shape (StreamingSpec drives the real file-stream
    // runner and asserts it). Oracle = xt18's replay with the model
    // CTEs restricted to the <400 slice and scoring to the delta.
    Q("qs11_stream_quality",
      s"""WITH tk AS (
         |  SELECT doc_id, UNNEST(LIST_FILTER(
         |    STRING_SPLIT_REGEX(LOWER(text), '\\s+'), t -> t <> '')) AS w
         |  FROM documents WHERE doc_id >= 400
         |), tr AS (
         |  SELECT source, UNNEST(LIST_FILTER(
         |    STRING_SPLIT_REGEX(LOWER(text), '\\s+'), t -> t <> '')) AS w
         |  FROM documents
         |  WHERE doc_id < 400 AND source IN ('src0', 'src1')
         |), cw AS (
         |  SELECT w, COUNT(*) FILTER (source = 'src0') AS cp,
         |         COUNT(*) FILTER (source = 'src1') AS cn
         |  FROM tr GROUP BY w
         |), tot AS (
         |  SELECT COUNT(*) FILTER (source = 'src0') AS np,
         |         COUNT(*) FILTER (source = 'src1') AS nn,
         |         COUNT(DISTINCT w) AS v
         |  FROM tr
         |), dc AS (
         |  SELECT COUNT(*) FILTER (source = 'src0') AS dp,
         |         COUNT(*) FILTER (source = 'src1') AS dn
         |  FROM documents
         |  WHERE doc_id < 400 AND source IN ('src0', 'src1')
         |), lp AS (
         |  SELECT doc_id, CAST(
         |      LN(CAST(COALESCE(cp, 0) + 1 AS DOUBLE) / (np + v))
         |    - LN(CAST(COALESCE(cn, 0) + 1 AS DOUBLE) / (nn + v))
         |    AS DECIMAL(28,12)) AS l
         |  FROM tk LEFT JOIN cw USING (w) CROSS JOIN tot
         |), agg AS (
         |  SELECT doc_id, COUNT(*) AS n_tok, SUM(l) AS sl
         |  FROM lp GROUP BY doc_id
         |)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  ${T.r4Sql("LN(CAST(dp AS DOUBLE) / dn) + CAST(sl AS DOUBLE)")}
         |    AS log_odds,
         |  CAST((LN(CAST(dp AS DOUBLE) / dn) + CAST(sl AS DOUBLE)) > 0
         |    AS INT) AS pred
         |FROM agg CROSS JOIN dc ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Quality.scoreNb(docs.where(col("doc_id") >= 400),
        graft.operators.Quality.fitNb(docs.where(col("doc_id") < 400)))
    },

    // Streaming fixed-length sample packing (QS12, the xk11 stream
    // face): doc_id-ordered chunks continue the global token prefix
    // sum via packSequences(base=…) — associativity makes ANY chunking
    // reproduce the one-shot piece assignment, samples straddling a
    // chunk boundary reassembling from both chunks' pieces downstream.
    // The oracle is xk11's chunk-count-blind naive-window replay,
    // SHARED BY REFERENCE so the two contracts can never drift.
    Q("qs12_stream_pack_sequences",
      ScaleQueries.all.find(_.name == "xk11_pack_sequences").get
        .oracle.get) { (s, d) =>
      graft.streaming.Streams.packSequencesChunked(
        t(s, d, "documents"), seqLen = 64, bounds = Seq(150L, 400L))
    },

    // Streaming Bloom decontamination (QS13, the xt19 stream face):
    // the incoming-crawl delta (doc_id >= 400) screened against a
    // FROZEN benchmark Bloom index built once on the static corpus
    // (doc_id < 400) — per batch, a narrow bitset prefilter + an
    // exact verify join sized by the contamination. Stateless per
    // batch, so the batch contract below IS the stream result for any
    // chunking (StreamingSpec runs the real file-stream runner);
    // the oracle replays the exact sketch-free overlap.
    Q("qs13_stream_bloom_decontam",
      """WITH tok AS (
        |  SELECT doc_id,
        |    LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
        |                t -> t <> '') AS fw
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    ARRAY_TO_STRING(fw[i+1 : i+4], ' ') AS s
        |  FROM tok, UNNEST(RANGE(0, GREATEST(LEN(fw) - 3, 0))) u(i)
        |)
        |SELECT tr.doc_id AS train_id,
        |  COUNT(DISTINCT tr.s) AS n_shingles,
        |  COUNT(DISTINCT te.doc_id) AS n_bench_docs
        |FROM (SELECT * FROM sh WHERE doc_id >= 400) tr
        |JOIN (SELECT * FROM sh WHERE doc_id < 400) te ON te.s = tr.s
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Decontaminate.reportAgainst(
          graft.operators.Decontaminate.bloomIndex(
            docs.where(col("doc_id") < 400), "doc_id", "text", n = 4),
          docs.where(col("doc_id") >= 400), "doc_id", "text")
        .orderBy("train_id")
    },

    // Streaming heavy hitters (QS14, the xk12 stream face): per
    // doc_id-ordered chunk ONE bounded MG summary folds into driver
    // state via the mergeable combine (the sketch IS the state —
    // fixed-size however long the stream runs), then one exact
    // recount thresholds the accumulated candidates. The mergeable-
    // summaries bound holds on any merge tree, so the result equals
    // one-shot xk12 on any chunking; the oracle is xk12's direct
    // count-everything replay, SHARED BY REFERENCE so the two
    // contracts can never drift.
    Q("qs14_stream_heavy_hitters",
      ScaleQueries.all.find(_.name == "xk12_heavy_hitters").get
        .oracle.get) { (s, d) =>
      graft.streaming.Streams.heavyHittersChunked(
        t(s, d, "documents"), bounds = Seq(150L, 400L))
    },

    // qs34: streaming EXACT kNN-graph maintenance (the xs15
    // traversal's ingestion path): the <250 corpus seeds the graph
    // store, vectors >= 250 fold in vec_id-ordered chunks; the
    // bounded top-k merge is associative AND commutative —
    // top-k(top-k(S1) ∪ S2) == top-k(S1 ∪ S2) under (sim DESC, id)
    // — so ANY chunking in ANY order equals one-shot knnGraphExact
    // over the full corpus for EVERY node's list, old nodes' lists
    // absorbing new arrivals exactly (the qs21/qs22 order-free state
    // class). Oracle: the full all-pairs rank-<=k edge derivation.
    // The real file-stream runner (Streams.runKnnGraphStream:
    // durable vector appends, order-free restart re-ingest, LSM
    // compaction) is StreamingSpec-gated against this.
    Q("qs34_stream_knn_graph",
      """WITH e AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT id, v, SQRT(LIST_INNER_PRODUCT(v, v)) AS n FROM e
        |), p AS (
        |  SELECT x.id AS id, y.id AS nb,
        |    LIST_INNER_PRODUCT(x.v, y.v) / (x.n * y.n) AS c
        |  FROM nrm x JOIN nrm y ON x.id <> y.id
        |)
        |SELECT id, CAST(rnk AS INT) AS rank, nb, ROUND(c, 4) AS sim
        |FROM (
        |  SELECT id, nb, c, ROW_NUMBER() OVER (
        |    PARTITION BY id ORDER BY c DESC, nb) AS rnk
        |  FROM p
        |) WHERE rnk <= 6 ORDER BY id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.streaming.Streams.knnGraphChunked(
          emb.where(col("vec_id") >= 250),
          emb.where(col("vec_id") < 250),
          bounds = Seq(400L, 1000L), k = 6)
        .select(col("qid").as("id"), col("rank"), col("id").as("nb"),
          round(col("sim"), 4).as("sim"))
        .orderBy("id", "rank")
    },

    // qs35: QUERY-WHILE-INGESTING — the qs34 × xs15 composition (the
    // vector-store serving loop, the one seam neither gates alone:
    // serving and ingestion touching the SAME evolving store). The
    // <250 corpus seeds the kNN-graph store; vectors >= 250 fold in
    // vec_id-ordered chunks; AFTER EACH chunk a pinned 5-query beam
    // set serves against the store's current graph (eager traversal —
    // genuinely mid-ingest). Gate: the FINAL serve. The final store ==
    // one-shot knnGraphExact on any chunking (the qs34 order-free
    // property), so the final serve == one-shot beamSearchTopK over
    // the exact graph — replayed here by the xs15b unrolled-CTE
    // traversal over the RAW embeddings corpus (deg-6 graph, entries
    // 0-3, ef=8, 6 rounds, top-3 cosine rerank). Intermediate serves
    // are chunking-dependent by nature; StreamingSpec gates each as
    // traversal-identical to the one-shot beam over its own prefix
    // graph, and the real runner (Streams.runKnnGraphServeStream:
    // per-batch serve sink, committed-batch restart) is gated there
    // too.
    Q("qs35_stream_knn_serve",
      SimilarityQueries.beamOracleSql(deg = 6, nEntries = 4, ef = 8,
        rounds = 6, nQ = 5, k = 3,
        corpusCtes =
          """corpus AS (
            |  SELECT vec_id AS id, embedding::DOUBLE[] AS v
            |  FROM embeddings
            |)""".stripMargin)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.streaming.Streams.knnGraphServeChunked(
          emb.where(col("vec_id") >= 250),
          emb.where(col("vec_id") < 250),
          // two chunks, both non-empty at BOTH gated SFs (the earlier
          // Seq(400, 1000) cut left an empty third chunk at sf0.01 —
          // an ingest+serve pass over nothing, pure bench weight)
          bounds = Seq(400L), k = 6,
          queries = emb.where(col("vec_id") < 5),
          entryIds = 0L to 3L, ef = 8, rounds = 6, kq = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // qs36: streaming BLOCKED-graph maintenance — the qs34 fold fed by
    // ivfSeededGraph's cell-blocked candidates (centroids frozen at
    // prepare, the qs32 frozen-parameter discipline): the 100 TB
    // maintenance path for the xs15/xs17 navigation structure, where
    // qs34's exact store pays |B|·N all-pairs per batch and this one
    // pays |B|·(probe·load). Each directed candidate x→y arises
    // exactly once — when the later vector ingests, iff x's primary
    // cell is among y's probes — so the candidate set equals the
    // one-shot blocked build's on ANY chunking, and the order-free
    // top-k merge lands every chunking on the identical graph. Cells
    // here are the SQL-replayable label centroids (the xs17 model
    // discipline), so the oracle replays the whole maintained result:
    // centroid means → probe-2 assignment → shared-cell candidates →
    // rank ≤ 6.
    Q("qs36_stream_blocked_knn",
      blockedEdgesOracleSql(deg = 6, probe = 2)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = graft.operators.Similarity
        .labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val vv = emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      graft.streaming.Streams.blockedGraphChunked(
          vv.where(col("vec_id") >= 250), vv.where(col("vec_id") < 250),
          bounds = Seq(400L), "vec_id", "v", cents, probe = 2, k = 6)
        .select(col("qid").as("id"), col("rank"), col("id").as("nb"),
          round(col("sim"), 4).as("sim"))
        .orderBy("id", "rank")
    },

    // qs37: HIERARCHICAL SERVE OVER THE EVOLVING BLOCKED STORE — the
    // qs36 × xs18 composition, i.e. the full production vector-store
    // loop: cell-blocked delta-proportional maintenance (|B|·probe·
    // load per batch, never all-pairs) serving the two-layer descent,
    // with the medoid entry tier REFRESHED PER EPOCH over the store's
    // current vectors (entry points must track the evolving corpus).
    // The <250 corpus seeds the blocked store under frozen full-table
    // label centroids; vectors >= 250 fold in two chunks; after each
    // chunk the medoid layer recomputes and a pinned 5-query set
    // descends (seedM=3, ef=8, 6 rounds, top-3). Gate: the FINAL
    // serve — final store == one-shot ivfSeededGraph (qs36 theorem),
    // final medoids == one-shot cellMedoids (per-cell argmax is
    // history-free), so the final serve == xs18's one-shot hier beam
    // over the full corpus, replayed by the same blocked-beam CTE
    // chain. Intermediate serves are chunking-dependent by nature;
    // StreamingSpec gates each as traversal-identical to the one-shot
    // hier beam over its own prefix store, and the real runner
    // (Streams.runBlockedMaintainServeStream) restarts to the
    // identical final store + serve there.
    Q("qs37_stream_hier_serve",
      SimilarityQueries.blockedBeamOracleSql(deg = 6, probe = 2,
        ef = 8, rounds = 6, nQ = 5, k = 3, seedM = 3)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = graft.operators.Similarity
        .labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val vv = emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      graft.streaming.Streams.blockedServeChunked(
          vv.where(col("vec_id") >= 250), vv.where(col("vec_id") < 250),
          bounds = Seq(400L), "vec_id", "v", cents, probe = 2, k = 6,
          queries = vv.where(col("vec_id") < 5), seedM = 3, ef = 8,
          rounds = 6, kq = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // qs42: ATTRIBUTE-FILTERED hierarchical serve over the evolving
    // blocked store — the qs37 loop with xs19's filtered harvest,
    // completing the filtered-query surface for the production
    // vector-store composition: maintenance stays cell-blocked and
    // delta-proportional, navigation (medoid seeds + descent) stays
    // predicate-independent over the evolving graph, and each serve
    // returns top-3 among visited nodes sharing the query's label
    // (ef over-fetched 8→16 for the 1/10-selectivity labels — the
    // xs19 dial). Final store == one-shot blocked build (qs36) and
    // the harvest is deterministic, so the final filtered serve ==
    // the one-shot filtered hier beam — replayed by the blocked-beam
    // CTE with seedM ROW_NUMBER + label equality in the final rank.
    Q("qs42_stream_hier_serve_filtered",
      SimilarityQueries.blockedBeamOracleSql(deg = 6, probe = 2,
        ef = 16, rounds = 6, nQ = 5, k = 3, seedM = 3,
        filterLabel = true)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = graft.operators.Similarity
        .labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val vv = emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"),
        col("label"))
      graft.streaming.Streams.blockedServeFilteredChunked(
          vv.where(col("vec_id") >= 250), vv.where(col("vec_id") < 250),
          bounds = Seq(400L), "vec_id", "v", "label", cents,
          probe = 2, k = 6, queries = vv.where(col("vec_id") < 5),
          seedM = 3, ef = 16, rounds = 6, kq = 3)
        .select(col("qid"), col("rank"), col("id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // qs38: blocked-graph maintenance with TOMBSTONE DELETES — the
    // order-free theorem WITH REMOVALS: ingest two delta chunks and
    // delete a pinned mix of corpus-era ids (2, 10, 11), an id
    // ingested earlier in the SAME stream (310 — a delta vector
    // already woven into other nodes' lists), and a same-epoch id
    // (450) interleaved mid-stream and at the end. blockedGraphDelete
    // repairs exactly: deleted lists drop, survivors WITHOUT a
    // deleted neighbor are provably untouched (removing ids below a
    // list's k-th candidate can't change its top-k), survivors WITH
    // one re-rank from the surviving blocked candidate generator —
    // so the final store == one-shot ivfSeededGraph over exactly the
    // SURVIVORS under the frozen cells, which the oracle replays by
    // the xs17 blocked-edge chain restricted to surviving ids.
    // Centroids stay full-table (the model froze before the deletes;
    // a takedown must not move other vectors' cells — re-balancing
    // after mass deletion is reblockGraphStore's job, spec-gated).
    Q("qs38_stream_blocked_delete",
      blockedEdgesOracleSql(deg = 6, probe = 2,
        except = Seq(2L, 10L, 11L, 310L, 12L, 450L))) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = graft.operators.Similarity
        .labelCentroids(emb, "label", "embedding")
        .select(col("clabel").cast("long"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val vv = emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      graft.streaming.Streams.blockedGraphMaintainChunked(
          vv.where(col("vec_id") >= 250), vv.where(col("vec_id") < 250),
          bounds = Seq(400L),
          deletesAfter = Map(0 -> Seq(2L, 10L, 11L, 310L),
            1 -> Seq(12L, 450L)),
          "vec_id", "v", cents, probe = 2, k = 6)
        .select(col("qid").as("id"), col("rank"), col("id").as("nb"),
          round(col("sim"), 4).as("sim"))
        .orderBy("id", "rank")
    },

    // qs41: tombstone deletes in the EXACT kNN-graph stream — qs38's
    // order-free-with-removals theorem carried to the exact store
    // (the deletion face of qs34's runner family): same pinned delete
    // mix (corpus-era 2/10/11, the earlier-ingested delta 310
    // mid-stream; 12 and the same-epoch 450 at the end), repaired by
    // knnGraphDelete — deleted lists drop, survivors without a
    // deleted neighbor are PROVABLY untouched (removing ids below a
    // list's k-th candidate cannot change its top-k), survivors with
    // one re-rank against all survivors (|affected|·N — the exact
    // store's inherent cost class; the blocked store's
    // |affected|·probe·load version is qs38). Final store == one-shot
    // knnGraphExact over exactly the SURVIVORS, replayed by qs34's
    // all-pairs rank chain restricted to surviving ids.
    Q("qs41_stream_knn_delete",
      """WITH e AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |  WHERE vec_id NOT IN (2, 10, 11, 310, 12, 450)
        |), nrm AS (
        |  SELECT id, v, SQRT(LIST_INNER_PRODUCT(v, v)) AS n FROM e
        |), p AS (
        |  SELECT x.id AS id, y.id AS nb,
        |    LIST_INNER_PRODUCT(x.v, y.v) / (x.n * y.n) AS c
        |  FROM nrm x JOIN nrm y ON x.id <> y.id
        |)
        |SELECT id, CAST(rnk AS INT) AS rank, nb, ROUND(c, 4) AS sim
        |FROM (
        |  SELECT id, nb, c, ROW_NUMBER() OVER (
        |    PARTITION BY id ORDER BY c DESC, nb) AS rnk
        |  FROM p
        |) WHERE rnk <= 6 ORDER BY id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.streaming.Streams.knnGraphMaintainChunked(
          emb.where(col("vec_id") >= 250),
          emb.where(col("vec_id") < 250),
          bounds = Seq(400L),
          deletesAfter = Map(0 -> Seq(2L, 10L, 11L, 310L),
            1 -> Seq(12L, 450L)),
          k = 6)
        .select(col("qid").as("id"), col("rank"), col("id").as("nb"),
          round(col("sim"), 4).as("sim"))
        .orderBy("id", "rank")
    },

    // qs33: the UPDATE-mode sink gate (§2.10's last sink-mode row —
    // qs26/qs31 deliberately avoid update mode via strictly-increasing
    // emissions): unwatermarked streaming BIGRAM count through a real
    // update-mode foreachBatch sink over 5 pinned doc_id slices. The
    // sink discipline itself is the gated data: final n = the key's
    // LAST emitted count (== the batch count over the corpus) and
    // n_updates = how many batches re-emitted the key (== the number
    // of slices containing the bigram — an append-style sink inflates
    // it, a final-only sink deflates it, only genuine update
    // semantics produce it; bigram keys because the corpus's ~31
    // unigrams co-occur in every slice, see Streams scaladoc). Oracle
    // replays both from the pinned slice edges.
    Q("qs33_stream_update_sink",
      """WITH toks AS (
        |  SELECT doc_id, GENERATE_SUBSCRIPTS(fw, 1) AS i,
        |    UNNEST(fw) AS w
        |  FROM (SELECT doc_id,
        |          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
        |                      t -> t <> '') AS fw
        |        FROM documents)
        |), tok AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM toks a JOIN toks b
        |    ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |), ch AS (
        |  SELECT g, CASE WHEN doc_id < 100 THEN 0
        |    WHEN doc_id < 200 THEN 1 WHEN doc_id < 300 THEN 2
        |    WHEN doc_id < 400 THEN 3 ELSE 4 END AS c
        |  FROM tok
        |), fin AS (SELECT g, COUNT(*) AS n FROM tok GROUP BY g),
        |upd AS (SELECT g, COUNT(DISTINCT c) AS n_updates
        |        FROM ch GROUP BY g)
        |SELECT f.g, f.n, u.n_updates
        |FROM fin f JOIN upd u USING (g)
        |WHERE f.n >= 10 ORDER BY f.g""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val in = java.nio.file.Files.createTempDirectory("graft_qs33_in")
      val out = java.nio.file.Files.createTempDirectory("graft_qs33_out")
      try {
        graft.streaming.Streams.runWordCountUpdateStream(s, docs,
          in.toString, out.toString,
          bounds = Seq(100L, 200L, 300L, 400L))
      } finally {
        // drop the slice copies eagerly (the qs4b hygiene); the sink
        // stays for the caller's materialization
        try {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(in)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    },

    // Streaming exact quantiles (QS15, the xk13 stream face): per
    // l_orderkey-ordered chunk one rank-bounded quantile summary per
    // group, folded through the in-plan QuantileSketchMergeAgg (the
    // qs14 summary-of-summaries shape — bounded state, <=512 marks
    // per group however long the stream runs), then xk13's exact
    // bracket-recount pass. Equal to one-shot xk13 on ANY chunking:
    // the merged summary's brackets may differ with the chunking, but
    // the exact pass's OUTPUT never depends on the brackets — only
    // its candidate volume does. Oracle shared by reference with xk13
    // so the two contracts can never drift.
    Q("qs15_stream_quantiles",
      ScaleQueries.all.find(_.name == "xk13_quantile_sketch").get
        .oracle.get) { (s, d) =>
      val li = t(s, d, "lineitem")
      ScaleQueries.quantileWide(
        graft.operators.Quantiles.exactQuantilesChunked(
          li,
          // orderkeys span ~[0, 15k) at sf0.01 and ~[0, 150k) at
          // sf0.1 — these bounds give three NON-EMPTY chunks at both
          // gated SFs (a degenerate one-chunk split would gate
          // nothing beyond xk13)
          when(col("l_orderkey") < 5000L, 0)
            .when(col("l_orderkey") < 10000L, 1).otherwise(2),
          Seq("l_returnflag"), "l_extendedprice",
          Seq(0.5, 0.9, 0.99), s = 512))
    },

    // Streaming incremental embedding near-dup (QS16, the xd14 stream
    // face): the planted +0.05 copies arrive in id-ordered chunks and
    // screen against the frozen original-vector corpus through shared
    // hyperplane bands — stateless per batch, band params pinned once
    // from the full population, so any chunking == one-shot xd14 BY
    // CONSTRUCTION. Oracle shared by reference with xd14 (exact
    // cross-slice all-pairs cosine) so the contracts can never drift;
    // the real file-stream runner is gated in StreamingSpec.
    Q("qs16_stream_embedding_neardup",
      DedupQueries.all.find(_.name == "xd14_embedding_incremental").get
        .oracle.get) { (s, d) =>
      val planted = DedupQueries.plantedEmbeddingCorpus(
        t(s, d, "embeddings"))
      graft.streaming.Streams.embeddingNearDupsChunked(
          planted.where(col("id") >= 100000),
          planted.where(col("id") < 100000),
          "id", "v", threshold = 0.9,
          bounds = Seq(100150L, 100400L))
        .select(col("a"), col("b"), round(col("c"), 4).as("c"))
        .orderBy("a", "b")
    },

    // Streaming SemDedup (QS17, the xd11 stream face — VERDICT r8
    // #6): the planted +0.05 copies arrive in id-ordered chunks; each
    // is assigned to FROZEN label centroids (trained on the original
    // corpus once) and screened against the frozen pre-assigned
    // corpus within its cluster — keep iff no corpus row in the
    // cluster reaches cosine >= 0.9. Stateless per chunk, so chunked
    // == one-shot by construction; the real file-stream runner is
    // gated in StreamingSpec. The oracle replays centroid training,
    // both assignments, and the cross-slice within-cluster screen.
    Q("qs17_stream_semdedup",
      """WITH base AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |), corpus AS (
        |  SELECT vec_id AS id, label, v FROM base
        |), delta AS (
        |  SELECT vec_id + 100000 AS id,
        |    LIST_TRANSFORM(v, x -> x + 0.05) AS v FROM base
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
        |), scc AS (
        |  SELECT c.id, c.v, t.clabel,
        |    LIST_INNER_PRODUCT(c.v, t.centroid) /
        |      (SQRT(LIST_INNER_PRODUCT(c.v, c.v)) *
        |       SQRT(LIST_INNER_PRODUCT(t.centroid, t.centroid)))
        |      AS cos
        |  FROM corpus c CROSS JOIN cent t
        |), ac AS (
        |  SELECT id, v, clabel AS assigned FROM (
        |    SELECT id, v, clabel, ROW_NUMBER() OVER (
        |      PARTITION BY id ORDER BY cos DESC, clabel) AS rn
        |    FROM scc) WHERE rn = 1
        |), scd AS (
        |  SELECT d.id, d.v, t.clabel,
        |    LIST_INNER_PRODUCT(d.v, t.centroid) /
        |      (SQRT(LIST_INNER_PRODUCT(d.v, d.v)) *
        |       SQRT(LIST_INNER_PRODUCT(t.centroid, t.centroid)))
        |      AS cos
        |  FROM delta d CROSS JOIN cent t
        |), ad AS (
        |  SELECT id, v, clabel AS assigned FROM (
        |    SELECT id, v, clabel, ROW_NUMBER() OVER (
        |      PARTITION BY id ORDER BY cos DESC, clabel) AS rn
        |    FROM scd) WHERE rn = 1
        |), dropped AS (
        |  SELECT DISTINCT y.id FROM ac x JOIN ad y
        |    ON x.assigned = y.assigned
        |  WHERE LIST_INNER_PRODUCT(x.v, y.v) /
        |    (SQRT(LIST_INNER_PRODUCT(x.v, x.v)) *
        |     SQRT(LIST_INNER_PRODUCT(y.v, y.v))) >= 0.9
        |)
        |SELECT g.id, g.assigned,
        |  CAST(d.id IS NULL AS INT) AS kept
        |FROM ad g LEFT JOIN dropped d ON g.id = d.id
        |ORDER BY g.id""".stripMargin) { (s, d) =>
      val base = t(s, d, "embeddings").select(col("vec_id"),
        col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val corpus = base.select(col("vec_id").as("id"), col("label"),
        col("v"))
      val delta = base.select((col("vec_id") + 100000).as("id"),
        transform(col("v"), x => x + lit(0.05d)).as("v"))
      graft.streaming.Streams.semDedupChunked(delta, corpus,
          "id", "label", "v", threshold = 0.9,
          bounds = Seq(100150L, 100400L))
        .select(col("id"), col("assigned"),
          col("kept").cast("int").as("kept"))
        .orderBy("id")
    },

    // Streaming byte-level BPE tokenization (QS18, the xt24b stream
    // face — VERDICT r9 #6): the incoming crawl (doc_id >= 400) is
    // tokenized per micro-batch with a FROZEN tokenizer — merges
    // trained ONCE on the static corpus (doc_id < 400), shipped as a
    // plan literal. Per-batch work is a narrow join-free encode map:
    // stateless, so a doc's tokenization is independent of arrival
    // time and chunking == one-shot by construction (StreamingSpec
    // drives the real file-stream runner). Oracle = xt24b's unrolled
    // training/encode CTE replay with training restricted to the
    // static slice and encoding to the delta.
    Q("qs18_stream_bpe_tokenize",
      s"""WITH ${graft.operators.BpeSql.trainCtesBytes(
             "(SELECT text FROM documents WHERE doc_id < 400)", 256, 16)},
         |__dw AS (SELECT doc_id,
         |    UNNEST(REGEXP_EXTRACT_ALL(text,
         |      ${graft.operators.BpeSql.GptReLit})) AS word
         |  FROM documents WHERE doc_id >= 400 AND text IS NOT NULL),
         |__pw AS (SELECT doc_id, __t.i AS wpos, ws[__t.i] AS word FROM (
         |    SELECT doc_id, REGEXP_EXTRACT_ALL(
         |        SUBSTRING(text, 1, 48),
         |        ${graft.operators.BpeSql.GptReLit}) AS ws
         |    FROM documents WHERE doc_id >= 400 AND text IS NOT NULL),
         |  LATERAL UNNEST(RANGE(1, LEN(ws)+1)) __t(i)),
         |__dwords AS (SELECT word FROM __dw UNION SELECT word FROM __pw),
         |${graft.operators.BpeSql.encodeCtes("__dwords", 16,
             byteLevel = true)},
         |__wl AS (SELECT word, LEN(syms) AS l FROM __e16),
         |__cnt AS (SELECT __dw.doc_id, SUM(__wl.l) AS n
         |  FROM __dw JOIN __wl USING (word) GROUP BY __dw.doc_id),
         |__seg AS (SELECT p.doc_id,
         |    STRING_AGG(e.syms[__t.i], '|' ORDER BY p.wpos, __t.i) AS s
         |  FROM __pw p JOIN __e16 e ON e.word = p.word,
         |  LATERAL UNNEST(RANGE(1, LEN(e.syms)+1)) __t(i)
         |  GROUP BY p.doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE CAST(COALESCE(c.n, 0) AS INT) END AS n_bpe,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE COALESCE(s.s, '') END AS seg
         |FROM (SELECT * FROM documents WHERE doc_id >= 400) d
         |LEFT JOIN __cnt c ON c.doc_id = d.doc_id
         |LEFT JOIN __seg s ON s.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val merges = graft.operators.Bpe.trainBytesOn(
        docs.where(col("doc_id") < 400), "text",
        maxWords = 256, numMerges = 16)
      graft.operators.Bpe.tokenizeDocsBytes(
          docs.where(col("doc_id") >= 400), merges, numMerges = 16)
        .orderBy("doc_id")
    }
  )

  /** The qs36 replay: the xs17 blocked-edge chain (label-centroid
    * decimal means → dot·(1/‖c‖) probe-`probe` assignment, ties to the
    * smaller label → candidates from shared (primary, probe) cells →
    * (sim DESC, id) rank ≤ deg) emitted as the maintained graph's
    * rows — the maintained store equals this one-shot derivation on
    * any chunking (the order-free candidate-set theorem in
    * [[graft.operators.Similarity.BlockedGraphStore]]'s scaladoc).
    */
  /** `except` (qs38) restricts the VECTOR population to survivors —
    * assignment, candidates, and ranking all run over live ids only —
    * while the centroid model (`comp`/`cm`/`cent`) stays full-table:
    * cells froze before the deletes, and a vector's cells are a
    * per-row map, so a survivor's cells don't depend on who else
    * lives.
    */
  /** One epoch of the qs43 substring-takedown oracle: the qs10
    * first-occurrence island chain (occ → firsts → dup → span
    * islands → cleaned-text rollup) over the POPULATION live in that
    * epoch (`popCond`, over bare `d` columns), rolled up for the
    * epoch's TARGET doc range [tlo, thi). Emits CTEs suffixed `sfx`
    * ending in `out$sfx` with the (doc_id, n_spans, removed_chars,
    * clean_text) contract.
    */
  private def substringEpochSql(sfx: String, popCond: String,
      tlo: Long, thi: Long): String = {
    def cond(a: String) =
      if (thi == Long.MaxValue) s"$a.doc_id >= $tlo"
      else s"$a.doc_id >= $tlo AND $a.doc_id < $thi"
    s"""occ$sfx AS (
       |  SELECT dd.doc_id, x.i AS pos,
       |         substr(dd.text, CAST(x.i AS INT), 40) AS gram,
       |         dd.doc_id*1000000000 + x.i AS key
       |  FROM (SELECT * FROM d WHERE $popCond) dd CROSS JOIN LATERAL
       |    UNNEST(RANGE(1, GREATEST(LENGTH(dd.text)-39, 0)+1)) x(i)
       |),
       |firsts$sfx AS (
       |  SELECT gram, MIN(key) AS mk FROM occ$sfx GROUP BY gram
       |),
       |dup$sfx AS (
       |  SELECT o.doc_id, o.pos FROM occ$sfx o
       |  JOIN firsts$sfx f ON o.gram = f.gram
       |  WHERE o.key > f.mk AND (${cond("o")})
       |),
       |sp$sfx AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM dup$sfx),
       |m$sfx AS (
       |  SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |  FROM sp$sfx
       |),
       |i1$sfx AS (
       |  SELECT doc_id, s, e, SUM(CASE WHEN pm IS NULL OR s > pm
       |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s
       |    ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM m$sfx
       |),
       |islands$sfx AS (
       |  SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e
       |  FROM i1$sfx GROUP BY doc_id, isl
       |),
       |segs$sfx AS (
       |  SELECT doc_id, s, e,
       |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS p
       |  FROM islands$sfx
       |),
       |agg$sfx AS (
       |  SELECT i.doc_id, COUNT(*) AS n_spans, SUM(i.e - i.s) AS removed,
       |    CONCAT(STRING_AGG(substr(dx.text, CAST(i.p AS INT),
       |      CAST(i.s - i.p AS INT)), '' ORDER BY i.s),
       |      substr(ANY_VALUE(dx.text), CAST(MAX(i.e) AS INT))) AS clean
       |  FROM segs$sfx i JOIN d dx ON i.doc_id = dx.doc_id
       |  GROUP BY i.doc_id
       |),
       |out$sfx AS (
       |  SELECT dz.doc_id,
       |    CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       |    CAST(COALESCE(a.removed, 0) AS BIGINT) AS removed_chars,
       |    COALESCE(a.clean, dz.text) AS clean_text
       |  FROM d dz LEFT JOIN agg$sfx a ON a.doc_id = dz.doc_id
       |  WHERE ${cond("dz")}
       |)""".stripMargin
  }

  private def blockedEdgesOracleSql(deg: Int, probe: Int,
      except: Seq[Long] = Nil): String =
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
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
       |    SQRT(LIST_INNER_PRODUCT(embedding::DOUBLE[],
       |      embedding::DOUBLE[])) AS n
       |  FROM embeddings${
        if (except.isEmpty) ""
        else s"\n  WHERE vec_id NOT IN (${except.mkString(", ")})"}
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
       |prb AS (SELECT id, clabel AS cell FROM rnk WHERE rn <= $probe)
       |SELECT id, CAST(rn AS INT) AS rank, nb, ROUND(raw, 4) AS sim
       |FROM (
       |  SELECT a.id AS id, b.id AS nb,
       |    LIST_INNER_PRODUCT(x.v, y.v) / (x.n * y.n) AS raw,
       |    ROW_NUMBER() OVER (PARTITION BY a.id
       |      ORDER BY LIST_INNER_PRODUCT(x.v, y.v) / (x.n * y.n) DESC,
       |        b.id) AS rn
       |  FROM asg a JOIN prb b USING (cell)
       |  JOIN nrm x ON x.id = a.id
       |  JOIN nrm y ON y.id = b.id
       |  WHERE a.id <> b.id
       |) WHERE rn <= $deg ORDER BY id, rank""".stripMargin
}
