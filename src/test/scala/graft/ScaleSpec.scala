package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale
import graft.queries.T

/** Scale-technique specs: salting correctness and bucketed co-located
  * joins (shuffle-free SMJ — the 100TB join shape).
  */
class ScaleSpec extends SparkSpec {

  /** Set session confs for the block, restoring prior values after. */
  private def withConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map(p => p._1 -> spark.conf.getOption(p._1))
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("salted sum == direct decimal sum") {
    val ev = T.t(spark, sf0001, "events")
    val salted = Scale.saltedDecimalSum(ev, Seq("event_type"), "value", "s")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = ev.groupBy("event_type")
      .agg(round(sum(col("value").cast("decimal(28,6)")).cast("double"), 4)
        .as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == direct)
  }

  test("skew-safe distinct == countDistinct") {
    val ev = T.t(spark, sf0001, "events")
    val safe = Scale.skewSafeCountDistinct(ev, Seq("event_type"),
        "user_id", "du")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("du"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(safe == direct)
  }

  test("bucketed tables join without a shuffle exchange") {
    // (warehouse dir is a temp dir set at session build — SparkSpec)
    // write both sides bucketed on the join key
    T.t(spark, sf0001, "customer")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("cust_b")
    T.t(spark, sf0001, "orders")
      .withColumnRenamed("o_custkey", "c_custkey")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("ord_b")
    val joined = spark.table("cust_b")
      .join(spark.table("ord_b"), "c_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    // and it is still correct
    val direct = T.t(spark, sf0001, "customer").join(
      T.t(spark, sf0001, "orders"),
      col("c_custkey") === col("o_custkey")).count()
    assert(joined.count() == direct)
  }

  test("spill-forced execution matches default execution " +
      "(window, SMJ buffer, object-hash-agg fallback)") {
    // At 100 TB these operators WILL spill; prove the answers don't
    // change when they do. Thresholds force: WindowExec's row buffer
    // through UnsafeExternalSorter disk spills (q32 windows by
    // l_returnflag — ~20k-row partitions, far past both lowered
    // thresholds), SortMergeJoin's buffered-match path (q38 with
    // broadcasts disabled so the dims actually sort-merge), and the
    // TopKPairs TypedImperativeAggregate into the sort-based fallback
    // after a single hash-map key (exercising its serialize/merge
    // path).
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf001)
        .collect().map(_.toString).toSeq
    val w0 = rows("q32_percentile")
    val j0 = rows("q38_tpch_q5")
    val k0 = rows("xs1_ann_brute_topk")
    assert(w0.nonEmpty && j0.nonEmpty && k0.nonEmpty)
    // count spilled bytes during the forced block — equality alone
    // would pass vacuously if the thresholds stopped taking effect
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try withConf(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "128",
      "spark.sql.windowExec.buffer.spill.threshold" -> "1024",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "1024",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(rows("q32_percentile") == w0,
        "window results changed under forced spill")
      assert(rows("q38_tpch_q5") == j0,
        "join results changed under forced SMJ buffer spill")
      assert(rows("xs1_ann_brute_topk") == k0,
        "top-k agg changed under sort-based fallback")
    } finally {
      // listener events are delivered async; poll briefly before
      // detaching (listenerBus.waitUntilEmpty is private[spark])
      val deadline = System.nanoTime() + 10e9.toLong
      while (spilled.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(spilled.get() > 0,
      "no task reported spilled bytes — the forced-spill confs had no effect")
  }

  test("results are invariant to shuffle partition count " +
      "(add-order independence)") {
    // PLANS.md's re-planning-safety claim as a test: every
    // oracle-hashed double aggregate accumulates in DECIMAL(28,6), so
    // the answer must not depend on how many partitions the shuffle
    // lands in (AQE coalescing, different cluster sizes). Covers a
    // plain agg, a broadcast star, a 6-table TPC-H shape, ln-based
    // TF-IDF scoring, the banded-LSH dedup path, the bigram-LM
    // perplexity chain (decimal LN sums + EXP), and the JL projection
    // (per-term decimal quantization).
    val names = Seq("q09_agg_having", "q29_star", "q48_tpch_q9",
      "xt8_tfidf", "xd1_minhash_lsh", "xt17_lm_perplexity",
      "xs8_random_projection")
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf001)
        .collect().map(_.toString).toSeq
    val base = names.map(n => n -> run(n)).toMap
    for (p <- Seq("1", "13")) {
      withConf("spark.sql.shuffle.partitions" -> p) {
        for (n <- names)
          assert(run(n) == base(n), s"$n diverged at $p partitions")
      }
    }
  }

  test("stratified sample: exact per-stratum size, stable across runs") {
    val docs = T.t(spark, sf0001, "documents")
    val a = Scale.stratifiedSample(docs, Seq("lang"), col("doc_id"), 5)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val b = Scale.stratifiedSample(docs.repartition(13), Seq("lang"),
        col("doc_id"), 5)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(a == b, "membership must not depend on partitioning")
    val perLang = a.groupBy(_._1).view.mapValues(_.size)
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (l, n) =>
      assert(perLang(l) == math.min(5L, n), s"stratum $l")
    }
  }

  test("fixed sample: k rows, TakeOrdered plan, stable membership") {
    val docs = T.t(spark, sf0001, "documents")
    val s1 = Scale.fixedSample(docs, col("doc_id"), 17)
    assert(s1.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "must not global-sort")
    val a = s1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Scale.fixedSample(docs.repartition(7), col("doc_id"), 17)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a.size == 17 && a == b)
  }

  test("AQE splits a skewed sort-merge join partition") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 90% of the fact lands on key 0 → one shuffle partition holds
      // ~4MB vs KB-sized siblings; AQE must split it at runtime.
      val fact = spark.range(0, 60000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        lpad(col("id").cast("string"), 64, "0").as("pad"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2).as("dv"))
      val j = fact.join(dim, "k")
      val n = j.queryExecution.toRdd.count()
      // k=0: 54000 rows (id%10!=0) + id=0 itself → 54000+1 matches via
      // dim key 0; nonzero multiples of 10 under 1000: 99 more.
      assert(n == 54000L + 1 + 99)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew"),
        s"expected AQE skew split marker in final plan:\n$plan")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom")
      .toString
    spark.range(0, 200000)
      .selectExpr("id AS k", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"$dir/fact")
    spark.range(0, 2000)
      .selectExpr("id * 100 AS k", "id AS dv")
      .write.mode("overwrite").parquet(s"$dir/dim")
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").where(col("dv") < 100)
      val j = fact.join(dim, "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom runtime filter in:\n$plan")
      assert(j.count() == 100)
    }
  }

  test("writeLayout: partition dirs, bounded files, pruned reads") {
    val docs = T.t(spark, sf0001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-layout")
      .toString
    Scale.writeLayout(docs, dir, Seq("lang"), Seq("doc_id"),
      maxRecordsPerFile = 50)
    val root = new java.io.File(dir)
    val langDirs = root.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang=")).sorted
    assert(langDirs.nonEmpty, "expected lang= partition directories")
    // file-size bound: no part file exceeds maxRecordsPerFile rows
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    val maxRows = back.groupBy(input_file_name()).count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxRows <= 50, s"file with $maxRows rows exceeds bound")
    // partition pruning: a lang predicate reaches PartitionFilters
    val pruned = back.where(col("lang") === langDirs.head.stripPrefix(
      "lang="))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition pruning in:\n$scan")
  }

  test("guard rails reject misuse instead of silently corrupting") {
    val docs = T.t(spark, sf0001, "documents")
    intercept[IllegalArgumentException] {
      Scale.stratifiedSample(docs.withColumn("rn", lit(1)),
        Seq("lang"), col("doc_id"), 5)
    }
    intercept[IllegalArgumentException] {
      Scale.writeLayout(docs, "/tmp/never", Seq(), Seq("doc_id"), 10)
    }
    intercept[IllegalArgumentException] {
      Scale.hashSample(docs, col("doc_id"), 1e-9)
    }
  }

  test("decontamination finds planted overlap via broadcast join") {
    import graft.operators.Decontaminate
    val spark0 = spark
    import spark0.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF(
      "doc_id", "text")
    val train = Seq(
      (10L, "prefix words alpha beta gamma delta epsilon zeta suffix"),
      (11L, "completely different content with no shared phrases here"),
      (12L, "alpha beta gamma delta epsilon more text")).toDF(
      "doc_id", "text")
    val rep = Decontaminate.overlapReport(train, bench, "doc_id", "text", 5)
    assert(rep.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "benchmark side must broadcast")
    val rows = rep.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // doc 10 shares both 5-grams of the bench doc, doc 12 shares one
    assert(rows == Seq((10L, 2L, 1L), (12L, 1L, 1L)), rows.toString)
  }

  test("mixture resample moves every language toward uniform token " +
      "share, deterministically") {
    val out = SparkEntry.queries("xk7_mixture_resample")(spark, sf0001)
      .collect()
    val tot = out.map(_.getLong(2)).sum.toDouble
    val target = tot / out.length
    // one doc's worth of slack: a lang already at target can only be
    // moved by the granularity of the md5 fractional draw (±1 doc)
    val maxTok = T.t(spark, sf0001, "documents")
      .agg(max(size(graft.functions.TextFns.tokens(col("text")))))
      .head.getInt(0)
    out.foreach { r =>
      val (tok, repsTok) = (r.getLong(2), r.getLong(5))
      assert(math.abs(repsTok - target) <=
          math.abs(tok - target) + maxTok,
        s"${r.getString(0)}: $tok -> $repsTok vs target $target")
      val factor = r.getDouble(3)
      // the draw can only round the fractional part one doc either way
      assert(repsTok >= (tok * math.floor(factor)).toLong,
        s"${r.getString(0)} lost whole-repeat mass")
    }
    val again = SparkEntry.queries("xk7_mixture_resample")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(again == out.map(_.toString).toSeq) // no RNG state anywhere
  }

  test("packShards == naive global window, invariant to bucket count, " +
      "big window partitioned") {
    import org.apache.spark.sql.expressions.Window
    val docs = T.t(spark, sf0001, "documents")
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).as("n_tok"))
    def shards(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = shards(docs.withColumn("shard",
      floor((sum("n_tok").over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("n_tok")) / 4096d).cast("long")))
    for (b <- Seq(1, 7, 64)) {
      val safe = Scale.packShards(docs, "doc_id", "n_tok", 4096L, b)
      assert(shards(safe) == naive, s"buckets=$b diverges from naive")
    }
    // plan shape: the doc-level running sum must be a PARTITIONED
    // window (parallel); only the buckets-row offset cascade may run
    // partition-less
    val plan = Scale.packShards(docs, "doc_id", "n_tok", 4096L, 64)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(__pkg#\\d+L?, doc_id".r
        .findFirstIn(plan).isDefined,
      s"doc-level window must partition on the bucket:\n$plan")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(plan).isEmpty,
      s"no window may order the full corpus without partitioning:\n$plan")
    // shards are contiguous doc_id ranges of ~budget tokens
    val roll = Scale.packShards(docs, "doc_id", "n_tok", 4096L)
      .groupBy("shard").agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
        sum("n_tok").as("tok"))
      .orderBy("shard").collect()
    roll.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0).getLong(2) < w(1).getLong(1),
        "shard doc_id ranges must not interleave")
    }
    val maxTok = docs.agg(max("n_tok")).head.getInt(0)
    roll.dropRight(1).foreach { r =>
      assert(r.getLong(3) >= 4096L - maxTok + 1 &&
        r.getLong(3) < 4096L + maxTok,
        s"shard ${r.getLong(0)} tokens ${r.getLong(3)} off budget")
    }
  }

  test("packSequences: exact-length samples, boundary splits, token " +
      "conservation, bucket invariance") {
    import spark.implicits._
    // crafted: docs of 3/2/4 tokens, L=4 → stream |aaa bb|cccc| cut as
    // sample0 = [d1: 3 tok, d2: 1 tok], sample1 = [d2: 1 tok, d3: 3 tok],
    // sample2 = [d3: last tok]
    val crafted = Seq((1L, 3L), (2L, 2L), (3L, 4L)).toDF("doc_id", "w")
    val got = Scale.packSequences(crafted, "doc_id", "w", seqLen = 4)
      .select("doc_id", "sample", "piece_from", "piece_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0L, 1L, 3L), (2L, 0L, 1L, 1L),
      (2L, 1L, 2L, 1L), (3L, 1L, 1L, 3L),
      (3L, 2L, 4L, 1L)))

    // corpus level: every sample but the last is exactly L tokens, the
    // total is conserved, and any bucket count reproduces the naive
    // partition-less window assignment
    val docs = T.t(spark, sf0001, "documents")
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text")))
          .cast("long").as("w"))
    val L = 64L
    def pieces(b: Int) =
      Scale.packSequences(docs, "doc_id", "w", L, b)
        .select("doc_id", "sample", "piece_from", "piece_len")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val base = pieces(256)
    for (b <- Seq(1, 7)) assert(pieces(b) == base, s"buckets=$b diverges")
    // (.toSeq before summing: base is a Set, and mapping a Set to the
    // lens would collapse equal-length pieces before the sum)
    val perSample = base.groupBy(_._2).view
      .mapValues(_.toSeq.map(_._4).sum).toMap
    val last = perSample.keys.max
    perSample.foreach { case (s, tok) =>
      if (s != last) assert(tok == L, s"sample $s has $tok != $L tokens")
      else assert(tok >= 1 && tok <= L)
    }
    val totalW = docs.agg(sum("w")).head.getLong(0)
    assert(perSample.values.sum == totalW, "token conservation")
    // zero-weight rows contribute nothing (and must not explode a
    // descending sequence)
    val withEmpty = crafted.unionByName(Seq((4L, 0L)).toDF("doc_id", "w"))
    assert(Scale.packSequences(withEmpty, "doc_id", "w", 4)
      .where(col("doc_id") === 4).count() == 0)
    // plan shape: the doc-level running sum must be a PARTITIONED
    // window (the packShards/runningSum contract)
    val plan = Scale.packSequences(docs, "doc_id", "w", L, 64)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(__pqg#\\d+L?, doc_id".r
        .findFirstIn(plan).isDefined,
      s"doc-level window must partition on the bucket:\n$plan")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(plan).isEmpty,
      s"no window may order the full corpus without partitioning:\n$plan")
  }

  test("ppsSample: naive-window equality, sum==k, multiplicity, plan") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = T.t(spark, sf0001, "documents")
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text")))
          .cast("long").as("n_tok"))
    def draws(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "sel_count").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive replay: partition-less window + the same exact arithmetic
    val tw = docs.agg(sum("n_tok")).head.getLong(0)
    def naiveAt(k: Int) = draws(docs
      .withColumn("cum", sum("n_tok").over(
        Window.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sel_count", expr(
        s"(CAST(cum AS DECIMAL(38,0)) * $k + ${tw}L - 1) div ${tw}L" +
          s" - (CAST(cum - n_tok AS DECIMAL(38,0)) * $k + ${tw}L - 1)" +
          s" div ${tw}L"))
      .where(col("sel_count") >= 1))
    for (k <- Seq(1, 17, 100); b <- Seq(1, 7, 256)) {
      val got = draws(Scale.ppsSample(docs, "doc_id", "n_tok", k, b))
      assert(got == naiveAt(k), s"k=$k buckets=$b diverges from naive")
      assert(got.values.sum == k, s"k=$k: draws must partition the axis")
    }
    // a doc longer than W/k tokens must be drawn multiple times
    val heavy = Seq((1L, 10L), (2L, 1000L), (3L, 10L))
      .toDF("doc_id", "n_tok")
    val hm = draws(Scale.ppsSample(heavy, "doc_id", "n_tok", 10))
    assert(hm.values.sum == 10 && hm(2L) >= 8,
      s"the 98%-mass doc must dominate the draw: $hm")
    // zero-weight docs are never drawn
    val withZero = Seq((1L, 0L), (2L, 50L)).toDF("doc_id", "n_tok")
    assert(draws(Scale.ppsSample(withZero, "doc_id", "n_tok", 5)) ==
      Map(2L -> 5L))
    // plan: the corpus-level running sum must partition on the bucket
    val plan = Scale.ppsSample(docs, "doc_id", "n_tok", 100)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(__ppg#\\d+".r.findFirstIn(plan).isDefined,
      s"running sum must partition on the md5 bucket:\n$plan")
    assert("windowspecdefinition\\(__ppmd".r.findFirstIn(plan).isEmpty,
      s"no window may order the full corpus without partitioning:\n$plan")
  }

  test("interleaveBySource: permutation, bucket invariance, fairness") {
    import spark.implicits._
    // sources with 60/30/10 docs — every output prefix must hold each
    // source near its share (the WFQ bound: per-source deviation from
    // N·w/W stays O(1), never a source-A-then-source-B corpus)
    val docs = ((1 to 60).map(i => (i.toLong, "a")) ++
      (101 to 130).map(i => (i.toLong, "b")) ++
      (201 to 210).map(i => (i.toLong, "c"))).toDF("doc_id", "source")
    def byPos(df: org.apache.spark.sql.DataFrame) =
      df.select("pos", "doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1)
    val out = byPos(Scale.interleaveBySource(docs, "doc_id", "source"))
    assert(out.map(_._1).toSeq == (1L to 100L),
      "pos must be a permutation of 1..n")
    for (b <- Seq(1, 7, 64))
      assert(byPos(Scale.interleaveBySource(docs, "doc_id", "source",
        buckets = b)).toSeq == out.toSeq, s"buckets=$b diverges")
    val w = Map("a" -> 60.0, "b" -> 30.0, "c" -> 10.0)
    for (n <- 10 to 100 by 10; s <- w.keys) {
      val got = out.take(n).count(_._3 == s)
      val want = n * w(s) / 100.0
      assert(math.abs(got - want) <= 2.0,
        f"prefix $n source $s: $got vs $want%.1f")
    }
    // the running sum must stay bucket-partitioned (no partition-less
    // full-corpus window)
    val plan = Scale.interleaveBySource(docs, "doc_id", "source")
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(__ilv".r.findFirstIn(plan).isEmpty,
      s"global position window must partition on the v bucket:\n$plan")
  }

  test("groupCap: keeps the k best per group, deterministic ties") {
    import spark.implicits._
    val rows = Seq(
      (1L, "x", 0.9), (2L, "x", 0.8), (3L, "x", 0.8), (4L, "x", 0.1),
      (5L, "y", 0.5), (6L, "y", 0.4),
      (7L, "z", 0.3)).toDF("id", "g", "q")
    val kept = Scale.groupCap(rows, Seq("g"),
        Seq(col("q").desc, col("id").asc), k = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    // x: 0.9 then the 0.8-tie broken to the smaller id; y/z under cap
    assert(kept == Set(1L, 2L, 5L, 6L, 7L))
  }

  test("xk15 temperature factors interpolate between proportional and " +
      "xk7's uniform target, per language") {
    // α=0.5 sits strictly between α=1 (factor 1 everywhere — no
    // resampling) and α=0 (xk7's flat target): minority languages are
    // boosted, but LESS than under the uniform target; the majority
    // language is damped, but less aggressively. If this ever fails,
    // one of the two factor formulas drifted.
    def factors(q: String): Map[String, Double] =
      SparkEntry.queries(q)(spark, sf0001).collect()
        .map(r => r.getAs[String]("lang") -> r.getAs[Double]("factor"))
        .toMap
    val temp = factors("xk15_temperature_resample")
    val unif = factors("xk7_mixture_resample")
    assert(temp.keySet == unif.keySet && temp.size >= 3)
    for ((lang, ft) <- temp) {
      val fu = unif(lang)
      val between =
        (fu < ft && ft < 1.0) || (1.0 < ft && ft < fu)
      assert(between,
        s"$lang: temperature factor $ft not strictly between " +
          s"proportional 1.0 and uniform-target $fu")
    }
  }

  test("selection entries at sf0.001: xt14 keeps an absolute 100-doc " +
      "budget through broadcast model joins; xt15, xt16 and xs8 are " +
      "join-free maps; xt17/xt18 never cartesian, xt17 covers >= 95% of " +
      "docs, xt18 predicts both classes; xk6 conserves tokens") {
    def q(name: String) = graft.SparkEntry.queries(name)(spark, sf0001)
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val xt14 = q("xt14_dsir")
    assert(xt14.agg(sum("sel")).head.getLong(0) == 100L)
    assert(plan(xt14).contains("BroadcastHashJoin"), plan(xt14))
    for (name <- Seq("xt15_gopher_rules", "xt16_repetition_lines"))
      assert(!plan(q(name)).contains("Join"), s"$name: ${plan(q(name))}")
    val xs8 = q("xs8_random_projection")
    assert(Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "CartesianProduct").forall(j => !plan(xs8).contains(j)), plan(xs8))
    assert(xs8.count() == 16 * T.t(spark, sf0001, "embeddings").count())
    val nDocs = T.t(spark, sf0001, "documents").count()
    val xt17 = q("xt17_lm_perplexity")
    assert(!plan(xt17).contains("CartesianProduct"))
    assert(xt17.count() >= nDocs * 95 / 100)
    val xt18 = q("xt18_nb_quality")
    assert(!plan(xt18).contains("CartesianProduct"))
    val npos = xt18.agg(sum("pred")).head.getLong(0)
    assert(npos > 0 && npos < xt18.count(), s"degenerate classifier: $npos")
    val toks = T.t(spark, sf0001, "documents").select(col("doc_id"),
      size(graft.functions.TextFns.tokens(col("text"))).as("n_tok"))
    assert(Scale.packShards(toks, "doc_id", "n_tok", budget = 4096)
      .agg(sum("n_tok")).head.getLong(0) ==
      toks.agg(sum("n_tok")).head.getLong(0))
  }
}
