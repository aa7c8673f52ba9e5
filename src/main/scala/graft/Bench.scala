package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract + BASELINE.md protocol: one warm-up
  * run, then median of 3 timed runs, per query). Prints exactly one
  * JSON line; the full evidence record goes to bench_full.json:
  *
  *  - `queries`: median seconds (the headline protocol number)
  *  - `runs`: ALL four wall times `[warmup, r1, r2, r3]` — so a
  *    cross-round drift can be attributed to noise (runs disagree) vs
  *    a real slowdown (runs agree) from artifacts alone
  *  - `driver_cpu_sec`: per-query median over the 3 timed runs of the
  *    CPU time of the calling (driver) thread around `fn` and the
  *    action: the eager DataFrame builds, planning and AQE re-planning
  *    that `cpu_sec` (executor task CPU only) cannot see. It excludes
  *    every other driver thread, stream-execution threads included,
  *    so a streaming entry's micro-batch planning is not in it.
  *    Entries whose run failed, or a JVM without thread CPU time, have
  *    no value
  *  - `stages`: per-query task-metric deltas over the 3 timed runs
  *    (shuffle read/write bytes, memory/disk spill, JVM GC ms) — the
  *    "is it the plan or the machine" signal
  *  - `plan_fp`: 8-hex fingerprint of the executed plan with expr-ids
  *    and codegen ids normalized away — byte-equal across rounds iff
  *    the physical plan is unchanged
  *  - `qs4`: streaming bench split into startup vs steady-state
  *    sec/batch (a single opaque total cannot trend)
  *
  * Self-gating (VERDICT r9 #1/#8 — the r9 artifact shipped a 32×
  * same-plan CPU anomaly with no in-session second opinion):
  *
  *  - `pass2` covers the headliners PLUS the 20 most expensive
  *    entries; any entry whose pass1 median and pass2 run diverge >2×
  *    (slower side ≥0.5s) is auto-rerun once and listed under
  *    `anomalies` with all three observations
  *  - `trusted`: per-entry min over every in-session observation —
  *    the additive-noise-sound estimator; `trusted_total` is the
  *    headline a single contaminated window can't inflate
  *  - `min_sessions`: per-entry min folded across committed previous
  *    quiet-session records (JSON files under `bench_sessions/`), so
  *    one bad SESSION can't move the round-over-round signal either
  *  - `phases`: xs10's training prep vs probe-chain query timed
  *    separately (the gated entry folds both; r9's "regression" was
  *    the entry definition absorbing training)
  *  - `BENCH_DELTA.json` is written as the LAST bench step from the
  *    artifact just produced vs the committed `bench_ref.json`, so
  *    its `new_sec` always equals the shipped medians
  */
object Bench {

  /** Process-wide task-metric accumulator. Listener events are posted
    * asynchronously; snapshots are taken after a short drain pause,
    * which bounds skew to well under the MB-scale deltas of interest.
    */
  private final class MetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spillMem = new AtomicLong
    val spillDisk = new AtomicLong
    val gcMs = new AtomicLong
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        // executor run/CPU time: CPU time is contention-immune (a
        // starved host inflates wall clock, not cycles spent), so the
        // cross-round trend line reads from cpu_sec even when the
        // bench session is noisy — the r5 lesson (same query 1.2s and
        // 46.0s in one session with identical stage metrics)
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
      }
    }
    def snapshot(): Seq[Long] = {
      Thread.sleep(50) // let the listener bus drain
      Seq(shuffleRead.get, shuffleWrite.get, spillMem.get,
        spillDisk.get, gcMs.get, runMs.get, cpuNs.get)
    }
  }

  /** A physical plan's text with what varies between JVMs and runs
    * normalized away: expression ids, lambda-variable suffixes, closure
    * addresses, temp paths, plan and exchange ids, file listings, and
    * the order of distinct-aggregate groups ([[sortDistinctGroups]]).
    */
  private[graft] def planText(plan: String): String =
    sortDistinctGroups(plan
      .replaceAll("#\\d+", "#x")
      // lambda variable names in higher-order functions carry a
      // SESSION-GLOBAL fresh counter (x_25, y_27, ...) — the id
      // depends on how many lambdas earlier entries resolved, so
      // without this an entry's fp changes with its position in
      // the session (the r10/r11 "fp drift with untouched source";
      // VERDICT r11 #6). Strip the numeric suffix; a real column
      // named like_9 coarsens to like#x, which stays deterministic.
      .replaceAll("([A-Za-z])_\\d+#x", "$1#x")
      // typed-API nodes (MapPartitions/MapGroups/AppendColumns)
      // print the closure OBJECT: JVM-global lambda index, hidden-
      // class address, and identity hashCode — all per-JVM noise
      // (the 14-entry fp drift between the two r12 quiet sessions)
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+",
        "\\$\\$Lambda")
      .replaceAll("\\$\\$Lambda/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
      // codec entries construct per-run temp inputs; the BatchScan
      // node prints the random temp path (qc3/qc7 fp drift)
      .replaceAll("/tmp/[^\\s)\\],]*", "/tmp/X")
      .replaceAll("\\[plan_id=\\d+\\]", "")
      .replaceAll("\\[id=#?\\d+\\]", "")
      .replaceAll("(?m)^.*(Location|InMemoryFileIndex).*$", ""))

  /** `RewriteDistinctAggregates` plans two or more `COUNT(DISTINCT …)`
    * groups as one `Expand` with a projection per group, tagged by a
    * `gid` literal, and orders the groups by a hash over expression ids,
    * which depend on everything the JVM planned before. This sorts each
    * such `Expand`'s projections by their text with the tag masked,
    * hands out the tags in that order, and rewrites the `gid#x = n`
    * filters of the aggregates above it (the lines between it and the
    * previous such `Expand`) to match.
    */
  private[graft] def sortDistinctGroups(plan: String): String = {
    val lines = plan.split("\n", -1)
    var above = 0 // first line of the aggregates above the next Expand
    for (li <- lines.indices) {
      val line = lines(li)
      val at = line.indexOf("Expand [[")
      if (at >= 0) {
        splitTop(line.substring(at + "Expand ".length)) match {
          case Seq(projs, output) =>
            val gid = splitTop(output.drop(1).dropRight(1)).indexOf("gid#x")
            val cells = splitTop(projs.drop(1).dropRight(1))
              .map(p => splitTop(p.drop(1).dropRight(1)))
            if (gid >= 0 && cells.forall(_.length > gid)) {
              val masked = cells.map(_.updated(gid, "").mkString(", "))
              val order = cells.indices.sortBy(masked)
              val tags = cells.map(_(gid)).sortBy(t => (t.length, t))
              val remap = order.zip(tags).map { case (k, t) =>
                cells(k)(gid) -> t }.toMap
              val sorted = order.zip(tags).map { case (k, t) =>
                cells(k).updated(gid, t).mkString("[", ", ", "]") }
              lines(li) = line.substring(0, at) + "Expand " +
                sorted.mkString("[", ", ", "]") + ", " + output
              for (k <- above until li)
                lines(k) = GidFilter.replaceAllIn(lines(k), m =>
                  java.util.regex.Matcher.quoteReplacement(
                    m.group(1) + remap.getOrElse(m.group(2), m.group(2))))
            }
          case _ =>
        }
        above = li + 1
      }
    }
    lines.mkString("\n")
  }

  private val GidFilter = "(gid#x = )(\\d+)".r

  /** `s` split at its commas outside brackets and parentheses. */
  private def splitTop(s: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    var depth = 0
    var from = 0
    for (i <- s.indices) s.charAt(i) match {
      case '[' | '(' => depth += 1
      case ']' | ')' => depth -= 1
      case ',' if depth == 0 =>
        parts += s.substring(from, i).trim
        from = i + 1
      case _ =>
    }
    (parts += s.substring(from).trim).result()
  }

  /** Stdout headline subset + the reverse-order second-pass set. */
  private val benchHeadliners = Seq("q01_project", "q09_agg_having",
    "q14_frame_running", "q16_topk", "q29_star", "q31_tpch_q3",
    "q38_tpch_q5", "qc1_msgpack_expr", "qc5_yaml_expr", "xd1_minhash_lsh",
    "xd3_ngram_jaccard", "xs1_ann_brute_topk", "xs2_ann_ivf",
    "xt2_quality", "xt11_logprob", "xp1_pipeline")

  // Minimal object reader for bench_full-format artifacts. Depth-
  // aware (ADVICE r10 #3): the value is scanned to the MATCHING
  // close brace (tracking string/escape state), not the first '}',
  // so a nested object inside the target — or a headline-format ref
  // file whose "queries" values are strings — degrades to "entries
  // that parse as numbers" instead of silently truncating the map
  // at the first nested '}'. Non-numeric entries are skipped.
  private def flatObj(json: String, key: String): Map[String, Double] = {
    val tag = "\"" + key + "\":{"
    val i = json.indexOf(tag)
    if (i < 0) Map.empty
    else {
      val start = i + tag.length
      var j = start
      var depth = 1
      var inStr = false
      var esc = false
      while (j < json.length && depth > 0) {
        val c = json.charAt(j)
        if (esc) esc = false
        else if (inStr) {
          if (c == '\\') esc = true
          else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' => depth += 1
          case '}' => depth -= 1
          case _ => ()
        }
        j += 1
      }
      if (depth > 0) Map.empty
      else {
        // top-level "k":v pairs only — split at depth-0 commas
        val body = json.substring(start, j - 1)
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var d = 0; var s = false; var e = false; var p0 = 0
        var p = 0
        while (p < body.length) {
          val c = body.charAt(p)
          if (e) e = false
          else if (s) {
            if (c == '\\') e = true else if (c == '"') s = false
          } else c match {
            case '"' => s = true
            case '{' | '[' => d += 1
            case '}' | ']' => d -= 1
            case ',' if d == 0 =>
              parts += body.substring(p0, p); p0 = p + 1
            case _ => ()
          }
          p += 1
        }
        parts += body.substring(p0)
        parts.filter(_.contains(":")).flatMap { kv =>
          val Array(k, v) = kv.split(":", 2)
          try Some(k.trim.stripPrefix("\"").stripSuffix("\"") ->
            v.trim.toDouble)
          catch { case NonFatal(_) => None }
        }.toMap
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the driver parses the LAST stdout lines; stray
    // WARNs (e.g. WindowExec) after the headline JSON break the parse.
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // global session warmup so the first query doesn't absorb JVM/
    // codegen/FileIndex initialization
    spark.range(1000).selectExpr("sum(id)").collect()

    // Several operators localCheckpoint intermediates (their
    // materialize-once contract); each bench re-construction leaves
    // the previous run's blocks behind until the ContextCleaner gets
    // to them, and across 132 queries × 4 runs that squeezes
    // execution memory (observed: xd10 runs climbing 6.6→10.0s within
    // one bench). Release them eagerly after every timed run — the
    // unpersist happens OUTSIDE the timer.
    def dropPersisted(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))

    // toRdd.count materializes every output row through the full plan;
    // a plain count() would let Catalyst prune the projections away and
    // time only scan+count. Returns (wall sec, after-snapshot, per-run
    // task-metric deltas, calling-thread CPU sec where the JVM has
    // thread CPU time) — the caller THREADS each run's
    // after-snapshot in as the next run's before (they are identical
    // reads: nothing runs between), halving the 50ms listener-drain
    // sleeps, which otherwise total ~half a minute across a session.
    // All snapshots sit OUTSIDE the timed region.
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    def timeOnceFrom(
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        before: Seq[Long]): (Double, Seq[Long], Seq[Long], Option[Double]) = {
      val c0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val c1 = threads.getCurrentThreadCpuTime
      dropPersisted()
      val after = metrics.snapshot()
      (sec, after, after.zip(before).map { case (a, b) => a - b },
        Option.when(c0 >= 0 && c1 >= 0)((c1 - c0) / 1e9))
    }

    /** Physical-plan fingerprint, stable across JVMs/rounds iff the
      * plan shape is unchanged: expression ids, codegen/exchange ids,
      * and file-listing specifics are normalized away before hashing.
      * With SPARK_GRAFT_DUMP_PLANS=<dir> set, the normalized text is
      * also written to <dir>/<name>.plan.txt so an fp drift can be
      * adjudicated by diff instead of re-deriving (VERDICT r11 #6).
      */
    var dumpPlanName: String = ""
    def planFingerprint(df: org.apache.spark.sql.DataFrame): String =
      try {
        val p = planText(df.queryExecution.executedPlan.toString)
        sys.env.get("SPARK_GRAFT_DUMP_PLANS").foreach { dir =>
          val d = java.nio.file.Paths.get(dir)
          java.nio.file.Files.createDirectories(d)
          java.nio.file.Files.writeString(
            d.resolve(dumpPlanName + ".plan.txt"), p)
        }
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes("UTF-8"))
        d.take(4).map(b => f"$b%02x").mkString
      } catch { case NonFatal(_) => "error" }

    // Per-entry host-load snapshot (VERDICT r11 #10): r9–r11 all
    // shipped sessions contaminated by concurrent host activity that
    // had to be adjudicated by a judge rerun. Capturing CPU pressure
    // (PSI avg10: % of the last 10s some runnable task stalled on
    // CPU) and the 1-min loadavg PER ENTRY lets a contaminated entry
    // self-identify in the artifact — a >1.3× delta flag with
    // psi_avg10 ≈ 0 at measure time is a real regression; one with
    // high pressure is the host.
    def hostLoad(): String = {
      def read(p: String): String =
        try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        catch { case NonFatal(_) => "" }
      val psi = read("/proc/pressure/cpu")
      val avg10 = psi.linesIterator.find(_.startsWith("some"))
        .flatMap(_.split("\\s+").find(_.startsWith("avg10="))
          .map(_.stripPrefix("avg10=")))
        .getOrElse("-1")
      val la = read("/proc/loadavg").split("\\s+")
      val load1 = if (la.nonEmpty && la(0).nonEmpty) la(0) else "-1"
      val running = // "R/T" field, e.g. "2/323" → 2 runnable
        if (la.length > 3 && la(3).contains("/")) la(3).split("/")(0)
        else "-1"
      s"""{"psi_cpu_avg10":$avg10,"load1":$load1,"running":$running}"""
    }

    // SPARK_GRAFT_BENCH_FILTER: optional name regex for attribution
    // runs (e.g. a suspected regression benched alone, at several
    // commits). The driver's per-round run sets no filter and gets
    // the full contract order.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    def keep(n: String): Boolean =
      filter.forall(_.findFirstIn(n).isDefined)
    // qs4b is the ORACLE face of the streaming RocksDB interval join —
    // the same multi-batch pipeline the dedicated qs4_stream_rocksdb
    // harness below already times once per session with a startup /
    // steady-state split. Running a full stream (slice write + state
    // store open + N triggers) 4 more times in the main pass would add
    // ~a minute of pure harness overhead per session with no signal
    // the qs4 leg doesn't already publish.
    val benchExclude = Set("qs4b_stream_rocksdb_join")
    val names = SparkEntry.declared.map(_.name)
      .filterNot(benchExclude).filter(keep)
    final case class QResult(name: String, runs: Seq[Double],
        perRun: Seq[Seq[Long]], stages: Seq[Long], fp: String,
        host: String = "{}", driverCpuSecs: Seq[Option[Double]] = Nil) {
      // per-run executor CPU seconds (snapshot index 6 = cpuNs delta)
      def cpuSecs: Seq[Double] = perRun.map(_(6) / 1e9)
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // ONE DataFrame serves both the fingerprint and the warm-up run:
      // several codec queries do eager work (temp-dir writes) at
      // construction, so a separate fingerprint-only construction
      // would pay a 5th full side-effect per bench run
      try {
        val df0 = fn(spark, sfDir)
        dumpPlanName = name
        val fp = planFingerprint(df0)
        val t0 = System.nanoTime()
        df0.queryExecution.toRdd.count() // warm-up (pre-built plan)
        val w = (System.nanoTime() - t0) / 1e9
        dropPersisted()
        var snap = metrics.snapshot()
        val timed = Seq.fill(3) {
          val (sec, after, deltas, driverSec) = timeOnceFrom(fn, snap)
          snap = after
          (sec, deltas, driverSec)
        }
        // host snapshot AFTER the timed runs: PSI avg10 is a trailing
        // 10s average, so this reading covers the measurement window
        QResult(name, w +: timed.map(_._1), timed.map(_._2),
          timed.map(_._2).transpose.map(_.sum), fp, hostLoad(),
          timed.map(_._3))
      } catch {
        case NonFatal(_) => QResult(name, Seq(-1.0), Nil, Nil, "error")
      }
    }
    def median(runs: Seq[Double]): Double =
      if (runs.head < 0) -1.0 else runs.tail.sorted.apply(1)

    // min-of-sessions floor, loaded BEFORE the second pass (VERDICT
    // r15 #1): the committed quiet-session records define what each
    // entry has provably cost on this host; any entry elevated >1.3×
    // above that floor in the main pass gets an in-session second
    // opinion — not just the ones that happen to be headliners or
    // top-20 (the r15 xt24 4× elevation shipped unadjudicated because
    // it cleared neither bar).
    val sessionMins: Seq[Map[String, Double]] = try {
      val dir = java.nio.file.Paths.get("bench_sessions")
      if (!java.nio.file.Files.isDirectory(dir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.toSeq
          .filter(_.toString.endsWith(".json")).sortBy(_.toString)
          .map(p => flatObj(java.nio.file.Files.readString(p), "mins"))
          .filter(_.nonEmpty)
        finally s.close()
      }
    } catch { case NonFatal(_) => Nil }
    val sessionFloor: Map[String, Double] = sessionMins
      .flatMap(_.toSeq).filter(_._2 > 0)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }

    // Interleaved second pass in REVERSE order: a query that is slow
    // in the main pass but fast here (a different session position,
    // long after its neighbors) was a host-noise victim, not a
    // regression — the in-session control the r5 cross-round drift
    // adjudication lacked. Coverage (VERDICT r9 #1 + r15 #1): the
    // headliners, PLUS the 20 most expensive entries by main-pass
    // median, PLUS every entry whose main-pass median exceeds 1.3×
    // its committed quiet-session floor (≥0.3s — sub-tenth entries
    // flip on scheduler jitter alone), so the entries that dominate
    // the total OR contradict the session record always get a second
    // opinion.
    val pass2Names = {
      val top = results.filter(_.runs.head >= 0)
        .sortBy(r => -median(r.runs)).take(20).map(_.name)
      val elevated = results.filter { r =>
        val m = median(r.runs)
        val fl = sessionFloor.getOrElse(r.name, -1.0)
        m >= 0.3 && fl > 0 && m > 1.3 * fl
      }.map(_.name)
      val inOrder = results.map(_.name)
        .filter(n => benchHeadliners.contains(n) || top.contains(n) ||
          elevated.contains(n))
      inOrder.reverse
    }
    val pass2 = {
      var snap = metrics.snapshot()
      pass2Names.map { name =>
        val fn = SparkEntry.queries(name)
        try {
          val (sec, after, deltas, _) = timeOnceFrom(fn, snap)
          snap = after
          (name, sec, deltas(6) / 1e9)
        } catch {
          case NonFatal(_) =>
            snap = metrics.snapshot()
            (name, -1.0, -1.0)
        }
      }
    }
    // Self-gating (VERDICT r9 #1 + r15 #1): any entry whose pass1
    // median and pass2 single run diverge >2× (slower side ≥0.5s —
    // sub-half-second entries flip on scheduler jitter alone), OR
    // whose elevation above the quiet-session floor PERSISTS through
    // pass 2 at >2× (both observations, ≥0.3s — the xt24-class
    // contamination signature; the r15 sweep read 4-5× where host-era
    // noise reads 1.1-1.5×, and a 1.3× trigger here fired ~95
    // harmless reruns per session once the min-of-24-sessions floor
    // got tight, see bench_sessions/README session_r16_02), is
    // flagged as session-contaminated and re-run ONCE for a tiebreak.
    // Its published trusted value is the MIN across all observations
    // — the sound estimator under additive noise: noise only ever
    // ADDS time, so the fastest
    // observation is the closest to the true cost.
    val anomalies = {
      var snap = metrics.snapshot()
      results.flatMap { r =>
        val m = median(r.runs)
        val fl = sessionFloor.getOrElse(r.name, -1.0)
        pass2.find(_._1 == r.name).map(_._2) match {
          case Some(p2) if m > 0 && p2 > 0 &&
              ((math.max(m, p2) >= 0.5 &&
                (m / p2 > 2.0 || p2 / m > 2.0)) ||
               (fl > 0 && math.min(m, p2) >= 0.3 &&
                math.min(m, p2) > 2.0 * fl)) =>
            val rerun = try {
              val (sec, after, _, _) = timeOnceFrom(
                SparkEntry.queries(r.name), snap)
              snap = after
              sec
            } catch { case NonFatal(_) => -1.0 }
            Some((r.name, m, p2, rerun))
          case _ => None
        }
      }
    }
    // xs10 phase attribution (VERDICT r9 #4): the gated entry folds
    // model training into the timed unit; time prep (label centroids +
    // residual codebooks — corpus aggregations, amortized once per
    // model) and query (the IVFADC probe chain on the frozen model)
    // separately so a drift can be attributed to the right phase.
    val xs10Phases: Seq[(String, Double)] =
      if (!keep("xs10_ivfpq_ann")) Nil
      else try {
        val t0 = System.nanoTime()
        val (cents, books) =
          graft.queries.SimilarityQueries.xs10PrepModel(spark, sfDir)
        val prepSec = (System.nanoTime() - t0) / 1e9
        dropPersisted()
        var snap = metrics.snapshot()
        val qRuns = Seq.fill(3) {
          val (sec, after, _, _) = timeOnceFrom((s, d) =>
            graft.queries.SimilarityQueries
              .xs10QueryWith(s, d, cents, books), snap)
          snap = after
          sec
        }
        Seq("xs10_prep_sec" -> prepSec,
          "xs10_query_sec" -> qRuns.sorted.apply(1))
      } catch { case NonFatal(_) =>
        Seq("xs10_prep_sec" -> -1.0, "xs10_query_sec" -> -1.0) }
    // Streaming bench: the qs4 stream-stream interval join re-run as a
    // REAL multi-batch stream (time-ordered file splits, 2 files per
    // trigger) under the RocksDB state store — the off-heap state
    // configuration a 100 TB stream needs. Single run (a median would
    // re-pay startup 3×), but split into startup + steady-state
    // sec/batch via the query's progress log so the number can trend.
    val (streamTotal, streamBatches, streamSecPerBatch) =
      try {
        if (!keep("qs4_stream_rocksdb")) throw new RuntimeException("filtered")
        val tmp = java.nio.file.Files.createTempDirectory("graft_qs4s")
        try {
          val ev = graft.queries.T.t(spark, sfDir, "events")
          ev.repartitionByRange(8, org.apache.spark.sql.functions.col("ts"))
            .write.mode("overwrite").parquet(tmp.toString)
          // FileStreamSource replays in modification-time order and the
          // writer tasks finish in arbitrary order; stamp mod-times
          // ascending in part-file (= ts-range) order so every session
          // streams the same in-order batch composition (and matches
          // the qs4b oracle entry's replay)
          tmp.toFile.listFiles
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .zipWithIndex.foreach { case (f, i) =>
              f.setLastModified(1700000000000L + i * 60000L)
            }
          val t0 = System.nanoTime()
          var progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
          // recentProgress is a ring buffer (default 100 entries); a
          // larger events table would evict the startup batch and
          // silently shift the steady-state split — size it so every
          // batch of any plausible bench corpus is retained
          spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", "10000")
          // the STATEFUL shuffle sized to state volume, not CPU count
          // (see withStatefulShufflePartitions)
          import graft.streaming.Streams.{withRocksDBStateStore,
            withStatefulShufflePartitions}
          withStatefulShufflePartitions(spark, 8) {
            withRocksDBStateStore(spark) {
              val stream = spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "2").parquet(tmp.toString)
              val q = graft.streaming.Streams.viewPurchaseJoin(stream)
                .writeStream.outputMode("append").format("noop").start()
              try q.processAllAvailable() finally {
                progress = q.recentProgress.toSeq
                q.stop()
              }
            }
          }
          val total = (System.nanoTime() - t0) / 1e9
          // steady state = mean batch duration EXCLUDING the first
          // batch (which absorbs stream init + state-store open)
          val durs = progress.filter(_.numInputRows > 0)
            .map(_.durationMs.get("triggerExecution").toDouble / 1e3)
          val steady =
            if (durs.size > 1) durs.tail.sum / (durs.size - 1) else -1.0
          (total, durs.size, steady)
        } finally {
          // each bench run writes a full events-table copy here; left
          // behind, the round loop steadily fills /tmp. Best-effort:
          // a straggler holding a checkpoint file must not turn a
          // successful measurement into -1.0 via the outer catch
          // (NonFatal: an OOM/interrupt must propagate, not vanish).
          try {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(tmp)
            try walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
            finally walk.close()
          } catch { case NonFatal(_) => () }
        }
      } catch { case NonFatal(_) => (-1.0, 0, -1.0) }

    // Locale.ROOT: the f-interpolator honors the JVM default locale,
    // which would print comma decimal separators (invalid JSON) on
    // e.g. de_DE machines.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    def minOf(runs: Seq[Double]): Double =
      if (runs.head < 0) -1.0 else runs.tail.min

    val medians = results.map(r => r.name -> median(r.runs)) :+
      ("qs4_stream_rocksdb" -> streamTotal)
    val mins = results.map(r => r.name -> minOf(r.runs)) :+
      ("qs4_stream_rocksdb" -> streamTotal)
    // trusted = min over ALL in-session observations of an entry
    // (3 timed main-pass runs, its pass2 run if any, its anomaly
    // rerun if any). Under additive noise the min is the sound
    // estimator; this is the number a single contaminated window
    // can't inflate.
    val extraObs: Map[String, Seq[Double]] = {
      val p2 = pass2.collect { case (n, s, _) if s >= 0 => (n, s) }
      val rr = anomalies.collect { case (n, _, _, r) if r >= 0 => (n, r) }
      (p2 ++ rr).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    }
    val trusted = results.map { r =>
      val obs = (if (r.runs.head < 0) Nil else r.runs.tail) ++
        extraObs.getOrElse(r.name, Nil)
      r.name -> (if (obs.isEmpty) -1.0 else obs.min)
    } :+ ("qs4_stream_rocksdb" -> streamTotal)
    // min-of-sessions (VERDICT r9 #8): fold in committed per-entry
    // mins from previous quiet sessions (bench_sessions/*.json,
    // loaded before pass 2 above) so one bad session can't move the
    // headline.
    val minSessions = trusted.map { case (n, v) =>
      val all = (v +: sessionFloor.get(n).toSeq).filter(_ >= 0)
      n -> (if (all.isEmpty) -1.0 else all.min)
    }
    // per-query executor CPU seconds (median of the 3 timed runs):
    // the contention-immune trend metric
    val cpuSec = results.map(r => r.name ->
      (if (r.perRun.size == 3) r.cpuSecs.sorted.apply(1) else -1.0))
    val driverCpuSec = results.map(r => r.name -> r.driverCpuSecs.flatten)
      .collect { case (n, d) if d.size == 3 => n -> d.sorted.apply(1) }
    val total = medians.map(_._2).filter(_ >= 0).sum
    val minTotal = mins.map(_._2).filter(_ >= 0).sum
    val cpuTotal = cpuSec.map(_._2).filter(_ >= 0).sum
    val trustedTotal = trusted.map(_._2).filter(_ >= 0).sum
    val minSessionsTotal = minSessions.map(_._2).filter(_ >= 0).sum
    // The driver captures only the last 2000 chars of stdout; the full
    // evidence record (runs/stages/fingerprints for 120+ entries)
    // cannot fit, so stdout carries a headline subset and the complete
    // record goes to bench_full.json.
    val head = medians.filter(r => benchHeadliners.contains(r._1))
      .map { case (k, v) => k -> r3(v) }
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""queries":${jmap(head)},"n_queries":${medians.size},""" +
      s""""min_total":${r3(minTotal)},"cpu_sec_total":${r3(cpuTotal)},""" +
      s""""trusted_total":${r3(trustedTotal)},""" +
      s""""min_sessions_total":${r3(minSessionsTotal)},""" +
      s""""n_bench_sessions":${sessionMins.size + 1},""" +
      s""""anomaly_count":${anomalies.size},""" +
      xs10Phases.map { case (k, v) => s""""$k":${r3(v)},""" }.mkString +
      s""""qs4_sec_per_batch":${r3(streamSecPerBatch)},""" +
      s""""full":"bench_full.json","sf":"$sfDir"}"""

    val stageKeys = Seq("shuffle_read_b", "shuffle_write_b",
      "spill_mem_b", "spill_disk_b", "gc_ms", "run_ms", "cpu_ns")
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""queries":${jmap(medians.map { case (k, v) => k -> r3(v) })},""" +
      s""""mins":${jmap(mins.map { case (k, v) => k -> r3(v) })},""" +
      s""""cpu_sec":${jmap(cpuSec.map { case (k, v) => k -> r3(v) })},""" +
      s""""driver_cpu_sec":${jmap(
          driverCpuSec.map { case (k, v) => k -> r3(v) })},""" +
      s""""runs":${jmap(results.map(r =>
          r.name -> r.runs.map(r3).mkString("[", ",", "]")))},""" +
      s""""runs_cpu_sec":${jmap(results.filter(_.perRun.nonEmpty).map(r =>
          r.name -> r.cpuSecs.map(r3).mkString("[", ",", "]")))},""" +
      s""""stages":${jmap(results.filter(_.stages.nonEmpty).map(r =>
          r.name -> jmap(stageKeys.zip(r.stages.map(_.toString)))))},""" +
      s""""host":${jmap(results.map(r => r.name -> r.host))},""" +
      s""""plan_fp":${jmap(results.map(r =>
          r.name -> ("\"" + r.fp + "\"")))},""" +
      s""""trusted":${jmap(trusted.map { case (k, v) => k -> r3(v) })},""" +
      s""""min_sessions":${jmap(
          minSessions.map { case (k, v) => k -> r3(v) })},""" +
      s""""n_bench_sessions":${sessionMins.size + 1},""" +
      s""""pass2":{"order":"reverse_headliners_plus_top20",""" +
      s""""queries":${jmap(pass2.map(p => p._1 -> r3(p._2)))},""" +
      s""""cpu_sec":${jmap(pass2.map(p => p._1 -> r3(p._3)))}},""" +
      s""""anomalies":${jmap(anomalies.map { case (n, m, p2, rr) =>
          n -> (s"""{"pass1_median":${r3(m)},"pass2":${r3(p2)},""" +
            s""""rerun":${r3(rr)}}""") })},""" +
      s""""phases":${jmap(
          xs10Phases.map { case (k, v) => k -> r3(v) })},""" +
      s""""qs4":{"total_sec":${r3(streamTotal)},"n_batches":$streamBatches,""" +
      s""""sec_per_batch_steady":${r3(streamSecPerBatch)}},""" +
      s""""sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), full + "\n")
    // BENCH_DELTA as the LAST bench step (VERDICT r9 #1): generated
    // from the artifact just written, against the committed previous-
    // round reference — by construction its new_sec IS the shipped
    // median (the r9 artifact described a different session).
    try {
      val refPath = java.nio.file.Paths.get("bench_ref.json")
      if (java.nio.file.Files.isRegularFile(refPath)) {
        val ref = java.nio.file.Files.readString(refPath)
        val oq = flatObj(ref, "queries")
        val ocpu = flatObj(ref, "cpu_sec")
        val thresh = 1.3
        // baseline per entry = min over (bench_ref median, committed
        // quiet-session per-entry mins) — the min-of-sessions fold
        // (VERDICT r11 #2): one contaminated historical window cannot
        // inflate the baseline. The NEW side of the ratio is this
        // session's TRUSTED value (min over all in-session
        // observations), not the median: comparing a median against a
        // min-of-history baseline is structurally biased ~1.1-1.3x on
        // small entries (median > min under any jitter), which floods
        // the flag list with noise. Min-vs-min is estimator-
        // consistent; a flag means "even this session's BEST
        // observation is >1.3x the best the quiet history has shown".
        // The 0.5s floor matches the anomaly gate: sub-half-second
        // entries flip >1.3x on scheduler jitter alone.
        val trustedMap = trusted.toMap
        val minSessionsMap = minSessions.toMap
        val entries = medians.sortBy(_._1).map { case (n, nv) =>
          val obs = (oq.get(n).toSeq ++ sessionFloor.get(n).toSeq)
            .filter(_ > 0)
          val ov = if (obs.isEmpty) -1.0 else obs.min
          val tv = trustedMap.getOrElse(n, nv)
          val ratio = if (ov > 0 && tv > 0) tv / ov else -1.0
          val nc = cpuSec.toMap.getOrElse(n, -1.0)
          val oc = ocpu.getOrElse(n, -1.0)
          val cpuR = if (oc > 0 && nc > 0) nc / oc else -1.0
          val flag = ratio > thresh && tv >= 0.5
          (n, ov, nv, ratio, cpuR, flag)
        }
        val flagged = entries.filter(_._6).map(_._1)
        val delta =
          s"""{"old":"min(bench_ref.json, bench_sessions mins)",""" +
          s""""n_baseline_sessions":${sessionMins.size},""" +
          s""""new":"bench_full.json",""" +
          s""""threshold":$thresh,"n_entries":${entries.size},""" +
          s""""flagged":[${flagged.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""new_entries":[${medians.map(_._1).filterNot(oq.contains)
              .sorted.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""removed_entries":[${oq.keys.toSeq
              .filterNot(medians.map(_._1).toSet).sorted
              .map("\"" + _ + "\"").mkString(",")}],""" +
          // trusted_sec = min over quiet sessions ∪ this run (VERDICT
          // r15 #1: publishing the in-session min as "trusted" let a
          // contaminated sweep label a 4×-elevated number trusted
          // while all eight session records read 0.46s);
          // run_trusted_sec keeps this session's own min visible so
          // an elevation is still adjudicable from the artifact alone.
          s""""entries":${jmap(entries.map { case (n, ov, nv, ra, cr, fl) =>
            n -> (s"""{"old_sec":${r3(ov)},"new_sec":${r3(nv)},""" +
              s""""trusted_sec":${r3(minSessionsMap.getOrElse(n,
                trustedMap.getOrElse(n, nv)))},""" +
              s""""run_trusted_sec":${r3(trustedMap.getOrElse(n, nv))},""" +
              s""""ratio":${r3(ra)},"cpu_ratio":${r3(cr)},""" +
              s""""flag":$fl}""") })}}"""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_DELTA.json"), delta + "\n")
      }
    } catch { case NonFatal(_) => () }
    println(line)
    spark.stop()
  }
}
