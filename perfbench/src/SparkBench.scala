package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{RqEngine, SparkEntry}

/** The in-process workloads: `rq-convert`, `sql-tpch` and `loop-state`,
  * each a closed loop of one client running one op at a time on a
  * `local[N]` session (N = `--cpus`).
  *
  * A run builds the session five times for `setup_s`: from process
  * launch, then four more times in-process; the median, which is a
  * warm rebuild, is reported and all five are kept in the result. It
  * runs one check pass that verifies every op's full output, the
  * [[WarmupPasses]], then whole timed passes, each started while
  * `--seconds` have not yet elapsed. The op order within a pass is
  * shuffled by the seed. Traced (`--trace 1`), it runs one untimed
  * check pass, one untraced pass and one traced pass, and measures the
  * layers directly.
  */
object SparkBench {

  /** Four of the twenty TPC-H entries: a three-way join with top-k
    * (Q3), a scan-aggregate (Q6) and the two compute-bound ones, Q21
    * and Q2. A run with all twenty does not fit the time budget.
    */
  val TpchEntries: Seq[String] = Seq("q31_tpch_q3", "q50_tpch_q21",
    "q56_tpch_q2", "q61_tpch_q6")
  /** An iterative loop whose jobs run while its DataFrame is built
    * (xg5) and real Structured Streaming micro-batches with state
    * (qs31). Each cold loop entry costs ~10 s in the check pass, so
    * the others of the family do not fit the time budget.
    */
  val LoopEntries: Seq[String] = Seq("xg5_label_propagation",
    "qs31_stream_session_tws")
  /** Untimed passes after the check pass: the ops are still being
    * JIT-compiled after one run. Without these an rq-convert op got
    * 30-40% faster over its first seven timed passes, and a loop op
    * still ran 10-25% faster the third and fourth time than the second.
    */
  val WarmupPasses: Map[String, Int] =
    Map("rq-convert" -> 3, "sql-tpch" -> 2, "loop-state" -> 2)

  def entries(workload: String): Seq[String] =
    if (workload == "sql-tpch") TpchEntries else LoopEntries
  val Pairs: Seq[(String, String)] = Seq("msgpack" -> "json",
    "json" -> "msgpack", "cbor" -> "msgpack", "avro" -> "json")

  /** One op of a pass. `run` does the timed work; `check` verifies its
    * output cheaply after every timed op. `verify` (check pass) runs the
    * op once and verifies its whole output; the count of wrong records
    * or rows it yields may be computed in the background.
    */
  final case class Op(label: String, run: Tracer => Unit,
      check: () => Boolean, verify: () => Future[Long], inputBytes: Long)

  /** Span sink; the untraced runs use [[NoTrace]], which adds nothing. */
  trait Tracer { def span[T](name: String)(body: => T): T }
  object NoTrace extends Tracer { def span[T](name: String)(body: => T): T = body }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, as numpy's default. */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  private def newSession(work: File, n: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** Executor input bytes per pass, attributed through the job's
    * `perfbench.pass` local property; always on (it does no tracing).
    */
  private final class InputBytes extends SparkListener {
    private val stagePass = mutable.Map.empty[Int, Int]
    val bytes = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.pass")))
        .foreach(p => e.stageIds.foreach(stagePass(_) = p.toInt))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) stagePass.get(e.stageId).foreach(p =>
        bytes(p) += e.taskMetrics.inputMetrics.bytesRead)
    }
  }

  /** Catalyst phases of commands run through `DataFrameWriter` (the
    * rq-convert writes), which expose no DataFrame to ask.
    */
  private final class Phases extends QueryExecutionListener {
    val ms = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(addPhases(qe, ms))
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def addPhases(qe: QueryExecution, ms: mutable.Map[String, Double]): Unit = {
    qe.tracker.phases.foreach { case (k, v) => ms(k) += v.durationMs.toDouble }
    var n = 0
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .foreach(qe.executedPlan)(_ => n += 1)
    ms("plan_nodes") += n
  }

  private def drain(): Unit = Thread.sleep(300)

  /** VmHWM of this process, in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def readTsv(path: String): Map[String, (String, Long)] =
    Files.readAllLines(new File(path).toPath).asScala.filter(_.nonEmpty)
      .map(_.split("\t")).map(a => a(0) -> (a(1), a(2).toLong)).toMap

  /** Loads the classes a run's set-up and a first query need. */
  def archive(a: Map[String, String]): Map[String, Any] = {
    val work = new File(a("work"))
    val spark = newSession(work, a("cpus").toInt)
    val dir = new File(work, "tmp/archive").getPath
    spark.range(100).selectExpr("id", "cast(id as string) s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy("s").count().collect()
    spark.stop()
    Map.empty
  }

  def run(a: Map[String, String]): Map[String, Any] = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val launchedMs = a("launched-ms").toDouble
    val cpus = a("cpus").toInt

    def stamp(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - launchedMs) / 1e3}%.1f s after launch: $what")

    // setup_s: process launch to first op ready, then four more
    // in-process rebuilds of the session; the median is reported.
    var spark = newSession(work, cpus)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - launchedMs) / 1e3)
    for (_ <- 0 until 4) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = newSession(work, cpus)
      setups += (System.nanoTime() - t0) / 1e9
    }
    stamp(s"sessions built: ${setups.map(x => f"$x%.2f").mkString(" ")}")
    val inputBytes = new InputBytes
    spark.sparkContext.addSparkListener(inputBytes)
    val phases = new Phases
    spark.listenerManager.register(phases)
    val sc = spark.sparkContext

    def dropPersisted(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

    val engine = new RqEngine(spark)
    val corpus = a.get("corpus").map(new File(_))
    val records = a.get("per-shard").map(_.split(",").map(_.toInt).toSeq)

    val catalystMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var persistedLeft = 0L
    val ops: IndexedSeq[Op] = workload match {
      case "rq-convert" =>
        val shards = records.get.zipWithIndex.map(_.swap)
        lazy val want = Corpus.expected(seed, shards)
        Pairs.map { case (in, out) =>
          val inDir = new File(corpus.get, in)
          val outDir = new File(work, s"out/$in-$out")
          var outBytes = -1L
          def written = Corpus.dataFiles(outDir).map(_.length).sum
          Op(s"$in->$out",
            t => t.span("sources.convert")(
              engine.run(in, inDir.getPath, out, outDir.getPath)),
            () => written == outBytes,
            () => {
              engine.run(in, inDir.getPath, out, outDir.getPath)
              outBytes = written
              Future(Corpus.mismatches(Corpus.dataFiles(outDir), out, want))
            },
            Corpus.dataFiles(inDir).map(_.length).sum)
        }.toIndexedSeq
      case "sql-tpch" | "loop-state" =>
        val names = entries(workload)
        val want = readTsv(a("expect"))
        val tables = a("tables")
        val byName = SparkEntry.declared.map(q => q.name -> q).toMap
        names.map { name =>
          val q = byName(name)
          var rows = -1L
          Op(name,
            t => {
              val df = t.span("queries.build")(q.fn(spark, tables))
              t.span("catalyst.plan")(df.queryExecution.executedPlan)
              rows = t.span("exec.action")(df.queryExecution.toRdd.count())
              if (t ne NoTrace) addPhases(df.queryExecution, catalystMs)
            },
            () => rows == want(name)._2,
            () => Future.successful {
              val df = q.fn(spark, tables)
              val (digest, n) = Canon.digest(df.columns.toSeq, df.collect())
              if (digest == want(name)._1) 0L
              else {
                System.err.println(s"[perfbench] $name: digest $digest ($n rows) " +
                  s"!= oracle ${want(name)._1} (${want(name)._2} rows)")
                math.max(1L, math.abs(n - want(name)._2))
              }
            },
            0L)
        }.toIndexedSeq
    }
    var attempted = 0L
    var failed = 0L
    var wrongRecords = 0L

    // check pass: every op's whole output against the generator or
    // the oracle; it also warms caches and the JIT
    val verdicts = ops.map { op =>
      val t0 = System.nanoTime()
      val bad = try op.verify() catch { case NonFatal(e) => Future.failed(e) }
      dropPersisted()
      System.err.println(f"[perfbench] check ${op.label} ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      op -> bad
    }
    verdicts.foreach { case (op, bad) =>
      attempted += 1
      val n = try Await.result(bad, Duration.Inf)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] ${op.label} failed: $e"); 1L
      }
      if (n != 0) { failed += 1; wrongRecords += n }
    }
    stamp("check pass done")
    for (_ <- 0 until WarmupPasses(workload)) ops.foreach { op =>
      try op.run(NoTrace) catch { case NonFatal(_) => () } // counted when timed
      dropPersisted()
    }

    final case class OpTime(pass: Int, op: Int, ms: Double, cpuS: Double)

    /** One pass over the ops in the seed's order for pass `p`. */
    def pass(p: Int, t: Tracer, tr: Option[Trace]): Seq[OpTime] = {
      sc.setLocalProperty("perfbench.pass", p.toString)
      val order = new scala.util.Random(seed * 31 + p).shuffle(ops.indices.toList)
      order.map { i =>
        val op = ops(i)
        tr.foreach(_.op = i)
        val c0 = cpuBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val ok = try { t.span("op")(op.run(t)); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.label} failed: $e"); false
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
        System.err.println(f"[perfbench] pass $p ${op.label} $ms%.1f ms")
        attempted += 1
        if (!(ok && op.check())) failed += 1
        if (tr.isDefined) persistedLeft += sc.getPersistentRDDs.size
        dropPersisted()
        OpTime(p, i, ms, cpu)
      }
    }
    val base = Map[String, Any]("wrong_records" -> wrongRecords,
      "setup_runs_s" -> setups.toSeq)

    if (!traced) {
      // Whole passes only, started while time is left: every op then
      // weighs the same in the percentiles, whatever the seed's order.
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val times = mutable.ArrayBuffer.empty[OpTime]
      var p = 0
      while (p == 0 || System.nanoTime() < deadline) {
        times ++= pass(p, NoTrace, None); p += 1
      }
      drain()
      stamp("timed passes done")
      // A pass is timed as the sum of each op's median over the run (the
      // median pass): one slow op on a shared host moves it less than
      // it moves any single pass.
      val byOp = times.groupBy(_.op).values.toSeq
      val wallS = byOp.map(ts => median(ts.map(_.ms).toSeq)).sum / 1e3
      val passMb = workload match {
        case "rq-convert" => ops.map(_.inputBytes).sum / 1e6
        case _ => (0 until p).map(inputBytes.bytes(_)).sum / 1e6 / p
      }
      val lat = times.map(_.ms).toSeq
      base ++ Map(
        "attempted" -> attempted, "failed" -> failed,
        "passes" -> p, "ops_timed" -> lat.size,
        "metrics" -> Map(
          "setup_s" -> median(setups.toSeq),
          "wall_s" -> wallS,
          "mb_per_s" -> passMb / wallS,
          "op_p50_ms" -> pct(lat, 0.5),
          "op_p90_ms" -> pct(lat, 0.9),
          "cpu_s" -> byOp.map(ts => median(ts.map(_.cpuS).toSeq)).sum,
          "peak_rss_mb" -> peakRssMb()))
    } else {
      val untraced = pass(0, NoTrace, None).map(_.ms).sum
      val trace = new Trace
      sc.addSparkListener(trace)
      spark.streams.addListener(trace.streaming)
      phases.ms.clear()
      val tracedOps = pass(1, trace, Some(trace))
      drain()
      sc.removeSparkListener(trace)
      spark.streams.removeListener(trace.streaming)
      val tracedMs = tracedOps.map(_.ms).sum
      val layers = Layers.compute(trace, tracedMs, untraced,
        if (workload == "rq-convert") phases.ms else catalystMs, persistedLeft)
      val extra = workload match {
        case "rq-convert" =>
          Layers.sources(spark, engine, corpus.get, work,
            Layers.formats(corpus.get, records.get.indices), trace,
            Pairs)
        case _ => Map.empty[String, Double]
      }
      val traceDir = new File(work, "trace"); traceDir.mkdirs()
      Files.writeString(new File(traceDir, s"$workload-$seed.json").toPath,
        trace.toJson)
      base ++ Map("attempted" -> attempted, "failed" -> failed,
        "layers" -> (layers ++ extra))
    }
  }
}
