package perfbench

import java.io.{BufferedInputStream, File, FileInputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.RqEngine
import graft.formats.{JsonCodec, Value}
import graft.sources.RqFormat

/** Per-layer metrics of one traced pass. Every workload reports every
  * metric; a layer the workload bypasses reads 0.
  */
object Layers {

  val SpanNames: Seq[String] = Seq("op", "queries.build", "catalyst.plan",
    "exec.action", "sources.convert", "sched.job", "sched.stage",
    "streaming.batch")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def compute(tr: Trace, tracedMs: Double, untracedMs: Double,
      catalyst: collection.Map[String, Double], persistedLeft: Long)
      : Map[String, Double] = {
    val spans = tr.all
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = spans.filter(_.name == "sched.job")
    def jobsUnder(name: String): Int =
      jobs.count(j => byId.get(j.parent).exists(_.name == name))
    def total(name: String): Double =
      spans.filter(_.name == name).map(_.dur).sum
    val tasks = tr.tasks.toSeq
    val ops = spans.filter(_.name == "op")
    val gap = ops.map { o =>
      o.dur - Trace.union(tasks.map(t =>
        (math.max(t.launch, o.start), math.min(t.finish, o.end))))
    }.sum
    val self = tr.selfTimes
    Map(
      "queries.build_ms" -> total("queries.build"),
      "queries.build_jobs" -> jobsUnder("queries.build").toDouble,
      "queries.exec_ms" -> total("exec.action"),
      "queries.exec_jobs" -> jobsUnder("exec.action").toDouble,
      "queries.eager_share" -> total("queries.build") / tracedMs,
      "catalyst.analysis_ms" -> catalyst("analysis"),
      "catalyst.optimization_ms" -> catalyst("optimization"),
      "catalyst.planning_ms" -> catalyst("planning"),
      "catalyst.plan_nodes" -> catalyst("plan_nodes"),
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> spans.count(_.name == "sched.stage").toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.driver_gap_ms" -> gap,
      "sched.empty_task_share" ->
        (if (tasks.isEmpty) 0.0 else tasks.count(_.empty).toDouble / tasks.size),
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleReadB).sum / 1e6,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / 1e6,
      "exec.spill_mb" -> tasks.map(_.spillB).sum / 1e6,
      "exec.output_rows" -> tasks.map(_.outRows).sum.toDouble,
      "streaming.batches" -> tr.batchMs.size.toDouble,
      "streaming.batch_p50_ms" -> median(tr.batchMs.map(_.toDouble).toSeq),
      "streaming.empty_batch_share" ->
        (if (tr.batchMs.isEmpty) 0.0 else tr.emptyBatches.toDouble / tr.batchMs.size),
      "streaming.state_rows" -> tr.stateRows.toDouble,
      "streaming.persisted_left" -> persistedLeft.toDouble,
      "sources.task_skew" -> median(tasks.groupBy(_.stage).values
        .filter(_.size > 1).map { ts =>
          val run = ts.map(_.runMs.toDouble)
          run.max / math.max(1.0, median(run))
        }.toSeq),
      "trace.overhead" -> (tracedMs / untracedMs - 1)
    ) ++ SpanNames.map(n => s"span.$n.self_ms" -> self.getOrElse(n, 0.0))
  }

  /** The `sources` layer of rq-convert: the record-row boundary read
    * drained to the `noop` sink, the write from an already materialized
    * value frame, the planned partitions, and the share of executor run
    * time the single-threaded codec work does not explain.
    */
  def sources(spark: SparkSession, engine: RqEngine, corpus: File,
      work: File, formats: Map[String, Double], tr: Trace,
      pairs: Seq[(String, String)]): Map[String, Double] = {
    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    pairs.foreach { case (in, out) =>
      val dir = new File(corpus, in).getPath
      m("partitions") += engine.read(in, dir).rdd.getNumPartitions
      m("read_ms") += ms(engine.read(in, dir).write.format("noop")
        .mode("overwrite").save())
      val df = engine.read(in, dir).cache()
      df.count()
      m("write_ms") += ms(engine.write(out, df,
        new File(work, s"out/write-$in-$out").getPath))
      df.unpersist(blocking = true)
    }
    val codecMs = pairs.map { case (in, out) =>
      formats(s"decode_ms.$in") + formats(s"encode_ms.$out")
    }.sum
    val runMs = tr.tasks.map(_.runMs).sum.toDouble
    formats.filter(_._1.startsWith("formats.")) ++ Map(
      "sources.read_ms" -> m("read_ms"),
      "sources.write_ms" -> m("write_ms"),
      "sources.partitions" -> m("partitions"),
      "sources.boundary_share" -> (1 - codecMs / math.max(1.0, runMs)))
  }

  /** `cli.run_ms`: mean wall of an in-process `Cli.run` over the
    * small-file ops (each `file flag...`; median of 5 warm repetitions).
    */
  def cli(ops: Seq[Seq[String]]): Map[String, Double] = {
    val times = ops.map { args =>
      val file = new File(args.head)
      val opts = graft.Cli.parse(args.tail)
      val reps = (0 until 6).map { _ =>
        val in = new BufferedInputStream(new FileInputStream(file), 1 << 16)
        val t0 = System.nanoTime()
        try graft.Cli.run(opts, in, new Corpus.CountingSink)
        finally in.close()
        (System.nanoTime() - t0) / 1e6
      }.drop(1).sorted
      reps(reps.size / 2)
    }
    Map("cli.run_ms" -> times.sum / times.length)
  }

  /** The `formats` layer measured directly, single-threaded, over the
    * given shards of the corpus: decode and encode MB/s per format, the
    * record and byte counts, and the JSON text hop the row boundary
    * adds (`JsonCodec.emit` / `parse`). Two rounds; the second is
    * reported, the first warms the JIT.
    */
  def formats(corpusDir: File, shards: Seq[Int]): Map[String, Double] = {
    val opts = Map("avroSchema" -> Corpus.AvroSchemaJson)
    var out = Map.empty[String, Double]
    for (_ <- 0 until 2) {
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (f <- Corpus.Formats; shard <- shards) {
        val file = new File(new File(corpusDir, f), Corpus.shardName(shard, f))
        val buf = mutable.ArrayBuffer.empty[Value]
        val in = new BufferedInputStream(new FileInputStream(file), 1 << 16)
        val t0 = System.nanoTime()
        try RqFormat.decodeStream(f, in).foreach(buf += _) finally in.close()
        val t1 = System.nanoTime()
        val sink = new Corpus.CountingSink
        val enc = RqFormat.encoder(f, sink, opts)
        buf.foreach(enc.write)
        enc.finish()
        val t2 = System.nanoTime()
        m(s"decode_ms.$f") += (t1 - t0) / 1e6
        m(s"encode_ms.$f") += (t2 - t1) / 1e6
        m(s"bytes_in.$f") += file.length
        m(s"bytes_out.$f") += sink.count
        if (f == "msgpack") {
          m("records") += buf.size
          val t3 = System.nanoTime()
          val texts = buf.map(JsonCodec.emit)
          val t4 = System.nanoTime()
          texts.foreach(JsonCodec.parse)
          val t5 = System.nanoTime()
          m("json_emit_ms") += (t4 - t3) / 1e6
          m("json_parse_ms") += (t5 - t4) / 1e6
        }
      }
      out = Corpus.Formats.flatMap { f =>
        Seq(s"formats.decode_mb_s.$f" -> m(s"bytes_in.$f") / 1e6 / (m(s"decode_ms.$f") / 1e3),
          s"formats.encode_mb_s.$f" -> m(s"bytes_out.$f") / 1e6 / (m(s"encode_ms.$f") / 1e3),
          s"decode_ms.$f" -> m(s"decode_ms.$f"),
          s"encode_ms.$f" -> m(s"encode_ms.$f"))
      }.toMap ++ Map(
        "formats.records" -> m("records"),
        "formats.bytes_in" -> Corpus.Formats.map(f => m(s"bytes_in.$f")).sum,
        "formats.bytes_out" -> Corpus.Formats.map(f => m(s"bytes_out.$f")).sum,
        "formats.json_emit_ms" -> m("json_emit_ms"),
        "formats.json_parse_ms" -> m("json_parse_ms"))
    }
    out
  }
}
