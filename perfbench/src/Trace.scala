package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval, in epoch milliseconds. `op` is the op index
  * the span belongs to (-1 outside any op).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, var end: Double = Double.NaN) {
  def dur: Double = end - start
}

/** Finished task as the listener saw it. */
final case class TaskRec(stage: Int, launch: Double, finish: Double,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleReadB: Long,
    shuffleWriteB: Long, spillB: Long, outRows: Long, empty: Boolean)

/** In-memory span recorder plus the Spark listeners that add job,
  * stage and streaming-batch spans. Benchmark spans are opened and
  * closed by the single client thread; listener spans are parented to
  * the benchmark span open when they start (stages to their job).
  * Nothing is recorded inside the program.
  */
final class Trace extends SparkListener with SparkBench.Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var open: Span = null
  @volatile var op: Int = -1
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Span]
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var emptyBatches = 0
  var stateRows = 0L

  private def add(name: String, parent: Int, start: Double): Span =
    synchronized {
      val s = Span(spans.size, name, parent, op, start)
      spans += s
      s
    }

  /** Runs `body` inside a benchmark span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val s = add(name, if (open == null) -1 else open.id, now())
    stack.push(s); open = s
    try body
    finally {
      s.end = now()
      stack.pop()
      open = if (stack.isEmpty) null else stack.top
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = if (open == null) -1 else open.id
    jobSpan(e.jobId) = add("sched.job", parent, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).flatMap(jobSpan.get)
        .map(_.id).getOrElse(if (open == null) -1 else open.id)
      stageSpan(info.stageId) = add("sched.stage", parent,
        info.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageSpan.get(info.stageId).foreach(_.end =
        info.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val in = m.inputMetrics.recordsRead
      val out = m.outputMetrics.recordsWritten
      val sr = m.shuffleReadMetrics.recordsRead
      val sw = m.shuffleWriteMetrics.recordsWritten
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, out + sw,
        in == 0 && out == 0 && sr == 0 && sw == 0)
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val ms: Long = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + ms
        val s = add("streaming.batch", if (open == null) -1 else open.id,
          end - ms)
        s.end = end
        batchMs += ms
        if (p.numInputRows == 0) emptyBatches += 1
        stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Duration minus the part of it covered by the span's children. */
  def selfTimes: Map[String, Double] = {
    val ss = all.filter(!_.end.isNaN)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Trace.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        s.dur - covered
      }.sum
    }
  }

  /** Spans as JSON lines for the trace artifact. */
  def toJson: String = all.map { s =>
    val end = if (s.end.isNaN) "null" else f"${s.end}%.3f"
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      f""""start_ms":${s.start}%.3f,"end_ms":$end}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
