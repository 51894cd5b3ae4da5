package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval. `parent` is 0 for an op's root span; every span of
  * one op carries that op's id (the root span's id). Times are
  * `System.nanoTime` nanoseconds.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = end - start
}

object Span {
  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by the span's layer (name prefix).
    */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer) { s =>
      Stats.selfTime(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }(_ + _)
  }

  def toJson(s: Span): String =
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}"""
}

/** In-memory span recorder for the driver thread. When disabled every
  * call is a plain pass-through, so the untraced run pays nothing.
  *
  * Spans are opened around the harness's calls into graft's layers;
  * Spark job and stage spans come from [[ExecListener]], parented to the
  * span that was open when the job started (read back from the job's
  * local properties).
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var curOp = 0

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized(buf.toList)

  /** Run `body` as the root span of a new op; returns (result, op id). */
  def op[T](name: String)(body: => T): (T, Int) = {
    if (!enabled) return (body, 0)
    require(stack.isEmpty, s"op '$name' opened inside another op")
    val id = newId()
    curOp = id
    try (open(id, name)(body), id) finally curOp = 0
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else open(newId(), name)(body)

  private def open[T](id: Int, name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    sc.setLocalProperty(Tracer.OpProp, curOp.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
      if (stack.isEmpty) sc.setLocalProperty(Tracer.OpProp, null)
      add(Span(id, name, parent, curOp, t0, t1))
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"
}

/** Spark-listener counters, attributed to the op whose span started the
  * job, plus `exec.job`/`exec.stage` spans for the tracer.
  */
final class ExecListener(tracer: Tracer) extends SparkListener {

  final class OpCounters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val taskRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  // epoch-millisecond listener times → the tracer's nanoTime base
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  private case class JobInfo(op: Int, parentSpan: Int, spanId: Int, startMs: Long)
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[Int, OpCounters]

  private def opOf(stageId: Int): Option[Int] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.op).filter(_ != 0)

  def forOp(op: Int): OpCounters = synchronized(counters.getOrElseUpdate(op, new OpCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toInt).getOrElse(0)
    val op = prop(Tracer.OpProp)
    jobs(e.jobId) = JobInfo(op, prop(Tracer.SpanProp), tracer.newId(), e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    if (op != 0) forOp(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).filter(_.op != 0).foreach { j =>
      tracer.add(Span(j.spanId, "exec.job", j.parentSpan, j.op, ns(j.startMs), ns(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for {
      op <- opOf(info.stageId)
      s <- info.submissionTime
      c <- info.completionTime
    } {
      val job = jobs(stageJob(info.stageId))
      tracer.add(Span(tracer.newId(), "exec.stage", job.spanId, op, ns(s), ns(c)))
      val oc = forOp(op)
      oc.stages += 1
      oc.stageIntervals += ((ns(s), ns(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (op <- opOf(e.stageId) if m != null) {
      val oc = forOp(op)
      oc.tasks += 1
      oc.cpuNs += m.executorCpuTime
      oc.runMs += m.executorRunTime
      oc.gcMs += m.jvmGCTime
      oc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      oc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      oc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      oc.peakMem = math.max(oc.peakMem, m.peakExecutionMemory)
      oc.taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
}

object ExecListener {
  /** Skew of an op's heaviest stage (by total task run time): its slowest
    * task over its median task. 1.0 when no stage ran two or more tasks.
    */
  def maxOverMedian(taskRunMs: collection.Map[Int, collection.Seq[Long]]): Double = {
    val multi = taskRunMs.values.filter(_.length >= 2)
    if (multi.isEmpty) 1.0
    else {
      val heaviest = multi.maxBy(_.sum)
      val med = Stats.median(heaviest.map(_.toDouble).toSeq)
      heaviest.max / math.max(med, 1.0)
    }
  }
}
