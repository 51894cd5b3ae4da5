package perfbench

import org.apache.spark.BenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.io.File
import scala.collection.mutable

/** One timed call: wall time plus, when tracing, the Spark-listener and
  * codegen counters attributed to it.
  */
final case class OpRecord(kind: String, wallNs: Long, op: Int,
                          compileNs: Long, compiles: Long)

/** Everything a workload needs for one run: the session, the tracer,
  * correctness bookkeeping and the metrics it reports.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File,
                val cpus: Int, traced: Boolean) {
  val tracer = new Tracer(traced, spark.sparkContext)
  val listener: Option[ExecListener] =
    if (traced) {
      val l = new ExecListener(tracer)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  def isTraced: Boolean = traced

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val inputs = mutable.LinkedHashMap.empty[String, Double]
  val records = mutable.ArrayBuffer.empty[OpRecord]
  private var retainedMb = 0.0

  /** Count one operation against `fail_frac`; a wrong answer fails it. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.length < 20) failures += what }
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Time `body` as one op of `kind`. Untraced: wall time only. Traced:
    * an op span, plus the codegen and listener counters for the op once
    * the listener bus has drained.
    */
  def timed[T](kind: String, trace: Boolean = traced)(body: => T): (T, OpRecord) = {
    if (traced) BenchBridge.drainListenerBus(spark.sparkContext)
    val c0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val (out, op) = if (trace) tracer.op(s"bench.$kind")(body) else (body, 0)
    val wall = System.nanoTime() - t0
    if (traced) BenchBridge.drainListenerBus(spark.sparkContext)
    val rec = OpRecord(kind, wall, op, CodeGenerator.compileTime - c0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0)
    records += rec
    (out, rec)
  }

  /** In a traced run, time `body` once untraced and once traced, in an
    * order alternating with `i`, so the tracing overhead is measured on
    * identical work under the same conditions. Returns the traced result;
    * `release` frees the untraced one. `i < 0` marks a warm-up op: run
    * once, untraced, and kept out of every metric.
    */
  def pairedTimed[T](kind: String, i: Int)(body: => T): (T, OpRecord) =
    pairedTimedWith[T](kind, i, _ => ())(body)

  def pairedTimedWith[T](kind: String, i: Int, release: T => Unit)(body: => T): (T, OpRecord) =
    if (i < 0) timed(s"warmup.$kind", trace = false)(body)
    else if (!traced) timed(kind)(body)
    else if (i % 2 == 0) { release(timed(kind, trace = false)(body)._1); timed(kind)(body) }
    else { val r = timed(kind)(body); release(timed(kind, trace = false)(body)._1); r }

  /** Median wall (ns) of three aggregation passes over `df`: the
    * projection-only kernel timings of the traced run.
    */
  def passNs(df: DataFrame, name: String, agg: Column): Double =
    Stats.median((0 until 3).map { _ =>
      timed("kernel")(tracer.span(name)(df.agg(agg).collect()))._2.wallNs.toDouble
    })

  /** Wall times (ms) of the ops of `kind`, traced or not as asked. */
  def wallsMs(kind: String, tracedOps: Boolean = false): Seq[Double] =
    records.filter(r => r.kind == kind && (r.op != 0) == tracedOps).map(_.wallNs / 1e6).toSeq

  /** The traced ops of `kinds` grouped into units: the i-th op of each
    * kind forms unit i (a window; a dedup pass).
    */
  private def units(kinds: Seq[String], tracedOps: Boolean): Seq[Seq[OpRecord]] = {
    val byKind = kinds.map(k => records.filter(r => r.kind == k && (r.op != 0) == tracedOps).toSeq)
    (0 until byKind.map(_.length).min).map(i => byKind.map(_(i)))
  }

  /** Median wall (ms) of the units of `kinds`. */
  def unitWallsMs(kinds: Seq[String], tracedOps: Boolean = false): Seq[Double] =
    units(kinds, tracedOps).map(_.map(_.wallNs).sum / 1e6)

  /** Traced: per-layer self time per unit, and the overhead of tracing
    * (traced minus untraced median unit wall over the same work).
    */
  def putTraceSummary(kinds: Seq[String]): Unit = if (traced) {
    val us = units(kinds, tracedOps = true)
    val ops = us.flatten.map(_.op).toSet
    val spans = tracer.spans.filter(s => ops.contains(s.op))
    for ((layer, ns) <- Span.selfByLayer(spans).toSeq.sortBy(_._1))
      put(s"self.${layer}_ms", ns / 1e6 / us.length, "ms")
    val t = Stats.median(unitWallsMs(kinds, tracedOps = true))
    val u = Stats.median(unitWallsMs(kinds))
    put("trace.overhead_ms", t - u, "ms")
    put("trace.overhead_pct", 100 * (t - u) / u, "%")
  }

  /** Storage memory (MB) still held by cached or checkpointed blocks. */
  def noteRetained(): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    retainedMb = math.max(retainedMb, bytes / 1e6)
  }

  def retained: Double = retainedMb

  /** Per-unit means of the listener and codegen counters over the traced
    * units of `kinds`.
    */
  def putExecLayer(kinds: Seq[String]): Unit = listener.foreach { l =>
    val us = units(kinds, tracedOps = true)
    if (us.nonEmpty) {
      val roots = tracer.spans.filter(_.parent == 0).map(s => s.id -> s).toMap
      def m(f: (OpRecord, ExecListener#OpCounters) => Double) =
        Stats.mean(us.map(_.map(r => f(r, l.forOp(r.op))).sum))
      def mx(f: (OpRecord, ExecListener#OpCounters) => Double) =
        Stats.mean(us.map(_.map(r => f(r, l.forOp(r.op))).max))
      put("exec.jobs", m((_, c) => c.jobs.toDouble), "count")
      put("exec.stages", m((_, c) => c.stages.toDouble), "count")
      put("exec.tasks", m((_, c) => c.tasks.toDouble), "count")
      put("exec.task_cpu_ms", m((_, c) => c.cpuNs / 1e6), "ms")
      put("exec.task_run_ms", m((_, c) => c.runMs.toDouble), "ms")
      put("exec.gc_ms", m((_, c) => c.gcMs.toDouble), "ms")
      put("exec.shuffle_write_bytes", m((_, c) => c.shuffleWrite.toDouble), "bytes")
      put("exec.shuffle_read_bytes", m((_, c) => c.shuffleRead.toDouble), "bytes")
      put("exec.spill_bytes", m((_, c) => c.spill.toDouble), "bytes")
      put("exec.peak_task_mem_mb", mx((_, c) => c.peakMem / 1e6), "MB")
      put("exec.driver_gap_ms", m { (r, c) =>
        val root = roots(r.op)
        (root.durNs - Stats.unionLength(c.stageIntervals.toSeq, root.start, root.end)) / 1e6
      }, "ms")
      put("exec.max_over_median_task_ms", mx((_, c) => ExecListener.maxOverMedian(c.taskRunMs)), "ratio")
      put("codegen.compile_ms", m((r, _) => r.compileNs / 1e6), "ms")
      put("codegen.compiles", m((r, _) => r.compiles.toDouble), "count")
    }
  }
}
