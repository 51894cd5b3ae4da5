package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}

/** One benchmark run:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir>
  *
  * Sets up `SetupReps` times (fresh session, input generation, warm-up)
  * and reports the median as `setup_s`, then runs the workload's closed
  * loop on the last session. Prints one `metric` line per measurement and
  * ends with a `PERFBENCH {json}` line holding every metric, the input
  * sizes and the correctness tally. Traced runs also write their spans to
  * `<out>/spans-<workload>-seed<n>.jsonl`.
  */
object Main {
  private val SetupReps = 3

  private def session(cpus: Int, work: File): SparkSession = {
    val spark = GraftSession.builder(cpus.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.enable(spark)
  }

  private def json(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work"))
    val out = new File(need("out"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    var spark: SparkSession = null
    var ctx: Ctx = null
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      for (_ <- 0 until SetupReps) {
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val t0 = System.nanoTime()
        spark = session(cpus, work)
        ctx = new Ctx(spark, seed, work, cpus, traced)
        val workload = Workload(name)
        workload.setup(ctx)
        setupS += (System.nanoTime() - t0) / 1e9
        if (setupS.length == SetupReps) workload.run(ctx, seconds)
      }
      ctx.put("setup_s", Stats.median(setupS.toSeq), "s")
      ctx.put("retained_mb", ctx.retained, "MB")
      ctx.put("fail_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
      for ((k, v) <- ctx.inputs) ctx.put(s"input.$k", v, if (k.endsWith("share")) "ratio" else "count")
      if (traced) {
        out.mkdirs()
        val w = new PrintWriter(new File(out, s"spans-$name-seed$seed.jsonl"))
        try ctx.tracer.spans.sortBy(_.start).foreach(s => w.println(Span.toJson(s)))
        finally w.close()
      }
    } finally if (spark != null) spark.stop()

    println(s"perfbench workload=$name seed=$seed cpus=$cpus trace=${if (traced) 1 else 0} " +
      s"setup_runs=${setupS.map(s => f"$s%.3f").mkString(",")}")
    for ((k, (v, u)) <- ctx.metrics) println(f"metric $k%-36s $v%.6g $u")
    ctx.failures.foreach(f => println(s"FAILED $f"))
    val metrics = ctx.metrics.map { case (k, (v, u)) =>
      s"${json(k)}:{\"value\":${if (v.isNaN || v.isInfinite) "null" else v.toString},\"unit\":${json(u)}}"
    }.mkString(",")
    println(s"""PERFBENCH {"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{$metrics}}""")
  }
}
