package perfbench

import graft.functions.st
import graft.geom.GeomIO
import graft.ops.Dedup
import graft.sources.SpatialLayout
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** A benchmark workload. `setup` generates the inputs from the seed and
  * warms the session up; `run` is the measured closed loop (one client,
  * next operation only after the previous one completes).
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx, seconds: Double): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "spatial_window" => new SpatialWindow(500000)
    case "near_dup" => new NearDup(20000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The generated points as (id, lon, lat, geom), computed inside the
    * tasks from the generator — graft only ever sees the frame.
    */
  def pointFrame(spark: SparkSession, gen: PointGen, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, gen.n, 1, parts).map(i => (i.longValue, gen.lon(i), gen.lat(i)))
      .toDF("id", "lon", "lat")
      .withColumn("geom", st.point(col("lon"), col("lat")))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Physical operators of an executed plan, looking through AQE stages. */
  object Plans extends AdaptiveSparkPlanHelper {
    def nodes(df: DataFrame): Seq[SparkPlan] = collect(df.queryExecution.executedPlan) { case p => p }
  }
}

/** Interactive analyst: write the clustered points with `writeZ2` (one
  * warm-up and `Writes` timed writes), then issue seeded windows through
  * `readWindow` and collect the rows. The traced run adds projection-only
  * passes for the geometry kernels over the same points.
  */
final class SpatialWindow(n: Int) extends Workload {
  private val WindowStream = 11L
  /** Windows always issued, so counters cover identical work per seed. */
  private val FixedWindows = 5
  private val Writes = 3
  private var gen: PointGen = _
  private var grid: PointGrid = _
  private var points: DataFrame = _

  private def window(j: Int): Box = gen.box(WindowStream, j, 0.5, 30.0, 0.8)

  private def query(ctx: Ctx, path: String, b: Box): DataFrame =
    ctx.tracer.span("sources.readWindow") {
      SpatialLayout.readWindow(ctx.spark, path, b.xmin, b.ymin, b.xmax, b.ymax)
    }.select("id", "geom")

  def setup(ctx: Ctx): Unit = {
    gen = PointGen(ctx.seed, n)
    val (xs, ys) = gen.points()
    grid = new PointGrid(xs, ys)
    points = Workload.pointFrame(ctx.spark, gen, ctx.cpus)
    val warm = new File(ctx.work, "warm-layout")
    SpatialLayout.writeZ2(Workload.pointFrame(ctx.spark, gen.copy(n = 50), ctx.cpus), "geom", warm.getPath)
    query(ctx, warm.getPath, window(-1)).collect()
    Workload.deleteTree(warm)
    ctx.inputs("points") = n
  }

  def run(ctx: Ctx, seconds: Double): Unit = {
    // a full-size warm-up write first: the timed writes then measure
    // writeZ2, not the JIT compiling its path
    val warm = new File(ctx.work, "layout-warmup")
    ctx.timed("warmup.write", trace = false)(SpatialLayout.writeZ2(points, "geom", warm.getPath))
    Workload.deleteTree(warm)
    // then `Writes` timed writes; the last one is the layout the windows read
    val layout = new File(ctx.work, "layout")
    val path = layout.getPath
    val writeMs = Stats.median((1 to Writes).map { k =>
      val dir = if (k == Writes) layout else new File(ctx.work, s"layout-$k")
      val (_, w) = ctx.timed("write") {
        ctx.tracer.span("sources.writeZ2")(SpatialLayout.writeZ2(points, "geom", dir.getPath))
      }
      if (k < Writes) Workload.deleteTree(dir)
      w.wallNs / 1e6
    })
    val files = Iterator.iterate(Seq(layout))(_.flatMap(f => Option(f.listFiles).toSeq.flatten))
      .takeWhile(_.nonEmpty).flatten.filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    val bytes = files.map(_.length).sum.toDouble
    val dirs = files.map(_.getParentFile).distinct.length
    ctx.check(ctx.spark.read.parquet(path).count() == n, "writeZ2: layout row count differs from input")
    ctx.inputs("layout_dirs") = dirs
    ctx.inputs("layout_files") = files.length
    ctx.put("ingest_rows_per_s", n / (writeMs / 1e3), "rows/s")
    ctx.put("layout_bytes_per_row", bytes / n, "B/row")
    if (ctx.isTraced) {
      ctx.put("sources.write_ms", writeMs, "ms")
      ctx.put("sources.files_written", files.length, "count")
      ctx.put("sources.bytes_written", bytes, "bytes")
    }

    case class Scan(files: Long, bytes: Long, rows: Long, pushed: Boolean)
    val scans = scala.collection.mutable.ArrayBuffer.empty[(Scan, Long)]
    def step(j: Int): Unit = {
      val b = window(j)
      val ((rows, scan), _) = ctx.pairedTimed("window", j) {
        val df = query(ctx, path, b)
        if (ctx.isTraced) {
          val qe = df.queryExecution
          ctx.tracer.span("plans.optimize")(qe.optimizedPlan)
          ctx.tracer.span("plans.physical")(qe.executedPlan)
        }
        val rows = ctx.tracer.span("exec.collect")(df.collect()).length.toLong
        val scan = if (!ctx.isTraced || j < 0) None else Workload.Plans.nodes(df).collectFirst {
          case s: FileSourceScanExec => Scan(s.metrics("numFiles").value, s.metrics("filesSize").value,
            s.metrics("numOutputRows").value, s.metadata.get("PushedFilters").exists(_.contains("extent.xmin")))
        }
        (rows, scan)
      }
      val expected = grid.rangeCount(b)
      ctx.check(rows == expected, s"window $j: $rows rows, plain range count $expected")
      if (j < FixedWindows) scan.foreach(s => scans += ((s, rows)))
      ctx.noteRetained()
    }
    step(-1)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var j = 0
    while (j < FixedWindows || System.nanoTime() < deadline) { step(j); j += 1 }
    val loopS = (System.nanoTime() - t0) / 1e9
    Workload.deleteTree(layout)

    val lat = ctx.wallsMs("window")
    ctx.put("op_p50_ms", Stats.percentile(lat, 50), "ms")
    ctx.put("rows_per_s", n / (writeMs / 1e3), "rows/s")
    ctx.put("window_p50_ms", Stats.percentile(lat, 50), "ms")
    ctx.put("window_p90_ms", Stats.percentile(lat, 90), "ms")
    ctx.put("window_qps", lat.length / loopS, "1/s")
    ctx.put("windows", lat.length, "count")
    if (ctx.isTraced) {
      val tr = ctx.tracer.spans
      def meanSpanMs(name: String) = Stats.mean(tr.filter(_.name == name).map(_.durNs / 1e6))
      ctx.put("sources.read_ms", meanSpanMs("sources.readWindow"), "ms")
      ctx.put("plans.optimize_ms", meanSpanMs("plans.optimize"), "ms")
      ctx.put("plans.physical_ms", meanSpanMs("plans.physical"), "ms")
      val ss = scans.map(_._1)
      ctx.put("sources.files_scanned", Stats.mean(ss.map(_.files.toDouble).toSeq), "count")
      ctx.put("sources.bytes_scanned", Stats.mean(ss.map(_.bytes.toDouble).toSeq), "bytes")
      ctx.put("sources.scan_rows_per_result_row", ss.map(_.rows).sum.toDouble / math.max(1L, scans.map(_._2).sum), "ratio")
      ctx.put("plans.pushdown_hit", ss.count(_.pushed).toDouble / math.max(1, ss.length), "ratio")
      ctx.putExecLayer(Seq("window"))
      ctx.putTraceSummary(Seq("window"))
      kernels(ctx)
    }
  }

  /** Per-row kernel costs from projection-only passes over the cached
    * points, each minus a baseline pass that reads the same geometries.
    */
  private def kernels(ctx: Ctx): Unit = {
    val sample = points.select("geom").cache()
    sample.count()
    val b = Box(-20, -10, 20, 10)
    val base = ctx.passNs(sample, "exec.kernel_base", count(when(col("geom").isNotNull, 1)))
    val inter = ctx.passNs(sample, "functions.intersects",
      count(when(st.intersects(col("geom"), st.makeBBOX(b.xmin, b.ymin, b.xmax, b.ymax)), 1)))
    val dist = ctx.passNs(sample, "functions.distance", sum(st.distance(col("geom"), st.point(lit(1.5), lit(2.5)))))
    sample.unpersist(true)
    ctx.put("functions.intersects_ns_per_row", math.max(0.0, inter - base) / n, "ns")
    ctx.put("functions.distance_ns_per_row", math.max(0.0, dist - base) / n, "ns")
    val wkbs = (0 until 200000).map(i => GeomIO.toWKB(
      if (i % 10 == 0) GeomIO.bbox(i % 170, 0, i % 170 + 1, 1) else GeomIO.point(i % 360 - 180.0, i % 180 - 90.0)))
    val decodeNs = Stats.median((0 until 5).map { _ =>
      val (_, r) = ctx.timed("kernel")(ctx.tracer.span("geom.fromWKB")(wkbs.foreach(GeomIO.fromWKB)))
      r.wallNs.toDouble
    })
    ctx.put("geom.wkb_decode_ns", decodeNs / wkbs.length, "ns")
  }
}

/** LLM-data dedup: `exact`, then `minhashLsh` over the survivors, then
  * `connectedComponents` over the verified pairs. One pass = all three.
  */
final class NearDup(n: Int) extends Workload {
  private val Threshold = 0.8
  /** Planted near-duplicate pairs at or above the threshold that LSH must find. */
  private val RecallFloor = 0.95
  private val MinPasses = 3
  private var gen: DocGen = _
  private var texts: Array[String] = _
  private var docs: DataFrame = _
  private var distinctTexts = 0
  private var planted: Seq[(Long, Long)] = _
  private var survivorOf: Map[String, Long] = _

  private def docFrame(spark: SparkSession, m: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val g = gen
    spark.range(0, m, 1, parts).map(i => (i.longValue, g.text(i))).toDF("id", "text")
  }

  private def lsh(df: DataFrame, threshold: Double): DataFrame =
    Dedup.minhashLsh(df, "id", "text", k = 3, numPerm = 64, bands = 16, threshold = threshold)

  def setup(ctx: Ctx): Unit = {
    gen = DocGen(ctx.seed, n)
    texts = Array.tabulate(n)(i => gen.text(i))
    survivorOf = texts.indices.reverseIterator.map(i => texts(i) -> i.toLong).toMap
    distinctTexts = survivorOf.size
    planted = (0 until n).filter(i => gen.kind(i) == 2).flatMap { i =>
      val (a, b) = (survivorOf(texts(gen.source(i).toInt)), survivorOf(texts(i)))
      if (a != b && Reference.jaccard(Reference.shingles(texts(a.toInt), 3),
        Reference.shingles(texts(b.toInt), 3)) >= Threshold) Some((math.min(a, b), math.max(a, b)))
      else None
    }.distinct
    docs = docFrame(ctx.spark, n, ctx.cpus)
    val few = docFrame(ctx.spark, 500, ctx.cpus)
    Dedup.connectedComponents(lsh(Dedup.exact(few, "id", "text"), Threshold)).collect()
    ctx.inputs("docs") = n
    ctx.inputs("planted_dup_share") =
      (0 until n).count(i => gen.kind(i) != 0).toDouble / n
  }

  def run(ctx: Ctx, seconds: Double): Unit = {
    var found: Seq[(Long, Long, Double)] = Nil
    def step(i: Int): Unit = {
      val (survivors, _) = ctx.pairedTimedWith[DataFrame]("exact", i, _.unpersist(true)) {
        val s = ctx.tracer.span("ops.exact")(Dedup.exact(docs, "id", "text")).cache()
        ctx.tracer.span("exec.count")(s.count())
        s
      }
      val nSurv = survivors.count()
      ctx.check(nSurv == distinctTexts, s"exact pass $i: $nSurv survivors, $distinctTexts distinct texts")
      val (pairs, _) = ctx.pairedTimed("lsh", i) {
        val df = ctx.tracer.span("ops.minhashLsh")(lsh(survivors, Threshold))
        ctx.tracer.span("exec.collect")(df.collect()).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }
      val verified = pairs.forall { case (a, b, jac) =>
        val j = Reference.jaccard(Reference.shingles(texts(a.toInt), 3), Reference.shingles(texts(b.toInt), 3))
        j >= Threshold && math.abs(j - jac) <= 1e-9
      }
      val got = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      val recall = planted.count(got.contains).toDouble / math.max(1, planted.length)
      ctx.check(verified && recall >= RecallFloor,
        f"lsh pass $i: verified=$verified recall=$recall%.4f (floor $RecallFloor)")
      val pairDf = ctx.spark.createDataFrame(pairs.map(p => (p._1, p._2))).toDF("id_a", "id_b")
      val (labels, _) = ctx.pairedTimed("cc", i) {
        val df = ctx.tracer.span("ops.connectedComponents")(Dedup.connectedComponents(pairDf))
        ctx.tracer.span("exec.collect")(df.collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      ctx.check(labels == Reference.components(pairs.map(p => (p._1, p._2))),
        s"cc pass $i: labels differ from union-find")
      survivors.unpersist(true)
      ctx.noteRetained()
      found = pairs
    }
    step(-1)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < MinPasses || System.nanoTime() < deadline) { step(i); i += 1 }
    val passes = Seq("exact", "lsh", "cc").map(ctx.wallsMs(_)).transpose.map(_.sum)
    ctx.put("op_p50_ms", Stats.median(passes), "ms")
    ctx.put("rows_per_s", n / (Stats.median(passes) / 1e3), "rows/s")
    ctx.put("pass_p50_ms", Stats.median(passes), "ms")
    ctx.put("dedup_docs_per_s", n / (Stats.median(passes) / 1e3), "docs/s")
    ctx.put("passes", passes.length, "count")
    if (ctx.isTraced) {
      ctx.put("ops.exact_removed", n - distinctTexts, "count")
      ctx.put("ops.lsh_verified_pairs", found.length, "count")
      val survivors = Dedup.exact(docs, "id", "text")
      val (cand, _) = ctx.timed("lsh_candidates")(lsh(survivors, 0.0).count())
      ctx.put("ops.lsh_candidate_pairs", cand, "count")
      for (k <- Seq("exact", "lsh", "cc"))
        ctx.put(s"ops.${k}_ms", Stats.median(ctx.wallsMs(k, tracedOps = true)), "ms")
      ctx.putExecLayer(Seq("exact", "lsh", "cc"))
      ctx.putTraceSummary(Seq("exact", "lsh", "cc"))
      val sample = docs.select(Dedup.shingles(col("text"), 3).as("sh")).cache()
      sample.count()
      val base = ctx.passNs(sample, "functions.shingles", sum(size(col("sh"))))
      val sig = ctx.passNs(sample, "functions.minhash", sum(size(Dedup.minhashSig(col("sh"), 64))))
      ctx.put("functions.minhash_ns_per_doc", math.max(0.0, sig - base) / n, "ns")
      sample.unpersist(true)
    }
  }
}
