package graft.sources

import graft.SparkTestSession
import graft.functions.st
import graft.geom.Z2
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The Z2 layout must actually prune: fewer files read for a window
  * query than exist on disk, with identical results to a full scan, and
  * no Spark job before the window's scan.
  */
class SpatialLayoutSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private lazy val layoutPath = {
    val path = java.nio.file.Files.createTempDirectory("graft-z2").toString + "/pts"
    val pts = graft.queries.Spatial.customerPoints(SparkTestSession.session, sfDir)
    SpatialLayout.writeZ2(pts, "geom", path, level = 12, dirLevel = 3)
    path
  }

  private def cellDirs(path: String): Set[String] =
    new java.io.File(path).list().filter(_.startsWith("z2p=")).toSet

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // execute so metrics fill
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.head
  }

  test("window read returns exactly the full-scan result") {
    val window = (-140.0, 0.0, -100.0, 40.0)
    val pruned = SpatialLayout.readWindow(spark, layoutPath,
        window._1, window._2, window._3, window._4, dirLevel = 3)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val full = spark.read.parquet(layoutPath)
      .filter(st.intersects(st.makeBBOX(window._1, window._2, window._3, window._4), col("geom")))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    pruned shouldBe full
    pruned should not be empty
  }

  test("directory pruning: the scan touches fewer files than exist") {
    val totalFiles = spark.read.parquet(layoutPath).inputFiles.length
    val scan = scanOf(SpatialLayout.readWindow(spark, layoutPath,
      -140.0, 0.0, -100.0, 40.0, dirLevel = 3))
    val filesRead = scan.metrics("numFiles").value
    withClue(s"read $filesRead of $totalFiles files") {
      filesRead should be < totalFiles.toLong
    }
    scan.toString should include("PartitionFilters")
  }

  test("cell-spanning polygons are never lost to directory pruning; residual is exact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mk = (id: Long, wkt: String) => Row(id, wkt)
    val rows = Seq(
      // L-shaped polygon: bbox (9,9)-(15,15) overlaps the window corner,
      // the shape itself (x>=12 or y>=12) does not
      mk(1L, "POLYGON ((12 9, 15 9, 15 15, 9 15, 9 12, 12 12, 12 9))"),
      // huge polygon spanning many level-3 cells, centroid far east of
      // the window but overlapping it: centroid-keyed pruning would drop it
      mk(2L, "POLYGON ((-5 -5, 120 -5, 120 5, -5 5, -5 -5))"),
      // plainly inside the window
      mk(3L, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
      // plainly outside
      mk(4L, "POLYGON ((100 40, 101 40, 101 41, 100 41, 100 40))"))
    val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("id", LongType), StructField("wkt", StringType))))
      .withColumn("geom", st.geomFromWKT(col("wkt"))).drop("wkt")
    val path = java.nio.file.Files.createTempDirectory("graft-z2poly").toString + "/polys"
    SpatialLayout.writeZ2(df, "geom", path, level = 12, dirLevel = 3)
    // window (0,0)-(10,10): hits 2 and 3; 1 only by bbox; 4 not at all
    val got = SpatialLayout.readWindow(spark, path, 0.0, 0.0, 10.0, 10.0, dirLevel = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    got shouldBe Set(2L, 3L)
    // window (60,-3)-(70,3): none of its covered cells has a directory of
    // its own, so only the spill directory can return polygon 2
    val spanned = Z2.coverEnvelope(60.0, -3.0, 70.0, 3.0, 3).map(c => s"z2p=$c").toSet
    cellDirs(path).intersect(spanned) shouldBe empty
    SpatialLayout.readWindow(spark, path, 60.0, -3.0, 70.0, 3.0, dirLevel = 3)
      .select("id").collect().map(_.getLong(0)).toSet shouldBe Set(2L)
  }

  test("readWindow submits no job before the scan and lists only the covered directories") {
    val path = layoutPath // written before counting
    val (xmin, ymin, xmax, ymax) = (-140.0, 0.0, -100.0, 40.0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      val df = SpatialLayout.readWindow(spark, path, xmin, ymin, xmax, ymax, dirLevel = 3)
      GraftBridge.drainListenerBus(spark)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get shouldBe 0
    val covered = (Z2.coverEnvelope(xmin, ymin, xmax, ymax, 3) :+ SpatialLayout.SpillKey)
      .map(c => s"z2p=$c").toSet
    val expected = cellDirs(path).intersect(covered)
    expected should not be empty
    expected.size should be < cellDirs(path).size
    scanOf(df).relation.location.rootPaths.map(_.getName).sorted shouldBe expected.toSeq.sorted
  }

  test("a window over cells with no directory is empty, with the full-scan schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(Row(1L, "POINT (1 1)"), Row(2L, "POINT (2 2)"), Row(3L, "POINT (1.5 2)"))
    val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("id", LongType), StructField("wkt", StringType))))
      .withColumn("geom", st.geomFromWKT(col("wkt"))).drop("wkt")
    val path = java.nio.file.Files.createTempDirectory("graft-z2one").toString + "/pts"
    SpatialLayout.writeZ2(df, "geom", path, level = 12, dirLevel = 3)
    cellDirs(path).size shouldBe 1
    val got = SpatialLayout.readWindow(spark, path, -100.0, -50.0, -90.0, -40.0, dirLevel = 3)
    got.count() shouldBe 0L
    val fields = (d: org.apache.spark.sql.DataFrame) => d.schema.map(f => f.name -> f.dataType)
    fields(got) shouldBe fields(spark.read.parquet(path))
    fields(got).map(_._1) should contain("z2p")
  }

  test("row-group range filters reach the parquet scan") {
    val df = SpatialLayout.readWindow(spark, layoutPath, -140.0, 0.0, -100.0, 40.0, dirLevel = 3)
    df.collect()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    formatted should include("PushedFilters")
    formatted should include("extent.xmin")
  }
}
