package graft.ops

import graft.SparkTestSession
import graft.sources.{HammingIndex, LineIndex, MinhashIndex, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The [[Pins]] contract: scopes release what they pin (also on
  * failure), a scope's pinned result and rolling pins outlive it, an
  * already-pinned frame is not pinned twice, index Maintainer probes are
  * pin-neutral, and no other main code takes or releases a checkpoint.
  */
class PinsSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/ix"

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a scope whose body throws leaves no new persistent RDD") {
    val before = persisted
    an[IllegalStateException] should be thrownBy Pins.scope("throws") {
      Pins.pin(spark.range(100).toDF("id"))
      Pins.pin(spark.range(50).toDF("id"), eager = false)
      throw new IllegalStateException("boom")
    }
    (persisted -- before) shouldBe empty
  }

  test("a scope's pinned result moves to the enclosing scope; rolling pins are never owned") {
    val before = persisted
    var rolling: DataFrame = null
    Pins.scope("outer") {
      val inner = Pins.scope("inner") {
        Pins.pin(spark.range(10).toDF("id"))
        rolling = Pins.pin(spark.range(20).toDF("id"), rolling = true)
        Pins.pin(spark.range(30).toDF("id"))
      }
      // the transient pin is gone, the returned one is still readable
      (persisted -- before).size shouldBe 2
      inner.count() shouldBe 30L
    }
    // the outer scope released the escaped result; the rolling pin stays
    // until its holder releases it
    (persisted -- before).size shouldBe 1
    rolling.count() shouldBe 20L
    Pins.release(rolling)
    (persisted -- before) shouldBe empty
  }

  test("Graph legs over an already-pinned edge frame add no persistent RDD") {
    import spark.implicits._
    val edges = Pins.pin(Seq(
      "a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "d" -> "e", "e" -> "d")
      .toDF("src", "dst"))
    val before = persisted
    // iters < checkpointEvery: the only barrier each leg takes is its
    // edge projection, which the projection rule skips
    Graph.pageRank(edges, "src", "dst", iters = 3).count() shouldBe 5L
    Graph.labelPropagation(edges, "src", "dst", iters = 3).count() shouldBe 5L
    (persisted -- before) shouldBe empty
    Pins.release(edges)
  }

  test("Maintainer probes are pin-neutral: two unmaterialized probes each equal the object-level probe") {
    import spark.implicits._
    // LineIndex, dup-heavy path (maxCollect = 1): both probes pin their
    // present-line frame
    val linePath = tmp("graft-pins-line")
    val history = Seq((1L, "seen a\nseen b\nseen c"), (2L, "seen d\nseen e"))
      .toDF("id", "text")
    LineIndex.build(history, "text", linePath)
    val lb1 = Seq((10L, "seen a\nseen b\nfresh 1"), (11L, "seen c\nfresh 2"))
      .toDF("id", "text")
    val lb2 = Seq((20L, "seen d\nseen e\nfresh 3"), (21L, "seen a\nfresh 4"))
      .toDF("id", "text")
    def lineRows(df: DataFrame) =
      df.orderBy("id").collect().map(_.toSeq).toSeq
    val lm = new LineIndex.Maintainer(spark, linePath)
    val lr1 = lm.probe(lb1, "id", "text", maxCollect = 1)
    val lr2 = lm.probe(lb2, "id", "text", maxCollect = 1)
    lineRows(lr1) shouldBe lineRows(LineIndex.probe(spark, linePath, lb1, "id", "text", maxCollect = 1))
    lineRows(lr2) shouldBe lineRows(LineIndex.probe(spark, linePath, lb2, "id", "text", maxCollect = 1))

    // MinhashIndex and HammingIndex with an active cap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val mhPath = tmp("graft-pins-mh")
    MinhashIndex.build(docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", mhPath,
      nPostingFiles = 16, nDocFiles = 4)
    val mb1 = docs.filter(col("doc_id") % 8 === 0)
    val mb2 = docs.filter(col("doc_id") % 8 === 4)
    val mm = new MinhashIndex.Maintainer(spark, mhPath)
    val mr1 = mm.probe(mb1, "doc_id", "text", maxBucket = 50)
    val mr2 = mm.probe(mb2, "doc_id", "text", maxBucket = 50)
    pairs(mr1) shouldBe pairs(MinhashIndex.probe(spark, mhPath, mb1, "doc_id", "text", maxBucket = 50))
    pairs(mr2) shouldBe pairs(MinhashIndex.probe(spark, mhPath, mb2, "doc_id", "text", maxBucket = 50))
    (pairs(mr1) ++ pairs(mr2)) should not be empty

    val sigs = docs.select(col("doc_id"), Dedup.simhash64("text").as("sig"))
    val hmPath = tmp("graft-pins-hm")
    HammingIndex.build(sigs.filter(col("doc_id") % 4 =!= 0), "doc_id", "sig", hmPath,
      pieces = 8, nPostingFiles = 16, nDocFiles = 4)
    val hb1 = sigs.filter(col("doc_id") % 8 === 0)
    val hb2 = sigs.filter(col("doc_id") % 8 === 4)
    val hm = new HammingIndex.Maintainer(spark, hmPath)
    val hr1 = hm.probe(hb1, "doc_id", "sig", maxDist = 3, maxBucket = 4)
    val hr2 = hm.probe(hb2, "doc_id", "sig", maxDist = 3, maxBucket = 4)
    pairs(hr1) shouldBe pairs(HammingIndex.probe(spark, hmPath, hb1, "doc_id", "sig", maxDist = 3, maxBucket = 4))
    pairs(hr2) shouldBe pairs(HammingIndex.probe(spark, hmPath, hb2, "doc_id", "sig", maxDist = 3, maxBucket = 4))
    (pairs(hr1) ++ pairs(hr2)) should not be empty
  }

  test("no main code outside Pins and graft/tools takes or releases a checkpoint directly") {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala")
    root.isDirectory shouldBe true
    val raw = java.util.regex.Pattern.compile("""\.localCheckpoint\(|unpersistCheckpoint""")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = for {
      f <- files(root)
      path = f.getPath.replace('\\', '/')
      if path.endsWith(".scala")
      if !path.endsWith("graft/ops/Pins.scala") && !path.contains("graft/tools/")
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if raw.matcher(line).find()
    } yield s"$path:${n + 1}: ${line.trim}"
    offenders shouldBe empty
  }
}
