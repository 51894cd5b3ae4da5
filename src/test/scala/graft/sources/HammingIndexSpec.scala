package graft.sources

import graft.SparkTestSession
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class HammingIndexSpec extends AnyFunSuite with SparkTestSession with Matchers {

  // realistic signature family: simhash64 over the corpus text (the
  // near-dup structure comes from the generator's copy structure), with
  // a planted exact copy so the batch-touching pair set is never empty
  private lazy val hashes = {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.simhash64("text").as("sig"))
    val copied = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 1).orderBy("doc_id").limit(1)
      .select((col("doc_id") * 0 + 900000L).as("doc_id"),
        Dedup.simhash64("text").as("sig"))
    base.unionByName(copied).localCheckpoint()
  }
  private lazy val history = hashes.filter(col("doc_id") % 4 =!= 0)
  private lazy val batch = hashes.filter(col("doc_id") % 4 === 0)

  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("graft-hmix").toString + "/ix"
    HammingIndex.build(history, "doc_id", "sig", p,
      pieces = 8, nPostingFiles = 32, nDocFiles = 8)
    p
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def rebandTouching(corpus: org.apache.spark.sql.DataFrame) =
    pairSet(Dedup.hammingPairs(corpus, "doc_id", "sig",
        maxDist = 3, pieces = 8, maxBucket = -1)
      .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))

  test("probe == full re-band over history ∪ batch, restricted to batch-touching pairs (pigeonhole-complete, so EXACT)") {
    val probed = pairSet(HammingIndex.probe(spark, path, batch,
      "doc_id", "sig", maxDist = 3, maxBucket = -1))
    val reband = rebandTouching(hashes)
    probed shouldBe reband
    probed should not be empty
  }

  test("posting-file pruning: a small batch reads a strict subset of posting files") {
    val one = batch.orderBy("doc_id").limit(2)
    HammingIndex.probe(spark, path, one, "doc_id", "sig", maxDist = 3).count()
    val man = StatsManifest.manifest(spark, s"$path/postings")
    val total = man.count()
    total should be > 10L // 32 requested; empty range partitions may drop
    val keys = one.select(col("sig").as("__h")).distinct()
      .select(posexplode(Dedup.hammingChunks("__h", 8)).as(Seq("__p", "__k")))
      .select(shiftleft(col("__p").cast("long"), 32)
        .bitwiseOR(col("__k").cast("long").bitwiseAND(lit(0xffffffffL))).as("key"))
      .distinct()
    val hit = keys.join(broadcast(man),
        col("key") >= col("lo") && col("key") <= col("hi"))
      .select("file").distinct().count()
    hit should be < total
  }

  test("a planted exact copy of a history doc surfaces at dist 0 — even under a cap of 1 (the direct path is cap-immune)") {
    import spark.implicits._
    val h = history.orderBy("doc_id").limit(1).collect().head
    val planted = Seq((910000L, h.getLong(1))).toDF("doc_id", "sig")
    pairSet(HammingIndex.probe(spark, path, planted, "doc_id", "sig",
      maxDist = 3, maxBucket = 1)) should contain((h.getLong(0), 910000L, 0))
  }

  test("append: day-2 probe pairs against appended day-1 docs; n_hashes param grows") {
    val p2 = java.nio.file.Files.createTempDirectory("graft-hmix-app").toString + "/ix"
    val hist = hashes.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val day1 = hashes.filter(col("doc_id") % 4 === 1)
    val day2 = hashes.filter(col("doc_id") % 4 === 0)
    HammingIndex.build(hist, "doc_id", "sig", p2,
      pieces = 8, nPostingFiles = 16, nDocFiles = 4)
    val before = VersionedDir.read(spark, s"$p2/params").head().getLong(1)
    HammingIndex.probe(spark, p2, day1, "doc_id", "sig", maxDist = 3,
      maxBucket = -1).count()
    HammingIndex.append(spark, p2, day1, "doc_id", "sig")
    VersionedDir.read(spark, s"$p2/params").head().getLong(1) shouldBe
      before + day1.select("sig").distinct().count()
    val probed = pairSet(HammingIndex.probe(spark, p2, day2,
      "doc_id", "sig", maxDist = 3, maxBucket = -1))
    probed shouldBe rebandTouching(hashes)
    probed should not be empty
  }

  test("delete: tombstoned history docs stop pairing; compact drops them physically and answers identically") {
    val p2 = java.nio.file.Files.createTempDirectory("graft-hmix-del").toString + "/ix"
    HammingIndex.build(history, "doc_id", "sig", p2,
      pieces = 8, nPostingFiles = 16, nDocFiles = 4)
    HammingIndex.delete(spark, p2,
      history.filter(col("doc_id") % 4 === 1).select(col("doc_id")), "doc_id")
    val survivors = hashes.filter(col("doc_id") % 4 =!= 1)
    val probed = pairSet(HammingIndex.probe(spark, p2, batch,
      "doc_id", "sig", maxDist = 3, maxBucket = -1))
    probed shouldBe rebandTouching(survivors)
    probed.exists(p => p._1 % 4 == 1 || p._2 % 4 == 1) shouldBe false
    val dest = java.nio.file.Files.createTempDirectory("graft-hmix-deld").toString + "/ix"
    HammingIndex.compact(spark, p2, dest, nPostingFiles = 8, nDocFiles = 2)
    new java.io.File(dest + "/tombstones").exists() shouldBe false
    pairSet(HammingIndex.probe(spark, dest, batch, "doc_id", "sig",
      maxDist = 3, maxBucket = -1)) shouldBe probed
    // postings REBUILD from surviving docs: the distinct-hash count in
    // params reflects the survivors only
    VersionedDir.read(spark, s"$dest/params").head().getLong(1) shouldBe
      history.filter(col("doc_id") % 4 =!= 1)
        .select("sig").distinct().count()
  }

  test("Maintainer: cached-metadata probes == static probes through a probe→append→probe cycle") {
    val p2 = java.nio.file.Files.createTempDirectory("graft-hmix-mnt").toString + "/ix"
    val hist = hashes.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val day1 = hashes.filter(col("doc_id") % 4 === 1)
    val day2 = hashes.filter(col("doc_id") % 4 === 0)
    HammingIndex.build(hist, "doc_id", "sig", p2,
      pieces = 8, nPostingFiles = 16, nDocFiles = 4)
    val m = new HammingIndex.Maintainer(spark, p2)
    pairSet(m.probe(day1, "doc_id", "sig", maxDist = 3, maxBucket = -1)) shouldBe
      pairSet(HammingIndex.probe(spark, p2, day1, "doc_id", "sig",
        maxDist = 3, maxBucket = -1))
    // append through the Maintainer: the in-memory manifest extension
    // must see the appended generation, and match the on-disk state
    m.append(day1, "doc_id", "sig")
    val viaCache = pairSet(m.probe(day2, "doc_id", "sig",
      maxDist = 3, maxBucket = -1))
    viaCache shouldBe pairSet(HammingIndex.probe(spark, p2, day2,
      "doc_id", "sig", maxDist = 3, maxBucket = -1))
    viaCache shouldBe rebandTouching(hashes)
    viaCache should not be empty
  }

  test("empty batch probes to zero pairs without error") {
    HammingIndex.probe(spark, path, batch.filter(lit(false)),
      "doc_id", "sig", maxDist = 3).count() shouldBe 0L
  }

  test("hot-key cap sheds a degenerate band's cross pairs but keeps dist-0 mass; capped ⊆ unlimited") {
    import spark.implicits._
    // 40 distinct hashes all sharing chunk 0 (low byte 0x2A) — a
    // degenerate band — plus an exact-dup family on one hash
    val boiler = (0L until 40L).map(i => (i, (i << 8) | 0x2AL))
    val p2 = java.nio.file.Files.createTempDirectory("graft-hmix-cap").toString + "/ix"
    HammingIndex.build(boiler.toDF("doc_id", "sig"), "doc_id", "sig", p2,
      pieces = 8, nPostingFiles = 4, nDocFiles = 2)
    // batch: an exact copy of hash 0 (dist-0) and a neighbor whose
    // chunk-1 value (200, outside 0..39) matches NO history hash — its
    // only shared chunks are the over-cap degenerate ones, so a cap
    // makes its true cross pairs (e.g. vs i=8, dist 2) undiscoverable
    val batch2 = Seq((100L, 0x2AL), (101L, (200L << 8) | 0x2AL))
      .toDF("doc_id", "sig")
    val capped = pairSet(HammingIndex.probe(spark, p2, batch2,
      "doc_id", "sig", maxDist = 3, maxBucket = 5))
    // dist-0 survives any cap
    capped should contain((0L, 100L, 0))
    // every (history, 101) candidate shares only over-cap chunks → shed
    capped.exists(p => p._2 == 101L && p._1 < 100L) shouldBe false
    val unlimited = pairSet(HammingIndex.probe(spark, p2, batch2,
      "doc_id", "sig", maxDist = 3, maxBucket = -1))
    unlimited should contain((8L, 101L, 2))
    capped.subsetOf(unlimited) shouldBe true
  }

  test("selective-position banding stays exact when most chunk positions are constant") {
    import spark.implicits._
    // every hash shares FIVE constant chunk positions (bytes 3..7 all
    // zero) — near-cartesian buckets the probe's position selection
    // must rank out — while the true ≤2-dist structure lives in the
    // low three bytes. Completeness must not depend on WHICH positions
    // are retained: pairs differing in ≤ maxDist positions always
    // share a chunk among any maxDist+1 retained positions.
    def h(a: Long, b: Long, c: Long) = (a << 16) | (b << 8) | c
    val hist2 = Seq(
      (1L, h(1, 2, 3)), (2L, h(1, 2, 9)),   // dist ≤ 2 of batch probes
      (3L, h(7, 7, 7)), (4L, h(1, 9, 3)),
      (5L, h(40, 50, 60))).toDF("doc_id", "sig")
    val p3 = java.nio.file.Files.createTempDirectory("graft-hmix-sel").toString + "/ix"
    HammingIndex.build(hist2, "doc_id", "sig", p3,
      pieces = 8, nPostingFiles = 4, nDocFiles = 2)
    val batch3 = Seq((100L, h(1, 2, 3)), (101L, h(7, 7, 6))).toDF("doc_id", "sig")
    val probed = pairSet(HammingIndex.probe(spark, p3, batch3,
      "doc_id", "sig", maxDist = 2, maxBucket = -1))
    val truth = pairSet(Dedup.hammingPairs(
        hist2.unionByName(batch3), "doc_id", "sig",
        maxDist = 2, pieces = 8, maxBucket = -1)
      .filter(col("id_a") >= 100 || col("id_b") >= 100))
    probed shouldBe truth
    // the planted structure is actually found through varying positions
    // (bit distances: 3^9 → 2 bits, 7^6 → 1 bit)
    probed should contain((1L, 100L, 0))
    probed should contain((2L, 100L, 2))
    probed should contain((3L, 101L, 1))
  }

  test("capped recall: a pair whose maxDist+1 retained positions are all hot is lost; capped ⊆ unlimited") {
    import spark.implicits._
    // one batch hash b: every position ranks alike, so the probe keeps
    // positions 0 and 1 (maxDist = 1). Ten history hashes share b's two
    // low bytes, making both retained buckets hot at a cap of 5. The
    // target x = b with bit 60 flipped shares chunks 0..6 with b, so an
    // unretained position would pair it — but only 0 and 1 are probed.
    val b = 0x2A2AL
    val hot = (1L to 10L).map(i => (i, (i << 40) | b))
    val x = b ^ (1L << 60)
    val p2 = java.nio.file.Files.createTempDirectory("graft-hmix-allhot").toString + "/ix"
    HammingIndex.build((hot :+ ((50L, x))).toDF("doc_id", "sig"), "doc_id", "sig", p2,
      pieces = 8, nPostingFiles = 4, nDocFiles = 2)
    val batch2 = Seq((100L, b)).toDF("doc_id", "sig")
    val capped = pairSet(HammingIndex.probe(spark, p2, batch2,
      "doc_id", "sig", maxDist = 1, maxBucket = 5))
    val unlimited = pairSet(HammingIndex.probe(spark, p2, batch2,
      "doc_id", "sig", maxDist = 1, maxBucket = -1))
    unlimited should contain((50L, 100L, 1))
    capped should not contain ((50L, 100L, 1))
    capped.subsetOf(unlimited) shouldBe true
  }
}
