package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class DedupSpec extends AnyFunSuite with SparkTestSession with Matchers {

  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*) = {
    val s = SparkTestSession.session
    s.createDataFrame(
      rows.map { case (i, t) => org.apache.spark.sql.Row(i, t) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
  }

  test("normalizedGroups: case/punct/whitespace variants collapse, distinct content does not") {
    val df = docs(
      1L -> "Hello, World!",
      2L -> "hello   world",
      3L -> "HELLO  WORLD.",
      4L -> "goodbye world")
    df.select(Dedup.normalizeText(col("text")).as("n"))
      .collect().map(_.getString(0)).take(3).toSet shouldBe Set("hello world")
    val groups = Dedup.normalizedGroups(df, "id", "text")
      .select("survivor_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    groups shouldBe Set((1L, 3L), (4L, 1L))
    // exact dedup would NOT collapse these — the normalization is the point
    Dedup.exactGroups(df, "id", "text").count() shouldBe 4L
  }

  test("exact dedup: min-id keeper per content, groups counted") {
    val df = docs(1L -> "a b c", 2L -> "x y z", 3L -> "a b c", 4L -> "a b c")
    val groups = Dedup.exactGroups(df, "id", "text")
      .select("survivor_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    groups shouldBe Set((1L, 3L), (2L, 1L))
    Dedup.exact(df, "id", "text").select("id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
  }

  test("shingles: distinct word k-grams") {
    val r = docs(1L -> "a b c d c d")
      .select(Dedup.shingles(col("text"), 3).as("sh")).head().getSeq[String](0)
    r.toSet shouldBe Set("a b c", "b c d", "c d c", "d c d")
  }

  test("minhashLsh: identical docs always pair; all pairs meet the threshold exactly") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = docs(
      1L -> base,
      2L -> base, // identical → jaccard 1.0, must be found
      3L -> base.replace("today", "tomorrow"), // near dup
      4L -> "completely different words nothing shared at all here truly")
    val pairs = Dedup.minhashLsh(df, "id", "text", k = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs.keySet should contain((1L, 2L))
    pairs((1L, 2L)) shouldBe 1.0
    // precision: recompute true jaccard for every reported pair
    val sh = df.select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { case ((a, b), j) =>
      val truth = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      j shouldBe truth +- 1e-12
      j should be >= 0.5
    }
    // doc 4 shares nothing — must not appear
    pairs.keys.flatMap(p => Seq(p._1, p._2)) should not contain 4L
  }

  test("minhashLsh: maxBucket drops hot-bucket pairs but keeps normal ones") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val hot = (10L to 29L).map(_ -> "boiler plate boiler plate boiler plate boiler plate boiler plate")
    val df = docs(Seq(
      1L -> base,
      2L -> base.replace("today", "tomorrow")) ++ hot: _*)
    val capped = Dedup.minhashLsh(df, "id", "text", k = 3, threshold = 0.5, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped should contain((1L, 2L))
    // 20 identical boilerplate docs would contribute 190 pairs; the cap
    // removes their buckets entirely (they belong to exact dedup).
    capped.filter(p => p._1 >= 10L) shouldBe empty
    val uncapped = Dedup.minhashLsh(df, "id", "text", k = 3, threshold = 0.5)
      .count()
    uncapped.toInt shouldBe (190 + 1)
  }

  test("minhashLsh finds the planted near-dups in the test corpus") {
    val d = graft.sources.Tables.documents(spark, sfDir)
    val found = Dedup.minhashLsh(d, "doc_id", "text", k = 3, threshold = 0.8).count()
    found should be > 0L
  }

  test("simhash: identical → 0 distance; near-dup found; distinct text far") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = docs(
      1L -> base,
      2L -> base,
      3L -> base.replace("kappa", "lambda"),
      4L -> "one two three four five six seven eight nine ten")
    val h = df.select(col("id"), Dedup.simhash64("text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    h(1L) shouldBe h(2L)
    java.lang.Long.bitCount(h(1L) ^ h(3L)) should be < 20
    java.lang.Long.bitCount(h(1L) ^ h(4L)) should be > 15
    val pairs = Dedup.simhashNearDup(df, "id", "text", maxDist = 3, pieces = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 4L))
  }

  test("simhashNearDup: collapse-first — exact-dup pairs survive any cap; cap sheds cross-hash pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hot = (10L to 29L).map(_ -> "boiler plate boiler plate boiler plate boiler plate")
    val df = docs(Seq(
      1L -> base,
      2L -> base.replace("kappa", "lambda")) ++ hot: _*)
    // pick the banding from the measured distance so the near-dup pair is
    // guaranteed findable via pigeonhole (dist < pieces)
    val h = df.filter(col("id") <= 2).select(col("id"), Dedup.simhash64("text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = java.lang.Long.bitCount(h(1L) ^ h(2L))
    val pieces = 32 // 2-bit chunks; dist < 32 holds for this near-dup pair
    dist should (be > 0 and be < pieces)
    val uncapped = Dedup.simhashNearDup(df, "id", "text", dist, pieces,
        maxBucket = Dedup.BucketUnlimited)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain((1L, 2L))
    uncapped.count(p => p._1 >= 10L && p._2 >= 10L) shouldBe 190 // identical texts pair as dist 0
    // since r11 simhashNearDup IS hammingPairs over simhash64: the 20
    // identical boilerplate docs COLLAPSE to one distinct hash, so
    // their 190 dist-0 pairs are emitted arithmetically and are IMMUNE
    // to any cap; the cap (counted in distinct hashes) sheds only
    // cross-hash candidate pairs — maxBucket = 1 makes every shared
    // ≥2-distinct-hash bucket over-cap, so exactly the (1,2) near-dup
    // disappears and nothing else changes
    val cap1 = Dedup.simhashNearDup(df, "id", "text", dist, pieces, maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cap1 should not contain ((1L, 2L))
    cap1.count(p => p._1 >= 10L && p._2 >= 10L) shouldBe 190
    cap1 shouldBe uncapped - ((1L, 2L))
  }

  test("jaccardJoin: exactly the brute-force jaccard pairs, via equi-join not cross join") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = docs(
      1L -> base,
      2L -> base,                               // jaccard 1.0
      3L -> (base + " extra"),                  // one extra word → high jaccard
      4L -> "completely different words here about other things entirely now",
      5L -> "unrelated content that shares no shingles with anything else at all")
    val joined = Dedup.jaccardJoin(df, "id", "text", k = 3, threshold = 0.5)
    // brute-force ground truth over the same shingle arrays
    val sh = df.select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val expected = (for {
      (i, si) <- sh.toSeq; (j, sj) <- sh.toSeq if i < j
      jac = (si & sj).size.toDouble / (si | sj).size
      if jac >= 0.5
    } yield (i, j)).toSet
    expected should not be empty
    joined.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe expected
    // reported jaccards are the true set jaccards
    joined.collect().foreach { r =>
      val jac = (sh(r.getLong(0)) & sh(r.getLong(1))).size.toDouble /
        (sh(r.getLong(0)) | sh(r.getLong(1))).size
      r.getDouble(2) shouldBe jac +- 1e-12
    }
    val plan = joined.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("embeddingNearDup matches a locally computed cosine filter") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sfDir).limit(80).cache()
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = (for {
      (i, vi) <- vecs.toSeq; (j, vj) <- vecs.toSeq if i < j
      if cos(vi, vj) >= 0.3
    } yield (i, j)).toSet
    val got = Dedup.embeddingNearDup(e, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe expected
  }

  test("embeddingNearDupBlocked: finds planted near-dups with exact cosines, no cross join") {
    // near-dup regime (cosine >= 0.9) is where LSH blocking applies: the
    // S-curve collision probability at cos≈0.99 with 8-bit × 8-table
    // signatures is >99.9%; at low thresholds everything is a candidate
    // and only the exact all-pairs variant makes sense.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val planted = base.take(10).map { case (id, v) =>
      // tiny deterministic perturbation → cosine ≈ 0.9999
      (id + 100000L, v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) 1e-3f else -1e-3f) })
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList((base ++ planted).map { case (id, v) => Row(id, v.toSeq) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val blockedDf = Dedup.embeddingNearDupBlocked(df, "vec_id", "embedding", 0.9)
    val blocked = blockedDf
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (original, copy) pair must be found
    (0 until 10).foreach { i =>
      val id = base(i)._1
      blocked should contain((id, id + 100000L))
    }
    // precision: reported pairs are a subset of the exact >=0.9 pairs
    val exact = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    blocked.subsetOf(exact) shouldBe true
    blockedDf.queryExecution.executedPlan.toString
      .contains("CartesianProduct") shouldBe false
  }

  test("semanticDedup: nlist=1 equals a local closure replay; clustered regime refines it") {
    val e = graft.sources.Tables.embeddings(spark, sfDir).cache()
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // local exact closure: union-find over all pairs with cos >= 0.4
    val parent = scala.collection.mutable.Map(vecs.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    val ids = vecs.keys.toSeq.sorted
    for (i <- ids.indices; j <- (i + 1) until ids.size
         if cos(vecs(ids(i)), vecs(ids(j))) >= 0.4) {
      val (a, b) = (find(ids(i)), find(ids(j)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val localGroups = ids.groupBy(find).map { case (g, m) => (m.min, m.size.toLong) }.toSet
    val got = Dedup.semanticDedup(e, "vec_id", "embedding", threshold = 0.4, nlist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe localGroups
    // clustered regime: pairs ⊆ exact pairs ⇒ groups refine the closure
    val gFull = Dedup.semanticComponents(e, "vec_id", "embedding", 0.4, nlist = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byClu = Dedup.semanticComponents(e, "vec_id", "embedding", 0.4, nlist = 4)
      .collect().groupBy(_.getLong(1))
    byClu.values.foreach { members =>
      members.map(m => gFull(m.getLong(0))).toSet.size shouldBe 1
    }
  }

  test("connectedComponents: transitive closure via large-star/small-star") {
    import spark.implicits._
    // A~B~C one component even though A~C was never a pair; disjoint
    // pairs stay separate; component label = min member id
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(1L, 2L, 3L).foreach(i => cc(i) shouldBe 1L)
    Seq(10L, 11L).foreach(i => cc(i) shouldBe 10L)
    Seq(20L, 21L, 22L, 23L).foreach(i => cc(i) shouldBe 20L)
    cc.size shouldBe 9
    // a pure chain (worst case for plain min-label propagation, whose
    // round count is the DIAMETER) still converges to the min label
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val c2 = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 12L).foreach(i => c2(i) shouldBe 0L)
  }

  test("connectedComponents: a 10k-node path graph converges in O(log n) rounds") {
    import spark.implicits._
    // the adversarial long-chain shape: one component of diameter 9999.
    // Plain min-label propagation would need 9999 sequential shuffle
    // rounds; the alternating-star algorithm's contract is ~log2(n).
    val n = 10000L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localCutoff = 0 forces the DISTRIBUTED fixpoint — this test pins
    // the alternating-star round contract, not the driver fast path
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(chain, "id_a", "id_b",
      maxIter = 25, localCutoff = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    got.length shouldBe n
    all(got.map(_._2)) shouldBe 0L
    // 2·log2(10000) ≈ 27 would already beat diameter by 370×; the
    // two-phase algorithm lands well under even that
    rounds should be <= (2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 2)
    // ids shifted so the min is NOT an endpoint (star center mid-chain)
    val mid = (0L until 500L).map(i => (i + 600L, i + 601L)) :+ ((650L, 300L))
    val cc2 = Dedup.connectedComponents(mid.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc2(600L) shouldBe 300L
    cc2(1100L) shouldBe 300L
    cc2(300L) shouldBe 300L
  }

  test("connectedComponents: driver union-find fast path == distributed fixpoint, bit for bit") {
    import spark.implicits._
    // chain + clique + bridge + self-loop + duplicate/reversed edges +
    // a mid-chain minimum — the shapes that distinguish min-id labeling
    // from mere connectivity
    val edges = ((0L until 50L).map(i => (i + 100L, i + 101L)) ++
      Seq((120L, 40L), (7L, 8L), (8L, 9L), (9L, 7L), (9L, 7L), (7L, 9L),
        (5L, 5L), (300L, 301L))).toDF("id_a", "id_b")
    val (local, r0) = Dedup.connectedComponentsWithRounds(edges, "id_a", "id_b",
      maxIter = 25) // under the gate → driver union-find
    val (dist, rD) = Dedup.connectedComponentsWithRounds(edges, "id_a", "id_b",
      maxIter = 25, localCutoff = 0L)
    r0 shouldBe 0
    rD should be > 0
    val lm = local.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val dm = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    lm should contain theSameElementsInOrderAs dm
    // chain labels at the bridged minimum, clique at 7, self-loop at 5
    val m = lm.toMap
    m(150L) shouldBe 40L
    m(9L) shouldBe 7L
    m(5L) shouldBe 5L
  }

  test("mergeComponents == full rebuild on chain-bridging, comp-merging, new-id and self-loop edges") {
    import spark.implicits._
    // old graph: components {1,2,3}, {10,11}, {20,21}, singleton 30 (no edges)
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val labels0 = Dedup.connectedComponents(oldEdges)
    // new edges: bridge two comps (3-10), attach a NEVER-seen id (40-21),
    // an edge between two new ids (50-51), an intra-comp edge (1-3,
    // already closed), and a cross-bridge through a new id (60-11, 60-20)
    val newEdges = Seq((3L, 10L), (40L, 21L), (50L, 51L), (1L, 3L),
      (60L, 11L), (60L, 20L)).toDF("id_a", "id_b")
    val merged = Dedup.mergeComponents(labels0, newEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = Dedup.connectedComponents(oldEdges.unionByName(newEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every full-rebuild id appears with the identical min-id component
    full.foreach { case (id, comp) => merged.get(id) shouldBe Some(comp) }
    merged.keySet shouldBe full.keySet
    // the bridges actually merged: {1,2,3,10,11,20,21,40,60} → comp 1
    merged(40L) shouldBe 1L
    merged(60L) shouldBe 1L
    merged(50L) shouldBe 50L
    merged(51L) shouldBe 50L
  }

  test("hammingPairs == brute-force popcount pairs (pigeonhole complete for dist < pieces)") {
    import spark.implicits._
    // deterministic 64-bit signatures with planted near-collisions
    val sigs = (0L until 200L).map { i =>
      val base = i % 7 match {
        case 0 => 0x0123456789abcdefL
        case 1 => 0x0123456789abcdeeL // dist 1 from case 0
        case 2 => 0x0123456789abcdccL // dist ~3
        case _ => i * 0x9E3779B97F4A7C15L // scattered
      }
      (i, base)
    }
    val df = sigs.toDF("id", "h")
    val got = Dedup.hammingPairs(df, "id", "h", maxDist = 3, pieces = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ia, ib, d)).toSet
    got shouldBe expected
    expected should not be empty
  }

  test("defaultMaxBucket: floor at small n, √n curve above it; computed default == unlimited below the floor") {
    Dedup.defaultMaxBucket(0L) shouldBe 256
    Dedup.defaultMaxBucket(65536L) shouldBe 256          // √n = floor
    Dedup.defaultMaxBucket(1000000L) shouldBe 1000       // √1M
    Dedup.defaultMaxBucket(100000000L) shouldBe 10000
    // the fixed-width variant caps RELATIVE to uniform occupancy: at
    // 8-bit chunks a 200k-hash corpus averages ~780/bucket, so the cap
    // sits at 8× that — an absolute √n (448) would shed every bucket
    Dedup.defaultMaxBucketFixedWidth(2002L, 8) shouldBe 256
    Dedup.defaultMaxBucketFixedWidth(200000L, 8) shouldBe 6256
    Dedup.defaultMaxBucketFixedWidth(65536L, 8) shouldBe 2048
    Dedup.defaultMaxBucketFixedWidth(1000000L, 16) shouldBe 256
    // narrowing clamps instead of wrapping negative
    Dedup.defaultMaxBucketFixedWidth(1000000000000L, 8) shouldBe Int.MaxValue
    // below the floor the computed cap can never trigger: default (0)
    // and unlimited (-1) must agree exactly on any sub-1024 corpus
    import spark.implicits._
    val sigs = (0L until 300L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "h")
    val auto = Dedup.hammingPairs(sigs, "id", "h", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unlimited = Dedup.hammingPairs(sigs, "id", "h", maxDist = 3, maxBucket = -1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    auto shouldBe unlimited
  }

  test("hammingPairs: computed default cap sheds a 2k-DISTINCT-hash degenerate band, keeps planted pairs with a healthy bucket") {
    import spark.implicits._
    // 2,000 DISTINCT hashes (i << 40) that all share zero-chunks at
    // band positions 0–4 and 7 — six buckets of 2,000 distinct members,
    // the diverse-near-collision shape the hash-identical collapse
    // cannot absorb. defaultMaxBucket(2002) = 256 < 2000 → those
    // buckets drop. The planted pair lives in healthy size-2 buckets
    // (positions 1–4, 7) and must survive.
    val x = 0x0102030405060708L
    val noise = (1L to 2000L).map(i => (i, i << 40))
    val df = (noise ++ Seq((5001L, x), (5002L, x ^ 1L))).toDF("id", "h")
    val auto = Dedup.hammingPairs(df, "id", "h", maxDist = 2, pieces = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    auto should contain((5001L, 5002L, 1))
    // the capped result is a SUBSET of ground truth — never an invention
    val truth = Dedup.hammingPairs(df, "id", "h", maxDist = 2, pieces = 8,
      maxBucket = -1).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    auto.subsetOf(truth) shouldBe true
    truth should contain((5001L, 5002L, 1))
  }

  test("minhashLsh: computed default cap (0) == unlimited (-1) on a sub-floor corpus") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = docs(
      1L -> base,
      2L -> base.replace("today", "tomorrow"),
      3L -> "completely different words nothing shared at all here truly")
    val auto = Dedup.minhashLsh(df, "id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unlimited = Dedup.minhashLsh(df, "id", "text", k = 3, threshold = 0.5,
      maxBucket = -1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    auto shouldBe unlimited
    auto should contain((1L, 2L))
  }

  test("hammingPairs: degenerate hash-identical cluster collapses before banding, result still == brute force") {
    import spark.implicits._
    // a planted "blank image" population: 2,000 rows sharing ONE hash
    // (the adversarial crawl shape — uncollapsed this is 2,000 members
    // in every band bucket), plus near and far neighbors
    val blank = 0x00000000000000ffL
    val sigs =
      (0L until 2000L).map(i => (i, blank)) ++ Seq(
        (2000L, blank ^ 1L),          // dist 1 from the cluster
        (2001L, blank ^ 3L),          // dist 2
        (2002L, 0x7fffffffffffff00L), // far
        (2003L, 0x7fffffffffffff01L)) // dist 1 from 2002
    val got = Dedup.hammingPairs(sigs.toDF("id", "h"), "id", "h",
      maxDist = 2, pieces = 8)
    // within-cluster: C(2000,2) dist-0 pairs; cross: cluster×2 near
    // neighbors + the near-pair among them + the far pair
    val withinN = 2000L * 1999L / 2L
    got.filter(col("dist") === 0).count() shouldBe withinN
    val crossGot = got.filter(col("dist") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = sigs
    val crossExpected = (for {
      (ia, ha) <- all; (ib, hb) <- all
      if ia < ib && ha != hb
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 2
    } yield (ia, ib, d)).toSet
    crossGot shouldBe crossExpected
    crossExpected.size shouldBe (2 * 2000 + 1 + 1)
  }

  test("hammingPairs: an id violating the unique-id contract across two near hashes never surfaces as a self pair") {
    import spark.implicits._
    // id 1 carries two hashes at hamming distance 1 (contract
    // violation): the cross path must not emit (1, 1, 1)
    val df = Seq((1L, 0x0fL), (1L, 0x0eL), (2L, 0x0dL)).toDF("id", "h")
    val got = Dedup.hammingPairs(df, "id", "h", maxDist = 2, pieces = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    got.foreach { case (a, b, _) => a should be < b }
    got.map(p => (p._1, p._2)).toSet shouldBe Set((1L, 2L))
  }

  test("hammingPairs maxBucket: cap counts DISTINCT hashes, dist-0 pairs always survive, retention is the documented trade") {
    import spark.implicits._
    // one hot band bucket: 10 DISTINCT hashes sharing their low chunk
    // (band 0 value 0x55) but scattered high bits → only banding's
    // bucket size is hot, not duplicate mass; plus an exact-dup pair
    val hot = (0L until 10L).map(i => (i, (i << 16) | 0x55L))
    val dup = Seq((100L, 0x7f00000000000055L), (101L, 0x7f00000000000055L))
    val df = (hot ++ dup).toDF("id", "h")
    val uncapped = Dedup.hammingPairs(df, "id", "h", maxDist = 2, pieces = 8)
    val capped = Dedup.hammingPairs(df, "id", "h", maxDist = 2, pieces = 8,
      maxBucket = 4)
    // the exact-dup (dist 0) pair survives ANY cap — it never enters banding
    capped.filter(col("dist") === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((100L, 101L))
    // the capped run retains a subset of the uncapped cross pairs
    val up = uncapped.filter(col("dist") > 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cp = capped.filter(col("dist") > 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    cp.subsetOf(up) shouldBe true
    // hashes 0..3 differ only in low shifted bits → their pairwise dist
    // ≤ 2 pairs exist uncapped; the 11-hash hot bucket is dropped at
    // cap 4, so those candidates are the measured loss
    up should not be empty
    cp.size should be < up.size
  }

  test("editDistanceJoin finds exactly the pairs a local levenshtein replay finds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumpd"),  // 1 sub of 1
      (3L, "the quick brown fox jump"),   // 1 del of 1, ed 2 of 2
      (4L, "the quick brown cat jumps"),  // ed 3 of 1 (fox→cat)
      (5L, "a completely different line"),
      (6L, "the quick brown fox jumps"),  // exact dup of 1
      (7L, "xhe quick brown fox jumpsyz") // ins+ins+sub of 1 → ed 3
    ).toDF("id", "s")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= 2
    } yield (ia, ib, lev(sa, sb))).toSet
    val got = Dedup.editDistanceJoin(docs, "id", "s", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    got shouldBe expected
    got should contain((1L, 2L, 1))
    got should contain((1L, 6L, 0))
    got.map(p => (p._1, p._2)) should not contain ((1L, 4L)) // ed 3 excluded
  }

  test("identical strings collapse before signature work but still pair exhaustively") {
    import spark.implicits._
    // 5 identical strings: dist-0 pairs come from the exact-dup
    // collapse, immune to any signature-bucket cap
    val docs = (1L to 5L).map(i => (i, "same same same")).toDF("id", "s")
    Dedup.editDistanceJoin(docs, "id", "s", maxDist = 1).count() shouldBe 10
    Dedup.editDistanceJoin(docs, "id", "s", maxDist = 1, maxBucket = 1).count() shouldBe 10
    // and cross-group pairs expand over BOTH dup groups' members
    val two = Seq((1L, "aaaa aaaa"), (2L, "aaaa aaaa"),
      (3L, "aaaa aaab"), (4L, "aaaa aaab")).toDF("id", "s")
    val got = Dedup.editDistanceJoin(two, "id", "s", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    got shouldBe Set((1L, 2L, 0), (3L, 4L, 0),
      (1L, 3L, 1), (1L, 4L, 1), (2L, 3L, 1), (2L, 4L, 1))
  }

  test("editDistanceJoin: an id carrying two strings within maxDist never surfaces as a self pair") {
    import spark.implicits._
    // id 5 carries two strings at edit distance 1 (unique-id contract
    // violation): the cross path must not emit (5, 5, 1)
    val alone = Seq((5L, "abcdefgh"), (5L, "abcdefgx")).toDF("id", "s")
    Dedup.editDistanceJoin(alone, "id", "s", maxDist = 1).count() shouldBe 0
    val withPeer = Seq((5L, "abcdefgh"), (5L, "abcdefgx"), (6L, "abcdefgz")).toDF("id", "s")
    val got = Dedup.editDistanceJoin(withPeer, "id", "s", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    got.foreach { case (a, b, _) => a should be < b }
    got.toSet shouldBe Set((5L, 6L, 1))
  }

  test("editDistanceJoin refuses unbounded keys loudly (no silent executor OOM)") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 2000), (2L, "y" * 2000)).toDF("id", "s")
    val ex = intercept[Exception] {
      Dedup.editDistanceJoin(docs, "id", "s", maxDist = 2).collect()
    }
    ex.getMessage should include regex "(?i)(1024|bounded keys)"
  }

  test("editDistanceJoin maxBucket drops over-cap DISTINCT-string buckets (documented trade)") {
    import spark.implicits._
    // 5 distinct strings pairwise within dist 2 (last char varies) —
    // they share the delete-last-char variant, one bucket of 5 groups
    val docs = (0L until 5L).map(i => (i, s"abcdefgh$i")).toDF("id", "s")
    Dedup.editDistanceJoin(docs, "id", "s", maxDist = 2).count() shouldBe 10
    Dedup.editDistanceJoin(docs, "id", "s", maxDist = 2, maxBucket = 4).count() shouldBe 0
  }
}
