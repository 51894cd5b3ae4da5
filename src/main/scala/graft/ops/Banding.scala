package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded-candidate core of the signature-dedup operators
  * ([[Dedup.minhashLsh]], [[Dedup.jaccardJoin]],
  * [[Dedup.editDistanceJoin]], [[Dedup.hammingPairs]],
  * [[Dedup.embeddingNearDupBlocked]] and the
  * [[graft.sources.MinhashIndex]] / [[graft.sources.HammingIndex]]
  * probes): members are posted under band keys, members sharing a key
  * become candidate pairs, and the caller verifies candidates exactly.
  *
  *  - [[cap]] resolves `maxBucket` (> 0 explicit, 0 computed, < 0 none).
  *  - [[selfPairs]] is the in-flight pair generator: over-cap buckets
  *    drop, then a shuffle-hash self-join on the keys.
  *  - [[probeCandidates]] is the index side: postings whose key is hot
  *    for the batch drop, then a broadcast join against the batch keys.
  *  - [[collapse]] / [[within]] / [[expand]] are collapse-first: members
  *    with an identical value band once, pair among themselves at
  *    distance 0, and verified value pairs expand back to member pairs.
  *
  * Capped-regime recall contract — the one statement every capped
  * operator points to:
  *  - the cap counts DISTINCT members per key (postings carry each
  *    member once per key under the operators' unique-id contracts;
  *    index postings are counted distinct, because replayed appends
  *    re-post them);
  *  - an over-cap bucket contributes no cross pairs, so a pair whose
  *    every shared key is over cap is lost;
  *  - dist-0 pairs and collapsed pairs never depend on the cap;
  *  - a probe banding on selected positions (the maxDist+1 retained
  *    positions of [[graft.sources.HammingIndex.probe]]) can find all of
  *    them over cap, and then loses the pair even when a position it
  *    did not retain would have paired it.
  * A capped result is therefore always a subset of the unlimited one.
  */
private[graft] object Banding {

  /** `maxBucket` → the cap: > 0 explicit, 0 the by-name `auto`
    * default, < 0 none (returned as -1; every verb reads a cap ≤ 0 as
    * none).
    */
  def cap(maxBucket: Int, auto: => Int): Int =
    if (maxBucket > 0) maxBucket
    else if (maxBucket == 0) auto
    else Dedup.BucketUnlimited

  /** (position, chunk) → one sortable long: position in the high 32
    * bits — the posting key of both persisted indexes. The chunk must
    * fit 32 bits (an int band hash, or a 64/pieces-bit chunk with
    * pieces ≥ 2).
    */
  def combinedKey(pos: Column, chunk: Column): Column =
    shiftleft(pos.cast("long"), 32)
      .bitwiseOR(chunk.cast("long").bitwiseAND(lit(0xffffffffL)))

  /** Co-bucketed member pairs (`id_a` < `id_b`, the keys, and each
    * `payload` column p as p+"a" / p+"b") — one row per shared key, NOT
    * distinct (jaccardJoin counts them). A bucket of m members emits
    * m²/2 pairs and AQE can split a partition but not shrink that, so
    * with `cap` > 0 the keys holding more than `cap` rows are found by
    * a partial-aggregated count (one row per key through the shuffle)
    * and broadcast into an anti-join first; the postings' lineage is
    * then read twice, so callers pin expensive postings themselves.
    * SHUFFLE_HASH, not broadcast: both sides are the same frame, so the
    * second Exchange becomes a ReusedExchange and the postings are
    * computed once (a broadcast join would keep both subtrees alive).
    */
  def selfPairs(postings: DataFrame, keys: Seq[String], member: String,
                cap: Int, payload: Seq[String] = Nil): DataFrame = {
    val kept =
      if (cap <= 0) postings
      else {
        val overCap = postings.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
          .select(keys.map(col): _*)
        postings.join(broadcast(overCap), keys, "left_anti")
      }
    def side(s: String) = kept.select(
      (col(member).as(s"id_$s") +: keys.map(col)) ++
        payload.map(p => col(p).as(p + s)): _*)
    side("a").hint("shuffle_hash").join(side("b"), keys)
      .filter(col("id_a") < col("id_b"))
  }

  /** Distinct (`member`, `batchMember`) candidates of an index probe,
    * passed through `verify` and pinned: postings (key, member) meet
    * the broadcast batch keys (key, batchMember) map-side, so the
    * posting scan never shuffles. With `cap` > 0, a key whose posting
    * fan-out exceeds `cap` distinct members — counted over the postings
    * the batch keys hit — drops first. The pin belongs to the caller's
    * scope: the index probes collect the result for docs-file pruning
    * and join it again.
    */
  def probeCandidates(posts: DataFrame, batchKeys: DataFrame, cap: Int,
                      member: String, batchMember: String)
                     (verify: DataFrame => DataFrame): DataFrame = {
    val kept =
      if (cap <= 0) posts
      else {
        val hot = posts.join(broadcast(batchKeys.select("key").distinct()), "key")
          .groupBy("key").agg(countDistinct(col(member)).as("__n"))
          .filter(col("__n") > cap).select("key")
        posts.join(broadcast(hot), Seq("key"), "left_anti")
      }
    Pins.pin(verify(kept.join(broadcast(batchKeys), "key")
      .filter(col(member) =!= col(batchMember))
      .select(member, batchMember).distinct()))
  }

  /** (`value`, __ids): the `__id`s of `df` grouped by their value,
    * pinned — the value postings, [[within]] and [[expand]] all read
    * it, and would otherwise each replay the collapse shuffle.
    */
  def collapse(df: DataFrame, value: String): DataFrame =
    Pins.pin(df.groupBy(value).agg(collect_list(col("__id")).as("__ids")))

  /** The dist-0 pairs (id_a < id_b, dist = 0) among members of one
    * [[collapse]] group — identical by definition, whatever the cap.
    */
  def within(groups: DataFrame): DataFrame =
    groups.filter(size(col("__ids")) >= 2)
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))

  /** Group pairs (id_a, id_b over [[collapse]] keys `key`) → member
    * pairs (id_a < id_b, dist). Each side re-joins its group row (every
    * non-key column c as c+"a" / c+"b", so the member lists are
    * `__idsa` / `__idsb`), `verify` filters and must leave a `dist`
    * column, and the surviving lists expand. The =!= guard keeps an id
    * that violates the unique-id contract across two groups from
    * surfacing as a self pair.
    */
  def expand(pairs: DataFrame, groups: DataFrame, key: String)
            (verify: DataFrame => DataFrame): DataFrame = {
    def side(s: String) = groups.select(groups.columns.toSeq.map(c =>
      col(c).as(if (c == key) s"id_$s" else c + s)): _*)
    verify(pairs.join(side("a"), "id_a").join(side("b"), "id_b"))
      .select(explode(col("__idsa")).as("__a"), col("__idsb"), col("dist"))
      .select(col("__a"), explode(col("__idsb")).as("__b"), col("dist"))
      .filter(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"), col("dist"))
  }
}
