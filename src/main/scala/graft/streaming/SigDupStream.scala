package graft.streaming

import graft.sources.HammingIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end streaming SIGNATURE near-dup maintenance — the
  * [[NearDupStream]] lifecycle for the 64-bit hash family
  * ([[graft.ops.Dedup.simhash64]] text signatures, perceptual image
  * hashes, audio fingerprints): each micro-batch of arriving
  * (id, signature) rows is (1) PROBED against the persisted
  * [[HammingIndex]] (hamming ≤ maxDist pairs vs all history AND within
  * the batch — chunk-posting lookups, never a history re-band),
  * (2) the found edges FOLD into the running component labeling
  * ([[CcStream]]'s supernode merge), and (3) the batch is APPENDED to
  * the index so later batches pair against it.
  *
  * Where [[NearDupStream]]'s minhash banding is probabilistic, the
  * pigeonhole banding here is COMPLETE for maxDist < pieces, so in the
  * unlimited regime (maxBucket < 0) the labels after ANY prefix of
  * batches are EXACTLY the batch `connectedComponents(hammingPairs(…))`
  * over everything seen — SigDupStreamSpec pins it across triggers.
  * Only that regime is exact; the default maxBucket = 0 computes a cap
  * (capped recall: the [[graft.ops.Banding]] contract).
  *
  * Same structural contracts as [[NearDupStream]]: `foreachBatch`
  * (each step is a multi-stage batch job), probe BEFORE append so a
  * batch never pairs with itself twice, at-least-once delivery
  * (replayed appends duplicate rows — absorbed by the probe's
  * distincts — and replayed folds are no-op merges), per-trigger pins
  * released with the trigger's scope, and [[CcStream.labels]]'
  * invalidation contract on [[labels]].
  */
final class SigDupStream private (spark: SparkSession, indexPath: String,
                                  idCol: String, hashCol: String,
                                  maxDist: Int, maxBucket: Int,
                                  initialLabels: DataFrame) {

  // params + manifests cached across triggers; this stream is the
  // index's single writer, so the Maintainer's in-memory manifest
  // extension stays consistent
  private val ix = new HammingIndex.Maintainer(spark, indexPath)
  private val core = new DupStreamCore(new CcStream(initialLabels),
    b => ix.probe(b, idCol, hashCol, maxDist, maxBucket),
    b => ix.append(b, idCol, hashCol))

  /** Current near-dup component labeling (id, comp) — ids that never
    * paired are absent (singletons label themselves downstream).
    */
  def labels: DataFrame = core.labels

  /** Probe → fold → append for one batch; returns the new labeling —
    * the [[DupStreamCore]] lifecycle and release discipline.
    */
  def processBatch(batch: DataFrame): DataFrame = core.processBatch(batch)

  /** Attach to a stream of signature rows (idCol, hashCol, ...). */
  def start(sigs: DataFrame, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    core.start(sigs, checkpoint)
}

object SigDupStream {

  /** Over a freshly built history index whose labeling the caller
    * already holds (e.g. `connectedComponents(hammingPairs(history))`)
    * — `initialLabels` is (id, comp).
    */
  def apply(spark: SparkSession, indexPath: String,
            idCol: String, hashCol: String,
            initialLabels: DataFrame,
            maxDist: Int = 3, maxBucket: Int = 0): SigDupStream =
    new SigDupStream(spark, indexPath, idCol, hashCol, maxDist,
      maxBucket, initialLabels.select(col("id"), col("comp")))

  /** Over an empty (or pair-free) history. */
  def empty(spark: SparkSession, indexPath: String,
            idCol: String, hashCol: String,
            maxDist: Int = 3, maxBucket: Int = 0): SigDupStream = {
    import spark.implicits._
    apply(spark, indexPath, idCol, hashCol,
      Seq.empty[(Long, Long)].toDF("id", "comp"), maxDist, maxBucket)
  }
}
