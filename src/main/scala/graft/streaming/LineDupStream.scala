package graft.streaming

import graft.ops.Pins
import graft.sources.LineIndex
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end streaming LINE-dedup maintenance over the persisted
  * [[LineIndex]] — the line family's [[NearDupStream]]: each
  * micro-batch of arriving documents is (1) PROBED against the index
  * (exact CCNet line membership vs all history plus the within-batch
  * keep-first window — [[graft.ops.Text.dedupLinesIncremental]]'s
  * output contract), (2) the DEDUPED docs hand to the caller's sink,
  * and (3) the batch's KEPT lines APPEND to the index
  * ([[LineIndex.Maintainer.append]], delta-sized) so later batches —
  * and later SESSIONS — drop them.
  *
  * `foreachBatch`, not a stateful operator: each step is a multi-stage
  * batch job with driver-side actions (the [[CcStream]] /
  * [[graft.sources.AnnLayout.appendStream]] reasoning). Probe runs
  * BEFORE append, so a batch never dedups against its own lines beyond
  * the keep-first window. Determinism: the concatenated sink output
  * after any prefix of batches equals batch
  * [[graft.ops.Text.dedupLines]] over history ∪ those batches when ids
  * follow arrival order (the StreamingSpec pin for the in-memory
  * [[graft.ops.Text.LineHistory]] twin; this class is its disk-backed
  * sibling for lifecycles that outlive the session). Delivery is
  * at-least-once: a replayed batch re-appends digest rows — byte cost,
  * never flag cost (the probe's maybes-bounded distinct) — and its
  * re-probed output DOES see the first delivery's append (its own
  * lines read as history), so exactly-once sinks should key on the
  * batch id as usual.
  *
  * Per-trigger memory: the batch and the probe's pins release with the
  * trigger's [[graft.ops.Pins.scope]]; the result is a rolling pin (it
  * must materialize before append mutates the index state under it)
  * released once the next trigger lands — the stream holds ONE result
  * copy, nothing history-sized. The cached [[LineIndex.Maintainer]]
  * makes this stream the index's single writer.
  */
final class LineDupStream(spark: SparkSession, indexPath: String,
                          idCol: String, textCol: String,
                          delim: String = "\n", maxCollect: Int = 200000) {

  private val ix = new LineIndex.Maintainer(spark, indexPath)
  private var lastResult: DataFrame = null

  /** Probe → sink-ready dedup → append for one batch; returns the
    * deduped batch docs (materialized).
    */
  def processBatch(batch: DataFrame): DataFrame = {
    val r = Pins.scope("LineDupStream.processBatch") {
      val b = Pins.pin(batch)
      val kept = Pins.pin(ix.probe(b, idCol, textCol, delim, maxCollect), rolling = true)
      ix.append(kept, "text_dedup", delim)
      kept
    }
    if (lastResult != null) Pins.release(lastResult)
    lastResult = r
    r
  }

  /** Attach to a stream of documents; `sink` consumes each trigger's
    * deduped docs (e.g. a parquet append).
    */
  def start(docs: DataFrame, sink: DataFrame => Unit,
            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => sink(processBatch(batch)); () }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
}
