package graft.streaming

import graft.ops.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The probe → fold → append micro-batch lifecycle shared by
  * [[NearDupStream]] (MinHash index) and [[SigDupStream]] (Hamming
  * index), parameterized over the index maintainer's two operations:
  *
  *  - the batch is pinned so probe and append see one frame;
  *  - probe runs BEFORE append (a batch never pairs with itself twice);
  *  - the fold materializes the new labeling before append mutates the
  *    maintainer's cached metadata;
  *  - each trigger is one [[graft.ops.Pins.scope]]: the batch and every
  *    probe and fold pin release when it ends, so a long-running stream
  *    holds ONE labels copy, nothing batch-sized.
  *
  * `probe` must return the found pairs (id_a, id_b, ...); `append` must
  * extend the index with the batch.
  */
private[streaming] final class DupStreamCore(
    cc: CcStream,
    probe: DataFrame => DataFrame,
    append: DataFrame => Unit) {

  def labels: DataFrame = cc.labels

  def processBatch(batch: DataFrame): DataFrame =
    Pins.scope("DupStreamCore.processBatch") {
      val b = Pins.pin(batch) // probe and append must see ONE batch
      val next = cc.fold(probe(b).select(col("id_a"), col("id_b")))
      append(b)
      next
    }

  def start(rows: DataFrame, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch); () }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
}
