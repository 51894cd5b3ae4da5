package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The one materialization primitive: every local checkpoint the
  * library takes (the `graft.tools` mains aside) goes through [[pin]],
  * and every release through [[release]] or the end of a [[scope]].
  * The contract:
  *
  *  - [[pin]] checkpoints a frame — eagerly, or lazily on its first
  *    action — and registers it with the innermost [[scope]] open on
  *    the current thread. With no scope open the pin is unowned and
  *    left to the ContextCleaner.
  *  - A `rolling` pin is never registered: it is state that outlives
  *    the scope it was taken in (a [[graft.streaming.CcStream]]
  *    labeling, a [[Text.LineHistory]] digest table, the last
  *    [[graft.streaming.LineDupStream]] result), and its holder swaps
  *    it and releases the superseded one. [[release]] also drops a pin
  *    from its scope, so a loop that swaps owned pins (the CC rounds)
  *    keeps one registered.
  *  - A bare projection (columns and renames only) of a frame that is
  *    already checkpoint-backed is returned as is: a second pin would
  *    copy the same rows again.
  *  - [[scope]] releases every pin registered inside it when its body
  *    ends, normally or by an exception. A pinned frame the body
  *    returns is handed to the enclosing scope instead.
  *
  * A local checkpoint truncates lineage, so a frame that reads a
  * released pin cannot recompute and fails with a missing checkpoint
  * block: materialize what a scope builds before the scope ends.
  */
object Pins {

  private final class Scope(val owner: String) {
    val pins = mutable.LinkedHashSet.empty[RDD[_]]
  }

  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Checkpoint `df` (see the object doc for ownership and the
    * projection rule).
    */
  def pin(df: DataFrame, eager: Boolean = true, rolling: Boolean = false): DataFrame =
    if (!rolling && projectsPin(df.queryExecution.analyzed)) df
    else {
      val p = df.localCheckpoint(eager)
      if (!rolling) open.get.headOption.foreach { s =>
        checkpointRdds(p).foreach(r => s.pins += r.setName(s"pin:${s.owner}"))
      }
      p
    }

  /** Release the cached blocks behind every checkpoint `df` reads and
    * drop them from any open scope. No-op for frames that are not
    * checkpoint-backed.
    */
  def release(df: Dataset[_]): Unit =
    checkpointRdds(df).foreach { r =>
      r.unpersist(blocking = false)
      open.get.foreach(_.pins -= r)
    }

  /** Run `body` with `owner` as the innermost scope; release what it
    * pinned when it ends.
    */
  def scope[T](owner: String)(body: => T): T = {
    val s = new Scope(owner)
    val outer = open.get
    open.set(s :: outer)
    try {
      val result = body
      result match {
        case df: Dataset[_] =>
          checkpointRdds(df).filter(s.pins.remove)
            .foreach(r => outer.headOption.foreach(_.pins += r))
        case _ => ()
      }
      result
    } finally {
      open.set(outer)
      s.pins.foreach(_.unpersist(blocking = false))
    }
  }

  private def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r.rdd }

  private def projectsPin(plan: LogicalPlan): Boolean = plan match {
    case Project(cols, child) =>
      cols.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } && projectsPin(child)
    case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
    case _ => false
  }
}
