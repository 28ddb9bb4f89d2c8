package graft.index

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Serving-residency control — the engine face for the block-residency
  * behavior the 100M-token smokes isolated (BASELINE "SQ8 100M serve
  * wall", r14): a served tier's big frame (codes / postings / indexed
  * vectors) lives in executor storage at MEMORY_AND_DISK, and any large
  * scan in the same JVM can spill its blocks to disk — after which the
  * FIRST serve pays a ~3× re-warm (disk re-reads + re-promotion) that
  * steady-state serves never see. Before r15 the only remedies were
  * harness protocols (measure twice, track persistent-RDD ids to free
  * checkpoint blocks); these two verbs give callers the same control as
  * library API:
  *
  *  - [[warm]]: make the frame resident AND touched — persist it at
  *    MEMORY_AND_DISK if nothing holds its blocks yet (a reloaded tier's
  *    parquet scan), then run one full count so every block is pulled
  *    into storage (disk-spilled blocks re-promote to memory on read).
  *    Idempotent; after it, the first query serves at steady state.
  *  - [[cool]]: release the frame's storage — both the cache-manager
  *    entry (`.persist`/`.cache` frames) and, when the frame IS a
  *    checkpoint result (localCheckpoint returns a bare RDD-backed
  *    plan), the checkpoint blocks themselves — the handle
  *    DataFrame.unpersist never reaches and the r14 smoke had to free
  *    by raw persistent-RDD id. A cooled cache-backed frame recomputes
  *    on next use (correct, slower); a cooled CHECKPOINT-backed frame is
  *    dead — its lineage was truncated at materialization — so cool a
  *    checkpoint-backed tier only when done with it (rebuild/reload to
  *    serve again).
  *
  * Only the frame passed in is touched: a derived frame's unpersist
  * never reaches blocks owned by other tiers (the checkpoint handle is
  * used only when the frame's analyzed plan is the RDD leaf itself, or
  * a rename of all its columns in order — `checkpointed.toDF(names…)`,
  * which holds exactly the checkpoint's rows). */
object Residency {

  /** The frame's OWN materialized RDD, when the frame is exactly a
    * checkpoint/RDD-backed plan (what `localCheckpoint(true)` returns),
    * possibly under a column rename. Derived plans return None — their
    * leaves belong to other owners. */
  private def ownRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => Some(r.rdd)
      case Project(cols, r: LogicalRDD) if renames(cols, r.output) => Some(r.rdd)
      case _ => None
    }

  /** True iff `cols` are `out` in order, each bare or under an alias. */
  private def renames(cols: Seq[NamedExpression], out: Seq[Attribute]): Boolean =
    cols.length == out.length && cols.zip(out).forall {
      case (a: Attribute, o) => a.exprId == o.exprId
      case (Alias(a: Attribute, _), o) => a.exprId == o.exprId
      case _ => false
    }

  /** Persist (if nothing holds blocks for the frame yet) and touch
    * every block. One full-scan count — the pre-paid re-warm. */
  def warm(df: Dataset[_]): Unit = {
    val selfStored =
      ownRdd(df).exists(_.getStorageLevel != StorageLevel.NONE)
    if (!selfStored && df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
  }

  /** Release the frame's storage: cache-manager entry and (for
    * checkpoint-backed frames) the checkpoint blocks themselves. */
  def cool(df: Dataset[_]): Unit = {
    df.unpersist(blocking = true)
    ownRdd(df).filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = true))
  }

  /** True iff the frame currently holds storage under either handle —
    * the spec-gate probe for [[warm]]/[[cool]]. */
  def isResident(df: Dataset[_]): Boolean =
    df.storageLevel != StorageLevel.NONE ||
      ownRdd(df).exists(_.getStorageLevel != StorageLevel.NONE)
}
