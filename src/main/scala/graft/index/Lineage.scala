package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{broadcast, col}

/** Lineage compaction for the incremental `Model.add` paths.
  *
  * Every add unions one batch into the model's big-state DataFrame
  * (frozen-parameter assign/encode — the Index::add semantics of
  * vers/src/indexes/base.rs:28). Called once that is free; called per
  * microbatch by the streaming ingests (Streaming.foldBatches) it
  * stacks one union node on the logical plan per batch FOREVER — a day
  * of 10-second microbatches is ~8,600 stacked unions, and analysis
  * time + driver memory grow per batch until the stream falls over
  * (the same plan-bookkeeping blowup class as the LSH depth-dimension
  * one fixed in refine(), there per split level).
  *
  * The fix is the same one refine() uses: every [[CompactEvery]] adds,
  * `localCheckpoint(eager = true)` the accumulated state — the plan
  * collapses to one leaf, the chain of superseded per-add caches
  * becomes unreferenced (ContextCleaner-collectable), and between
  * compactions the plan holds at most CompactEvery union nodes. The
  * checkpoint materializes on executor storage, so it costs one job per
  * CompactEvery batches — amortized noise against the per-batch add job
  * itself. (Executor-loss durability is the usual localCheckpoint
  * trade; a streaming deployment that must survive executor loss should
  * save() on a checkpoint cadence — same as the reference, whose only
  * durability is save_index, base.rs:31.)
  *
  * HNSW.Model.add deliberately does NOT use this cadence: its add is a
  * full blob-rewrite pass (not a cheap union), so it checkpoints
  * eagerly on every add — see the comment there.
  */
private[graft] object Lineage {

  /** Union-depth watermark. 32 keeps worst-case analysis cost trivial
    * (a few dozen plan nodes) while paying the materialization job on
    * ~3% of batches. */
  val CompactEvery = 32

  /** Returns the (possibly compacted) state and the new adds-since-
    * compaction counter. Call with the POST-union dataset and the
    * model's current counter. */
  def compact[T](ds: Dataset[T], addsSinceCompact: Int): (Dataset[T], Int) =
    if (addsSinceCompact + 1 >= CompactEvery) (ds.localCheckpoint(true), 0)
    else (ds, addsSinceCompact + 1)

  /** Takedown on the same cadence: `ds` minus the rows whose `id` is in
    * `ids(idCol)`. The ids frame is takedown-sized, so it broadcasts
    * into the anti-join and `ds` never shuffles. */
  def without(ds: DataFrame, ids: DataFrame, idCol: String,
              addsSinceCompact: Int): (DataFrame, Int) =
    compact(ds.join(broadcast(ids.select(col(idCol).cast("long").as("id"))),
      Seq("id"), "left_anti"), addsSinceCompact)
}
