package graft.index

import org.apache.spark.sql.Dataset

/** The driver-collect serving budget — enforcement for the documented
  * "queries/adds are the SMALL side" contract of the batch entry points
  * that collect + broadcast their batch (HNSW.searchMany/add,
  * PQ/IVFPQ.searchMany, and the warm IVFFlat/LSHForest.searchMany,
  * which collect theirs for a one-job scan). Those paths are
  * O(batch × dim × 4 B) on the driver and every executor; a
  * corpus-sized "batch" silently becomes a driver OOM hours into a job.
  * This turns the contract into a fast, actionable failure at submit
  * time instead.
  *
  * The budget is rows, configurable per session via
  * `graft.serving.maxBatch` (default 2²⁰ ≈ 1M rows ≈ 0.5 GB at 128f).
  * The check costs nothing extra: the collect is capped at budget+1
  * rows, so an oversized batch never materializes driver-side at all.
  */
private[graft] object Batches {

  val MaxBatchKey = "graft.serving.maxBatch"
  val DefaultMaxBatch: Int = 1 << 20

  def maxBatch(ds: Dataset[_]): Int =
    ds.sparkSession.conf.getOption(MaxBatchKey).map(_.toInt)
      .getOrElse(DefaultMaxBatch)

  private val DefaultRemedy =
    "For corpus-sized workloads use the distributed path instead: " +
      "Dedup.embeddingPairsViaLSH for join-all-against-all similarity, " +
      "HNSW.build / the index build APIs for bulk ingest."

  /** Collect a serving batch under the budget; refuse (with the
    * distributed alternative named) when it exceeds it. */
  def bounded[T](ds: Dataset[T], what: String): Array[T] =
    bounded(ds, what, DefaultRemedy)

  /** [[bounded]] with a caller-supplied remedy line — the same budget
    * enforcement for non-serving collects whose contract is
    * broadcast-sized (tokenizer vocabularies, codebooks): a corrupt or
    * mis-pointed path fails fast instead of collecting unbounded rows.
    */
  def bounded[T](ds: Dataset[T], what: String, remedy: String): Array[T] = {
    val max = maxBatch(ds)
    val rows = ds.limit(max + 1).collect()
    require(rows.length <= max, message(what, max, remedy))
    rows
  }

  /** Budget enforcement WITHOUT a driver collect — for entry points
    * whose batch stays distributed but still rides an executor
    * broadcast (IVFPQ's probe frame): the same fail-fast contract,
    * paid as one capped count job instead of a collect. */
  def boundedCheck(ds: Dataset[_], what: String): Unit = {
    val max = maxBatch(ds)
    require(ds.limit(max + 1).count() <= max,
      message(what, max, DefaultRemedy))
  }

  /** The nominal per-row float width the row budget was sized for
    * (maxBatch rows × 128 floats ≈ 0.5 GB — the documented default). */
  val NominalRowFloats: Long = 128L

  /** [[boundedCheck]] scaled by the ACTUAL per-row broadcast footprint:
    * the accepted row count shrinks so rows × floatsPerRow never
    * exceeds the budget expressed in floats (maxBatch ×
    * [[NominalRowFloats]]). IVFPQ's probe frame fans each query row
    * into nprobe residual-shifted copies of the (padded-dim) vector,
    * so a batch that passes the ROW gate could still build a multi-GB
    * executor broadcast; this keeps "passes the guard" implying
    * "bounded broadcast" at any nprobe × dim. Never looser than the
    * row gate. */
  def boundedCheckScaled(ds: Dataset[_], what: String,
                         floatsPerRow: Long): Unit = {
    val max = scaledMaxRows(ds, floatsPerRow)
    require(ds.limit((max + 1).toInt).count() <= max,
      scaledMessage(ds, what, max, floatsPerRow))
  }

  /** [[boundedCheckScaled]]'s threshold WITHOUT the count job — for
    * callers that already know the frame's exact row count from
    * driver-side arithmetic (e.g. the MaxSim rescore probe: an inner
    * join on qid whose row count is Σ_qid |cand_qid| × |qtoks_qid|,
    * both factors collected anyway for chunking). Same bound, same
    * failure message, zero extra Spark jobs. */
  def requireScaledRows(ds: Dataset[_], what: String, rows: Long,
                        floatsPerRow: Long): Unit = {
    val max = scaledMaxRows(ds, floatsPerRow)
    require(rows <= max, scaledMessage(ds, what, max, floatsPerRow))
  }

  private def scaledMaxRows(ds: Dataset[_], floatsPerRow: Long): Long = {
    val maxRows = maxBatch(ds)
    val budgetFloats = maxRows.toLong * NominalRowFloats
    math.max(1L, math.min(maxRows.toLong,
      budgetFloats / math.max(1L, floatsPerRow)))
  }

  private def scaledMessage(ds: Dataset[_], what: String, max: Long,
                            floatsPerRow: Long): String = {
    val budgetFloats = maxBatch(ds).toLong * NominalRowFloats
    s"$what exceeds the serving budget, broadcast-scaled ($max rows at " +
      s"$floatsPerRow broadcast floats/row — $budgetFloats floats " +
      s"total, conf $MaxBatchKey rows × $NominalRowFloats): this " +
      "entry point broadcasts O(rows × floats/row) to every " +
      s"executor — the contract is that this side is SMALL. " +
      DefaultRemedy
  }

  /** Footprint assert for an ALREADY-collected (row-gated) batch that
    * broadcasts in chunks: rows × floatsPerRow of the largest chunk
    * must fit the float budget. Pure arithmetic — no job; the row
    * count is known driver-side. Keeps "row gate passed" implying
    * "bounded broadcast" when per-row width (dim) is large or the
    * caller widened the chunk size. */
  def requireChunkFloats(ds: Dataset[_], what: String,
                         rows: Long, floatsPerRow: Long): Unit = {
    val budgetFloats = maxBatch(ds).toLong * NominalRowFloats
    require(rows * floatsPerRow <= budgetFloats,
      s"$what exceeds the serving budget, broadcast-scaled ($rows rows × " +
        s"$floatsPerRow broadcast floats/row > $budgetFloats floats, conf " +
        s"$MaxBatchKey rows × $NominalRowFloats): shrink the chunk size " +
        "(qChunk) or the batch. " + DefaultRemedy)
  }

  private def message(what: String, max: Int, remedy: String): String =
    s"$what exceeds the driver-collect serving budget ($max rows, " +
      s"conf $MaxBatchKey): this entry point collects and broadcasts " +
      s"(O(rows × width) driver+executor memory) — the contract is that " +
      s"this side is SMALL. $remedy"
}
