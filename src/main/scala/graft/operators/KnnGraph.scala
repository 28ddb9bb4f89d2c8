package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Consumers of the corpus-scale kNN graph
  * ([[graft.index.IVFFlat.Model.knnJoin]] /
  * [[graft.index.BQ.Model.knnJoinRefined]] output: (qid, id, distance)
  * with ≤ k rows per qid).
  *
  * Mutual-kNN clustering is the standard robust graph-clustering
  * baseline over embeddings: an edge survives only when BOTH endpoints
  * rank each other in their top-k (directional hubs — points that
  * appear in everyone's list without reciprocating — drop out), and
  * clusters are the connected components of what remains. Everything
  * here is a narrow reshape + one count aggregate over the graph rows
  * (corpus-linear: ≤ n·k rows in, ≤ n·k/2 out), then
  * [[Dedup.components]] (a driver union-find when the mutual edges fit
  * the broadcast budget, min-label propagation otherwise). */
object KnnGraph {

  /** Hard-negative mining over the kNN graph — the contrastive-
    * training data stage: for each anchor, keep its nearest neighbors
    * inside a DISTANCE BAND (dupMax, easyMax]. Below the band the
    * neighbor is a near-duplicate/positive (training on it as a
    * negative poisons the loss); above it the negative is too easy to
    * carry gradient. The band endpoints come from the corpus's dedup
    * threshold and distance distribution — calibrate per embedding
    * model. Per-anchor rank is a window bounded by k (the graph
    * already caps rows per qid), so this is a narrow reshape of the
    * graph — corpus-linear like everything else in this file. */
  def hardNegatives(graph: DataFrame, dupMax: Double, easyMax: Double,
                    perAnchor: Int = 5): DataFrame = {
    require(dupMax < easyMax, "band must be non-empty: dupMax < easyMax")
    require(perAnchor >= 1, "perAnchor must be at least 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("distance"), col("id"))
    graph.filter(col("qid") =!= col("id") &&
        col("distance") > dupMax && col("distance") <= easyMax)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perAnchor)
      .select(col("qid"), col("id"), col("distance"), col("rank"))
  }

  /** Undirected mutual edges of a directed kNN graph: (id_a, id_b)
    * with id_a < id_b, present iff both (a→b) and (b→a) are graph
    * rows. Self-edges are dropped. One groupBy on the normalized pair
    * — (qid, id) rows are unique, so count = 2 ⇔ mutual. */
  def mutualEdges(graph: DataFrame): DataFrame =
    graph.filter(col("qid") =!= col("id"))
      .select(least(col("qid"), col("id")).as("id_a"),
        greatest(col("qid"), col("id")).as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") === 2)
      .drop("n")

  /** Mutual-kNN connected components: (id, comp) with comp = the
    * component's minimum id — the same label contract as
    * [[Dedup.components]] (nodes with no mutual edge don't appear;
    * callers left-join and default comp = id for singletons). */
  def clusters(graph: DataFrame): DataFrame =
    Dedup.components(mutualEdges(graph), "id_a", "id_b")
}
