package perfbench

import graft.index.IVFFlat
import graft.operators.Exhaustive

/** The per-layer metrics of a traced run. Every name is reported on every
  * workload; a layer call the workload does not make reads 0. */
object Layers {
  private val perIndex = Seq(
    "build_s" -> "s", "warm_s" -> "s", "search_one_ms" -> "ms", "search_batch_s" -> "s",
    "recall_at_10" -> "fraction", "resident_mb" -> "MiB")
  private val perOp = Seq(
    "jobs" -> "count", "plan_ms" -> "ms", "driver_gap_ms" -> "ms", "tasks" -> "count",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "slot_util" -> "fraction")

  val All: Seq[(String, String)] =
    Seq("box.calib_ms" -> "ms",
      "sources.vecfile_read_s" -> "s", "sources.vecfile_rows_per_s" -> "rows/s",
      "functions.exhaustive_ns_per_pair" -> "ns") ++
    Index.Names.flatMap(i => perIndex.map { case (m, u) => s"index.$i.$m" -> u }) ++
    Seq("index.ivfflat.cells_per_query" -> "count", "index.ivfflat.candidates_per_query" -> "count",
      "index.ivfflat.useful_ratio" -> "fraction") ++
    Seq("knn_join_s", "mutual_edges_s", "clusters_s", "semdedup_s", "minhash_pairs_s", "keep_first_s")
      .map(n => s"operators.$n" -> "s") ++
    Seq("operators.candidate_pairs" -> "count", "operators.pair_precision" -> "fraction") ++
    SparkOps.Ops.flatMap(op => perOp.map { case (m, u) => s"spark.$op.$m" -> u }) ++
    Seq("trace.overhead_ratio" -> "ratio")

  /** IVFFlat probe economy of top-`k` queries with `probe` cells, from
    * the public probe set and cell sizes: cells and candidate rows a
    * query touches, and k ÷ candidates. */
  def probeEconomy(r: Run, m: IVFFlat.Model, queries: Seq[Array[Float]], k: Int, probe: Int): Unit = {
    val cells = queries.map(m.probeSet(_, k, probe))
    val cand = cells.map(_.map(m.clusterSizes(_)).sum.toDouble)
    r.layer("index.ivfflat.cells_per_query") = Stats.mean(cells.map(_.size.toDouble))
    r.layer("index.ivfflat.candidates_per_query") = Stats.mean(cand)
    r.layer("index.ivfflat.useful_ratio") = k / Stats.mean(cand)
  }

  /** One timed `Exhaustive.knnJoin` of the queries against the corpus,
    * per (query, corpus row) pair: the distance and top-k kernel cost. */
  def exhaustive(r: Run, corpus: Vecs, queries: Vecs): Unit = {
    val c = r.vecFrame(corpus)
    val q = r.queryFrame(queries, queries.ids.indices)
    val t0 = System.nanoTime()
    r.tr("functions.exhaustive_knn_join", "")(
      r.collect(Exhaustive.knnJoin(q, "qid", "qvec", c, "id", "vector", TopK.K)))
    val secs = (System.nanoTime() - t0) / 1e9
    r.layer("functions.exhaustive_ns_per_pair") = secs * 1e9 / (queries.size.toDouble * corpus.size)
  }
}
