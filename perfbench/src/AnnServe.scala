package perfbench

import org.apache.spark.sql.Row

/** Shared checks on top-k results. */
object TopK {
  val K = 10

  /** (qid → ids) of a (qid, id, …) result. */
  def byQuery(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.toSeq.groupBy(_.getAs[Long]("qid")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")) }

  /** k distinct ids, each one the corpus holds. */
  def wellFormed(ids: Seq[Long], valid: Long => Boolean): Boolean =
    ids.size == K && ids.distinct.size == K && ids.forall(valid)
}

/** ann_serve: three warmed, resident indexes (IVFFlat, HNSW, LSHForest)
  * over a clustered corpus. The loop serves held-out queries in rounds:
  * one single-query `search` per index, and every second round one
  * 100-query `searchMany` per index. Builds happen only in set-up, so the
  * loop isolates the read path: index search, distance and top-k
  * kernels, and the fixed per-query Spark cost. */
final class AnnServe extends Workload {
  val N = 6000
  val NumQueries = 300
  val BatchSize = 100
  /** A batch round follows every this many single-query rounds. */
  val SingleRounds = 2
  val RecallFloor = Map("ivfflat" -> 0.8, "hnsw" -> 0.8, "lsh" -> 0.6)

  var corpus: Vecs = _
  var queries: Vecs = _
  var truth: Array[Array[Long]] = _
  var indexes: Seq[Index] = Nil

  def setup(r: Run): Unit = {
    val (c, q) = Gen.corpusAndQueries(r.seed, N, NumQueries, numClusters = 64, spread = 0.8)
    corpus = c; queries = q
    r.checksum = new Checksum().add(c).add(q).hex
    truth = Oracle.topK(corpus, queries.vecs, TopK.K)
    val df = r.vecFrame(corpus)
    r.log("serve: inputs and oracle ready")
    val t0 = System.nanoTime()
    indexes = Index.Names.map { name =>
      val mark = r.rddMark()
      val ix = r.call(s"index.$name.build", "build")(Index.build(name, df, N))(_ => true).get
      r.call(s"index.$name.warm", "")(ix.warm())(_ => true)
      r.rec(s"index.$name.resident_mb", r.residentSince(mark) / 1048576.0)
      ix
    }
    r.rec("build_warm", (System.nanoTime() - t0) / 1e9)
    r.log("serve: indexes built and warmed")
  }

  def warmup(r: Run): Unit =
    for (ix <- indexes) {
      ix.search(queries.vecs(0), TopK.K).collect()
      ix.searchMany(r.queryFrame(queries, 0 until 10), TopK.K).collect()
    }

  private def valid(id: Long): Boolean = id >= 0 && id < N

  def loop(r: Run, deadline: Long): Unit = {
    var round = 0
    var batches = 0
    while (System.nanoTime() < deadline) {
      r.tr.request = round
      for ((ix, j) <- indexes.zipWithIndex) {
        val qi = (round * 3 + j) % NumQueries
        r.call(s"index.${ix.name}.search_one", "search_one") {
          r.collect(ix.search(queries.vecs(qi), TopK.K)).map(_.getAs[Long]("id")).toSeq
        } { ids =>
          r.rec(s"recall.${ix.name}", Oracle.recall(ids, truth(qi)))
          TopK.wellFormed(ids, valid)
        }
      }
      if (round % SingleRounds == SingleRounds - 1) {
        val from = (batches * BatchSize) % NumQueries
        val qs = from until from + BatchSize
        for (ix <- indexes) r.call(s"index.${ix.name}.search_batch", "search_batch") {
          TopK.byQuery(r.collect(ix.searchMany(r.queryFrame(queries, qs), TopK.K)))
        } { got =>
          val rec = qs.map(q => Oracle.recall(got.getOrElse(q.toLong, Nil), truth(q)))
          rec.foreach(r.rec(s"recall.${ix.name}", _))
          got.size == BatchSize && got.values.forall(TopK.wellFormed(_, valid)) &&
            Stats.mean(rec) >= RecallFloor(ix.name)
        }
        batches += 1
      }
      round += 1
    }
  }

  def report(r: Run): (Double, Double, Double) = {
    val p50 = Index.Names.map(n => r.med(s"index.$n.search_one") * 1000)
    Index.Names.zip(p50).foreach { case (n, v) => r.e2e(s"search_one_p50_ms.$n", v, "ms") }
    val ones = Index.Names.flatMap(n => r.vals(s"index.$n.search_one"))
    val (p, tail) = Stats.tail(ones)
    r.e2e("search_one_tail_ms", tail * 1000, "ms")
    r.e2e("search_one_tail_percentile", p, "percent")
    r.e2e("search_one_samples", ones.size, "count")
    // per-index medians: a slow straggler batch moves the rate less
    val qps = Index.Names.size * BatchSize / Index.Names.map(n => r.med(s"index.$n.search_batch")).sum
    r.e2e("search_batch_qps", qps, "queries/s")
    val recall = Stats.mean(Index.Names.map(n => Stats.mean(r.vals(s"recall.$n"))))
    r.e2e("recall_at_10", recall, "fraction")
    r.e2e("resident_mb", Index.Names.map(n => r.vals(s"index.$n.resident_mb").last).sum, "MiB")
    r.e2e("build_vps", N / r.med("build_warm"), "vectors/s")
    Index.Names.foreach(n => r.e2e(s"recall_at_10.$n", Stats.mean(r.vals(s"recall.$n")), "fraction"))
    Index.Names.foreach { n =>
      val rec = Stats.mean(r.vals(s"recall.$n"))
      if (rec < RecallFloor(n)) r.problem(f"$n recall@10 $rec%.3f below floor ${RecallFloor(n)}")
    }
    (Stats.mean(p50), qps, recall)
  }

  def layers(r: Run): Unit = {
    Index.Names.foreach { n =>
      r.layer(s"index.$n.build_s") = r.med(s"index.$n.build")
      r.layer(s"index.$n.warm_s") = r.med(s"index.$n.warm")
      r.layer(s"index.$n.search_one_ms") = r.med(s"index.$n.search_one") * 1000
      r.layer(s"index.$n.search_batch_s") = r.med(s"index.$n.search_batch")
      r.layer(s"index.$n.recall_at_10") = Stats.mean(r.vals(s"recall.$n"))
      r.layer(s"index.$n.resident_mb") = r.vals(s"index.$n.resident_mb").last
    }
    indexes.collectFirst { case Ivf(m) => m }
      .foreach(Layers.probeEconomy(r, _, queries.vecs.toSeq, TopK.K, Index.IvfProbe))
    Layers.exhaustive(r, corpus, queries.take(BatchSize))
  }
}
