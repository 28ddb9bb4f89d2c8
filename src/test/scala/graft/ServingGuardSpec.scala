package graft

import org.apache.spark.sql.functions._

import graft.index.{BQ, Batches, HNSW, HNSWGraph, IVFFlat, IVFPQ, PQ, SQ8}
import graft.operators.LateInteraction

/** The driver-collect serving budget (index.Batches): entry points that
  * collect + broadcast their batch must fail FAST on a corpus-sized
  * input, naming the distributed alternative — not OOM the driver hours
  * in. The budget is per-session conf; the spec shrinks it to make a
  * 500-row frame "corpus-sized". */
class ServingGuardSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  private def withBudget[A](n: Int)(body: => A): A = {
    spark.conf.set(Batches.MaxBatchKey, n.toString)
    try body finally spark.conf.unset(Batches.MaxBatchKey)
  }

  test("oversized batches fail fast with the distributed alternative named") {
    val p = HNSWGraph.Params(numLayers = 4, efConstruction = 32,
      efSearch = 32, m = 8)
    val hnsw = HNSW.build(emb.filter(col("vec_id") < 64), "vec_id", "embedding",
      p, numShards = 2)
    val cents = SparkEntry.fixedCentroids(emb)
    val sizes = Array.fill(cents.length)(Long.MaxValue)
    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val pq = PQ.withCodebooks(emb.filter(col("vec_id") < 64), "vec_id",
      "embedding", cbs, PQ.Params(m = 4, k = 16))
    val ivfpq = IVFPQ.build(emb.filter(col("vec_id") < 64), "vec_id",
      "embedding", cents, sizes, cbs, PQ.Params(m = 4, k = 16))

    withBudget(8) {
      val big = emb.filter(col("vec_id") < 32) // 32 > budget of 8
      for ((label, run) <- Seq[(String, () => Any)](
        "hnsw-search" -> (() => hnsw.searchMany(big, "vec_id", "embedding", 3)),
        "hnsw-add" -> (() => hnsw.add(big, "vec_id", "embedding")),
        "hnsw-remove" -> (() => hnsw.remove(big, "vec_id")),
        "pq-search" -> (() => pq.searchMany(big, "vec_id", "embedding", 3)),
        "ivfpq-search" -> (() => ivfpq.searchMany(big, "vec_id", "embedding", 3))
      )) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("serving budget"), s"$label: ${e.getMessage}")
        assert(e.getMessage.contains("distributed path"), s"$label message " +
          "must route the caller to the non-collect alternative")
      }
      // within budget everything still serves
      val small = emb.filter(col("vec_id") < 5)
      assert(hnsw.searchMany(small, "vec_id", "embedding", 3).count() > 0)
      assert(pq.searchMany(small, "vec_id", "embedding", 3).count() > 0)
    }
    // default budget is far above any spec-sized frame
    assert(hnsw.searchMany(emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", 3).count() > 0)
  }

  test("warm IVFFlat and LSHForest searchMany collect their batch under the budget") {
    val corpus = emb.filter(col("vec_id") < 64)
    val ivf = IVFFlat.build(corpus, "vec_id", "embedding",
      IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 4))
    val lsh = graft.index.LSHForest.build(corpus, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 2, maxNodeSize = 16))
    val big = emb.filter(col("vec_id") < 32) // 32 > budget of 8
    for ((label, warm, cool, many) <- Seq[(String, () => Unit, () => Unit, () => Any)](
        ("ivfflat", () => ivf.warm(): Unit, () => ivf.cool(),
          () => ivf.searchMany(big, "vec_id", "embedding", 3).collect()),
        ("lsh", () => lsh.warm(): Unit, () => lsh.cool(),
          () => lsh.searchMany(big, "vec_id", "embedding", 3).collect()))) {
      withBudget(8) {
        many() // cold: the plan broadcasts its probe frame, no collect
        warm()
        try {
          val e = intercept[IllegalArgumentException](many())
          assert(e.getMessage.contains("serving budget"), s"$label: ${e.getMessage}")
        } finally cool()
      }
    }
  }

  // ---- r15: the remaining probe-frame / shortlist broadcast sites ----

  private lazy val ivfTier = IVFFlat.build(emb.filter(col("vec_id") < 64),
    "vec_id", "embedding",
    IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 4))
  private lazy val sq8 = SQ8.compress(ivfTier)
  private lazy val bq = BQ.compress(ivfTier)

  test("SQ8/BQ probe and shortlist broadcasts fail fast over budget") {
    withBudget(8) {
      val big = emb.filter(col("vec_id") < 32) // 32 > budget of 8
      for ((label, run) <- Seq[(String, () => Any)](
        "sq8-search" -> (() =>
          sq8.searchMany(big, "vec_id", "embedding", 3).count()),
        "sq8-range" -> (() =>
          sq8.rangeSearchMany(big, "vec_id", "embedding", 1.0).count()),
        "sq8-refined" -> (() => sq8.searchManyRefined(big, "vec_id",
          "embedding", 3, 2, emb, "vec_id", "embedding").count()),
        "bq-search" -> (() =>
          bq.searchMany(big, "vec_id", "embedding", 3).count()),
        "bq-asym" -> (() =>
          bq.searchManyAsym(big, "vec_id", "embedding", 3).count()),
        "bq-refined" -> (() => bq.searchManyRefined(big, "vec_id",
          "embedding", 3, 2, emb, "vec_id", "embedding").count()),
        "bq-range-refined" -> (() => bq.rangeSearchRefined(big, "vec_id",
          "embedding", 1.0, emb, "vec_id", "embedding").count()),
        "bq-knnjoin-bcast" -> (() => bq.knnJoinAsym(big, "vec_id",
          "embedding", 3, broadcastProbes = true).count())
      )) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("serving budget"), s"$label: ${e.getMessage}")
      }
      // the corpus-sized DISTRIBUTED face must NOT be refused: its probe
      // frame shuffles instead of broadcasting (the kNN-graph path)
      assert(bq.knnJoinAsym(big, "vec_id", "embedding", 2).count() > 0)
    }
  }

  test("probe gate scales by nprobe × dim fan-out, not just rows") {
    // rows (32) fit a 100-row budget; nprobe × dim floats per query do
    // not (requested nprobe counts — probeOrder caps at the cell count,
    // but the budget must gate what the caller ASKED to broadcast)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val nprobe = (100 * Batches.NominalRowFloats / (32 * dim) + 1).toInt
    withBudget(100) {
      val big = emb.filter(col("vec_id") < 32)
      val e = intercept[IllegalArgumentException](
        sq8.searchMany(big, "vec_id", "embedding", 3, nprobe = nprobe).count())
      assert(e.getMessage.contains("broadcast-scaled"))
      // same batch at nprobe=1 passes: the gate is the product, not rows
      assert(sq8.searchMany(big, "vec_id", "embedding", 3, nprobe = 1)
        .count() > 0)
    }
  }

  test("flat-PQ per-chunk broadcast asserts rows × dim, qChunk is the remedy") {
    // dim 256 > NominalRowFloats so the chunk PRODUCT can trip while
    // the row gate passes — the wide-dim corpus case
    import spark.implicits._
    val wide = (0 until 6).map(i => (i.toLong, Array.fill(256)(i / 10f)))
      .toDF("id", "vec")
    val cbs = Array.fill(4)(Array.tabulate(16)(j =>
      Array.fill(64)(j / 100f)))
    val pq256 = PQ.withCodebooks(wide, "id", "vec", cbs,
      PQ.Params(m = 4, k = 16))
    withBudget(4) {
      val q = wide.filter(col("id") < 3) // 3 rows pass the row gate of 4
      val e = intercept[IllegalArgumentException](
        pq256.searchMany(q, "id", "vec", 2).count()) // 3 × 256 > 4 × 128
      assert(e.getMessage.contains("broadcast-scaled") &&
        e.getMessage.contains("qChunk"))
      // chunking IS the remedy: qChunk = 1 bounds each broadcast
      assert(pq256.searchMany(q, "id", "vec", 2, qChunk = 1).count() > 0)
    }
  }

  test("flat-PQ searchMany refuses wrong-dim queries loudly") {
    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val pq = PQ.withCodebooks(emb.filter(col("vec_id") < 64), "vec_id",
      "embedding", cbs, PQ.Params(m = 4, k = 16))
    import spark.implicits._
    val shortQ = Seq((0L, Array.fill(3)(0.5f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      pq.searchMany(shortQ, "id", "vec", 2).count())
    assert(e.getMessage.contains("dim"))
  }

  test("MaxSim rescore probe rides the scaled gate; cap/qChunk named") {
    import spark.implicits._
    val dToks = (for { d <- 0 until 20; t <- 0 until 2 }
      yield (d.toLong, t.toLong, Array.fill(8)((d + t) / 10.0)))
      .toDF("doc_id", "tok_idx", "vec")
    val qToks = (for { q <- 0 until 3; t <- 0 until 3 }
      yield (q.toLong, t.toLong, Array.fill(8)((q - t) / 10.0)))
      .toDF("qid", "tok_idx", "vec")
    withBudget(4) {
      // probe = candidates × q-tokens = 20 docs × 3 qtoks × 3 queries,
      // far over the 4-row budget scaled by the double qvec width
      val e = intercept[IllegalArgumentException](
        LateInteraction.maxSimShortlisted(qToks, "qid", "tok_idx", "vec",
          dToks, "doc_id", "vec", k = 2, m = 1000).count())
      assert(e.getMessage.contains("serving budget") &&
        e.getMessage.contains("cap or qChunk"))
    }
    // default budget: same call serves
    assert(LateInteraction.maxSimShortlisted(qToks, "qid", "tok_idx", "vec",
      dToks, "doc_id", "vec", k = 2, m = 1000).count() > 0)
  }
}
